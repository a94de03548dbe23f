"""Text-analysis operators for training-data pipelines.

No reference equivalent (extension surface, SURVEY.md §0/§7): the
operations a 100 TB text-corpus pipeline needs, all expressed as
native Spark SQL expressions (JVM-side, codegen'd) — no Python in the
hot path.

- ``with_token_count`` — whitespace tokenization count.
- ``with_text_stats`` — length / punctuation / digit / whitespace /
  uppercase ratios.
- ``with_quality_score`` — composite heuristic quality score
  (length, mean word length, punctuation ratio, stopword presence).
- ``with_language_id`` — n-gram/stopword-overlap language heuristic.
- ``with_fingerprint`` — document fingerprints: exact (md5 of
  normalized text) and shingle fingerprint arrays for near-dup work.
- ``repetition_stats`` — Gopher-style n-gram repetition diagnostics.
- ``boilerplate_ngrams`` — cross-document boilerplate n-gram share.
- ``redact_pii`` — email / IPv4 / phone regex scrubbing + counts.
- ``chunk_documents`` — fixed-size token windows with overlap.
"""

from __future__ import annotations

import re
from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

# Tiny built-in stopword lists for the language heuristic. Deliberately
# short — this is a deterministic, dependency-free heuristic, not a
# model; swap in fasttext/cld3 via mapInPandas where available.
_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "fr": ("le", "la", "les", "des", "est", "et", "un", "une", "dans", "pour"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "por", "para", "con"),
}


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+"),
    )


def token_count(text_col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """Sub-word-ish token count: splits on word/number/punct boundaries
    (a cheap regex stand-in for BPE tokenizers when estimating LLM
    token budgets)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    pieces = F.regexp_extract_all(col, F.lit(r"([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])"), 1)
    return F.size(pieces)


def with_token_count(df: DataFrame, text_col: str, out_col: str = "n_tokens") -> DataFrame:
    return df.withColumn(out_col, token_count(text_col))


def with_text_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Attach deterministic per-document statistics:
    n_chars_calc, n_tokens, punct_ratio, digit_ratio, space_ratio,
    upper_ratio, mean_token_len."""
    col = F.col(text_col)
    n = F.length(col)
    nz = F.when(n == 0, F.lit(1)).otherwise(n)  # avoid /0; ratios → 0
    toks = tokens(text_col)
    n_toks = F.size(toks)
    return (
        df.withColumn("n_chars_calc", n)
        .withColumn("n_tokens", n_toks)
        .withColumn(
            "punct_ratio",
            (n - F.length(F.regexp_replace(col, r"[\.,;:!\?'\"()\[\]{}-]", ""))) / nz,
        )
        .withColumn(
            "digit_ratio", (n - F.length(F.regexp_replace(col, r"[0-9]", ""))) / nz,
        )
        .withColumn(
            "space_ratio", (n - F.length(F.regexp_replace(col, r"\s", ""))) / nz,
        )
        .withColumn(
            "upper_ratio", (n - F.length(F.regexp_replace(col, r"[A-Z]", ""))) / nz,
        )
        .withColumn(
            "mean_token_len",
            F.when(n_toks == 0, F.lit(0.0)).otherwise(
                F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n_toks,
            ),
        )
    )


def with_quality_score(
    df: DataFrame,
    text_col: str,
    out_col: str = "quality_score",
    min_tokens: int = 5,
    max_mean_token_len: float = 15.0,
) -> DataFrame:
    """Composite [0,1] quality heuristic (Gopher/C4-style cheap rules):
    rewards reasonable length, penalizes extreme punctuation/digit
    ratios and degenerate token lengths. Deterministic arithmetic only.
    """
    df = with_text_stats(df, text_col)
    length_ok = (F.col("n_tokens") >= min_tokens).cast("double")
    mean_len_ok = (
        (F.col("mean_token_len") >= 2.0) & (F.col("mean_token_len") <= max_mean_token_len)
    ).cast("double")
    punct_ok = (F.col("punct_ratio") <= 0.2).cast("double")
    digit_ok = (F.col("digit_ratio") <= 0.3).cast("double")
    score = (length_ok + mean_len_ok + punct_ok + digit_ok) / F.lit(4.0)
    return df.withColumn(out_col, score)


def unigram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "lm_logprob",
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean token log-probability under a unigram LM
    fitted on the corpus itself — the CCNet-style perplexity proxy for
    quality filtering: prose full of common words scores high,
    boilerplate/gibberish full of rare tokens scores low. Attaches
    ``out_col`` (round-6 double; NULL for token-less docs) and
    ``n_lm_tokens``.

    Model: additive smoothing over lower-cased whitespace tokens —
    ln((count + s) / (N + s·V)) with N total tokens, V vocab size.

    Shuffle shape at 100 TB: one explode → groupBy(token) for the
    vocab (map-side combined, linear), one equi-join of the token
    stream against the vocab (AQE broadcasts it while it fits — vocab
    grows ~log-linearly, not with corpus size), one groupBy(doc).
    No UDFs anywhere; fitting and scoring are the same two scans any
    TF-IDF run already pays.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    stream = df.select(F.col(id_col), F.explode(toks).alias("__tok"))
    # Pin the vocabulary counts: they feed the totals scalar AND the
    # per-token logprob table — unpinned, the corpus explode+aggregate
    # executed twice (4 parquet scans in the lm_quality plan). The pin
    # is vocabulary-sized, the bigram-LM (bigram_lm_score) precedent.
    counts = stream.groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__c"),
    ).transform(pin)
    totals = counts.agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__v"),
    )
    s = float(smoothing)
    logprob = counts.crossJoin(totals).select(
        "__tok",
        F.log(
            (F.col("__c").cast("double") + F.lit(s))
            / (F.col("__n").cast("double") + F.lit(s) * F.col("__v").cast("double")),
        ).alias("__lp"),
    )
    per_doc = (
        stream.join(logprob, "__tok")
        .groupBy(id_col)
        .agg(
            F.round(F.avg("__lp"), 6).alias(out_col),
            F.count(F.lit(1)).alias("n_lm_tokens"),
        )
    )
    return df.join(per_doc, id_col, "left").withColumn(
        "n_lm_tokens", F.coalesce(F.col("n_lm_tokens"), F.lit(0)),
    )


def with_language_id(
    df: DataFrame,
    text_col: str,
    out_col: str = "lang_pred",
    stopwords: Mapping[str, Sequence[str]] = _STOPWORDS,
) -> DataFrame:
    """Stopword-overlap language heuristic.

    Scores each language by the count of its stopwords present in the
    lower-cased token set; highest score wins ('und' = undetermined
    when no stopword hits). One pass, pure expressions.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias(lang)
        for lang, words in stopwords.items()
    ]
    langs = list(stopwords.keys())
    df = df.withColumn("__lang_scores__", F.array(*scores))
    best_idx = F.expr(
        "array_position(__lang_scores__, array_max(__lang_scores__))",
    ).cast("int")
    lang_arr = F.array(*[F.lit(l) for l in langs])
    return df.withColumn(
        out_col,
        F.when(F.array_max("__lang_scores__") <= 0, F.lit("und")).otherwise(
            F.element_at(lang_arr, best_idx),
        ),
    ).drop("__lang_scores__")


def with_fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Exact-dup fingerprint: md5 of whitespace-normalized, lower-cased
    text (stable across engines; DuckDB md5 produces the same hex)."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(normalized))


def shingles(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (for MinHash/Jaccard).

    Documents shorter than ``n`` tokens yield a single shingle of the
    whole text so they can still bucket.

    Implementation: a ``zip_with`` chain over n-1 shifted copies of
    the token array, truncated to the k-n+1 true shingle starts —
    O(k) total work. The naive per-start ``slice(toks, i, n)`` +
    concat formulation re-slices the array for every shingle, and
    measures ~5x slower at 50k-doc scale for identical output.
    ``n=1`` short-circuits to the token array itself.
    """
    toks = tokens(text_col)
    if n == 1:
        return toks
    k = F.size(toks)
    z = toks
    for i in range(1, n):
        # zip_with pads the shorter side with NULL and concat_ws skips
        # NULLs, so tail elements hold partial shingles — the slice
        # below cuts them off (and keeps one whole-text shingle when
        # the doc is shorter than n, per the contract above).
        z = F.zip_with(
            z,
            F.slice(toks, i + 1, 1 << 30),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    z = F.slice(z, 1, F.greatest(k - F.lit(n - 1), F.lit(1)))
    return F.when(k == 0, F.array().cast("array<string>")).otherwise(z)


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition diagnostics per document, on token
    n-grams (line-based variants degenerate on single-line corpora):

    - ``n_tokens`` — token occurrences,
    - ``ttr`` — type-token ratio (distinct / total unigrams),
    - ``top_bigram_frac`` — share of bigram occurrences taken by the
      single most frequent bigram (0 when < 2 tokens),
    - ``dup_trigram_frac`` — fraction of trigram occurrences that are
      repeats of an earlier trigram, i.e. (total − distinct) / total
      (0 when < 3 tokens).

    Ratios rounded to 6 decimals for cross-engine hash stability.
    Highly repetitive machine-generated text scores low ttr / high
    top_bigram_frac / high dup_trigram_frac — the standard cheap
    repetition filter from public LLM data-quality reports.

    100 TB posture: one posexplode + one lead() window build all three
    gram streams (every expression codegen'd — no interpreted
    higher-order array lambdas, measured ~10× slower for this shape);
    the token count rides along as ``size(tokens)`` computed BEFORE the
    explode, so the window runs only the two bounded lead() frames (no
    unbounded count frame); gram counting is a hash aggregation whose
    map-side partial combine collapses within-document repeats before
    the (id, n, gram) shuffle; the per-document rollup is a single
    conditional aggregation straight off the gram counts (no
    intermediate per-(id, n) level — one exchange fewer).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__p__")
    # Window expressions must be materialized in their own projection
    # before they can appear inside explode/filter lambdas.
    led = df.select(
        F.col(id_col), tokens(text_col).alias("__arr__"),
    ).select(
        F.col(id_col),
        F.size("__arr__").alias("__k__"),
        F.posexplode("__arr__").alias("__p__", "__t__"),
    ).select(
        id_col,
        "__p__",
        "__t__",
        "__k__",
        F.lead("__t__", 1).over(w).alias("__t2__"),
        F.lead("__t__", 2).over(w).alias("__t3__"),
    )
    t1, t2, t3 = F.col("__t__"), F.col("__t2__"), F.col("__t3__")
    grams = F.filter(
        F.array(
            F.struct(F.lit(1).alias("n"), t1.alias("g")),
            F.struct(
                F.lit(2).alias("n"),
                F.when(
                    F.col("__p__") + 2 <= F.col("__k__"), F.concat_ws(" ", t1, t2),
                ).alias("g"),
            ),
            F.struct(
                F.lit(3).alias("n"),
                F.when(
                    F.col("__p__") + 3 <= F.col("__k__"), F.concat_ws(" ", t1, t2, t3),
                ).alias("g"),
            ),
        ),
        lambda s: s["g"].isNotNull(),
    )
    exploded = led.select(id_col, F.explode(grams).alias("__gram__")).select(
        id_col, F.col("__gram__.n").alias("__n__"), F.col("__gram__.g").alias("__g__"),
    )
    counts = exploded.groupBy(id_col, "__n__", "__g__").agg(F.count("*").alias("__c__"))

    def _total(n: int):
        return F.sum(F.when(F.col("__n__") == n, F.col("__c__")))

    def _distinct(n: int):
        return F.sum(F.when(F.col("__n__") == n, F.lit(1)).cast("long"))

    total1, total2, total3 = _total(1), _total(2), _total(3)
    return counts.groupBy(id_col).agg(
        total1.alias("n_tokens"),
        F.round(_distinct(1) / total1, 6).alias("ttr"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("__n__") == 2, F.col("__c__"))) / total2,
                F.lit(0.0),
            ),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce((total3 - _distinct(3)) / total3, F.lit(0.0)), 6,
        ).alias("dup_trigram_frac"),
    )


# PII patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB/oracle): no backreferences, no
# lookaround, explicit character classes.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_PATTERN = r"\+?[0-9][0-9()\-. ]{6,}[0-9]"


def redact_pii(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
    count_matches: bool = True,
) -> DataFrame:
    """Regex PII scrubbing — the standard pre-training redaction pass:
    emails → ``<EMAIL>``, IPv4 addresses → ``<IP>``, phone-shaped
    number runs → ``<PHONE>``, applied in that order (the phone
    pattern can only fire after dotted IPs are already replaced, and
    email local parts are gone before digit runs are considered).

    With ``count_matches`` also emits ``n_emails`` / ``n_ips`` /
    ``n_phones``; each count runs on the PROGRESSIVELY REDACTED text
    (emails on the original, IPs after emails are replaced, phones
    after emails+IPs are replaced), so the counts equal the number of
    ``<EMAIL>``/``<IP>``/``<PHONE>`` substitutions actually made — a
    dotted IPv4 is ``n_ips=1, n_phones=0`` even though the raw string
    also matches the phone pattern.

    Pure ``regexp_replace`` / ``regexp_count`` expressions (JVM,
    codegen'd) — a narrow projection with zero shuffles; patterns are
    deliberately RE2-compatible so the oracle runs the same regexes.
    """
    col = F.col(text_col)
    after_email = F.regexp_replace(col, PII_EMAIL_PATTERN, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4_PATTERN, "<IP>")
    redacted = F.regexp_replace(after_ip, PII_PHONE_PATTERN, "<PHONE>")
    # Counts and the redacted text go in ONE select: with the in-place
    # default (out_col=None overwrites text_col) a chained withColumn
    # would resolve the count expressions against the already-redacted
    # column and report 0 matches forever.
    extra = (
        [
            F.regexp_count(col, F.lit(PII_EMAIL_PATTERN)).alias("n_emails"),
            F.regexp_count(after_email, F.lit(PII_IPV4_PATTERN)).alias("n_ips"),
            F.regexp_count(after_ip, F.lit(PII_PHONE_PATTERN)).alias("n_phones"),
        ]
        if count_matches
        else []
    )
    target = out_col or text_col
    cols = [
        redacted.alias(target) if c == target else F.col(c) for c in df.columns
    ]
    if target not in df.columns:
        cols.append(redacted.alias(target))
    return df.select(*cols, *extra)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    out_index: str = "chunk_index",
    out_text: str = "chunk_text",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the standard pre-training / RAG chunking step (no reference
    counterpart; extension surface like the rest of this module).

    One row per (document, chunk): ``id_col``, 0-based ``out_index``,
    ``out_text``. Chunk starts advance by ``chunk_tokens −
    overlap_tokens``; a window whose tokens are entirely contained in
    the previous chunk's overlap is not emitted, so the last chunk
    always adds new tokens. Empty documents produce no rows.

    100 TB posture: pure JVM expressions (tokenize → ``F.sequence`` of
    starts → ``slice`` + rejoin → ``posexplode``) — a narrow
    projection with zero shuffles and no Python in the path; output
    row count is input tokens / stride, so partition sizing follows
    the input.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < chunk_tokens ({chunk_tokens})",
        )
    stride = chunk_tokens - overlap_tokens
    # Bind tokens to a column before the slicing lambda: slice over the
    # raw split EXPRESSION would re-tokenize the document once per
    # chunk — O(tokens²/stride) per row on long documents.
    with_toks = df.select(
        F.col(id_col), tokens(text_col).alias("__tk"),
    )
    toks = F.col("__tk")
    k = F.size(toks)
    starts = F.sequence(
        F.lit(1),
        F.greatest(k - F.lit(overlap_tokens), F.lit(1)),
        F.lit(stride),
    )
    chunks = F.when(k == 0, F.array().cast("array<string>")).otherwise(
        F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_tokens))),
    )
    return with_toks.select(
        F.col(id_col),
        F.posexplode(chunks).alias(out_index, out_text),
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_doc_frac: float = 0.2,
) -> DataFrame:
    """Cross-document boilerplate diagnostics: flag word n-grams that
    recur across an outsized share of the corpus (navigation chrome,
    legal footers, templated headers) and score each document by how
    much of it is made of them — the corpus-level complement to the
    intra-document ``repetition_stats``.

    Returns one row per document: ``id_col``, ``n_shingles``
    (distinct n-grams in the doc), ``n_boilerplate`` (of those, how
    many occur in more than ``max_doc_frac`` of all documents), and
    ``boilerplate_ratio`` (their ratio, round-6; NULL for shingle-less
    docs). Filter on the ratio to drop template-dominated docs.

    Shuffle shape at 100 TB: ONE explode of per-doc distinct shingles
    → ``groupBy(shingle)`` document-frequency (map-side combined,
    linear; doc_id is dropped before the explode, so the shuffled
    rows are single-column) → the over-threshold vocabulary collapses
    to a broadcast 1-row array and every document scores itself with
    ``array_intersect`` — no join ever touches the token stream. The
    collapse is safe at any corpus size because the flagged
    vocabulary is bounded by the DATA SHAPE, not the corpus:
    Σ df(t) = n_docs · mean_distinct_shingles, and each flagged
    shingle has df > max_doc_frac · n_docs, so |vocab| <
    mean_distinct_shingles / max_doc_frac — doc length over the
    threshold, independent of row count. The corpus size N attaches
    as a broadcast 1-row scalar, the same scalar-attach shape as
    ``unigram_lm_score``. No Python anywhere.
    """
    if not 0.0 < max_doc_frac <= 1.0:
        raise ValueError(f"max_doc_frac must be in (0, 1], got {max_doc_frac}")
    sh = F.array_distinct(shingles(text_col, shingle_n))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    docfreq = (
        df.select(F.explode(sh).alias("__sh"))
        .groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    vocab = (
        docfreq.crossJoin(n_docs)
        .filter(
            F.col("__df").cast("double")
            > F.lit(float(max_doc_frac)) * F.col("__n_docs").cast("double"),
        )
        .agg(F.collect_list("__sh").alias("__boiler"))
    )
    scored = df.select(F.col(id_col), sh.alias("__doc_sh")).crossJoin(vocab)
    n_sh = F.size("__doc_sh")
    n_boiler = F.size(
        F.array_intersect("__doc_sh", F.coalesce("__boiler", F.array())),
    )
    return scored.select(
        id_col,
        n_sh.cast("long").alias("n_shingles"),
        n_boiler.cast("long").alias("n_boilerplate"),
        F.round(
            n_boiler.cast("double") / F.nullif(n_sh.cast("double"), F.lit(0.0)),
            6,
        ).alias("boilerplate_ratio"),
    )


def token_entropy_by(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats):
    ``H = ln(N) − (Σ c·ln c)/N`` over whitespace-token counts — the
    repetition/diversity diagnostic a curation pipeline thresholds on
    (near-0 entropy = one token stamped repeatedly; log-vocab-sized
    entropy = natural prose). Returns (``id_col``, ``n_tokens``,
    ``entropy``); documents with no tokens are absent (entropy of an
    empty distribution is undefined — filter or coalesce downstream).

    Two hash shuffles, both on high-cardinality keys: explode →
    count per (doc, token), then one aggregation per doc computing
    both moments (Σc, Σc·ln c) in the same buffer pass. All JVM;
    entropy rounds at the edge so external engines replay it.
    """
    counts = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens(F.col(text_col))).alias("__t"),
        )
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = counts.groupBy("__id").agg(
        F.sum("__c").alias("n_tokens"),
        F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clnc"),
    )
    h = F.log(F.col("n_tokens")) - F.col("__clnc") / F.col("n_tokens")
    if round_to is not None:
        h = F.round(h, round_to) + F.lit(0.0)
    return agg.select(F.col("__id").alias(id_col), "n_tokens", h.alias("entropy"))


def hash_bucket_expr(token, n_features: int):
    """The hashing-trick bucket for one token column/expression:
    first 8 md5 hex digits mod ``n_features`` — THE single definition
    shared by :func:`hashed_token_features`, the logreg presence fast
    path and ``logreg_score_expr`` (a drifted copy would silently
    de-align training and scoring feature spaces)."""
    return F.pmod(
        F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long"),
        F.lit(n_features),
    ).cast("int")


def hashed_token_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_features: int = 256,
    signed: bool = True,
) -> DataFrame:
    """The hashing trick (feature hashing): map tokens to a fixed
    ``n_features``-bucket space with NO vocabulary pass — the
    stateless vectorizer for linear models/NB over unbounded corpora
    (a 100 TB stream can't build and broadcast a vocabulary first;
    hashing needs zero driver state and no second scan).

    Returns sparse long form ``(id_col, feature, value)``: bucket =
    first 8 md5 hex digits of the token mod ``n_features``; with
    ``signed=True`` each token contributes ±1 by its 9th md5 digit
    (Weinberger et al. 2009 — makes collision noise zero-mean), and
    exact ±cancellations are dropped. All hashing is md5-derived so
    an ANSI-SQL engine replays features bit-for-bit.

    One explode + one groupBy(id, feature) with map-side combine —
    the same shuffle shape as a token count.
    """
    if n_features < 2:
        raise ValueError(f"n_features must be >= 2, got {n_features}")
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    )
    bucket = hash_bucket_expr(F.col("__t"), n_features)
    if signed:
        sign_digit = F.conv(F.substring(F.md5("__t"), 9, 1), 16, 10).cast("int")
        contrib = F.when(sign_digit < 8, F.lit(1.0)).otherwise(F.lit(-1.0))
    else:
        contrib = F.lit(1.0)
    return (
        tok.select("__id", bucket.alias("feature"), contrib.alias("__v"))
        .groupBy("__id", "feature")
        .agg(F.sum("__v").alias("value"))
        .filter(F.col("value") != 0.0)
        .select(F.col("__id").alias(id_col), "feature", "value")
    )


def collocation_pmi(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Corpus-level bigram collocation strength via pointwise mutual
    information: ``pmi = log( P(w1,w2) / (P(w1)·P(w2)) )`` with
    bigram probabilities over adjacent-token pairs and unigram
    probabilities over all tokens.

    Returns (``w1``, ``w2``, ``n_pair``, ``pmi``) for pairs with
    ``n_pair >= min_count``, PMI rounded to ``round_to`` decimals.
    High-PMI pairs surface multi-word expressions and boilerplate
    phrases worth treating as units in dedup/tokenizer decisions.

    Plan shape at 100 TB: bigram assembly is a JVM higher-order
    expression per row (``transform`` over token positions — no
    Python); counting is two map-side-combined aggregations (pairs,
    unigrams); the two totals are 1-row broadcast attaches and the
    unigram attach is an equi-join on the word key (hash shuffle,
    well distributed — stop-word keys are heavy but bounded by
    vocabulary, and AQE splits them). No window, no cartesian beyond
    the 1-row scalar attaches.

    No reference equivalent (extension surface).
    """
    # Tokens bound to a column first — element_at in a lambda re-runs
    # the split expression per element otherwise (O(tokens²) per row).
    with_toks = df.select(tokens(F.col(text_col)).alias("__tk"))
    tk = F.col("__tk")
    # arrays_zip of two slices beats transform+element_at ~3x: the
    # zip is codegen'd while per-element lambdas are interpreted.
    bigrams = F.arrays_zip(
        F.slice(tk, 1, F.size(tk) - 1), F.slice(tk, 2, F.size(tk) - 1),
    )
    pair_stream = (
        with_toks.filter(F.size(tk) >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
    )
    # Both count frames are vocabulary-sized (≪ corpus) and each is
    # consumed by 2-3 downstream branches; pinning them means
    # the corpus explode+aggregate runs ONCE per frame (not once per
    # branch) and AQE sees exact sizes (auto-broadcasting the vocab
    # side of the joins when it fits).
    pair_counts = (
        pair_stream.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .transform(pin)
    )
    uni_counts = (
        with_toks.select(F.explode(tk).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .transform(pin)
    )
    totals = pair_counts.agg(F.sum("n_pair").alias("n_bigrams"))
    n_tokens = uni_counts.agg(F.sum("n_w").alias("n_tokens"))
    u1 = uni_counts.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni_counts.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    pmi = F.log(
        (F.col("n_pair").cast("double") / F.col("n_bigrams"))
        / (
            (F.col("n_w1").cast("double") / F.col("n_tokens"))
            * (F.col("n_w2").cast("double") / F.col("n_tokens"))
        ),
    )
    return (
        pair_counts.filter(F.col("n_pair") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(totals)
        .crossJoin(n_tokens)
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(pmi, round_to).alias("pmi"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "lm2_logprob",
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean bigram log-probability under an add-k bigram
    LM fitted on the corpus itself — the next step up from
    :func:`unigram_lm_score` for quality filtering: catches shuffled /
    unnatural word ORDER that unigram statistics can't see.

    Model: ``ln((c(w1,w2) + s) / (c_left(w1) + s·V))`` with
    ``c_left(w1)`` = occurrences of w1 as a bigram left context and
    ``V`` = bigram-participating vocabulary size. Tokens lower-cased.
    Attaches ``out_col`` (round-6 double; NULL for docs with < 2
    tokens) and ``n_lm2_tokens`` (bigram count).

    Shuffle shape at 100 TB: one bigram explode → pair-count
    aggregation (map-side combined); left-context counts derive from
    the (vocabulary²-bounded, checkpointed) pair-count frame, not
    from a second corpus pass; V is a 1-row broadcast; scoring is one
    equi-join of the bigram stream on (w1, w2) + one groupBy(doc).
    No Python anywhere.
    """
    # Materialize the token array BEFORE any per-element lambda:
    # element_at(expr, i) inside transform() re-evaluates the whole
    # split expression per element (no CSE across lambda scopes) —
    # O(tokens²) per row; on a bound column it's O(tokens).
    toks_expr = F.transform(tokens(text_col), lambda t: F.lower(t))
    with_toks = df.select(F.col(id_col), toks_expr.alias("__tk"))
    tk = F.col("__tk")
    bigrams = F.arrays_zip(
        F.slice(tk, 1, F.size(tk) - 1), F.slice(tk, 2, F.size(tk) - 1),
    )  # codegen'd zip-of-slices; see collocation_pmi note
    # The corpus is tokenized ONCE for bigrams: the per-(doc, pair)
    # count frame is the single consumer of the explode, and the
    # GLOBAL pair counts derive from it by a second (much smaller)
    # aggregation — so the fit and the scoring share one scan subtree
    # instead of duplicating the explode in the plan (which would both
    # re-run it and double the codegen surface).
    doc_pairs = (
        with_toks.filter(F.size(tk) >= 2)
        .select(F.col(id_col), F.explode(bigrams).alias("bg"))
        .select(id_col, F.col("bg.0").alias("__w1"), F.col("bg.1").alias("__w2"))
        .groupBy(id_col, "__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__dc"))
    )
    # Pinned: pair_counts feeds FOUR consumers (left_counts, both
    # vocab-union sides, and the logprob join) — without the pin each
    # re-derives the corpus tokenize+explode+two-level aggregation.
    # The frame is vocabulary²-bounded (distinct observed bigrams),
    # never corpus-sized, so the pin stays model-sized at 100 TB while
    # the avoided replays are corpus-sized.
    pair_counts = doc_pairs.groupBy("__w1", "__w2").agg(
        F.sum("__dc").alias("__c12"),
    ).transform(pin)
    left_counts = pair_counts.groupBy("__w1").agg(F.sum("__c12").alias("__c1"))
    # V = the bigram model's vocabulary: distinct tokens participating
    # in any bigram — derived from the (vocab²-bounded) pair-count
    # frame, NOT a second corpus tokenize. (Tokens appearing only in
    # 1-token documents never occur in a bigram context and are
    # irrelevant to the conditional model.)
    vocab_size = (
        pair_counts.select(F.col("__w1").alias("__t"))
        .union(pair_counts.select(F.col("__w2").alias("__t")))
        .agg(F.countDistinct("__t").alias("__v"))
    )
    s = float(smoothing)
    logprob = (
        pair_counts.join(left_counts, "__w1")
        .crossJoin(vocab_size)
        .select(
            "__w1",
            "__w2",
            F.log(
                (F.col("__c12").cast("double") + F.lit(s))
                / (F.col("__c1").cast("double") + F.lit(s) * F.col("__v").cast("double")),
            ).alias("__lp"),
        )
    )
    per_doc = (
        doc_pairs.join(logprob, ["__w1", "__w2"])
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("__dc") * F.col("__lp")) / F.sum("__dc"), 6,
            ).alias(out_col),
            F.sum("__dc").alias("n_lm2_tokens"),
        )
    )
    return df.join(per_doc, id_col, "left").withColumn(
        "n_lm2_tokens", F.coalesce(F.col("n_lm2_tokens"), F.lit(0)),
    )


def term_log_odds(
    df: DataFrame,
    text_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    alpha: float = 0.5,
    min_count: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Corpus keyness: which terms are over-represented in group A vs
    group B, scored by the log-odds-ratio with a Dirichlet prior
    (Monroe, Colaresi & Quinn 2008) — the standard drift/contrast
    diagnostic between two corpus slices (sources, time periods,
    pre/post-filter). Raw frequency ratios over-rank rare terms; the
    prior ``alpha`` and the z-standardization fix exactly that.

    Per term t: ``δ_t = ln((c_a+α)/(N_a+αV−c_a−α)) −
    ln((c_b+α)/(N_b+αV−c_b−α))``, ``z_t = δ_t / sqrt(1/(c_a+α) +
    1/(c_b+α))``. Terms missing from one group get c=0 there (the
    prior keeps the log finite).

    Plan: one token explode filtered to the two groups, one
    (group, term) count aggregation, a full-outer term self-align,
    and a 1-row totals broadcast. All counts shuffle once on the term
    key; nothing is corpus-quadratic.
    """
    two = df.filter(F.col(group_col).isin([group_a, group_b]))
    stream = two.select(
        F.col(group_col).alias("__g"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    counts = stream.groupBy("__g", "term").agg(
        F.count(F.lit(1)).alias("__c"),
    ).transform(pin)
    ca = counts.filter(F.col("__g") == group_a).select(
        "term", F.col("__c").alias("count_a"),
    )
    cb = counts.filter(F.col("__g") == group_b).select(
        "term", F.col("__c").alias("count_b"),
    )
    aligned = (
        ca.join(cb, "term", "full_outer")
        .select(
            "term",
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("count_b", F.lit(0)).alias("count_b"),
        )
    )
    totals = counts.agg(
        F.sum(F.when(F.col("__g") == group_a, F.col("__c")).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__g") == group_b, F.col("__c")).otherwise(0)).alias("__nb"),
        F.countDistinct("term").alias("__v"),
    )
    a = float(alpha)
    ca_s = F.col("count_a").cast("double") + F.lit(a)
    cb_s = F.col("count_b").cast("double") + F.lit(a)
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    v = F.col("__v").cast("double")
    delta = F.log(ca_s / (na + F.lit(a) * v - ca_s)) - F.log(
        cb_s / (nb + F.lit(a) * v - cb_s),
    )
    z = delta / F.sqrt(1.0 / ca_s + 1.0 / cb_s)
    return (
        aligned.crossJoin(totals)
        .filter((F.col("count_a") + F.col("count_b")) >= min_count)
        .select(
            "term",
            "count_a",
            "count_b",
            F.round(delta, round_to).alias("log_odds"),
            F.round(z, round_to).alias("z"),
        )
    )


# --------------------------------------------------------------- URL curation

#: Tracking params stripped by default — the set every crawl pipeline
#: removes before URL-level dedup (Common Crawl / C4 lineage).
_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref", "mc_cid", "mc_eid",
)


def canonical_url(
    url_col: Column | str,
    strip_params: Sequence[str] = _TRACKING_PARAMS,
    strip_www: bool = True,
) -> Column:
    """Canonical form of a URL for dedup/grouping: lowercase scheme
    and host, ``www.`` stripped, fragment dropped, tracking query
    params removed, empty ``?`` and trailing slashes cleaned. Pure
    regex column expression (codegen'd; RE2-safe syntax, so the SAME
    patterns replay in DuckDB oracles) — URL-level dedup is the
    cheapest, highest-precision dedup pass a web-corpus pipeline
    runs, BEFORE any content hashing.

    Keeps non-tracking params (they may address distinct content);
    order of surviving params is preserved, not sorted — sorting
    would need a higher-order split/sort/join round-trip that RE2
    replay can't express; crawl pipelines accept this (same-params
    different-order URLs are rare and caught by content dedup).
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    # 1. drop fragment
    c = F.regexp_replace(c, r"#.*$", "")
    # 2. lowercase the scheme://host prefix (path/query case preserved)
    prefix = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    rest = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    c = F.concat(prefix, rest)
    if strip_www:
        c = F.regexp_replace(c, r"^([a-z][a-z0-9+.-]*://)www\.", r"$1")
    # 3. strip tracking params (each may appear at ?- or &-position);
    # names are regex-ESCAPED — a caller-supplied param like "p.id"
    # must match literally, not as "any char" wildcards.
    for p in strip_params:
        esc = re.escape(p)
        c = F.regexp_replace(c, r"([?&])" + esc + r"=[^&#]*&", r"$1")
        c = F.regexp_replace(c, r"[?&]" + esc + r"=[^&#]*$", "")
    # 4. clean ?& leftovers, pre-query and trailing slashes (keep root)
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"[?&]$", "")
    c = F.regexp_replace(c, r"(.)/\?", r"$1?")
    c = F.regexp_replace(c, r"(.)/$", r"$1")
    return c


def url_host(url_col: Column | str) -> Column:
    """Registrable host of a URL (lowercased, ``www.`` stripped) —
    the partition key for per-site quotas and blocklists."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    h = F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1))
    return F.regexp_replace(h, r"^www\.", "")


def url_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str,
    strip_params: Sequence[str] = _TRACKING_PARAMS,
) -> DataFrame:
    """Keep one row per canonical URL (smallest ``id_col`` wins — a
    deterministic tiebreak, SURVEY §7.4.4). Adds ``canonical_url``.
    One shuffle on the canonical key; at crawl scale this runs before
    any content-based dedup because it needs no text I/O at all."""
    out = df.withColumn("canonical_url", canonical_url(url_col, strip_params))
    w = Window.partitionBy("canonical_url").orderBy(F.col(id_col).asc())
    return (
        out.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def domain_stats(
    df: DataFrame,
    url_col: str,
    id_col: str,
    strip_params: Sequence[str] = _TRACKING_PARAMS,
) -> DataFrame:
    """Per-host corpus accounting: pages, distinct canonical URLs,
    and the duplicate ratio — the table a crawl pipeline reads to set
    per-site caps (``operators/sampling.cap_per_key``) and spot
    mirror/farm hosts (dup_ratio ≈ 1 means a site of tracking-param
    aliases). Output: (host, n_pages, n_canonical, dup_ratio)."""
    canon = df.select(
        url_host(url_col).alias("host"),
        canonical_url(url_col, strip_params).alias("__canon__"),
    )
    return canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("__canon__").alias("n_canonical"),
        F.round(
            F.lit(1.0) - F.countDistinct("__canon__") / F.count(F.lit(1)), 6,
        ).alias("dup_ratio"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
    lowercase: bool = False,
    strip_html: bool = False,
    unify_punct: bool = True,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Deterministic text cleanup as one pure-JVM expression chain —
    the normalize step every corpus pipeline runs before
    tokenization/dedup (fingerprints over un-normalized text treat
    'a b' and 'a b' as different documents):

    1. control characters (C0 except \\t \\n, DEL) removed;
    2. zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and soft hyphen
       removed; NBSP and unicode space separators → ASCII space;
    3. ``unify_punct``: curly single/double quotes → ' / ", unicode
       dashes (en/em/horizontal bar/minus) → '-', ellipsis char →
       '...';
    4. ``strip_html``: tags dropped, the five standard entities
       (&amp;lt; &amp;gt; &amp;amp; &amp;quot; &amp;#39;) decoded —
       regex-grade stripping for crawl residue, not an HTML parser;
    5. ``collapse_whitespace``: runs of whitespace → one space,
       trimmed; ``lowercase`` last.

    Every rewrite is ``regexp_replace``/``translate``/``lower`` —
    codegen'd, shuffle-free, and replayable in any ANSI-SQL engine
    with RE2-style regexes (the ``normalized_text`` oracle replays the
    full chain in DuckDB). Canonical-equivalence normalization (NFC/
    NFKC) needs ICU tables — that lives in
    :func:`unicode_normalize_text` as an Arrow-vectorized UDF.
    """
    c = F.col(text_col)
    if strip_html:
        c = F.regexp_replace(c, r"<[^>]*>", " ")
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
            c = F.regexp_replace(c, ent, ch)
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    c = F.regexp_replace(c, "[\u200b\u200c\u200d\ufeff\u00ad]", "")
    c = F.regexp_replace(c, "[\u00a0\u2000-\u200a\u202f\u205f\u3000]", " ")
    if unify_punct:
        c = F.translate(c, "‘’“”–—―−", "''\"\"----")
        c = F.regexp_replace(c, "…", "...")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out_col or text_col, c)


def unicode_normalize_text(
    df: DataFrame,
    text_col: str,
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode canonical/compatibility normalization (NFC/NFD/NFKC/
    NFKD) via an Arrow-vectorized pandas UDF — the one normalize step
    that genuinely needs ICU/UCD tables and therefore Python (the
    documented exception to the no-Python rule; batch-columnar, never
    per-row). Combining-character sequences, full-width forms and
    compatibility ligatures fold to their canonical encodings, which
    is what makes md5 fingerprints and shingle hashes agree across
    crawl sources that encode the same glyphs differently."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD, got {form!r}")
    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None,
        )

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_k: int = 500,
    round_to: int = 6,
) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS of
    ``ln(freq)`` on ``ln(rank)`` over the ``top_k`` most frequent
    terms — natural text lands near slope −1; a corpus drifting away
    (template spam pushes it shallower, deduplicated boilerplate
    steeper) moves the slope, making this a one-number corpus-health
    monitor alongside :func:`repetition_stats`.

    Returns one row: (``n_terms``, ``slope``, ``intercept``, ``r2``).
    The head comes through ``TakeOrderedAndProject`` (freq desc, term
    asc tie-break — never a global sort); ranks attach with a window
    over the top_k-row frame (bounded, allowlisted like the other
    post-aggregate head windows). ln values quantize to 12 dp and the
    five OLS sums accumulate in decimal, so slope/intercept/r² are
    closed-form divisions of exact sums — bit-replayable in SQL.
    """
    if top_k < 2:
        raise ValueError(f"top_k must be >= 2, got {top_k}")
    from pyspark.sql import Window

    from rdsa_utils_spark.operators.sampling import vocabulary

    from rdsa_utils_spark.operators.windows import constant_partition_key

    head = vocabulary(df, text_col, k=top_k)
    # top-k-sized frame; constant non-foldable partition key avoids
    # the WindowExec global-window warning (r12)
    w = Window.partitionBy(constant_partition_key("term")).orderBy(
        F.col("term_count").desc(), F.col("term").asc(),
    )
    x = F.round(F.log(F.col("__rank").cast("double")), 12)
    y = F.round(F.log(F.col("term_count").cast("double")), 12)
    d = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    sums = (
        head.withColumn("__rank", F.row_number().over(w))
        .select(x.alias("__x"), y.alias("__y"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d(F.col("__x"))).cast("double").alias("sx"),
            F.sum(d(F.col("__y"))).cast("double").alias("sy"),
            F.sum(d(F.round(F.col("__x") * F.col("__x"), 12)))
            .cast("double")
            .alias("sxx"),
            F.sum(d(F.round(F.col("__y") * F.col("__y"), 12)))
            .cast("double")
            .alias("syy"),
            F.sum(d(F.round(F.col("__x") * F.col("__y"), 12)))
            .cast("double")
            .alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(cov / vx, round_to).alias("slope"),
        F.round(
            (F.col("sy") - (cov / vx) * F.col("sx")) / n, round_to,
        ).alias("intercept"),
        F.when(vy > 0, F.round(cov * cov / (vx * vy), round_to))
        .otherwise(F.lit(None).cast("double"))
        .alias("r2"),
    )
