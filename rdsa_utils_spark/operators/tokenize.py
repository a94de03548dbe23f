"""On-corpus BPE tokenizer training, distributed.

No reference equivalent (extension surface). Byte-pair-encoding merge
learning (Sennrich et al. 2016) re-expressed for Spark:

- The working state is the WORD-VOCABULARY frame (distinct word,
  corpus count, current symbol array), never the corpus: after one
  initial word-count aggregation, every merge round touches rows
  proportional to vocabulary size — millions, not the corpus's
  trillions of tokens at 100 TB.
- Each round is ONE aggregation (adjacent-pair counts, weighted by
  word count, map-side combined) + a driver `.limit(1).collect()` of
  the argmax pair + ONE JVM fold (`F.aggregate`) rewriting symbol
  arrays — greedy left-to-right non-overlapping merge, the classic
  semantics. No Python in the data path.
- The vocabulary is pinned every few rounds so each round reads it
  instead of re-deriving the merge chain.

Tie-breaks are total (count desc, left asc, right asc), so training
is deterministic across runs, partitionings, and cluster sizes.

``bpe_apply`` encodes text with a trained merge list in one Arrow
pass per batch (the merge table rides the UDF closure — kilobytes).
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.text import tokens
from rdsa_utils_spark.operators.windows import constant_partition_key
from rdsa_utils_spark.plans.tuning import pin

#: End-of-word marker appended to every word's symbol sequence
#: (Sennrich-style): merges learned at word ends don't leak into
#: word-internal contexts.
EOW = "</w>"


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) — the distinct-word dictionary with corpus counts.

    The shared upstream of :func:`bpe_train`, :func:`bpe_encode_counts`,
    :func:`bpe_encode_ids` and :func:`bpe_vocab_ids`: each derives this
    frame from the corpus when called alone. A pipeline that chains
    several of them should compute it ONCE, pin it
    (``df.transform(pin)``) and pass it via their ``words=``
    parameter — r12 measured the train+encode+vocab chain re-running
    the corpus explode+aggregate 3× without it."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _word_vocab(
    df: DataFrame, text_col: str, words: Optional[DataFrame] = None,
) -> DataFrame:
    """(word, cnt, syms) — one row per distinct word; syms = chars + EOW."""
    base = words if words is not None else word_counts(df, text_col)
    return base.withColumn(
        "syms",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts over the vocab, weighted by word
    count. Counts overlapping occurrences (reference BPE semantics).

    Adjacent pairs assemble as ``arrays_zip`` of two ``slice``s —
    whole-stage codegen — rather than a ``transform(sequence, ...)``
    lambda, whose per-element interpreted evaluation dominated the
    per-round cost (the element_at-in-lambda trap from the repo's
    verification notes).
    """
    n = F.size("syms")
    pairs = F.arrays_zip(
        F.slice("syms", 1, n - 1).alias("l"),
        F.slice("syms", 2, n - 1).alias("r"),
    )
    return (
        vocab.filter(n >= 2)
        .select(F.col("cnt"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _merge_fold(left: str, right: str):
    """JVM fold: greedy left-to-right non-overlapping replacement of
    (left, right) with left||right in a symbol array."""
    merged = left + right

    def step(acc, x):
        can_merge = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(left)) & (
            x == F.lit(right)
        )
        return F.when(
            can_merge,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"), step,
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 50,
    checkpoint_every: int = 2,
    max_driver_vocab: int = 4096,
    words: Optional[DataFrame] = None,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merge rules from a corpus.

    Returns the ordered merge list ``[(left, right, pair_count), …]``
    — rank r's pair was the most frequent adjacent symbol pair after
    applying merges 0..r−1 (ties: count desc, left asc, right asc).
    Stops early when no pair remains (vocabulary fully merged).

    Driver traffic per round is ONE row; executor work per round is
    one vocab-frame aggregation + one fold. See module docstring for
    the 100 TB posture. ``checkpoint_every=2`` was measured fastest at
    sf0.1 on a local master (every round re-derives the unpinned fold
    chain from the last pin, so wide gaps trade one cheap vocab
    materialization for quadratically growing fold recompute; 8→2 cut
    bpe_merges 20%). On a cluster master each pin also keeps one
    more level of lineage, up to the bound at which ``pin`` cuts it.

    ``max_driver_vocab``: when the DISTINCT-WORD vocabulary (already
    reduced by the first aggregation — the dictionary, never the
    corpus) is at most this many rows, it is collected once and the
    merge rounds run in exact pure-Python integer arithmetic instead
    of ``num_merges`` scheduler round-trips — a capped,
    docstring-declared collect (≤ ``max_driver_vocab`` rows), and the
    output is IDENTICAL by construction: the algorithm is integer
    counting with total tie-breaks, no floats anywhere (equality is
    pinned in tests/test_tokenize.py). Low-cardinality vocabularies
    make the distributed rounds pure fixed overhead; pass ``0`` to
    force the distributed path at any size.
    """
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}",
        )
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    vocab = _word_vocab(df, text_col, words).transform(pin)
    if max_driver_vocab:
        # cheap: vocab is the post-aggregation dictionary frame
        if vocab.limit(max_driver_vocab + 1).count() <= max_driver_vocab:
            rows = vocab.select("cnt", "syms").collect()
            return _bpe_train_rows(
                [(int(r["cnt"]), list(r["syms"])) for r in rows], num_merges,
            )
    merges: list[tuple[str, str, int]] = []
    for r in range(num_merges):
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_count"), "left", "right")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, cnt = best[0]["left"], best[0]["right"], best[0]["pair_count"]
        merges.append((left, right, int(cnt)))
        vocab = vocab.withColumn("syms", _merge_fold(left, right))
        if (r + 1) % checkpoint_every == 0:
            vocab = vocab.transform(pin)
    return merges


def _bpe_train_rows(
    rows: list[tuple[int, list[str]]], num_merges: int,
) -> list[tuple[str, str, int]]:
    """The merge loop on a collected vocabulary — EXACTLY the
    distributed semantics (overlapping pair counts weighted by word
    count; greedy left-to-right non-overlapping merge; ties count
    desc, left asc, right asc), in pure integer arithmetic."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for cnt, syms in rows:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
        )
        merges.append((left, right, c))
        merged = left + right
        for j, (cnt, syms) in enumerate(rows):
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            rows[j] = (cnt, out)
    return merges


def bpe_merge_table(spark, merges: Sequence[tuple[str, str, int]]) -> DataFrame:
    """Materialize a trained merge list as a DataFrame
    (rank, left, right, pair_count) for persistence/audit."""
    rows = [
        (i, left, right, cnt) for i, (left, right, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long",
    )


def bpe_apply(
    df: DataFrame,
    text_col: str,
    merges: Sequence[tuple[str, str, int]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode ``text_col`` with a trained merge list: one Arrow batch
    at a time, merge ranks in a closure dict (kilobytes — no join, no
    broadcast variable). Python is acceptable here because encoding is
    inherently sequential per word; the per-word loop runs over the
    DISTINCT words of each batch only."""
    rules = [(left, right) for left, right, _ in merges]

    def encode_word(word: str) -> list[str]:
        # Exact training replay: each rule in rank order, greedy
        # left-to-right non-overlapping — so encoding a training word
        # reproduces the trained vocab's symbol sequence bit-for-bit.
        syms = list(word) + [EOW]
        for left, right in rules:
            if len(syms) < 2:
                break
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    @F.pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").split():
                if w not in cache:
                    cache[w] = encode_word(w)
                toks.extend(cache[w])
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _encode(F.col(text_col)))


#: Symbol separator for the string-rendered encode path — ASCII unit
#: separator. Same assumption as the training oracle: corpus tokens
#: never contain chr(31) (it is NOT \s-whitespace, so normalize
#: control characters upstream — ``text.normalize_text`` strips it).
_SEP = "\x1f"


def _encoded_word_strings(
    df: DataFrame,
    text_col: str,
    merges: Sequence[tuple[str, str, int]],
    words: Optional[DataFrame] = None,
) -> DataFrame:
    """(word, __s__) — the DISTINCT-WORD dictionary with each word's
    double-separator symbol string after the FULL merge chain (the
    chained-replace device; see :func:`bpe_encode_counts` for the
    greedy-fold semantics proof). Shared by the count and id-sequence
    encoders so the two can never drift on the rendering."""
    boundary = _SEP + _SEP
    s = F.concat(
        F.lit(boundary),
        F.array_join(
            F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))),
            boundary,
        ),
        F.lit(boundary),
    )
    for left, right, _cnt in merges:
        s = F.replace(
            s,
            F.lit(_SEP + left + _SEP + _SEP + right + _SEP),
            F.lit(_SEP + left + right + _SEP),
        )
    dictionary = (
        words.select("word")
        if words is not None
        else df.select(F.explode(tokens(F.col(text_col))).alias("word")).distinct()
    )
    return dictionary.withColumn("__s__", s)


def bpe_encode_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: Sequence[tuple[str, str, int]],
    out_col: str = "n_bpe_tokens",
    words: Optional[DataFrame] = None,
) -> DataFrame:
    """Per-document BPE token counts for a trained merge list, with
    ZERO Python in the data path — the JVM-native, ANSI-SQL-replayable
    sibling of :func:`bpe_apply` (which returns the token arrays via
    an Arrow batch encoder).

    The device: symbols joined by DOUBLE separators (``sep·sep``) with
    the merge pattern flanked by a SINGLE sep on each side —
    ``replace(sep+l+sep+sep+r+sep, sep+lr+sep)``. The outer seps of
    one match and the next match's outer seps are DIFFERENT characters
    of the shared double boundary, so adjacent merge sites both fire
    ("banana" + (a,n) → b·an·an·a·</w>), while overlapping sites
    correctly don't ("aaa" + (a,a) → aa·a·</w>) — exactly the greedy
    left-to-right non-overlapping fold semantics of training and
    :func:`bpe_apply`, in Spark, DuckDB, and every ANSI engine. (A
    single-sep rendering is WRONG: the first replacement consumes the
    boundary the next adjacent match needs — caught by the
    adjacent-repeat pins in tests/test_tokenize.py.) Applying a
    trained rule list is then one projection with ``len(merges)``
    chained literal replaces.

    100 TB posture: the replace chain runs on the DISTINCT-WORD
    dictionary (the same vocabulary frame training reduces to —
    millions of rows, never the corpus), and per-doc counts come from
    one explode + one word-keyed join (AQE broadcasts the dictionary
    when it is small) + one groupBy(doc). Documents with no tokens
    count 0. Encoding a training word reproduces the trained
    vocabulary's symbol sequence bit-for-bit (pinned against
    :func:`bpe_apply` in tests).

    Returns (``id_col``, ``n_words``, ``out_col``) — one row per
    input document.
    """
    vocab = _encoded_word_strings(df, text_col, merges, words)
    s = F.col("__s__")
    # k symbols carry 2(k+1) separator chars on the double-sep
    # rendering (merges only ever delete whole boundaries)
    n_sym = (
        (F.length(s) - F.length(F.replace(s, F.lit(_SEP), F.lit(""))))
        / F.lit(2)
    ) - F.lit(1)
    encoded = vocab.select("word", n_sym.cast("long").alias("__n__"))
    doc_words = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word"),
    )
    counts = (
        doc_words.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n__").alias(out_col),
        )
    )
    return (
        df.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0).cast("long")).alias("n_words"),
            F.coalesce(out_col, F.lit(0).cast("long")).alias(out_col),
        )
    )


def bpe_vocab_ids(
    df: DataFrame,
    text_col: str,
    merges: Sequence[tuple[str, str, int]],
    words: Optional[DataFrame] = None,
) -> DataFrame:
    """The symbol→id table for a trained tokenizer over this corpus —
    GPT-2-style block layout, engine- and ANSI-SQL-replayable:

      block 0 — BASE symbols: the corpus's distinct single characters
                in binary (codepoint) order, then :data:`EOW` last;
      block 1 — merge outputs (``left+right``) in rank order.

    Ids are ``row_number`` over that total order minus 1. If a merge
    output collides with an existing symbol string (two merge paths
    can yield the same text, e.g. (a,bc) and (ab,c) → "abc"), the
    FIRST id wins (min), leaving a deterministic hole.

    The single global window runs over the tokenizer-sized frame
    (|alphabet| + 1 + num_merges rows), never data. Returns
    ``(sym, id)``.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    dictionary = (
        words.select("word")
        if words is not None
        else df.select(F.explode(tokens(F.col(text_col))).alias("word")).distinct()
    )
    chars = (
        # char explode over the dictionary, not the corpus
        dictionary.select(F.explode(F.split("word", "")).alias("sym"))
        .distinct()
    )
    base = chars.unionByName(
        spark.range(1).select(F.lit(EOW).alias("sym")),
    ).select(
        "sym",
        F.lit(0).alias("__blk__"),
        (F.col("sym") == EOW).cast("int").alias("__eow__"),
        F.col("sym").alias("__ord_s__"),
        F.lit(0).alias("__ord_i__"),
    )
    merge_syms = spark.createDataFrame(
        [(left + right, i) for i, (left, right, _c) in enumerate(merges)],
        "sym string, __ord_i__ int",
    ).select(
        "sym",
        F.lit(1).alias("__blk__"),
        F.lit(0).alias("__eow__"),
        F.lit("").alias("__ord_s__"),
        "__ord_i__",
    )
    # vocab-sized frame (alphabet + merges); the constant non-foldable
    # key keeps the honest single-partition plan without the per-run
    # "No Partition Defined" log noise (see windows.constant_partition_key)
    w = Window.partitionBy(constant_partition_key("sym")).orderBy(
        "__blk__", "__eow__", "__ord_s__", "__ord_i__",
    )
    return (
        base.unionByName(merge_syms)
        .withColumn("id", F.row_number().over(w) - 1)
        .groupBy("sym")
        .agg(F.min("id").alias("id"))
    )


def bpe_encode_ids(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: Sequence[tuple[str, str, int]],
    out_col: str = "bpe_ids",
    max_literal_vocab: int = 4096,
    words: Optional[DataFrame] = None,
) -> DataFrame:
    """Per-document BPE token-ID SEQUENCES with ZERO Python in the
    data path — the id-sequence sibling of :func:`bpe_encode_counts`
    (counts) and :func:`bpe_apply` (Arrow symbol arrays; the three are
    pinned equal in tests/test_tokenize.py). This is the tokenizer→
    training-shards link: the output feeds ``sampling.pack_sequences``
    and ``writers.write_training_shards`` directly.

    Pipeline:
      1. the DISTINCT-WORD dictionary is encoded by the shared
         chained-replace device (:func:`_encoded_word_strings`) and
         split back into symbol arrays,
      2. symbols map to ids through a LITERAL map expression built
         from a driver-side alphabet collect — the vocabulary id table
         is tokenizer-sized by construction (|alphabet| + 1 +
         num_merges), the same bounded-collect class as the merge list
         itself, and the layout is byte-identical to
         :func:`bpe_vocab_ids` (pinned in tests). Unknown symbols —
         impossible when encoding the training corpus — map to -1.
         A symbol join + regroup + vocab window would spend two extra
         shuffles to avoid a ≤ tokenizer-sized collect; the map
         literal folds into the dictionary projection instead.
         ABOVE ``max_literal_vocab`` symbols (default 4096) the
         literal is abandoned for a broadcast join against the
         :func:`bpe_vocab_ids` frame (ADVICE r11): a production
         32k-100k-merge tokenizer would otherwise inline a ~100k-node
         map literal, blowing past whole-stage-codegen method-size
         limits and stalling driver-side plan serialization — the two
         extra vocabulary-sized shuffles are the right trade there
         (both paths are pinned equal in tests),
      3. per-doc sequences flatten the word id-arrays in token order
         (one dictionary equi-join — AQE broadcasts it when small —
         plus one order-preserving regroup).

    100 TB posture: the replace chain, the split, and the id mapping
    all run on the dictionary (vocabulary-sized, never the corpus);
    the corpus-sized work is one word-keyed join + one groupBy(doc).

    Returns (``id_col``, ``out_col: array<int>``) — one row per input
    document; empty/blank docs get an empty array.
    """
    boundary = _SEP + _SEP
    dict_df = _encoded_word_strings(df, text_col, merges, words).select(
        "word",
        F.filter(
            F.split(F.col("__s__"), boundary),
            lambda x: x != F.lit(""),
        ).alias("__syms__"),
    )
    # Alphabet collect (bounded: distinct single characters of the
    # corpus) → the same id layout bpe_vocab_ids computes distributed;
    # Python's codepoint sort == Spark/DuckDB binary UTF-8 order. The
    # char explode runs over the DISTINCT-WORD dictionary, not the
    # corpus — same character set, vocabulary-sized input.
    chars = sorted(
        r["sym"]
        for r in dict_df.select(F.explode(F.split("word", "")).alias("sym"))
        .distinct()
        .collect()
    )
    vocab_map: dict[str, int] = {c: i for i, c in enumerate(chars)}
    vocab_map[EOW] = len(chars)  # EOW is never a single char
    for i, (left, right, _c) in enumerate(merges):
        vocab_map.setdefault(left + right, len(chars) + 1 + i)
    if len(vocab_map) <= max_literal_vocab:
        id_lit = F.create_map(
            *[x for kv in vocab_map.items() for x in (F.lit(kv[0]), F.lit(kv[1]))],
        )
        wids = dict_df.select(
            "word",
            F.transform(
                "__syms__",
                lambda s: F.coalesce(F.element_at(id_lit, s), F.lit(-1)).cast("int"),
            ).alias("__wids__"),
        )
    else:
        # Large-tokenizer path: symbol posexplode → broadcast join on
        # the distributed bpe_vocab_ids table (byte-identical layout
        # to vocab_map — pinned in tests) → order-preserving regroup.
        # Work stays vocabulary-sized; no 2·|vocab|-node expression
        # ever reaches codegen or the plan serializer.
        vocab_ids = bpe_vocab_ids(df, text_col, merges, words)
        wids = (
            dict_df.select(
                "word", F.posexplode("__syms__").alias("__sp__", "sym"),
            )
            # broadcast: Catalyst sizes the vocabulary as the corpus explode it is derived from
            .join(F.broadcast(vocab_ids), "sym", "left")
            .groupBy("word")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__sp__", "id"))),
                    lambda s: F.coalesce(s["id"].cast("int"), F.lit(-1)),
                ).alias("__wids__"),
            )
        )
    docw = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("__wp__", "word"),
    )
    per_doc = (
        docw.join(wids, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__wp__", "__wids__"))),
                    lambda s: s["__wids__"],
                ),
            ).alias(out_col),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(out_col), F.array().cast("array<int>")).alias(out_col),
        )
    )


def bpe_decode(
    df: DataFrame,
    ids_col: str,
    vocab,
    out_col: str = "decoded_text",
) -> DataFrame:
    """Decode BPE token-ID sequences back to text — the inverse of
    :func:`bpe_encode_ids`, completing the tokenizer API (encode for
    training shards, decode for inspection/debugging of packed data).

    ``vocab`` is the symbol→id table the ids were encoded with: either
    the :func:`bpe_vocab_ids` DataFrame or a plain mapping. It is
    tokenizer-sized by contract, so the reverse lookup rides a LITERAL
    map expression — decode is ONE projection, no joins, no Python.
    Unknown ids (a vocab/ids mismatch) decode to U+FFFD so corruption
    is visible rather than silently dropped.

    Decoding: symbols concatenate, every :data:`EOW` marker becomes a
    space, and the trailing space is trimmed — so
    ``decode(encode(text))`` returns the whitespace-normalized text
    (tokens joined by single spaces), the round-trip law pinned in
    tests/test_round11_bpe_pipeline.py.
    """
    if isinstance(vocab, DataFrame):
        mapping = {r["sym"]: int(r["id"]) for r in vocab.collect()}
    else:
        mapping = dict(vocab)
    rev = F.create_map(
        *[
            x
            for sym, i in mapping.items()
            for x in (F.lit(i), F.lit(sym))
        ],
    )
    text = F.rtrim(
        F.replace(
            F.array_join(
                F.transform(
                    ids_col,
                    lambda i: F.coalesce(
                        F.element_at(rev, i.cast("int")), F.lit("�"),
                    ),
                ),
                "",
            ),
            F.lit(EOW),
            F.lit(" "),
        ),
    )
    return df.withColumn(out_col, text)
