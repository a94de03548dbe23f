"""Streaming deduplication — the ingest-time half of the dedup story.

The batch operators in ``operators/dedup.py`` clean a corpus at rest;
these clean it on the way in (Kafka/file-drop ingestion of documents
or events), with bounded state via watermarks. Batch-first like the
rest of ``streaming/``: every function accepts a batch DataFrame too
and degrades to the equivalent batch dedup, so one code path serves
backfill and live ingest.

Scale notes: ``dropDuplicatesWithinWatermark`` keeps one state row per
key seen within the watermark horizon — state is bounded by (arrival
rate × watermark), not by stream lifetime, and is hash-partitioned on
the dedup key across executors. Fingerprint dedup hashes the document
JVM-side (md5 of normalized text, same fingerprint as the batch path)
BEFORE the stateful operator, so state rows carry a 32-char digest
instead of the document body.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.text import with_fingerprint
from rdsa_utils_spark.plans.tuning import pin

_LOG = logging.getLogger(__name__)

#: Epoch count past which a gate's start-up census warns: the probe
#: joins once PER epoch, so a store left to accrete hundreds of epochs
#: pays a per-batch fan-out that a rebuild_near_dedup_epochs reset
#: ("a few dozen" in its contract) keeps bounded.
EPOCH_WARN_THRESHOLD = 32


def dedup_within_watermark(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop rows whose ``key_cols`` were already seen within the
    watermark horizon.

    Streaming input: applies ``withWatermark(ts_col, watermark)`` and
    ``dropDuplicatesWithinWatermark`` — exactly-once per key within
    the horizon, state bounded by the horizon, late duplicates beyond
    it are (by contract) re-admitted. Batch input: keep the
    MIN-(ts, remaining columns) row per key — a deterministic
    backfill (plain ``dropDuplicates`` keeps a plan-dependent
    arbitrary row, so two runs of the same backfill could emit
    different survivors); when ``ts_col`` is None the min is over the
    row's full column tuple.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    if not df.isStreaming:
        others = [c for c in df.columns if c not in keys]
        order = ([ts_col] if ts_col else []) + [c for c in others if c != ts_col]
        if not order:
            return df.dropDuplicates(keys)
        pick = F.min(F.struct(*[F.col(c) for c in order])).alias("__w__")
        return (
            df.groupBy(*keys)
            .agg(pick)
            .select(*keys, *[F.col(f"__w__.{c}").alias(c) for c in order])
            .select(*df.columns)
        )
    if ts_col is None:
        raise ValueError("ts_col is required for streaming input")
    from rdsa_utils_spark.streaming.windows_time import _watermark_safe

    df = _watermark_safe(df, ts_col)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def fingerprint_dedup_stream(
    df: DataFrame,
    text_col: str,
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Content-level streaming dedup for document ingest: fingerprint
    the text (md5 of whitespace-normalized, lower-cased content — the
    same digest as the batch ``exact_dedup`` path, so backfill and
    live ingest agree on what counts as a duplicate), then keep the
    first arrival per fingerprint within the watermark horizon.

    The fingerprint column stays in the output for lineage/audit.
    """
    fp = with_fingerprint(df, text_col, out_col=fingerprint_col)
    return dedup_within_watermark(
        fp, [fingerprint_col], ts_col=ts_col, watermark=watermark,
    )


def new_keys_per_window(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming "new vs returning": count keys whose FIRST arrival
    (within the watermark horizon) lands in each tumbling window —
    the live half of ``operators/events.cumulative_distinct``'s
    first-occurrence trick. A key is counted in exactly one window,
    so a monotonic sink (or a batch running sum over the emitted
    rows) yields the cumulative distinct series.

    Streaming: dedup-first-arrival per key (state = one digest-sized
    row per key in the horizon) feeding a windowed count — both
    stateful operators share the watermark, so state is bounded and
    windows finalize. Batch: min-EVENT-TIME per key then the same
    window bucketing — the deterministic infinite-horizon reference.
    The two agree whenever each key's first event arrives before its
    later ones (in-order ingest); under out-of-order arrival the
    stream keeps the first-ARRIVED row, so a key whose earlier-stamped
    event arrives late can land one window later live than in a batch
    replay — the inherent watermark trade-off, not a bug to paper
    over. Output: (``window_start``, ``window_end``, ``n_new``).
    """
    if not df.isStreaming:
        firsts = df.groupBy(key_col).agg(F.min(ts_col).alias(ts_col))
        bucketed = firsts.groupBy(F.window(ts_col, window)).agg(
            F.count(F.lit(1)).alias("n_new"),
        )
    else:
        deduped = dedup_within_watermark(
            df.select(key_col, ts_col), [key_col],
            ts_col=ts_col, watermark=watermark,
        )
        # The watermark set inside the dedup carries downstream;
        # re-defining it on the same column is illegal in Spark 4.
        bucketed = deduped.groupBy(F.window(ts_col, window)).agg(
            F.count(F.lit(1)).alias("n_new"),
        )
    return bucketed.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_new",
    )


# --------------------------------------------------------------------------
# Shared state-store plumbing for the two persistent-corpus gates.
#
# A gate's state store for ``kind`` lives in two tiers under
# ``state_path``:
#   * ``{kind}/__batch__=<id>/``  — one small parquet dir per
#     micro-batch (the write-side tier; replay overwrites its own dir),
#   * zero or more BUCKETED epoch catalog tables (the read-side tier),
#     produced by ``compact_near_dedup_state(..., bucket=True)`` and
#     recorded in a ``{kind}__manifest__`` JSON file.  Each epoch holds
#     the batches in ``(prev_label, label]`` bucketed (and sorted) on
#     the probe's join key, so the per-micro-batch probe equi-join
#     needs NO exchange on the store side — the scan streams straight
#     into the join.  Epochs are append-only: compacting N new batches
#     costs O(N batches), never O(corpus).
#
# Writer-identity protocol: a ``__owner__`` JSON file at the
# ``state_path`` root records the claiming query's checkpoint dir.
# Every gate (re)start must present the same checkpoint dir
# (``_claim_state_ownership``) — two different logical queries sharing
# one store would interleave ``__batch__=<id>`` overwrites and corrupt
# the corpus in a way the single-writer batch-id guard cannot see.
# --------------------------------------------------------------------------

_BUCKET_COLS = {"bands": ("band", "band_hash")}


def _fs_client(spark, client=None):
    """Resolve the FileSystemClient used for all driver-side state-FS
    access in this module (manifest reads, crash-marker probes, batch
    census). ``None`` builds a :class:`HadoopFileSystemClient` over the
    session; tests may inject a :class:`LocalFileSystemClient` — no raw
    ``_jvm`` filesystem access happens outside ``sources/objectstore``."""
    if client is not None:
        return client
    from rdsa_utils_spark.sources.objectstore import HadoopFileSystemClient

    return HadoopFileSystemClient(spark)


def _state_exists(client, path: str) -> bool:
    """Generic existence (file OR directory) through the protocol —
    the state tree mixes both (``__manifest__`` files, ``__batch__=``
    and ``__aside__`` directories)."""
    return client.folder_exists(path) or client.file_exists(path)


def _manifest_path(state_path: str, kind: str) -> str:
    return f"{state_path}/{kind}__manifest__"


def _owner_path(state_path: str) -> str:
    return f"{state_path}/__owner__"


def _claim_state_ownership(
    spark, state_path: str, checkpoint_dir: str, client=None,
) -> None:
    """Refuse to run a gate whose ``state_path`` is already claimed by
    a DIFFERENT logical query (identified by its streaming checkpoint
    directory). Two writers interleaving ``__batch__=<id>`` overwrites
    would silently clobber each other's partitions and corrupt the
    admitted-corpus memory — and the batch-id monotonicity guard
    (:func:`_assert_checkpoint_not_reset`) reasons only about ONE
    writer's history, so the second writer's batch 0/1/2… looks like a
    plausible restart to it. Protocol: the first gate to touch a store
    records its checkpoint dir in ``{state_path}/__owner__``; every
    later (re)start must present the SAME checkpoint dir. This is a
    deterministic configuration check against the two-gates-one-store
    misuse, not a distributed lease — crash-restarts of the same query
    (same checkpoint) always pass, and a torn/unreadable owner file
    refuses rather than guesses."""
    import json

    client = _fs_client(spark, client)
    opath = _owner_path(state_path)
    ck = str(checkpoint_dir).rstrip("/")
    if client.file_exists(opath):
        try:
            owner = json.loads(client.read_text(opath))
            recorded = str(owner["checkpoint_dir"])
        except Exception as e:
            raise RuntimeError(
                f"{opath} exists but is unreadable ({e!r}) — a torn "
                f"owner write or external corruption. Verify no other "
                f"gate writes to {state_path}, then delete the owner "
                f"file to re-claim. Refusing to guess.",
            ) from e
        if recorded.rstrip("/") != ck:
            raise RuntimeError(
                f"state under {state_path} is owned by the gate "
                f"checkpointed at {recorded!r}, but this query's "
                f"checkpoint is {ck!r} — two different queries must "
                f"not share one state store (interleaved __batch__ "
                f"overwrites corrupt the admitted corpus). Point this "
                f"gate at its own state_path, or — if the old query is "
                f"retired and its checkpoint intentionally replaced — "
                f"delete {opath} to transfer ownership.",
            )
        return
    client.write_text(
        opath,
        json.dumps({"checkpoint_dir": ck, "owner_protocol": 1}),
    )


def _normalized_ddl(schema_ddl: str) -> str:
    """Schema DDL normalized for equality comparison across manifest
    generations: early manifests recorded ``name type``, current ones
    backtick-quote the name — the contract compares structure, not
    quoting."""
    return " ".join(schema_ddl.replace("`", "").lower().split())


def _load_manifest(spark, state_path: str, kind: str, client=None) -> Optional[dict]:
    """Load a kind's compaction manifest, refusing on the crashed-swap
    ``__tmp__`` marker — THE single definition of the manifest-read
    protocol (the census and the gates must never drift on the marker
    convention). Filesystem access goes through the FileSystemClient
    protocol; ``client=None`` builds a HadoopFileSystemClient over the
    session (driver-side JVM FS read, no Spark job — the probe loads
    the manifest every micro-batch, and a tiny JSON file should not
    cost a collect each time)."""
    import json

    if client is None:
        from rdsa_utils_spark.sources.objectstore import (
            HadoopFileSystemClient,
        )

        client = HadoopFileSystemClient(spark)
    mpath = _manifest_path(state_path, kind)
    if client.file_exists(f"{mpath}__tmp__"):
        raise RuntimeError(
            f"{mpath}__tmp__ exists — a bucketing compaction crashed "
            f"mid-manifest-swap; run recover_near_dedup_state"
            f"('{state_path}') before starting the gate",
        )
    if not client.file_exists(mpath):
        return None
    raw = client.read_text(mpath)
    try:
        man = json.loads(raw)
        man["label"], man["epochs"]  # noqa: B018 — key presence check
    except Exception as e:
        # The swap protocol only ever materializes a manifest via the
        # __tmp__ rename, so a torn/truncated FINAL manifest means an
        # external partial write or filesystem corruption — refuse
        # (probing with a guessed manifest would silently drop whole
        # epochs from the admitted corpus and re-admit duplicates).
        raise RuntimeError(
            f"{mpath} is unreadable or missing required keys ({e!r}) "
            f"— a torn/partial manifest write. Restore the manifest "
            f"from backup, or re-author it from the surviving "
            f"{kind}__epoch__r* directories under {state_path} (the "
            f"bucketed parquet data is the durable copy; the manifest "
            f"is reconstructible metadata). Refusing to guess.",
        ) from e
    return man


def _ensure_epoch_table(spark, entry: dict) -> str:
    """Return the epoch's table name, re-registering the EXTERNAL
    bucketed table from its manifest-recorded path/schema/bucket-spec
    if the catalog lost it (fresh metastore, in-memory catalog across
    restarts). The parquet data under ``state_path`` is the durable
    copy; the catalog entry is reconstructible metadata.
    """
    import re

    name = entry["table"]
    # The manifest is durable state read back into a CREATE TABLE
    # statement — validate every interpolated field against a
    # conservative grammar (BEFORE the catalog lookup, which parses the
    # name itself) and backtick-quote the identifiers, so a column that
    # needs quoting re-registers correctly and a corrupted/tampered
    # manifest refuses instead of executing an arbitrary DDL fragment.
    ident = re.compile(r"^[A-Za-z0-9_]+$")
    if not all(ident.match(p) for p in name.split(".")) or not name:
        raise ValueError(f"manifest table name {name!r} is not a valid identifier")
    for c in entry["bucket_cols"]:
        if not ident.match(c):
            raise ValueError(f"manifest bucket column {c!r} is not a valid identifier")
    # column names + Spark simpleString types: word chars, <>(),: for
    # decimal(10,2)/array<string>/struct<a:int>, spaces, commas,
    # optional backticks from quoting — never quotes or semicolons
    if not re.match(r"^[A-Za-z0-9_<>(),: `]+$", entry["schema_ddl"]):
        raise ValueError(
            f"manifest schema_ddl {entry['schema_ddl']!r} contains "
            "characters outside the expected DDL grammar",
        )
    if "'" in entry["path"]:
        raise ValueError(f"manifest path {entry['path']!r} contains a quote")
    if spark.catalog.tableExists(name):
        return name
    qname = ".".join(f"`{p}`" for p in name.split("."))
    cols = ", ".join(f"`{c}`" for c in entry["bucket_cols"])
    sql = (
        f"CREATE TABLE {qname} ({entry['schema_ddl']}) USING PARQUET "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
        f"INTO {int(entry['num_buckets'])} BUCKETS "
        f"LOCATION '{entry['path']}'"
    )
    spark.sql(sql)
    return name


def _read_state_parts(spark, state_path: str, kind: str, before_batch: int):
    """The gate-side state view as a LIST of DataFrames: one per
    bucketed epoch table (each preserving its bucket partitioning so a
    downstream equi-join on the bucket columns plans with zero
    exchanges on the store side) plus one for the uncompacted
    ``__batch__=<id>`` directory tail. Empty list = no admitted corpus
    yet. Refuses (never guesses) when a compaction crash marker — the
    dir-merge protocol's ``__aside__`` or the bucketing protocol's
    manifest ``__tmp__`` — is present.
    """
    root = f"{state_path}/{kind}"
    client = _fs_client(spark)
    if _state_exists(client, f"{root}__aside__"):
        # a compact_near_dedup_state crashed mid-swap: probing a
        # half-moved store would silently treat the corpus as
        # (partially) empty and admit duplicates
        raise RuntimeError(
            f"{root}__aside__ exists — run recover_near_dedup_state"
            f"('{state_path}') before starting the gate",
        )
    parts = []
    label = -1
    man = _load_manifest(spark, state_path, kind, client=client)
    if man is not None:
        label = int(man["label"])
        for entry in man["epochs"]:
            t = _ensure_epoch_table(spark, entry)
            parts.append(
                spark.table(t)
                .filter(F.col("__batch__") < before_batch)
                .drop("__batch__"),
            )
    if _state_exists(client, root):
        parts.append(
            spark.read.parquet(root)
            .filter(
                (F.col("__batch__") > label)
                & (F.col("__batch__") < before_batch),
            )
            .drop("__batch__"),
        )
    return parts


def state_epoch_census(
    spark,
    state_path: str,
    kinds: Sequence[str] = ("bands", "sigs"),
    client=None,
) -> dict:
    """Per-store census of the state parts the gate will probe:
    compacted epoch tables (from the manifest) and uncompacted
    ``__batch__=<id>`` tail directories. Driver-side listing only —
    one manifest read + one directory listing per kind, the same cost
    the gate already pays per (re)start — so operators can watch
    epoch growth without reading query plans. Returns
    ``{kind: {"epochs": n, "tail_dirs": m}}``.

    All filesystem access goes through the repo's FileSystemClient
    protocol (``sources.objectstore``) — ``client`` defaults to
    :class:`~rdsa_utils_spark.sources.objectstore.
    HadoopFileSystemClient` over the session (scheme-agnostic:
    s3a/gs/hdfs/file), but a
    :class:`~rdsa_utils_spark.sources.objectstore.
    LocalFileSystemClient` makes the census runnable with NO JVM at
    all (``spark`` may then be ``None``).
    """
    import posixpath

    if client is None:
        from rdsa_utils_spark.sources.objectstore import (
            HadoopFileSystemClient,
        )

        client = HadoopFileSystemClient(spark)
    census: dict = {}
    for kind in kinds:
        man = _load_manifest(spark, state_path, kind, client=client)
        epochs = len(man["epochs"]) if man is not None else 0
        tail = 0
        root = f"{state_path}/{kind}"
        if client.folder_exists(root):
            tail = sum(
                1
                for d in client.list_folders(root)
                if posixpath.basename(d.rstrip("/")).startswith("__batch__=")
            )
        census[kind] = {"epochs": epochs, "tail_dirs": tail}
    return census


def _log_epoch_census(
    spark, state_path: str, kinds: Sequence[str], query_name: str,
) -> None:
    """Start-up telemetry for the bucketed gates: surface how many
    state parts every micro-batch probe will join (epoch-count growth
    is otherwise invisible outside query plans) and WARN once the
    per-batch join fan-out passes :data:`EPOCH_WARN_THRESHOLD` —
    the operator nudge to run :func:`rebuild_near_dedup_epochs`
    (epochs) / :func:`compact_near_dedup_state` (tail dirs).
    """
    census = state_epoch_census(spark, state_path, kinds)
    _LOG.info("%s: state census at %s: %s", query_name, state_path, census)
    worst = max(
        (c["epochs"] + c["tail_dirs"] for c in census.values()), default=0,
    )
    if worst > EPOCH_WARN_THRESHOLD:
        _LOG.warning(
            "%s: state store at %s has %d probe parts per batch "
            "(> %d): run rebuild_near_dedup_epochs (epoch reset) and/or "
            "compact_near_dedup_state (tail merge) while the stream is "
            "stopped — census %s",
            query_name, state_path, worst, EPOCH_WARN_THRESHOLD, census,
        )


def _band_hit_parts(band_parts, bands, id_col: str, bloom_fpp: float):
    """The near gate's cross-batch probe, one equi-join PER state
    part: a bucketed epoch scan keeps its HashPartitioning(band,
    band_hash) through the project/Bloom-filter, so its join plans
    with zero exchanges on the store side (unioning the parts first
    would discard the partitioning and re-shuffle the whole corpus
    every batch). Module-level so the plan test asserts on THE
    production construction, not a reconstructed equivalent. Returns
    one (__new_id__, __old_id__) frame per part.
    """
    from rdsa_utils_spark.functions.bloom import (
        bloom_params,
        bloom_probe_expr,
        build_bloom_bitmap,
    )

    key = F.concat_ws(":", F.col("band"), F.col("band_hash"))
    probe = bands.withColumn("__bk__", key)
    n_keys = max(probe.count(), 1)
    m_bits, k_hashes = bloom_params(n_keys, bloom_fpp)
    bloom = build_bloom_bitmap(probe, "__bk__", m_bits, k_hashes)
    probe_ids = probe.select(
        F.col(id_col).alias("__new_id__"), "band", "band_hash",
    )
    return [
        sb.withColumn("__bk__", key)
        # broadcast: the bitmap is driver-built rows, an RDD scan with no size statistic
        .crossJoin(F.broadcast(bloom))
        .filter(bloom_probe_expr("__bk__", m_bits, k_hashes))
        .select(
            F.col(id_col).alias("__old_id__"), "band", "band_hash",
        )
        .join(probe_ids, ["band", "band_hash"])
        .select("__new_id__", "__old_id__")
        for sb in band_parts
    ]


def _assert_checkpoint_not_reset(
    spark, state_path: str, kinds, batch_id: int,
) -> None:
    """Refuse to run a gate batch whose state store already contains
    STRICTLY NEWER batches. Batch N+1 only starts after batch N commits
    to the checkpoint, so under an intact checkpoint no state dir (or
    compacted epoch) can exceed the current batch_id — if one does, the
    checkpoint was reset/lost while ``state_path``/``path`` were kept:
    batch ids restart at 0, the ``__batch__ < 0`` probe would see an
    EMPTY corpus (silent duplicate admission), and the overwrite-mode
    writes would clobber the prior run's low-numbered partitions
    (silent partial data loss). Refuse-don't-guess, like the
    ``__aside__`` guard.
    """
    client = _fs_client(spark)
    newest = -1
    for kind in kinds:
        root = f"{state_path}/{kind}"
        man = _load_manifest(spark, state_path, kind, client=client)
        if man is not None:
            newest = max(newest, int(man["label"]))
        if not client.folder_exists(root):
            continue
        for sub in client.list_folders(root):
            name = sub.rstrip("/").rsplit("/", 1)[-1]
            if name.startswith("__batch__="):
                newest = max(newest, int(name.split("=", 1)[1]))
    if newest > batch_id:
        raise RuntimeError(
            f"state under {state_path} already contains __batch__="
            f"{newest} > current batch_id={batch_id} — the streaming "
            f"checkpoint appears to have been reset/lost while the "
            f"state was kept. Running would probe an empty corpus and "
            f"overwrite prior output. Point checkpoint_dir at the "
            f"original checkpoint, or start a fresh state_path/path.",
        )


def write_stream_near_dedup(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    state_path: str,
    checkpoint_dir: str,
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
    num_bands: int = 16,
    jaccard_threshold: float = 0.8,
    bloom_fpp: float = 0.01,
    query_name: str = "near_dedup_gate",
    trigger_available_now: bool = True,
):
    """Streaming NEAR-duplicate gate: the live counterpart of
    :func:`~rdsa_utils_spark.operators.dedup.minhash_near_dedup`.
    Each micro-batch is (1) near-deduped within itself with the batch
    machinery (LSH bands + EXACT shingle-Jaccard verify — the text is
    at hand), then (2) probed against a persistent MinHash state store
    of everything previously admitted; a new doc whose ESTIMATED
    Jaccard (matching-component fraction, unbiased, ±1/√num_perm)
    against any stored signature reaches ``jaccard_threshold`` is
    dropped. Survivors append to ``path`` and their bands+signatures
    to the state store, so the corpus the gate defends is exactly the
    corpus it has admitted.

    Exactly-once without markers: every write lands in a
    ``__batch__=<id>`` partition directory in overwrite mode, and the
    cross-batch probe reads only state partitions with
    ``__batch__ < current`` — a replayed batch sees the identical
    state, makes the identical decisions, and overwrites its own
    partitions byte-for-byte.

    State layout under ``state_path``: ``bands/`` (band, band_hash,
    id) — the join surface — and ``sigs/`` (id, minhash) for the
    verify step. The per-batch probe cost is one equi-join on
    (band, band_hash) against the bands store, prefiltered by a Bloom
    bitmap built from the BATCH's band keys (batch-sized, broadcast as
    one row), so the state scan discards definite non-matches inside
    codegen instead of shuffling the whole store each batch. Run
    :func:`compact_near_dedup_state` with ``bucket=True`` periodically
    (stream stopped) and the store's history lives in epoch tables
    BUCKETED on (band, band_hash): each epoch's probe join then plans
    with ZERO exchanges on the store side (asserted in
    tests/test_round8_bucketed_state.py), so the per-batch cost is one
    sequential store scan — no corpus-sized shuffle — plus batch-sized
    work.

    Blank/NULL-text docs bypass the gate unfiltered (their Jaccard is
    0 by definition — route them through
    :func:`fingerprint_dedup_stream` for exact blank dedup) and are
    never stored. Within-batch survivor choice and the store itself
    are deterministic, so backfill replays are reproducible.

    Like the batch operator, each micro-batch first collapses
    byte-identical texts to a min-id representative before LSH
    (output-identical — see
    :func:`~rdsa_utils_spark.operators.dedup.minhash_near_dedup` for
    the proof), so a boilerplate-heavy ingest batch with exact-dup
    mega-groups costs linear, not quadratic, within-batch work
    (measured flat per-batch time under growing exact-dup group size,
    ``tools/dup_stress_probe.py --streaming``).

    Divergence contract vs a one-shot batch ``minhash_near_dedup`` on
    the concatenated feed (honest, not papered over): (1) cross-batch
    drops use the minhash ESTIMATE (σ ≈ 1/√num_perm per pair), so a
    pair whose true Jaccard sits within ~1σ of the threshold can be
    decided differently than the batch operator's exact verify; (2)
    first-ADMITTED wins here, while the batch operator keeps the
    smaller id — a later batch delivering a smaller id than its stored
    near-dup yields the opposite survivor. Clear-margin duplicates
    with arrival-ordered ids (the normal ingest case) agree exactly.

    Returns the started ``StreamingQuery`` (caller awaits/stops).
    """
    from rdsa_utils_spark.operators.dedup import (
        band_hash_rows,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from rdsa_utils_spark.sources.writers import write_stream_foreach_batch

    if not (0.0 < jaccard_threshold <= 1.0):
        raise ValueError(
            f"jaccard_threshold must be in (0, 1], got {jaccard_threshold}",
        )
    spark = stream_df.sparkSession
    guard_done = {"v": False}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not guard_done["v"]:
            # a checkpoint can only be reset between query runs, so the
            # (state-listing-cost) guards run once per (re)start, not
            # per micro-batch. Ownership first: a second writer with
            # its own checkpoint must refuse on identity, not depend on
            # whichever batch ids happen to collide.
            _claim_state_ownership(spark, state_path, checkpoint_dir)
            _assert_checkpoint_not_reset(
                spark, state_path, ("bands", "sigs"), batch_id,
            )
            _log_epoch_census(
                spark, state_path, ("bands", "sigs"), query_name,
            )
            guard_done["v"] = True
        nonblank = F.coalesce(
            F.length(F.trim(F.col(text_col))), F.lit(0),
        ) > 0
        eligible = batch_df.filter(nonblank)
        blanks = batch_df.filter(~nonblank)

        # EXACT-duplicate collapse before LSH (round-12; the batch
        # operator got it in round 11 — see minhash_near_dedup's
        # docstring for the output-identity proof, which transfers
        # verbatim to the within-batch stage: byte-identical texts
        # share every band bucket and verify at Jaccard 1 ≥ threshold,
        # so each non-min-id member of an identical-text group is
        # dropped by stage (1) unconditionally and never reaches the
        # cross-batch probe. Collapsing them FIRST keeps within-bucket
        # pair counts linear when a boilerplate-heavy ingest batch
        # carries exact-dup mega-groups — the shuffle carries only
        # (id, 16-byte digest) rows, never text or signatures.
        exact_losers = (
            eligible.select(
                F.col(id_col),
                F.md5(F.col(text_col).cast("binary")).alias("__fp__"),
            )
            .withColumn(
                "__rn__",
                F.row_number().over(
                    Window.partitionBy("__fp__").orderBy(F.col(id_col).asc()),
                ),
            )
            .filter(F.col("__rn__") > 1)
            .select(id_col)
        )
        rep_docs = eligible.join(exact_losers, id_col, "left_anti")

        sig = minhash_signatures(
            rep_docs, text_col, num_perm, shingle_n,
        ).transform(pin, eager=True)  # batch-sized; consumed 4×

        # (1) within-batch: LSH candidates + exact-Jaccard verify,
        # greater id of each confirmed pair drops (batch semantics).
        # Shingle sets for the verify come from the PLAIN eligible
        # frame (candidates only reference representative ids; extra
        # rows go unprobed); the Jaccard itself runs in the JVM.
        cand = lsh_candidate_pairs(
            sig, id_col, "minhash", num_bands, signature_length=num_perm,
        )
        verified = ngram_jaccard_pairs(
            eligible, cand, id_col, text_col, shingle_n,
        ).filter(F.col("jaccard") >= jaccard_threshold)
        losers = verified.select(F.col("id_b").alias(id_col)).distinct()
        survivors = sig.join(losers, id_col, "left_anti")

        # Band rows for the survivors (probe side now, store side
        # after) — the SAME band-key construction the batch LSH uses
        # (band_hash_rows is the single definition; a drifted copy here
        # would silently stop matching the stored hashes).
        bands = band_hash_rows(
            survivors, id_col, "minhash",
            num_bands, num_perm // num_bands, out_id=id_col,
        ).transform(pin, eager=True)

        # (2) cross-batch: probe the admitted-corpus band store. Both
        # state halves must exist — a crash between the bands and sigs
        # writes of an earlier run leaves partial CURRENT-batch dirs
        # (excluded by the __batch__ < batch_id filter anyway), never a
        # committed bands half without its sigs half; if sigs/ is
        # missing entirely there is no admitted corpus to match.
        band_parts = _read_state_parts(spark, state_path, "bands", batch_id)
        sig_parts = _read_state_parts(spark, state_path, "sigs", batch_id)
        dup_ids = None
        if band_parts and sig_parts:
            from functools import reduce

            hit_parts = _band_hit_parts(
                band_parts, bands, id_col, bloom_fpp,
            )
            hits = reduce(DataFrame.unionByName, hit_parts).distinct()
            state_sigs = reduce(DataFrame.unionByName, sig_parts)
            new_sigs = survivors.select(
                F.col(id_col).alias("__new_id__"),
                F.col("minhash").alias("__sig_n__"),
            )
            old_sigs = state_sigs.select(
                F.col(id_col).alias("__old_id__"),
                F.col("minhash").alias("__sig_o__"),
            )
            est = (
                hits.join(new_sigs, "__new_id__")
                .join(old_sigs, "__old_id__")
                .withColumn(
                    "__match__",
                    F.aggregate(
                        F.zip_with(
                            "__sig_n__",
                            "__sig_o__",
                            lambda x, y: (x == y).cast("int"),
                        ),
                        F.lit(0),
                        lambda acc, v: acc + v,
                    ),
                )
                .filter(
                    F.col("__match__") >= F.lit(jaccard_threshold * num_perm),
                )
            )
            dup_ids = est.select(F.col("__new_id__").alias(id_col)).distinct()

        kept = survivors if dup_ids is None else survivors.join(
            dup_ids, id_col, "left_anti",
        )
        kept = kept.transform(pin, eager=True)  # consumed 3×

        # Idempotent per-batch partition writes (replay overwrites).
        kept.drop("minhash").unionByName(blanks).write.mode(
            "overwrite",
        ).parquet(f"{path}/__batch__={batch_id}")
        bands.join(
            kept.select(id_col), id_col, "left_semi",
        ).write.mode("overwrite").parquet(
            f"{state_path}/bands/__batch__={batch_id}",
        )
        kept.select(id_col, "minhash").write.mode("overwrite").parquet(
            f"{state_path}/sigs/__batch__={batch_id}",
        )

    return write_stream_foreach_batch(
        stream_df,
        process,
        checkpoint_dir,
        query_name=query_name,
        trigger_available_now=trigger_available_now,
    )


def _state_batch_ids(client, root: str) -> list[int]:
    ids = []
    for d in client.list_folders(root):
        name = d.rstrip("/").rsplit("/", 1)[-1]
        if name.startswith("__batch__="):
            ids.append(int(name.split("=", 1)[1]))
    return sorted(ids)


def _default_table_prefix(state_path: str) -> str:
    import hashlib
    import re

    base = re.sub(
        r"[^a-z0-9]+", "_", state_path.rstrip("/").rsplit("/", 1)[-1].lower(),
    ).strip("_") or "state"
    tag = hashlib.md5(state_path.rstrip("/").encode()).hexdigest()[:6]
    return f"ndg_{base}_{tag}"


def compact_near_dedup_state(
    spark,
    state_path: str,
    client=None,
    kinds: tuple = ("bands", "sigs"),
    *,
    bucket: bool = False,
    num_buckets: int = 64,
    table_prefix: Optional[str] = None,
) -> int:
    """Merge the :func:`write_stream_near_dedup` state store's
    accumulated per-batch partition directories — one tiny
    ``__batch__=<id>`` dir per micro-batch, the classic small-files
    accretion — into a single partition per store, and return how many
    directories were reclaimed. Run while the stream is stopped.

    Correctness under replay: the NEWEST batch directory is never
    touched and everything older merges into a directory labeled with
    the SECOND-newest id, so the gate's ``__batch__ < current`` probe
    filter sees exactly the same rows afterwards — including the
    replay of a crashed final batch, whose own (possibly partial)
    state dir remains in place to be overwritten. Merging the newest
    id instead would relabel pre-crash state AT the replaying batch's
    own id and the ``<`` filter would drop the entire store.

    Crash safety is rename-based (the ``merge_upsert`` aside
    protocol) with a PLAN file: after the merged stage is written
    completely, a ``<kind>__plan__`` file records the merge label and
    the newest id, THEN the old store moves aside whole, the stage
    and the newest batch move in, the aside is deleted, the plan file
    last. Because the plan is durable before any move, recovery never
    has to infer which directories already moved (inferring from the
    aside's remaining ids mis-labels the state once the newest batch
    has left the aside — a data-loss roll-back found in review) — a
    crash with an aside present ALWAYS rolls forward. Run
    :func:`recover_near_dedup_state` at job start (the gate refuses
    to run while an aside exists).

    ``bucket=True`` switches to the scale protocol: instead of merging
    into one plain parquet dir, the merged batches are written as an
    EXTERNAL catalog table under ``state_path`` BUCKETED (and sorted)
    on the gate's probe join key (``(band, band_hash)`` for bands; the
    fingerprint/id column otherwise), and recorded in a
    ``{kind}__manifest__`` JSON file that the gates read. Epochs are
    APPEND-ONLY — each compaction bucket-writes only the batches that
    arrived since the previous one, so compaction cost is O(new data),
    never O(corpus), and the gate's per-batch probe joins each epoch
    with zero store-side exchanges. Crash safety: the epoch table is
    fully written BEFORE the manifest swaps via a ``__tmp__`` file
    (write-tmp → delete-old → move-in); the gate refuses to start
    while a ``__tmp__`` exists and :func:`recover_near_dedup_state`
    rolls forward (data first, pointer last — same discipline as the
    plan-file protocol). Merged dirs are deleted only after the swap;
    a crash between leaves rows duplicated between epoch and dirs,
    which the ``__batch__ > label`` probe filter excludes, and the
    next compaction sweeps the stale dirs. Catalog loss is survivable:
    the manifest records path/schema/bucket-spec and the gate
    re-registers missing epoch tables on sight.
    """
    from rdsa_utils_spark.sources.versioned import _default_client

    client = client or _default_client()
    if bucket:
        return _compact_bucketed(
            spark, state_path, client, kinds,
            num_buckets=num_buckets,
            table_prefix=table_prefix or _default_table_prefix(state_path),
        )
    reclaimed = 0
    for kind in kinds:
        root = f"{state_path}/{kind}"
        stage = f"{root}__stage__"
        aside = f"{root}__aside__"
        plan = f"{root}__plan__"
        if (
            client.folder_exists(aside)
            or client.file_exists(plan)
            # a bucketed compaction that crashed in the delete-old ->
            # move-tmp window leaves tmp present and manifest absent:
            # the plain dir-merge would re-merge batches the pending
            # epoch already captured (duplicated state after recovery)
            or client.file_exists(
                f"{_manifest_path(state_path, kind)}__tmp__",
            )
        ):
            raise RuntimeError(
                f"{kind} store is mid-compaction — run "
                f"recover_near_dedup_state first",
            )
        if client.file_exists(_manifest_path(state_path, kind)):
            raise RuntimeError(
                f"{kind} store is bucket-compacted (manifest present) — "
                f"keep using compact_near_dedup_state(..., bucket=True)",
            )
        if not client.folder_exists(root):
            continue
        ids = _state_batch_ids(client, root)
        if len(ids) <= 2:
            continue  # nothing worth merging without touching the newest
        label, newest = ids[-2], ids[-1]
        merged = (
            spark.read.parquet(root)
            .filter(F.col("__batch__") <= label)
            .drop("__batch__")
        )
        if client.folder_exists(stage):
            client.delete_folder(stage)  # leftover pre-move stage is garbage
        merged.write.parquet(stage)
        client.write_text(plan, f"{label}\n{newest}\n")
        client.move_file(root, aside)
        client.create_folder(root)
        client.move_file(stage, f"{root}/__batch__={label}")
        client.move_file(
            f"{aside}/__batch__={newest}", f"{root}/__batch__={newest}",
        )
        client.delete_folder(aside)
        client.delete_file(plan)
        reclaimed += len(ids) - 2
    return reclaimed


def _compact_bucketed(
    spark,
    state_path: str,
    client,
    kinds: tuple,
    *,
    num_buckets: int,
    table_prefix: str,
) -> int:
    """The ``bucket=True`` body of :func:`compact_near_dedup_state`
    (see its docstring for the protocol and crash-safety argument).
    """
    import json

    reclaimed = 0
    for kind in kinds:
        root = f"{state_path}/{kind}"
        mpath = _manifest_path(state_path, kind)
        tmp = f"{mpath}__tmp__"
        if (
            client.file_exists(tmp)
            or client.folder_exists(f"{root}__aside__")
            or client.file_exists(f"{root}__plan__")
        ):
            raise RuntimeError(
                f"{kind} store is mid-compaction — run "
                f"recover_near_dedup_state first",
            )
        man = (
            json.loads(client.read_text(mpath))
            if client.file_exists(mpath)
            else {"label": -1, "epochs": []}
        )
        label = int(man["label"])
        known = {e["table"] for e in man["epochs"]}
        known_paths = {e["path"] for e in man["epochs"]}

        # Sweep crash leftovers: stale merged dirs (<= label — already
        # represented in an epoch) and orphan epoch tables/folders a
        # crashed pre-manifest run left behind.
        if client.folder_exists(root):
            for i in _state_batch_ids(client, root):
                if i <= label:
                    client.delete_folder(f"{root}/__batch__={i}")
                    reclaimed += 1
        prefix = f"{table_prefix}_{kind}_e"
        # sweep BOTH epoch families: compaction's e<label> tables and
        # rebuild_near_dedup_epochs' r<label> tables — a crashed
        # rebuild otherwise strands a catalog entry whose backing
        # folder the folder-sweep below deletes (dangling table)
        rebuilt_prefix = f"{table_prefix}_{kind}_r"
        for t in spark.catalog.listTables():
            if (
                t.name.startswith(prefix)
                or t.name.startswith(rebuilt_prefix)
            ) and t.name not in known:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        for d in client.list_folders(state_path):
            name = d.rstrip("/").rsplit("/", 1)[-1]
            full = f"{state_path}/{name}"
            if name.startswith(f"{kind}__epoch__") and full not in known_paths:
                client.delete_folder(full)

        if not client.folder_exists(root):
            continue
        ids = _state_batch_ids(client, root)
        mergeable = [i for i in ids[:-1] if i > label]
        if not mergeable:
            continue  # nothing new below the (never-touched) newest dir
        newlabel = ids[-2]
        # mergeSchema: without it the inferred schema is whichever
        # file's footer Spark samples, which HIDES a mid-tail schema
        # drift from the guard below (the drifted column silently
        # drops); with it a mixed tail surfaces as a merged schema
        # that can never equal the recorded epoch schema. Tail dirs
        # are micro-batch-sized, so the extra footer reads are noise.
        df = (
            spark.read.option("mergeSchema", "true")
            .parquet(root)
            .filter(
                (F.col("__batch__") > label)
                & (F.col("__batch__") <= newlabel),
            )
        )
        bucket_cols = list(
            _BUCKET_COLS.get(kind)
            or [c for c in df.columns if c != "__batch__"][:1],
        )
        missing = [c for c in bucket_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"{kind} store lacks expected bucket columns {missing}; "
                f"have {df.columns}",
            )
        from rdsa_utils_spark.sources.writers import write_bucketed_table

        schema_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
        # Epoch-schema contract: all epochs of a store must share one
        # schema — the gate unions them per probe, and a silently
        # drifted epoch (e.g. a gate restarted with different LSH
        # parameters writing new band columns) would either fail the
        # union mid-stream or, worse, probe against incomparable
        # hashes. Refuse BEFORE the epoch table is written, mirroring
        # the rebuild's bucket_cols guard.
        if man["epochs"]:
            first = _normalized_ddl(man["epochs"][0]["schema_ddl"])
            if _normalized_ddl(schema_ddl) != first:
                raise RuntimeError(
                    f"{kind} store schema drift: new batches have "
                    f"({schema_ddl}) but epoch "
                    f"{man['epochs'][0]['table']} recorded ({first}) — "
                    "a store's epochs must share one schema; rebuild "
                    "the state (rebuild_near_dedup_epochs after a "
                    "manual migration, or reset state+checkpoint "
                    "together) instead of compacting across the drift",
                )
        epoch_table = f"{prefix}{newlabel}"
        epoch_path = f"{state_path}/{kind}__epoch__{newlabel}"
        write_bucketed_table(
            df, epoch_table, bucket_cols, num_buckets,
            sort_cols=bucket_cols, path=epoch_path,
        )
        entry = {
            "table": epoch_table,
            "path": epoch_path,
            "min_batch": (label + 1),
            "max_batch": newlabel,
            "num_buckets": int(num_buckets),
            "bucket_cols": bucket_cols,
            "schema_ddl": schema_ddl,
        }
        new_man = {"label": newlabel, "epochs": man["epochs"] + [entry]}
        # pointer swap: tmp is durable before the old pointer goes, so
        # recovery can always roll forward; the gate refuses on tmp
        client.write_text(tmp, json.dumps(new_man))
        if client.file_exists(mpath):
            client.delete_file(mpath)
        client.move_file(tmp, mpath)
        for i in mergeable:
            client.delete_folder(f"{root}/__batch__={i}")
            reclaimed += 1
    return reclaimed


def rebuild_near_dedup_epochs(
    spark,
    state_path: str,
    client=None,
    kinds: tuple = ("bands", "sigs"),
    *,
    num_buckets: Optional[int] = None,
    table_prefix: Optional[str] = None,
) -> int:
    """Merge a gate's accumulated bucketed epochs into ONE epoch table
    per store. Run while the stream is stopped; returns how many epoch
    tables were retired.

    Append-only compaction keeps per-compaction cost O(new data), but
    the probe joins once PER epoch — after hundreds of compactions
    that constant multiplies. This rebuild is the deliberate O(corpus)
    rewrite that resets the epoch count to 1 (run it rarely — e.g.
    when epoch count passes a few dozen); it is also the place to
    RESCALE ``num_buckets`` as the corpus grows (defaults to the first
    epoch's bucket count). Crash safety is the same
    data-first/pointer-last protocol as compaction: the merged table
    commits fully, then the manifest swaps via ``__tmp__``; old epoch
    tables/folders are dropped only after the swap, and any orphans a
    crash strands are swept by the next ``bucket=True`` compaction.
    """
    import json

    from rdsa_utils_spark.sources.versioned import _default_client
    from rdsa_utils_spark.sources.writers import write_bucketed_table

    client = client or _default_client()
    prefix = table_prefix or _default_table_prefix(state_path)
    retired = 0
    for kind in kinds:
        root = f"{state_path}/{kind}"
        mpath = _manifest_path(state_path, kind)
        tmp = f"{mpath}__tmp__"
        if (
            client.file_exists(tmp)
            or client.folder_exists(f"{root}__aside__")
            or client.file_exists(f"{root}__plan__")
        ):
            raise RuntimeError(
                f"{kind} store is mid-compaction — run "
                f"recover_near_dedup_state first",
            )
        if not client.file_exists(mpath):
            continue  # nothing bucket-compacted yet
        man = json.loads(client.read_text(mpath))
        if len(man["epochs"]) < 2:
            continue  # already a single epoch
        label = int(man["label"])
        cols = man["epochs"][0]["bucket_cols"]
        if any(e["bucket_cols"] != cols for e in man["epochs"]):
            raise RuntimeError(
                f"{kind} epochs disagree on bucket_cols — manual inspection",
            )
        ddl = _normalized_ddl(man["epochs"][0]["schema_ddl"])
        if any(
            _normalized_ddl(e["schema_ddl"]) != ddl for e in man["epochs"]
        ):
            raise RuntimeError(
                f"{kind} epochs disagree on schema_ddl — the union "
                "rewrite would mix incomparable store rows; migrate "
                "the divergent epochs manually before rebuilding",
            )
        buckets = (
            int(num_buckets)
            if num_buckets is not None
            else int(man["epochs"][0]["num_buckets"])
        )
        if buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        merged = None
        for e in man["epochs"]:
            part = spark.table(_ensure_epoch_table(spark, e))
            merged = part if merged is None else merged.unionByName(part)
        new_table = f"{prefix}_{kind}_r{label}"
        new_path = f"{state_path}/{kind}__epoch__r{label}"
        write_bucketed_table(
            merged, new_table, cols, buckets,
            sort_cols=cols, path=new_path,
        )
        entry = {
            "table": new_table,
            "path": new_path,
            "min_batch": min(int(e["min_batch"]) for e in man["epochs"]),
            "max_batch": label,
            "num_buckets": buckets,
            "bucket_cols": cols,
            "schema_ddl": man["epochs"][0]["schema_ddl"],
        }
        client.write_text(tmp, json.dumps({"label": label, "epochs": [entry]}))
        if client.file_exists(mpath):
            client.delete_file(mpath)
        client.move_file(tmp, mpath)
        for e in man["epochs"]:
            spark.sql(f"DROP TABLE IF EXISTS {e['table']}")
            if client.folder_exists(e["path"]):
                client.delete_folder(e["path"])
            retired += 1
    return retired


def recover_near_dedup_state(
    state_path: str, client=None, kinds: tuple = ("bands", "sigs"),
) -> str:
    """Finish a crashed :func:`compact_near_dedup_state` for both
    store halves. Idempotent; safe to call unconditionally before
    starting the gate. Returns a short action summary
    ('forward'/'back'/'clean' per store).

    The plan file makes the decision trivial and loss-proof: it is
    written only AFTER the merged stage is complete, so an aside ever
    existing implies roll-FORWARD is safe (the old store's content is
    fully represented by stage ∪ newest-batch dir); the label and
    newest id come from the plan, never inferred from which
    directories happen to remain (inference mis-labels the state once
    the newest batch has moved out of the aside). A stage without a
    plan means the crash predates any move: delete it and keep the
    untouched store.
    """
    from rdsa_utils_spark.sources.versioned import _default_client

    import json

    client = client or _default_client()
    actions = []
    for kind in kinds:
        root = f"{state_path}/{kind}"
        stage = f"{root}__stage__"
        aside = f"{root}__aside__"
        plan = f"{root}__plan__"
        mtmp = f"{_manifest_path(state_path, kind)}__tmp__"
        if client.file_exists(mtmp):
            # bucketing protocol crashed mid-pointer-swap. The tmp was
            # written only AFTER the epoch table's data committed, so a
            # PARSEABLE tmp whose epoch folders all exist rolls FORWARD
            # (tmp becomes the manifest); an unparseable tmp means the
            # crash was mid-write-text, nothing had moved — roll back.
            mpath = _manifest_path(state_path, kind)
            try:
                cand = json.loads(client.read_text(mtmp))
                ok = all(
                    client.folder_exists(e["path"]) for e in cand["epochs"]
                )
            except (ValueError, KeyError, TypeError):
                ok = False
            if ok:
                if client.file_exists(mpath):
                    client.delete_file(mpath)
                client.move_file(mtmp, mpath)
                actions.append(f"{kind}:manifest-forward")
            else:
                client.delete_file(mtmp)
                actions.append(f"{kind}:manifest-back")
            continue
        has_plan = client.file_exists(plan)
        if not has_plan:
            if client.folder_exists(aside):
                # impossible under the plan-first protocol; refuse to
                # guess rather than risk deleting state
                raise RuntimeError(
                    f"{aside} exists without {plan} — manual inspection "
                    f"required (pre-plan-protocol state?)",
                )
            if client.folder_exists(stage):
                # crash before the plan was written: nothing has moved
                client.delete_folder(stage)
                actions.append(f"{kind}:back")
            else:
                actions.append(f"{kind}:clean")
            continue
        label_s, newest_s = client.read_text(plan).split()
        label, newest = int(label_s), int(newest_s)
        if client.folder_exists(aside):
            # roll forward: the stage was complete before the plan
            # existed, so every piece is present somewhere
            if not client.folder_exists(root):
                client.create_folder(root)
            if not client.folder_exists(f"{root}/__batch__={label}"):
                if not client.file_exists(f"{stage}/_SUCCESS"):
                    raise RuntimeError(
                        f"{kind}: plan exists but neither the merged dir "
                        f"nor a complete stage — corrupted state",
                    )
                client.move_file(stage, f"{root}/__batch__={label}")
            if client.folder_exists(
                f"{aside}/__batch__={newest}",
            ) and not client.folder_exists(f"{root}/__batch__={newest}"):
                client.move_file(
                    f"{aside}/__batch__={newest}", f"{root}/__batch__={newest}",
                )
            client.delete_folder(aside)
            actions.append(f"{kind}:forward")
        else:
            # crash between aside-delete and plan-delete: forward done
            actions.append(f"{kind}:forward")
        if client.folder_exists(stage):
            client.delete_folder(stage)
        client.delete_file(plan)
    return ",".join(actions)


def write_stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    state_path: str,
    checkpoint_dir: str,
    *,
    bloom_fpp: float = 0.01,
    fingerprint_col: str = "fingerprint",
    query_name: str = "exact_dedup_gate",
    trigger_available_now: bool = True,
):
    """Streaming EXACT-duplicate gate with a persistent corpus store —
    the live counterpart of :func:`~rdsa_utils_spark.operators.dedup.
    dedup_against_corpus`, and the exact sibling of
    :func:`write_stream_near_dedup` (same per-batch partition-
    overwrite idempotence, same ``__batch__ < current`` probe rule,
    same compaction/recovery tooling with ``kinds=("fps",)``).
    Unlike :func:`fingerprint_dedup_stream` (watermark-bounded state,
    late duplicates re-admitted by contract), this gate's memory is
    the WHOLE admitted corpus: a duplicate is dropped no matter how
    far apart the arrivals are.

    Per micro-batch: fingerprint (md5 of normalized text — the batch
    ``exact_dedup`` digest, so backfill and live ingest agree), keep
    the smallest ``id_col`` per fingerprint within the batch, then
    anti-join against the fingerprint store. The store side is
    pre-filtered by a Bloom bitmap built from the BATCH's
    fingerprints, so the store scan discards non-matching digests in
    codegen and the surviving ~|batch|-sized fragment broadcasts into
    the anti-join — per-batch cost tracks the batch, not the corpus.
    Survivors (fingerprint column retained for audit) append to
    ``path``; their fingerprints to ``state_path/fps``.

    Returns the started ``StreamingQuery`` (caller awaits/stops).
    """
    from pyspark.sql import Window

    from rdsa_utils_spark.functions.bloom import (
        bloom_params,
        bloom_probe_expr,
        build_bloom_bitmap,
    )
    from rdsa_utils_spark.sources.writers import write_stream_foreach_batch

    spark = stream_df.sparkSession
    guard_done = {"v": False}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not guard_done["v"]:
            # once per (re)start — see the near gate's note
            _claim_state_ownership(spark, state_path, checkpoint_dir)
            _assert_checkpoint_not_reset(
                spark, state_path, ("fps",), batch_id,
            )
            _log_epoch_census(spark, state_path, ("fps",), query_name)
            guard_done["v"] = True
        fp = with_fingerprint(batch_df, text_col, out_col=fingerprint_col)
        w = Window.partitionBy(fingerprint_col).orderBy(F.col(id_col).asc())
        within = (
            fp.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
            .transform(pin, eager=True)  # consumed by probe + 2 writes
        )
        parts = _read_state_parts(spark, state_path, "fps", batch_id)
        kept = within
        if parts:
            from functools import reduce

            n_keys = max(within.count(), 1)
            m_bits, k_hashes = bloom_params(n_keys, bloom_fpp)
            bloom = build_bloom_bitmap(
                within, fingerprint_col, m_bits, k_hashes,
            )
            # distinct() PER part: a fps-bucketed epoch scan already
            # satisfies the aggregate's distribution, so its dedup runs
            # exchange-free; only the (batch-bounded) uncompacted tail
            # and the bloom survivors shuffle.
            seen_parts = [
                # broadcast: the bitmap is driver-built rows, an RDD scan with no size statistic
                p.crossJoin(F.broadcast(bloom))
                .filter(bloom_probe_expr(fingerprint_col, m_bits, k_hashes))
                .select(fingerprint_col)
                .distinct()
                for p in parts
            ]
            seen = reduce(DataFrame.unionByName, seen_parts)
            kept = within.join(
                # broadcast: cut by a cross join with the bitmap, whose RDD scan has no size statistic
                F.broadcast(seen), fingerprint_col, "left_anti",
            ).transform(pin, eager=True)
        kept.write.mode("overwrite").parquet(f"{path}/__batch__={batch_id}")
        kept.select(fingerprint_col).write.mode("overwrite").parquet(
            f"{state_path}/fps/__batch__={batch_id}",
        )

    return write_stream_foreach_batch(
        stream_df,
        process,
        checkpoint_dir,
        query_name=query_name,
        trigger_available_now=trigger_available_now,
    )
