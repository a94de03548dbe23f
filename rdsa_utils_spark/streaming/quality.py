"""Streaming calibrated quality gate — the ingest-time composition of
the calibration suite: raw per-document quality score → isotonic
calibration table → calibrated P(good) → admit/reject at a threshold
(typically a conformal one), applied per micro-batch.

The batch halves all live in ``operators/classify.py``
(``isotonic_calibrate`` / ``isotonic_apply`` / ``calibrated_gate``)
and ``operators/curation.py`` (``conformal_threshold``); this module
adds only the streaming plumbing, because the gate itself is a PURE
PROJECTION (dense-grid literal + one ``element_at`` per row — no join,
no window, no state), which makes it trivially safe inside a
Structured Streaming micro-batch: no watermarks, no state store, and
backfill-vs-live agreement is exact by construction (same literal,
same rows → same flags).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

__all__ = ["write_stream_contamination_gate", "write_stream_quality_gate"]


def write_stream_quality_gate(
    stream_df: DataFrame,
    calibration: DataFrame,
    score_col: str,
    threshold: float,
    path: str,
    checkpoint_dir: str,
    *,
    reject_path: Optional[str] = None,
    score_round: int = 4,
    p_col: str = "p_cal",
    query_name: str = "quality_gate",
    trigger_available_now: bool = True,
):
    """Apply :func:`~rdsa_utils_spark.operators.classify.
    calibrated_gate`'s admit policy (its shared ``calibrated_flag_expr``
    over a construction-frozen ``isotonic_step_expr``) to every
    micro-batch: admitted rows (calibrated probability ≥
    ``threshold``) land under ``path``, rejected rows under
    ``reject_path`` when given (the audit trail a curation pipeline
    wants; omitted = rejects are dropped). Sub-calibration-range
    scores reject (NULL ``p_col`` — no training evidence, the batch
    operator's stated contract).

    The calibration table is collected ONCE at gate construction into
    the projection literal. It is knot-table-sized: ``isotonic_calibrate``
    caps it at ``max_knots`` rows and returns it as a local relation, so
    that collect launches no Spark job, and the knots are sorted on the
    driver. Per-batch cost is one codegen'd map over the batch — zero
    joins/shuffles/state. To
    re-calibrate, stop the gate and start a new one; a live gate
    deliberately never re-reads the table (silent mid-stream policy
    drift would make admitted output irreproducible).

    Exactly-once like the dedup gates: every write lands in a
    ``__batch__=<id>`` partition in overwrite mode, so a replayed
    batch overwrites its own output byte-for-byte; the gate refuses to
    run when the output already holds batches NEWER than the current
    one (checkpoint reset/loss — running would silently clobber a
    prior run's low-numbered partitions).

    Returns the started ``StreamingQuery`` (caller awaits/stops).
    """
    from rdsa_utils_spark.operators.classify import (
        calibrated_flag_expr,
        isotonic_step_expr,
    )
    from rdsa_utils_spark.sources.writers import write_stream_foreach_batch
    from rdsa_utils_spark.streaming.dedup import _assert_checkpoint_not_reset

    spark = stream_df.sparkSession
    # Freeze the projection ONCE: the knot table is collected here and
    # never re-read — a bad calibration frame fails at construction,
    # and a live gate cannot silently drift if the calibration's
    # source is rewritten mid-stream (each batch reuses this literal,
    # which also keeps crash replays byte-identical). The admit policy
    # is calibrated_gate's own calibrated_flag_expr, so batch and live
    # ingestion share one definition.
    p_expr = isotonic_step_expr(
        calibration, score_col, score_round=score_round,
    )
    flag_expr = calibrated_flag_expr(p_expr, threshold)

    # The intermediate flag column is internal (dropped before both
    # writes) — give it a reserved name so an input stream that already
    # carries a user column called "passed" keeps it in the output.
    # p_col IS emitted, so a collision there is a caller error: refuse
    # at construction rather than silently overwrite.
    if p_col in stream_df.columns:
        raise ValueError(
            f"p_col {p_col!r} collides with an existing input column; "
            "pick a p_col not present in the stream",
        )
    _FLAG = "__passed__"

    out_paths = [p for p in (path, reject_path) if p is not None]
    guard_done = {"v": False}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not guard_done["v"]:
            # a checkpoint can only be reset between query runs, so the
            # (listing-cost) guard need only run on the first batch
            # after each (re)start
            for out in out_paths:
                _assert_checkpoint_not_reset(spark, out, ("",), batch_id)
            guard_done["v"] = True
        flagged = batch_df.withColumn(p_col, p_expr).withColumn(
            _FLAG, flag_expr,
        ).transform(pin, eager=True)  # consumed by both sinks
        flagged.filter(F.col(_FLAG)).drop(_FLAG).write.mode(
            "overwrite",
        ).parquet(f"{path}/__batch__={batch_id}")
        if reject_path is not None:
            flagged.filter(~F.col(_FLAG)).drop(_FLAG).write.mode(
                "overwrite",
            ).parquet(f"{reject_path}/__batch__={batch_id}")

    return write_stream_foreach_batch(
        stream_df,
        process,
        checkpoint_dir,
        query_name=query_name,
        trigger_available_now=trigger_available_now,
    )


def write_stream_contamination_gate(
    stream_df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    checkpoint_dir: str,
    *,
    max_contamination: float = 0.0,
    n: int = 8,
    ref_id_col: Optional[str] = None,
    ref_text_col: Optional[str] = None,
    reject_path: Optional[str] = None,
    query_name: str = "contamination_gate",
    trigger_available_now: bool = True,
):
    """Ingest-time benchmark DEcontamination — the streaming
    composition of :func:`~rdsa_utils_spark.operators.dedup.
    ngram_contamination`: every micro-batch document is scored for the
    fraction of its distinct word ``n``-gram shingles that appear in
    the ``reference`` corpus (the benchmark/eval suite), and admitted
    only when ``contamination <= max_contamination`` (default 0.0 —
    any eval overlap rejects, the strict decontamination policy of
    public LLM training reports). Admitted rows land under ``path``
    with their audit columns (``n_shingles``, ``n_contaminated``,
    ``contamination``); rejects land under ``reject_path`` when given,
    else drop. Documents with NO shingles (blank/NULL text) carry
    nothing that can overlap the benchmark — they admit, with zero
    counts and NULL ``contamination``.

    The reference is reduced ONCE at gate construction to its
    distinct 60-bit shingle hashes
    (:func:`~rdsa_utils_spark.operators.dedup.reference_shingle_hashes`)
    and pinned — eval suites are small next to
    the stream, so AQE broadcasts the probe join every batch and the
    BATCH never shuffles (batch-keyed window + one broadcast join +
    one batch-keyed aggregate). Like the calibration gate, a live gate
    never re-reads the benchmark set: stop and restart to pick up a
    new suite (silent mid-stream policy drift would make the admitted
    corpus irreproducible).

    Exactly-once like the other gates: per-batch ``__batch__=<id>``
    partition overwrites, with the checkpoint-reset refusal guard on
    every output root. The gate itself is STATELESS across batches
    (the reference is frozen, not accreting) — admitted docs do not
    join the defended set, which is what distinguishes
    decontamination from dedup.

    ``ref_id_col`` / ``ref_text_col`` name the reference corpus's own
    columns when they differ from the stream's (default: the stream's
    ``id_col`` / ``text_col``) — mirroring batch
    ``ngram_contamination``'s ``ref_text_col``. A benchmark frame
    missing the named column fails loudly at construction either way;
    the parameters exist so a differently-shaped suite doesn't have to
    be renamed first (or, worse, silently hash a same-named column
    holding other content).

    Returns the started ``StreamingQuery`` (caller awaits/stops).
    """
    from rdsa_utils_spark.operators.dedup import (
        contamination_scores,
        reference_shingle_hashes,
    )
    from rdsa_utils_spark.sources.writers import write_stream_foreach_batch
    from rdsa_utils_spark.streaming.dedup import _assert_checkpoint_not_reset

    if not (0.0 <= max_contamination < 1.0):
        raise ValueError(
            f"max_contamination must be in [0, 1), got {max_contamination}",
        )
    for col in ("n_shingles", "n_contaminated", "contamination"):
        if col in stream_df.columns:
            raise ValueError(
                f"input stream already has a {col!r} column — the gate "
                "emits it as an audit column; rename the input's",
            )
    spark = stream_df.sparkSession
    # Freeze + pin the benchmark hash set at construction: an empty
    # reference is almost certainly a mis-pointed path — refuse loudly
    # rather than silently admit everything.
    ref_hashes = reference_shingle_hashes(
        reference,
        n=n,
        id_col=ref_id_col if ref_id_col is not None else id_col,
        text_col=ref_text_col if ref_text_col is not None else text_col,
    ).transform(pin, eager=True)
    if ref_hashes.isEmpty():
        raise ValueError(
            "empty reference: the benchmark corpus produced no shingles",
        )

    out_paths = [p for p in (path, reject_path) if p is not None]
    guard_done = {"v": False}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not guard_done["v"]:
            for out in out_paths:
                _assert_checkpoint_not_reset(spark, out, ("",), batch_id)
            guard_done["v"] = True
        scores = contamination_scores(
            batch_df.select(id_col, text_col), ref_hashes,
            n=n, id_col=id_col, text_col=text_col,
        )
        flagged = (
            batch_df.join(scores, id_col, "left")
            .withColumn(
                "n_shingles", F.coalesce("n_shingles", F.lit(0)),
            )
            .withColumn(
                "n_contaminated", F.coalesce("n_contaminated", F.lit(0)),
            )
            .withColumn(
                "__admit__",
                # no shingles -> nothing to leak -> admit (NULL score)
                F.col("contamination").isNull()
                | (F.col("contamination") <= F.lit(max_contamination)),
            )
            .transform(pin, eager=True)  # consumed by both sinks
        )
        flagged.filter(F.col("__admit__")).drop("__admit__").write.mode(
            "overwrite",
        ).parquet(f"{path}/__batch__={batch_id}")
        if reject_path is not None:
            flagged.filter(~F.col("__admit__")).drop("__admit__").write.mode(
                "overwrite",
            ).parquet(f"{reject_path}/__batch__={batch_id}")

    return write_stream_foreach_batch(
        stream_df,
        process,
        checkpoint_dir,
        query_name=query_name,
        trigger_available_now=trigger_available_now,
    )
