"""Manifest-based snapshot versioning for parquet datasets: time
travel, rollback and vacuum with no table-format dependency.

Extension surface (no reference equivalent; complements
``sources/writers.merge_upsert`` the way a table format's log
complements its file layout): a training-data pipeline re-materializes
curated corpora continuously, and every downstream consumer needs to
(a) pin the exact snapshot a model was trained on, (b) roll the
"current" pointer back when a bad refresh ships, and (c) reclaim
superseded files — without adopting a full lakehouse format.

Layout::

    <root>/v00001/          one complete parquet dataset per version
    <root>/v00002/
    <root>/_manifest.json   {"current": 2, "versions": [...]}

Commit protocol (single-writer, like ``merge_upsert``): the version
directory is fully written FIRST, and only then does the manifest swap
via write-temp + atomic rename. Readers resolve data exclusively
through the manifest, so a writer crash strands an orphan directory —
invisible to every reader, reclaimed by :func:`vacuum_snapshots` —
and can never produce a torn table. Version history lives in the
manifest even after rollback, so "what did v3 contain and when" stays
answerable until vacuumed.

At 100 TB each snapshot is an ordinary parquet directory: partitioned,
bucketed and pruned exactly like any other write — the versioning
layer adds one small JSON read per query planning step and nothing on
the data path.
"""

from __future__ import annotations

import json
import re
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from rdsa_utils_spark.plans.tuning import pin
from rdsa_utils_spark.sources.readers import read_parquet

_MANIFEST = "_manifest.json"
_VDIR_RE = re.compile(r"^v(\d{5})$")


def _default_client():
    from rdsa_utils_spark.sources.objectstore import LocalFileSystemClient

    return LocalFileSystemClient()


def _read_manifest(root: str, client) -> dict:
    path = f"{root}/{_MANIFEST}"
    if not client.file_exists(path):
        # A missing manifest with a completed .tmp beside it is a
        # torn non-atomic swap (rename_file fallback crashed between
        # its delete and its move) — the .tmp was fully written
        # before the swap began, so it IS the manifest.
        tmp = f"{path}.tmp"
        if client.file_exists(tmp):
            return json.loads(client.read_text(tmp))
        return {"current": None, "versions": []}
    return json.loads(client.read_text(path))


def _write_manifest(root: str, manifest: dict, client) -> None:
    tmp = f"{root}/{_MANIFEST}.tmp"
    client.write_text(tmp, json.dumps(manifest, indent=1), overwrite=True)
    dst = f"{root}/{_MANIFEST}"
    # Atomic swap when the client offers it (replace_file, e.g. the
    # local client's os.replace) — the generic rename_file fallback
    # deletes dst first, which leaves a crash window with NO manifest
    # on clients without an overwriting rename (plain Hadoop FS);
    # there, restore the manifest from the .tmp the crash left behind
    # before trusting an apparently-empty root.
    if hasattr(client, "replace_file"):
        client.replace_file(tmp, dst)
    else:
        client.rename_file(tmp, dst, overwrite=True)


def _dir_name(version: int) -> str:
    return f"v{version:05d}"


def write_snapshot(
    df: DataFrame,
    root: str,
    note: str = "",
    partition_by: Optional[list[str]] = None,
    client=None,
) -> int:
    """Materialize ``df`` as the next snapshot version of ``root`` and
    point ``current`` at it. Returns the new version number.

    The parquet write completes before the manifest moves, so a crash
    mid-write leaves the previous version live and an orphan directory
    behind (see module docstring). ``n_rows`` is recorded in the
    manifest from the written files, making the manifest double as a
    cheap row-count audit trail.
    """
    client = client or _default_client()
    client.create_folder(root)
    manifest = _read_manifest(root, client)
    # Next version = 1 + max over BOTH the manifest and any on-disk
    # vNNNNN directory: a crashed writer's orphan (data written,
    # manifest never swapped) must not block the retry with a
    # "path already exists" error — the retry skips past it and the
    # orphan stays reclaimable by vacuum.
    on_disk = [
        int(m.group(1))
        for d in (client.list_folders(root) if client.folder_exists(root) else [])
        if (m := _VDIR_RE.match(d.rstrip("/").rsplit("/", 1)[-1]))
    ]
    version = max(
        max((v["version"] for v in manifest["versions"]), default=0),
        max(on_disk, default=0),
    ) + 1
    data_dir = f"{root}/{_dir_name(version)}"
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    n_rows = read_parquet(df.sparkSession, data_dir).count()
    manifest["versions"].append(
        {
            "version": version,
            "dir": _dir_name(version),
            "n_rows": n_rows,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "note": note,
            # Recorded so maintenance jobs (compact_snapshot) can
            # preserve the hive layout without being told it again.
            "partition_by": list(partition_by) if partition_by else None,
        },
    )
    manifest["current"] = version
    _write_manifest(root, manifest, client)
    return version


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: Optional[int] = None,
    client=None,
) -> DataFrame:
    """The dataset at ``version`` (default: the ``current`` pointer).
    Raises ``FileNotFoundError`` for an empty root and ``ValueError``
    for an unknown version — a pinned training run must fail loudly,
    never silently read a different snapshot."""
    client = client or _default_client()
    manifest = _read_manifest(root, client)
    if manifest["current"] is None:
        raise FileNotFoundError(f"no snapshots at {root}")
    target = version if version is not None else manifest["current"]
    entry = next(
        (v for v in manifest["versions"] if v["version"] == target), None,
    )
    if entry is None:
        known = [v["version"] for v in manifest["versions"]]
        raise ValueError(f"version {target} not in manifest (have {known})")
    return read_parquet(spark, f"{root}/{entry['dir']}")


def snapshot_history(root: str, client=None) -> list[dict]:
    """Manifest entries oldest-first, each tagged ``is_current``."""
    client = client or _default_client()
    manifest = _read_manifest(root, client)
    return [
        {**v, "is_current": v["version"] == manifest["current"]}
        for v in manifest["versions"]
    ]


def rollback_snapshot(root: str, version: int, client=None) -> int:
    """Point ``current`` back at an earlier version (data untouched —
    later versions stay readable by pin until vacuumed). Returns the
    new current version."""
    client = client or _default_client()
    manifest = _read_manifest(root, client)
    if all(v["version"] != version for v in manifest["versions"]):
        known = [v["version"] for v in manifest["versions"]]
        raise ValueError(f"version {version} not in manifest (have {known})")
    manifest["current"] = version
    _write_manifest(root, manifest, client)
    return version


def vacuum_snapshots(
    root: str,
    keep_last: int = 1,
    client=None,
    dry_run: bool = False,
) -> list[str]:
    """Reclaim storage: drop every version directory except the
    newest ``keep_last`` manifest entries and the ``current`` version
    (always kept, even if old), plus any ORPHAN directory a crashed
    writer left that the manifest never admitted. Returns the deleted
    (or, with ``dry_run``, deletable) directory paths; the manifest
    keeps only surviving versions."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    client = client or _default_client()
    manifest = _read_manifest(root, client)
    versions = sorted(manifest["versions"], key=lambda v: v["version"])
    if not versions and any(
        _VDIR_RE.match(d.rstrip("/").rsplit("/", 1)[-1])
        for d in (client.list_folders(root) if client.folder_exists(root) else [])
    ):
        # No manifest but snapshot directories on disk: that is a
        # damaged root, not "everything is an orphan" — refuse to
        # delete the entire dataset.
        raise RuntimeError(
            f"{root} has snapshot directories but no manifest; refusing to "
            "vacuum (restore _manifest.json or remove directories manually)",
        )
    keep_nums = {v["version"] for v in versions[-keep_last:]}
    if manifest["current"] is not None:
        keep_nums.add(manifest["current"])
    keep_dirs = {
        v["dir"] for v in versions if v["version"] in keep_nums
    }
    doomed = []
    for d in client.list_folders(root):
        name = d.rstrip("/").rsplit("/", 1)[-1]
        # Only exact vNNNNN snapshot directories are vacuum's to
        # reclaim — an unrelated folder that merely starts with "v"
        # (vocab/, v2_experiments/) must never be deleted.
        if _VDIR_RE.match(name) and name not in keep_dirs:
            doomed.append(d)
    if not dry_run:
        for d in doomed:
            client.delete_folder(d)
        manifest["versions"] = [
            v for v in versions if v["version"] in keep_nums
        ]
        _write_manifest(root, manifest, client)
    return sorted(doomed)


def snapshot_diff(
    spark: SparkSession,
    root: str,
    keys,
    v_from: Optional[int] = None,
    v_to: Optional[int] = None,
    compare_cols: Optional[list[str]] = None,
    client=None,
) -> DataFrame:
    """Keyed row diff between two snapshot versions — "what changed in
    this refresh?" as a frame: one row per key present in either
    version with ``diff_status`` in {added, removed, changed,
    unchanged} (null-safe compare; see
    :func:`rdsa_utils_spark.operators.quality.frame_diff`).

    Defaults compare the version immediately BEFORE ``v_to`` in the
    manifest (not current-1 numerically — rollbacks leave gaps)
    against ``current``. One full-outer co-shuffle on the keys.
    """
    from rdsa_utils_spark.operators.quality import frame_diff

    client = client or _default_client()
    manifest = _read_manifest(root, client)
    if manifest["current"] is None:
        raise FileNotFoundError(f"no snapshots at {root}")
    ordered = sorted(v["version"] for v in manifest["versions"])
    to = v_to if v_to is not None else manifest["current"]
    if v_from is None:
        earlier = [v for v in ordered if v < to]
        if not earlier:
            raise ValueError(f"version {to} has no predecessor to diff against")
        v_from = earlier[-1]
    return frame_diff(
        read_snapshot(spark, root, v_from, client=client),
        read_snapshot(spark, root, to, client=client),
        keys,
        compare_cols=compare_cols,
    )


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_file_mb: int = 256,
    note: str = "compaction",
    client=None,
) -> int:
    """Small-file compaction as a NEW snapshot version: read the
    current version, size the output partition count from the actual
    on-disk bytes (``ceil(bytes / target_file_mb)``, min 1), and write
    the coalesced copy through :func:`write_snapshot` — so compaction
    inherits the manifest's atomicity (readers keep seeing the old
    version until the pointer swaps) and is trivially revertible with
    :func:`rollback_snapshot`. Returns the new version number.

    The 100 TB maintenance chore this exists for: streaming sinks and
    fine-grained ingest leave thousands of KB-sized parquet files per
    partition; scan cost is then dominated by per-file open/footer
    overhead. Row counts are preserved exactly (``write_snapshot``
    re-counts the written files and the manifest records both sides).

    Uses ``repartition`` (round-robin, parallel) rather than
    ``coalesce`` — coalesce(1..k) would collapse the READ parallelism
    of the very job doing the compaction. Partitioned snapshots keep
    their hive layout (the manifest records ``partition_by``); the
    rewrite repartitions on those columns PLUS a salt whose range per
    partition is proportional to the partition's row share, so
    ``target_file_mb`` is honored inside each hive partition and a
    skewed partition is written by many parallel tasks, not one. If the current version is already at or
    below the target file count the call is a no-op returning the
    CURRENT version — a scheduled maintenance job never rewrites a
    full dataset for zero benefit.
    """
    if target_file_mb <= 0:
        raise ValueError(f"target_file_mb must be > 0, got {target_file_mb}")
    client = client or _default_client()
    manifest = _read_manifest(root, client)
    if manifest["current"] is None:
        raise FileNotFoundError(f"no snapshots at {root}")
    entry = next(
        v for v in manifest["versions"] if v["version"] == manifest["current"]
    )
    data_dir = f"{root}/{entry['dir']}"
    # Recursive walk, not a flat glob: a partitioned snapshot nests
    # its parquet under col=value/ subdirectories, which a flat
    # listing sizes as 0 bytes (-> repartition(1), the single-task
    # collapse this module exists to avoid).
    files = [f for f in client.walk(data_dir) if f.endswith(".parquet")]
    n_bytes = sum(client.file_size(f) for f in files)
    n_parts = max(1, -(-n_bytes // (target_file_mb << 20)))
    # A hive-partitioned layout can never have fewer files than
    # partition directories — that's the achievable floor, not
    # n_parts. Without it a compacted partitioned snapshot (n_dirs
    # files) would re-compact forever.
    n_dirs = len({f.rsplit("/", 1)[0] for f in files})
    if len(files) <= max(n_parts, n_dirs):
        # Already at (or below) the target layout: a rewrite would
        # duplicate the full dataset as a new version for zero benefit.
        return entry["version"]
    pcols = entry.get("partition_by") or None
    df = read_snapshot(spark, root, client=client)
    if pcols:
        # Repartitioning on pcols ALONE would land each hive
        # partition's rows in one task → one file per partition,
        # ignoring target_file_mb and writing a skewed partition as
        # one giant single-task file. Allocate each partition a salt
        # range sized by its ROW share (rows ≈ bytes within one
        # table), so a partition holding k× the target bytes gets ~k
        # output files written by ~k parallel tasks.
        from pyspark.sql import functions as F

        # partition-cardinality frame, consumed by two collects AND
        # the broadcast join: pin it so the corpus-wide groupBy scans
        # the snapshot once, not three times
        counts = (
            df.groupBy(*pcols)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .transform(pin, eager=True)
        )
        total_rows = counts.agg(F.sum("__n__")).collect()[0][0] or 1
        rows_per_file = max(
            1, int(total_rows * (target_file_mb << 20) / max(n_bytes, 1)),
        )
        alloc = counts.select(
            *[F.col(c).alias(f"__p_{c}__") for c in pcols],
            F.greatest(
                F.lit(1), F.ceil(F.col("__n__") / rows_per_file),
            ).cast("int").alias("__files__"),
        )
        total_parts = int(
            alloc.agg(F.sum("__files__")).collect()[0][0] or 1,
        )
        cond = [
            df[c].eqNullSafe(F.col(f"__p_{c}__")) for c in pcols
        ]  # null-safe: a NULL partition must still meet its allocation
        df = (
            # broadcast: alloc reads the counts pin, and a cluster pin's scan has no size statistic
            df.join(F.broadcast(alloc), cond)
            .withColumn(
                "__salt__",
                F.floor(F.rand(42) * F.col("__files__")).cast("int"),
            )
            .repartition(total_parts, *pcols, "__salt__")
            .drop("__salt__", "__files__", *[f"__p_{c}__" for c in pcols])
        )
    else:
        df = df.repartition(n_parts)
    return write_snapshot(
        df, root, note=note, partition_by=pcols, client=client,
    )
