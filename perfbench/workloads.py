"""The benchmark's three workloads and the checks on their outputs.

A workload yields one *pass* at a time: a list of operations in an
order drawn from the seeded RNG. An operation is a callable that does
the timed work and returns a check, which the runner calls after the
timer stops; the check returns ``None`` or a description of what is
wrong.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import pandas as pd
import pyarrow.parquet as pq

from perfbench import oracle

Check = Callable[[], "str | None"]


@dataclass
class Op:
    name: str
    run: Callable[["Context"], Check]


@dataclass
class Context:
    """What an operation may touch: the session, the table directory, and
    ``span(name)``, which is a real span when tracing and a no-op
    otherwise."""

    spark: object
    data_dir: str
    span: Callable


# Short relational queries: three TPC-H-style joins and aggregates, then
# three rdsa helper queries (frame diff, expectation checks, SCD2).
RELATIONAL = (
    "revenue_by_nation", "pricing_summary", "market_share",
    "orders_frame_diff", "expectation_checks", "scd2_customer_bands",
)
# LLM-data curation operators over the documents table.
CURATION = ("curation_e2e", "minhash_near_dedup", "bpe_encode_ids")


class QueryWorkload:
    """Registry queries, each timed from the call to the collected result
    and compared with its DuckDB oracle."""

    bytes_written = bytes_in = 0

    def __init__(self, names: tuple[str, ...]):
        self.names = names

    def prepare(self, cache_root: str, data_dir: str, scratch: str) -> None:
        import __spark_entry__ as entry

        fns = {**entry.queries(), **entry.extra_queries()}
        sqls = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
        self.fns = {n: fns[n] for n in self.names}
        self.expected = oracle.expected_results(
            cache_root, data_dir, {n: sqls[n] for n in self.names},
        )

    def pass_ops(self, rng: random.Random) -> list[Op]:
        order = list(self.names)
        rng.shuffle(order)
        return [Op(n, self._op(n)) for n in order]

    def _op(self, name: str):
        def run(ctx: Context) -> Check:
            with ctx.span("query.construct"):
                df = self.fns[name](ctx.spark, ctx.data_dir)
            with ctx.span("query.execute"):
                pdf = df.toPandas()
            return lambda: oracle.mismatch(oracle.summarize(pdf), self.expected[name])

        return run


def frame_digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """Row count and an order-insensitive hash of a frame's rows."""
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
    hashes = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return len(df), int(hashes.sum(dtype="uint64"))


def _disk_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Ingest:
    """One cycle exercises the write side of ``sources`` on orders,
    lineitem and events, and reads back the paths it rewrote in place.

    The seed picks the order keys each cycle corrects and interleaves the
    cycle's five dependent chains of operations.
    """

    CORRECTED_PRICE_DELTA = 1.0

    def prepare(self, cache_root: str, data_dir: str, scratch: str) -> None:
        self.root = os.path.join(scratch, "ingest")
        self.src = {
            t: os.path.join(data_dir, f"{t}.parquet") for t in ("orders", "lineitem", "events")
        }
        self.src_bytes = {t: os.path.getsize(p) for t, p in self.src.items()}
        self.orders = pq.read_table(self.src["orders"]).to_pandas()
        self.lineitem_digest = frame_digest(pq.read_table(self.src["lineitem"]).to_pandas())
        self.events_digest = frame_digest(pq.read_table(self.src["events"]).to_pandas())
        self.order_keys = self.orders["o_orderkey"].tolist()
        self.n_corrections = max(10, len(self.orders) // 100)
        self.bytes_written = 0
        self.bytes_in = 0

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def pass_ops(self, rng: random.Random) -> list[Op]:
        from pyspark.sql import functions as F

        # Called through their modules, so the tracer's wrappers apply.
        from rdsa_utils_spark.sources import readers, versioned, writers

        keys = sorted(rng.sample(self.order_keys, self.n_corrections))
        expected = self.orders.copy()
        hit = expected["o_orderkey"].isin(keys)
        expected.loc[hit, "o_totalprice"] += self.CORRECTED_PRICE_DELTA
        upserted_digest = frame_digest(expected)
        n_orders = len(self.orders)
        plain, snaps = self._path("orders_plain"), self._path("orders_snapshots")
        small, daily = self._path("lineitem_small_files"), self._path("events_by_day")
        csv = self._path("corrections.csv")
        # A snapshot root starts empty each cycle so the versions are 1 and 2.
        shutil.rmtree(snaps, ignore_errors=True)

        def corrected(spark):
            is_key = F.col("o_orderkey").isin(keys)
            price = F.col("o_totalprice")
            return readers.read_parquet(spark, self.src["orders"]).withColumn(
                "o_totalprice",
                F.when(is_key, price + self.CORRECTED_PRICE_DELTA).otherwise(price),
            )

        def corrections(spark):
            return corrected(spark).filter(F.col("o_orderkey").isin(keys))

        def expect(got, want) -> Check:
            return lambda: None if got == want else f"got {got}, want {want}"

        def wrote(table: str, path: str) -> Check:
            def check():
                self.bytes_written += _disk_bytes(path)
                self.bytes_in += self.src_bytes[table]

            return check

        def write_plain(ctx):
            writers.write_table(readers.read_parquet(ctx.spark, self.src["orders"]), plain)
            return wrote("orders", plain)

        def upsert(ctx):
            writers.merge_upsert(ctx.spark, corrections(ctx.spark), plain, keys=["o_orderkey"])
            return wrote("orders", plain)

        def read_upserted(ctx):
            pdf = readers.read_parquet(ctx.spark, plain).toPandas()
            return lambda: expect(frame_digest(pdf), upserted_digest)()

        def snapshot(version: int, fixed: bool):
            def run(ctx):
                if fixed:
                    df = corrected(ctx.spark)
                else:
                    df = readers.read_parquet(ctx.spark, self.src["orders"])
                got = versioned.write_snapshot(df, snaps, note=f"v{version}")

                def check():
                    latest = versioned.snapshot_history(snaps)[-1]["dir"]
                    wrote("orders", os.path.join(snaps, latest))()
                    return expect(got, version)()

                return check

            return run

        def diff(ctx):
            counts = dict(
                versioned.snapshot_diff(ctx.spark, snaps, ["o_orderkey"])
                .groupBy("diff_status").count().collect(),
            )
            want = {"changed": len(keys), "unchanged": n_orders - len(keys)}
            return expect(counts, want)

        def write_small(ctx):
            lineitem = readers.read_parquet(ctx.spark, self.src["lineitem"])
            writers.write_table(lineitem.repartition(8), small)
            return wrote("lineitem", small)

        def compact(ctx):
            n_files = writers.compact_dataset(ctx.spark, small)

            def check():
                wrote("lineitem", small)()
                return None if n_files >= 1 else f"compaction wrote {n_files} files"

            return check

        def read_compacted(ctx):
            pdf = readers.read_parquet(ctx.spark, small).toPandas()
            return lambda: expect(frame_digest(pdf), self.lineitem_digest)()

        def write_daily(ctx):
            writers.write_table(
                readers.read_parquet(ctx.spark, self.src["events"]), daily,
                partition_col="ts", partition_type="day",
            )
            return wrote("events", daily)

        def read_daily(ctx):
            pdf = readers.read_parquet(ctx.spark, daily).drop("ts_day").toPandas()
            return lambda: expect(frame_digest(pdf), self.events_digest)()

        def export_csv(ctx):
            writers.save_single_file_csv(corrections(ctx.spark), csv, overwrite=True)

            def check():
                wrote("orders", csv)()
                got = sorted(pd.read_csv(csv)["o_orderkey"].tolist())
                return None if got == keys else f"csv keys differ ({len(got)} vs {len(keys)})"

            return check

        chains = [
            [("write_table.plain", write_plain), ("merge_upsert", upsert),
             ("read_back.upserted", read_upserted)],
            [("write_snapshot.v1", snapshot(1, False)), ("write_snapshot.v2", snapshot(2, True)),
             ("snapshot_diff", diff)],
            [("write_table.small_files", write_small), ("compact_dataset", compact),
             ("read_back.compacted", read_compacted)],
            [("write_table.by_day", write_daily), ("read_back.by_day", read_daily)],
            [("save_single_file_csv", export_csv)],
        ]
        ops: list[Op] = []
        while chains:
            chain = rng.choice(chains)
            name, run = chain.pop(0)
            ops.append(Op(name, run))
            if not chain:
                chains.remove(chain)
        return ops


WORKLOADS: dict[str, Callable[[], object]] = {
    "relational": lambda: QueryWorkload(RELATIONAL),
    "curation": lambda: QueryWorkload(CURATION),
    "ingest": Ingest,
}
