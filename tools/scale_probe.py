"""Scale-probe bench: run the most expensive registry queries across
sf0.1 (driver testdata) and .scale/sf{0.2,0.5,1} (replicated — see
make_scale_data.py), fit per-query scaling exponents a in
t ≈ c · sf^a (least squares on log t vs log sf), and write
SCALE_PROBE.json. An exponent ≈1 is linear scaling; ≈0 means
fixed-overhead-dominated at these sizes; >1.3 flags super-linear
growth to investigate against the operator's documented contract.

Run alone (host noise: never concurrently with pytest or bench.py).
Usage: python tools/scale_probe.py [n_top] [runs_per_point]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_top = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    # Any further args force-include named queries (e.g. a previously
    # super-linear query that is now fast enough to drop out of the
    # top-N but whose scaling should stay measured).
    forced = list(sys.argv[3:])

    # local mode runs everything in ONE JVM: size it for the probe's
    # 10x data (Spark's default 1g driver heap OOMs at sf0.5).
    os.environ.setdefault("SPARK_LOCAL_DRIVER_MEM", "48g")

    import __spark_entry__ as entrymod
    from bench import warm_session

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    detail = json.load(open(os.path.join(repo, "BENCH_DETAIL.json")))
    top = [k for k, _ in sorted(detail["queries"].items(), key=lambda kv: -kv[1])][:n_top]
    top += [f for f in forced if f not in top]

    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    points = [("/root/testdata/sf0.1", 0.1)]
    for name in sorted(os.listdir(os.path.join(repo, ".scale"))):
        d = os.path.join(repo, ".scale", name)
        if os.path.exists(os.path.join(d, "lineitem.parquet")):
            points.append((d, float(name.replace("sf", ""))))
    points.sort(key=lambda p: p[1])

    spark = warm_session("scale-probe", points[0][0])

    results: dict[str, dict] = {}
    for qname in top:
        fn = qs.get(qname)
        if fn is None:
            continue
        series = {}
        for sf_dir, sf in points:
            best = None
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            series[str(sf)] = round(best, 3)
            print(f"{qname} @ sf{sf}: {best:.2f}s", flush=True)
        xs = [math.log(float(s)) for s in series]
        ys = [math.log(max(v, 1e-3)) for v in series.values()]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        denom = sum((x - mx) ** 2 for x in xs)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom if denom else 0.0
        # Tail exponent (largest two points) — the number that predicts
        # the next 10×; the all-points fit is flattened by fixed overhead.
        svals = sorted(((float(s), v) for s, v in series.items()))
        (s0, t0_), (s1, t1_) = svals[-2], svals[-1]
        tail = math.log(t1_ / max(t0_, 1e-3)) / math.log(s1 / s0)
        results[qname] = {
            "seconds_by_sf": series,
            "fit_exponent": round(slope, 2),
            "tail_exponent": round(tail, 2),
        }

    out_path = os.path.join(repo, "SCALE_PROBE.json")
    # Merge into any existing probe so a targeted run (n_top=0 +
    # forced names) extends the measured set instead of discarding
    # prior measurements.
    merged: dict[str, dict] = {}
    if os.path.exists(out_path):
        try:
            merged = json.load(open(out_path)).get("queries", {})
        except (ValueError, OSError):
            merged = {}
    merged.update(results)
    with open(out_path, "w") as fh:
        json.dump({"points_sf": [p[1] for p in points], "runs_per_point": n_runs,
                   "estimator": "min", "queries": merged}, fh, indent=1)
        fh.write("\n")
    print(f"wrote {out_path} ({len(results)} new, {len(merged)} total)")


if __name__ == "__main__":
    main()
