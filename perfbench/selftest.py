"""Self-test of the benchmark: each workload, one pass, on tiny tables.

Run from the repository root (about two minutes on four cores):

    python3 perfbench/selftest.py

For every workload it runs the benchmark's entry point twice, each in a
fresh process, on the ``sf0.001`` fixture tables with no warm-up and
``--seconds 0``, so each run makes the minimum of two passes: two timed
passes untraced, one untraced and one traced pass traced. It checks that

- the untraced run prints every end-to-end metric of BENCHMARK.json
  with its unit;
- no operation failed, so the error rate is 0;
- the traced run prints every per-layer metric of BENCHMARK.json, with
  its unit.

Exits 1 and names what is missing when a check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


ENTRY = (
    "import sys; from perfbench import run; "
    "sys.exit(run.main(sys.argv[1:], data_set='sf0.001', warmup=0))"
)


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, "-c", ENTRY,
        "--workload", workload, "--seed", "1", "--seconds", "0", "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def problems(result: dict, specs: list[dict]) -> list[str]:
    found = []
    if result["failed"] or not result["correct"]:
        found.append(f"{result['failed']} of {result['attempted']} operations failed")
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        if got is None:
            found.append(f"missing metric {spec['name']}")
        elif got.get("unit") != spec["unit"]:
            found.append(f"{spec['name']} unit {got.get('unit')!r} != {spec['unit']!r}")
    if result["metrics"].get("error_rate", {"value": 0})["value"] != 0:
        found.append("error_rate is not 0")
    return found


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []
    for workload in (w["name"] for w in bench["workloads"]):
        for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            found = problems(run(workload, trace), specs)
            status = "ok" if not found else "FAIL"
            print(f"{status:4s} {workload} trace={trace}", *found, sep="\n  ", flush=True)
            failures += found
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
