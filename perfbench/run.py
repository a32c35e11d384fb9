"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_heal --seed 1 --seconds 5 --trace 0

Run from the repository root.  Builds seeded inputs in a private work
directory under ``.perfbench_work/``, drives one workload through the
package's public functions, checks every output, and prints one JSON
object as the last line of stdout: end-to-end metrics with ``--trace 0``,
per-layer metrics from a traced run with ``--trace 1``.  Exits non-zero
without a result when the package or a dependency is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "self_healing_data_pipeline_agent_spark"
WORKLOADS = ("ingest_heal", "ann_serve")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        import env  # noqa: E402 (the benchmark's own modules are on sys.path now)

        env.isolate(work)
        import workloads  # noqa: E402 (needs the package on sys.path)

        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()
    metrics = result["metrics"]
    if set(metrics) != set(units):
        print(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}",
              file=sys.stderr)
        return 3
    result["metrics"] = {k: {"value": float(metrics[k]), "unit": units[k]} for k in sorted(units)}
    for line in result.pop("failures"):
        print(f"FAILED {line}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
