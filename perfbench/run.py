"""Seeded benchmark of the streaming ETL engine.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 12 --trace 0

Run from the repository root.  Workloads: ``ingest_stream``
and ``batch_mix`` (see ``perfbench/README.md``).  With
``--trace 0`` the last stdout line carries the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer metrics,
and spans plus the full layer profile are written under
``perfbench/out/``.  Exits non-zero, printing no result, when the engine
package is not present.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("ingest_stream", "batch_mix")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _check_checkout() -> str | None:
    for rel in ("real_time_data_pipeline_spark/__init__.py",
                "__spark_entry__.py", "tools/parity.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}; run from the repository root"
    return None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = _check_checkout()
    if missing:
        print(f"perfbench: {missing}", file=sys.stderr)
        return 2

    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # No hsperfdata files in /tmp from any JVM the run starts.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    sys.path[:0] = [HERE, ROOT]
    try:
        if args.workload == "ingest_stream":
            import stream

            res = stream.run(work, args.seed, args.seconds, bool(args.trace),
                             f"local[{ncpu}]")
        else:
            import batch

            res = batch.run(work, args.seed, bool(args.trace), f"local[{ncpu}]")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    decl = _declared()
    for p in res["problems"]:
        print(f"# FAILED {p}")
    fail_ratio = res["failed"] / res["attempted"]
    print(f"# {args.workload} seed={args.seed}: fail_ratio={fail_ratio:.4f} fraction")
    for name, (value, unit) in res["report"].items():
        print(f"# {args.workload}: {name}={value:.4f} {unit}")
    if args.trace:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        with open(f"{stem}-spans.json", "w") as fh:
            json.dump(res["spans"], fh)
        with open(f"{stem}-layers.json", "w") as fh:
            json.dump(res["layers"], fh, indent=1, sort_keys=True)
        wanted = decl["per_layer"]
        values = res["layers"]
        print(f"# spans and layers written to {stem}-*.json")
    else:
        wanted = decl["end_to_end"]
        values = res["metrics"]
    metrics = {}
    for m in wanted:
        value = float(values.get(m["name"], 0.0))
        # A run whose files or queries never finished has no figure.
        metrics[m["name"]] = {"value": value if math.isfinite(value) else None,
                              "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"# {args.workload}: {name}={m['value']} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
