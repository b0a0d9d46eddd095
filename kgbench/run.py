"""KG benchmark: one workload per invocation, from the root of a checkout.

    python3 kgbench/run.py --workload hot_path --seed 1 --seconds 10 --trace 0

Workloads: ``hot_path`` and ``kg_build`` (see workloads.py
and METRICS.md). Inputs are generated from ``--seed`` under
``.kgbench_scratch/`` in the checkout and removed at exit. Each timed
pass runs until ``--seconds`` have elapsed and every output is checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics, or with
``--trace 1`` the per-layer metrics of the traced run. The line before it
records the host and inputs the result was measured on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"
JVM_EXIT_S = 60


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("hot_path", "kg_build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nerpii_spark", "pipeline.py")):
        print("kgbench: no nerpii_spark package next to kgbench/;"
              " run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too; keep temp files, the
    # shuffle and the event log inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ.setdefault("NERPII_SPARK_DRIVER_MEM", DRIVER_MEM)

    import harness
    import layers
    from proctree import TreeSampler
    from workloads import WORKLOADS

    scratch = os.path.join(
        ROOT, ".kgbench_scratch", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    b = harness.Bench(ROOT, scratch, args.seed, args.seconds, bool(args.trace))
    result = None
    try:
        with TreeSampler() as mem:
            try:
                metrics = WORKLOADS[args.workload](b, mem.peak_mb)
            finally:
                b.shutdown()
        if b.trace:
            names = layers.names()
            unknown = set(metrics) - set(names)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics {unknown}")
            metrics = {n: float(metrics.get(n, 0.0)) for n in names}
        units = _units()
        result = {
            "correct": b.failed == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {
                k: {"value": v, "unit": units[k]}
                for k, v in metrics.items()
            },
        }
    except Exception:  # noqa: BLE001 - the run fails without a result
        traceback.print_exc()
    finally:
        left = mem.wait_all_ended(JVM_EXIT_S)
        if left:
            print(f"kgbench: processes still running: {left}", file=sys.stderr)
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if not os.listdir(parent):
            os.rmdir(parent)
    if result is None or left:
        return 1
    print(json.dumps({"context": b.info, "workload": args.workload,
                      "seed": args.seed}))
    print(json.dumps(result))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
