#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The benchmark starts one Spark driver on
``local[<cores>]``, makes the workload's input from ``--seed``, caches it,
then repeats the workload's batch job back to back for ``--seconds`` (a
closed loop: the next pass starts when the previous one has finished). It
checks the output against the pure core run in the driver and prints, as
the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, and the spans recorded
around each layer call are written to ``.perfbench/traces/``. A failed
correctness check prints ``"correct": false`` and exits with code 1.

Everything the run writes (Spark local dir, temp files, stores) lives under
``.perfbench/`` in the checkout and is removed at exit, except the traces.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
PACKAGE = "tika_wrap_spark"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def sandbox_env(work: str) -> None:
    """Point every temp, spill and warehouse location of this process, the
    driver JVM and the python workers into ``work`` (inside the checkout).
    Must run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options -Djava.io.tmpdir=%s" % tmp,
            "--conf spark.sql.warehouse.dir=%s" % os.path.join(work, "warehouse"),
            "pyspark-shell",
        ]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print("perfbench: package %r not found under %s" % (PACKAGE, ROOT), file=sys.stderr)
        return 2
    with open(SPEC_PATH, encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print("perfbench: unknown workload %r" % args.workload, file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench", "run-%s" % run_id)
    sandbox_env(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        from perfbench.measure import measure  # noqa: PLC0415

        result = measure(args, spec, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for failure in result["failures"]:
        print("perfbench: correctness gate failed: %s" % failure, file=sys.stderr)
    print(json.dumps({"fingerprint": result["fingerprint"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
