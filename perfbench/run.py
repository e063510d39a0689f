"""Benchmark of the PySpark full-text engine (see README.md).

    python3 perfbench/run.py --workload query_stream --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints one JSON report line with every
named metric (value, unit, sample count), the host context and the
output checks, then as its last line the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "lucene_solr_8_7_0_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["query_stream", "build_batch", "nrt_update"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import host

    calib0 = host.calibrate_ms()
    setup = host.Phases()  # setup_s counts from here
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # the engine and Spark's Python workers import from the checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    # a small driver heap: the inputs are small, and the host is shared
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        ops = workloads.WORKLOADS[args.workload](run, setup)
    finally:
        workloads.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    ok_ratio = (run.attempted - run.failed) / max(run.attempted, 1)
    run.named("ok_op_ratio", ok_ratio, "ratio", run.attempted)
    ref = host.ref_factor()  # times at the reference host speed
    e2e = {
        "setup_s": run.report["setup_wall_s"]["value"] * ref,
        "op_p50_ms": ops["op_p50_ms"] * ref,
        "op_p90_ms": ops["op_p90_ms"] * ref,
        "peak_pss_mb": run.report["peak_pss_mb"]["value"],
        "ok_op_ratio": ok_ratio,
        "index_bytes_per_source_byte":
            run.report["index_bytes_per_source_byte"]["value"],
    }
    run.info.update({
        "ops": ops["ops"],
        "faults": run.faults,
    })
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "metrics": run.report,
        "checks": run.info,
        "host": {
            "cores": len(os.sched_getaffinity(0)),
            **run.info.pop("window"),
            "calibration_ms_before": calib0,
            "calibration_ms_after": host.calibrate_ms(),
            "ref_factor": ref,
        },
    }
    # names and units come from BENCHMARK.json; the op is one search, one
    # full build, or one update cycle (commit, reopen and its searches)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # a layer the workload does not reach reports 0
    values = ({m["name"]: 0.0 for m in spec} | run.layers) if args.trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"perfbench": report}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
