#!/usr/bin/env python3
"""kassette-spark benchmark: one command for the three workloads.

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 15 --trace 0

Run it from the repository root: the engine's Python workers import the
package from the working directory (see perfbench/NOTES.md). Workloads:

- ``ingest_steady``  open loop through the HTTP gateway into one
  connection, a burst of 500 events every 6 s, each burst one
  micro-batch; latency set by fixed costs per micro-batch;
- ``ingest_backlog`` closed loop, 100-event requests into one source
  read by two connections, then drained; set by cost per row;
- ``specs_mix``      a fixed, seed-shuffled list of declared specs (core
  and heavy groups), each timed as build plus exec.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of a traced run (the
spans go to ``perfbench/_work/traces``). Every metric line before it
names the metric and its unit; outputs are checked in the same run and
failures are counted, never dropped.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("ingest_steady", "ingest_backlog", "specs_mix")
END_TO_END = ("setup_s", "latency_p50_s", "latency_tail_s", "work_wall_s", "peak_rss_mb")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kassette_server_spark", "__init__.py")):
        print("perfbench: run from the repository root (kassette_server_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)  # this process imports the package from the working directory

    import harness

    run_dir = harness.fresh_dir(os.path.join(
        harness.WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    tracer = harness.Tracer(bool(args.trace))
    spark = harness.start_spark(run_dir, event_log=bool(args.trace))
    t_session = harness.now()
    try:
        if args.workload == "specs_mix":
            import spec_mix

            res = spec_mix.run(spark, args.seed, args.seconds, tracer, T_PROCESS, t_session)
        else:
            import ingest_load

            res = ingest_load.run(spark, args.workload, args.seed, args.seconds, tracer, run_dir,
                                  T_PROCESS, t_session)
        res["metrics"]["peak_rss_mb"] = (harness.peak_rss_mb(spark), "MB")
    finally:
        stop_jvm(spark)

    if args.trace:
        groups = harness.read_event_log(run_dir)
        # a layer the workload does not use reports zero work
        layers = {name: (0.0, unit) for name, unit in per_layer_units().items()}
        if args.workload == "specs_mix":
            import spec_mix

            layers.update(spec_mix.layers(tracer, groups))
        else:
            jobs = [groups.get(b, {"jobs": 0})["jobs"] for b in res["stream_batches"]]
            res["layers"]["stream.jobs_per_batch"] = (sum(jobs) / len(jobs) if jobs else 0.0,
                                                      "count")
            layers.update(res["layers"])
        for name, (value, unit) in res["metrics"].items():
            layers[f"traced.{name}"] = (value, unit)
        metrics = layers
        tracer.write(os.path.join(harness.WORK_ROOT, "traces",
                                  f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {k: res["metrics"][k] for k in END_TO_END}
    shutil.rmtree(run_dir, ignore_errors=True)

    for name, (value, unit) in {**metrics, **res.get("extra", {})}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_frac = {res['failed'] / res['attempted']:.6g} "
          f"({res['failed']} of {res['attempted']})")
    print(f"{args.workload} notes = {json.dumps(res['notes'], sort_keys=True)}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
