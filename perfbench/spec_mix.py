"""The ``specs_mix`` workload: one client runs a fixed list of declared
query specs, in an order shuffled by the seed, over the tables in
``data/sf0.01``. Each spec is timed as build (``spec.fn``) plus exec
(a ``noop`` write, the same completion ``bench.py`` uses).

Two groups:

- core: every spec of ``queries/relational.py`` and ``queries/tpch.py``;
  at sf0.01 they are bound by per-query fixed costs (planning, job
  scheduling) more than by scan, with little build work and no Python;
- heavy: specs whose cost ROADMAP places in driver build, in Python
  workers or in job count.

The untimed set-up pass runs every spec once as a timed pass does
(warming the JVM, codegen and the Python-worker daemon) and checks its
result's row count, columns and order-independent hash against
``digests.json``. A spec's latency is its median over the timed passes.
"""

from __future__ import annotations

import json
import math
import os
import random
from statistics import median

from harness import (HERE, Tracer, cpu_steal, cpu_steal_frac, host_probe_s, now, quantile,
                     tail_quantile)

DATA = os.path.join(HERE, "data", "sf0.01")
PASS_S = 8  # about one timed pass on a 4-vCPU machine
MIN_PASSES = 3  # a spec's latency is its median over at least this many
DIGESTS = os.path.join(HERE, "digests.json")

CORE = (
    "q01_scan_filter", "q02_predicates", "q03_inner_join", "q04_multiway_broadcast_join",
    "q05_left_join", "q06_semi_join", "q07_anti_join", "q08_agg_having", "q09_count_distinct",
    "q10_rollup", "q11_window_rank", "q12_window_running_sum", "q13_window_lag", "q14_topk",
    "q15_setops", "q16_string_fns", "q17_date_fns", "q18_math_fns", "q19_case_nullif",
    "q20_json_extract", "q21_cast_semantics", "q53_tpch_q1_pricing_summary",
    "q54_tpch_q3_shipping_priority", "q55_tpch_q5_local_volume", "q126_tpch_q7_volume_shipping",
    "q127_tpch_q10_returned_items",
)
#: driver build with many eager jobs (q102) and the Python-worker
#: boundary (q258, q259); more would not fit the run-time budget
#: (perfbench/NOTES.md)
HEAVY = ("q102_pagerank", "q258_jpeg_ac_refine", "q259_mjpeg_avi_frames")


def group_of(name: str) -> str:
    return "core" if name in CORE else "heavy"


# -- output digest --------------------------------------------------------
def _hashable(field):
    """Spark cannot hash map values; hash their JSON rendering."""
    from pyspark.sql import functions as F

    col = F.col(f"`{field.name}`")
    return F.to_json(F.array(col)) if "map<" in field.dataType.simpleString() else col


def digest(df) -> dict:
    """Row count and an order-independent hash of a result: the sum of
    every row's xxhash64 over its columns in name order, computed by
    Spark in one job."""
    from pyspark.sql import functions as F

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_hashable(f) for f in fields]).cast("decimal(38,0)")
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return {"rows": int(row["n"]), "hash": str(row["h"] if row["h"] is not None else 0),
            "columns": [f.name for f in fields]}


def check(df, expected: dict) -> bool:
    got = digest(df)
    return all(got[k] == expected[k] for k in ("rows", "hash", "columns"))


# -- one run ----------------------------------------------------------------
def run(spark, seed: int, seconds: int, tracer: Tracer, t_process: float, t_session: float) -> dict:
    from kassette_server_spark.queries import all_specs

    specs = all_specs()
    with open(DIGESTS) as f:
        expected = json.load(f)["specs"]
    order = list(CORE + HEAVY)
    random.Random(seed).shuffle(order)
    sc = spark.sparkContext

    failed: dict[str, str] = {}
    passes: list[dict[str, float]] = []

    def timed_pass() -> dict[str, float]:
        """Build and exec every spec once; the walls of those that ran."""
        walls: dict[str, float] = {}
        for name in order:
            if tracer.enabled:
                sc.setJobGroup(name, name)
            try:
                a = now()
                df = specs[name].fn(spark, DATA)
                b = now()
                df.write.format("noop").mode("overwrite").save()
                c = now()
            except Exception as e:  # a raising spec is a failed operation
                failed.setdefault(name, f"raised {type(e).__name__}")
                continue
            tracer.add("query.build", a, b, request_id=name, group=group_of(name), run=len(passes))
            tracer.add("query.exec", b, c, request_id=name, group=group_of(name), run=len(passes))
            walls[name] = c - a
        if tracer.enabled:
            sc.setJobGroup("perfbench", "perfbench")
        return walls

    # set-up: run every spec once as the timed loop does, untimed (the
    # first run of each pays JVM class loading, codegen and the
    # Python-worker daemon start), and check its output
    t0 = now()
    for name in order:
        try:
            df = specs[name].fn(spark, DATA)
            df.write.format("noop").mode("overwrite").save()
            if not check(df, expected[name]):
                failed[name] = "output digest mismatch"
        except Exception as e:
            failed[name] = f"raised {type(e).__name__}"
    setup_s = (t_session - t_process) + (now() - t0)
    check_s = now() - t0

    # a fixed number of timed passes, so a faster or slower machine does
    # the same work: one per started PASS_S of the measured seconds, at
    # least MIN_PASSES
    steal0 = cpu_steal()
    for _ in range(max(MIN_PASSES, math.ceil(seconds / PASS_S))):
        passes.append(timed_pass())
    steal = cpu_steal_frac(steal0, cpu_steal())

    per_spec = {n: median([p[n] for p in passes if n in p]) for n in order
                if any(n in p for p in passes)}
    lat = list(per_spec.values())
    tq = tail_quantile(len(lat))
    return {
        "attempted": len(order), "failed": len(failed),
        "notes": {
            "failed_specs": failed, "check_pass_s": round(check_s, 3),
            "pass_walls_s": [round(sum(p.values()), 3) for p in passes],
            "tail_percentile": round(100 * tq, 2), "tail_samples_beyond": int(round(len(lat) * (1 - tq))),
            "cpu_steal_frac": steal, "host_probe_s": host_probe_s(),
            "per_spec_s": {n: round(v, 4) for n, v in sorted(per_spec.items(), key=lambda x: -x[1])},
        },
        "metrics": {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (quantile(lat, 0.5), "s"),
            "latency_tail_s": (quantile(lat, tq), "s"),
            "work_wall_s": (median([sum(p.values()) for p in passes]), "s"),
        },
    }


def layers(tracer: Tracer, exec_groups: dict[str, dict]) -> dict:
    """Per-group build and execution numbers of one traced run."""
    out = {}
    for g in ("core", "heavy"):
        names = set(CORE if g == "core" else HEAVY)
        build = sum(s["end"] - s["start"] for s in tracer.by_name("query.build") if s["group"] == g)
        exe = sum(s["end"] - s["start"] for s in tracer.by_name("query.exec") if s["group"] == g)
        tot = {k: 0 for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                              "python_ms", "shuffle_read_bytes", "shuffle_write_bytes", "gc_ms",
                              "spill_bytes")}
        for name, ex in exec_groups.items():
            if name in names:
                for k in tot:
                    tot[k] += ex[k]
        out[f"query.{g}.build_s"] = (build, "s")
        out[f"query.{g}.exec_s"] = (exe, "s")
        out[f"query.{g}.jobs"] = (tot["jobs"], "count")
        out[f"query.{g}.stages"] = (tot["stages"], "count")
        for k in ("tasks",):
            out[f"exec.{g}.{k}"] = (tot[k], "count")
        for k in ("executor_run_ms", "executor_cpu_ms", "python_ms", "gc_ms"):
            out[f"exec.{g}.{k}"] = (tot[k], "ms")
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{g}.{k}"] = (tot[k], "bytes")
    return out
