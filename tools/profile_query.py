"""Per-query optimization profiler (round 10).

For each named query: construct the plan (timed — eager localCheckpoints
inside construction run Spark jobs — and counted in py4j round trips,
the driver→JVM gateway commands construction sends), run the noop-sink
action 3x (bench protocol), count the Spark jobs each phase launches via
job-group tracking and the generated classes Janino compiles for the
first build+run and for a repeat (a repeat should compile 0: a plan that
recompiles on every run defeats the codegen cache), and dump
``explain('formatted')`` to a file.

Usage:
  python tools/profile_query.py q180_incremental_components [more...] \
      [--sf /root/testdata/sf0.1] [--out plans/r10] [--tag before]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    out_dir = None
    tag = "before"
    plan_only = False
    names = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--out":
            out_dir = next(it)
        elif a == "--tag":
            tag = next(it)
        elif a == "--plan-only":
            plan_only = True
        else:
            names.append(a)

    from bbc_news_data_pipeline_spark import get_spark
    from bbc_news_data_pipeline_spark.plans import all_queries
    from bbc_news_data_pipeline_spark.session import (
        count_codegen_compiles,
        count_py4j_round_trips,
    )

    spark = get_spark("profile", driver_memory="32g")
    sc = spark.sparkContext
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warmup

    reg = {q.name: q for q in all_queries()}
    with count_py4j_round_trips() as round_trips, count_codegen_compiles(spark) as compiles:
        for name in names:
            q = reg[name]
            print(f"=== {name} ===", flush=True)
            # phase 1: plan construction (eager checkpoints run here)
            sc.setJobGroup(f"{name}:construct", name)
            c0 = compiles()  # read outside the round-trip window
            rt0 = round_trips()
            t0 = time.perf_counter()
            df = q.spark(spark, sf_dir)
            t_construct = time.perf_counter() - t0
            rt_construct = round_trips() - rt0
            jobs_construct = len(sc.statusTracker().getJobIdsForGroup(f"{name}:construct"))
            if plan_only:
                print(
                    f"{name}: construct={t_construct:.3f}s ({jobs_construct} jobs incl., "
                    f"{rt_construct} py4j round trips, {compiles() - c0} codegen compiles)",
                    flush=True,
                )
                if out_dir:
                    os.makedirs(out_dir, exist_ok=True)
                    p = os.path.join(out_dir, f"{name}_{tag}.txt")
                    with open(p, "w") as f:
                        f.write(df._jdf.queryExecution().explainString(
                            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                                "formatted"
                            )
                        ))
                    print(f"wrote {p}", flush=True)
                continue
            # phase 2: noop action x3 (min = bench protocol)
            runs = []
            jobs_action = None
            compiled = []  # per run; the first includes construction
            for i in range(3):
                sc.setJobGroup(f"{name}:action{i}", name)
                t0 = time.perf_counter()
                if i > 0:
                    # re-construct like bench does (bench re-calls q.spark each run)
                    df_i = q.spark(spark, sf_dir)
                else:
                    df_i = df
                df_i.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                compiled.append(compiles() - c0 - sum(compiled))
                if jobs_action is None:
                    jobs_action = len(
                        sc.statusTracker().getJobIdsForGroup(f"{name}:action{i}")
                    )
            sc.setJobGroup("x", "x")
            print(
                f"{name}: construct={t_construct:.3f}s ({jobs_construct} jobs incl., "
                f"{rt_construct} py4j round trips) "
                f"runs={[round(r, 3) for r in runs]} min={min(runs):.3f} "
                f"action_jobs={jobs_action} "
                f"codegen_compiles(first build+run, repeat)=({compiled[0]}, {compiled[1]})",
                flush=True,
            )
            if out_dir:
                os.makedirs(out_dir, exist_ok=True)
                p = os.path.join(out_dir, f"{name}_{tag}.txt")
                with open(p, "w") as f:
                    f.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    ))
                print(f"wrote {p}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
