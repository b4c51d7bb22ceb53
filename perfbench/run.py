"""Pipeline benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload news_batch --seed 1 --seconds 2 --trace 0

Workloads: news_batch, news_refresh, news_stream, corpus_dedup (see
NOTES.md). Spark runs ``local[nproc]``. The inputs come from ``--seed``;
every output is checked against the generator's ground truth. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run and the
spans go to ``.perfbench_out/``. Scratch data lives in
``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "success_rate": "ratio",
}

STAGES = ("discover_links", "crawl_articles", "prepare", "topics", "sentiment", "emotion", "stats")
STREAMING = (
    "streaming.trigger_s.p50", "streaming.add_batch_s.p50", "streaming.commit_s.p50",
    "streaming.rows_per_batch.p50", "streaming.state_rows", "streaming.state_mem_mb",
    "streaming.busy_ratio", "streaming.backlog_files", "streaming.gen_lag_max_s",
)
RATIOS = (
    "sources.extract_articles.valid_ratio", "sources.prepare_articles.kept_ratio",
    "sources.keyed_append.appended_ratio", "operators.fit_lda.vocab",
    "operators.exact_dedup.removed_ratio", "operators.minhash_candidates.candidates",
    "operators.minhash_candidates.precision", "operators.minhash_candidates.recall",
    "operators.lsh_bucket_ann.pairs", "operators.lsh_bucket_ann.kept_ratio",
    "operators.semantic_dedup.survivor_ratio",
)


def per_layer_names() -> list[str]:
    from layers import SPANS

    names = [f"pipeline.{st}.{k}" for st in STAGES for k in ("s", "jobs")]
    names += ["pipeline.retries", "pipeline.failed"]
    names += [f"{sp}.{k}" for sp in SPANS for k in ("s", "jobs", "tasks")]
    names += list(RATIOS) + list(STREAMING)
    names += ["spark.failed_tasks", "trace.untraced_s", "trace.overhead_s", "error_rate", "jvm.peak_rss_mb"]
    return names


def unit_of(name: str) -> str:
    if name.endswith((".s", "_s", "_s.p50")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", ".precision", ".recall", "error_rate")):
        return "ratio"
    return "count"


def run(args, work: str) -> tuple[dict, dict]:
    from common import Ops, start_spark, stop_spark
    from workloads import WORKLOADS

    ops = Ops()
    wl = WORKLOADS[args.workload]()
    spark = start_spark(work)
    try:
        return measure(args, work, spark, wl, ops)
    finally:
        wl.stop()
        stop_spark(spark)


def measure(args, work, spark, wl, ops) -> tuple[dict, dict]:
    from common import median, nproc, tail
    from workloads import Ctx

    # Set-up runs once: interpreter start, the JVM launch, input generation
    # and one cold warm-up operation at full size. Each repeat would need a
    # new JVM and another cold operation (~25-35 s), about doubling a run.
    ctx = Ctx(spark, os.path.join(work, "r0"), args.seed, ops)
    wl.setup(ctx)
    setup_s = time.perf_counter() - T_START
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc(),
        "loadavg": os.getloadavg(), "setup_s": setup_s,
    }

    if not args.trace:
        res = wl.measure(ctx, args.seconds)
        samples = res.pop("samples")
        t_val, t_label = tail(samples)
        info.update(samples_s=samples, p50_s=median(samples), tail_s=t_val, tail=t_label, **res)
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": res["docs_per_s"],
            "success_rate": 1.0 - ops.failed / ops.attempted,
        }
        units = END_TO_END
    else:
        metrics = traced(args, wl, ctx)
        units = {k: unit_of(k) for k in metrics}
    info.update(attempted=ops.attempted, failed=ops.failed, problems=ops.problems[:20])
    return info, {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}


def traced(args, wl, ctx) -> dict:
    """The workload's own operation with and without tracing, then every
    other layer's spans on this workload's inputs where it has them and on
    small seeded defaults where it does not."""
    import gen
    import layers
    from common import jvm_peak_rss_mb
    from spans import Tracer
    from workloads import (
        NewsRefresh, NewsStream, check_dedup, dedup_inputs, dedup_pass, pipeline_metrics,
        run_dag, write_news,
    )

    spark = ctx.spark
    tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
    out = wl.traced(ctx, tracer) if args.workload != "news_stream" else wl.traced(ctx, tracer, args.seconds)
    out["trace.overhead_s"] = out.pop("trace.traced_s") - out["trace.untraced_s"]

    if args.workload == "news_batch":
        out.update(layers.news_layers(ctx, tracer, wl.inputs, wl.ENTRIES))
    elif args.workload == "news_refresh":
        out.update(layers.news_layers(ctx, tracer, wl.dirs[wl.next], NewsRefresh.NEWEST_N, append_to=f"{wl.wd}/links"))
    else:
        small = write_news(gen.NewsGen(args.seed).batch(300), ctx.fresh("in"))
        ctx.tracer = tracer
        report, _ = run_dag(ctx, small, ctx.fresh("wd"), 300)
        ctx.tracer = None
        out.update(pipeline_metrics(tracer, [report]))
        out.update(layers.news_layers(ctx, tracer, small, 300))

    if args.workload == "corpus_dedup":
        docs = spark.read.parquet(f"{wl.inputs}/docs.parquet")
    else:
        corpus, d, planes = dedup_inputs(ctx, args.seed, 400)
        ctx.tracer = tracer
        outdir, _ = dedup_pass(ctx, d, planes)
        ctx.tracer = None
        out.update(check_dedup(ctx, corpus, planes, outdir))
        docs = spark.read.parquet(f"{d}/docs.parquet")
    if args.workload == "news_stream":
        docs = spark.read.schema("doc_id long, text string").json(f"{wl.dir}/src")
    layers.band_keys_span(ctx, tracer, docs)

    if args.workload != "news_stream":
        # a short ladder: 1 s warm, 2 s low, five full micro-batches high
        s = NewsStream(warm_s=1.0, high_files=5 * NewsStream.MAX_FILES)
        s.setup(ctx)
        stream = s.traced(ctx, tracer, 2.0)
        out.update({k: v for k, v in stream.items() if k.startswith("streaming.")})

    out.update(layers.span_metrics(tracer))
    out["spark.failed_tasks"] = float(sum(s.failed_tasks for s in tracer.spans))
    out["error_rate"] = ctx.ops.failed / ctx.ops.attempted
    out["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.jsonl"))
    names = per_layer_names()
    missing = set(names) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics missing: {sorted(missing)}")
    return {k: out[k] for k in names}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["news_batch", "news_refresh", "news_stream", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bbc_news_data_pipeline_spark", "session.py")):
        print(f"perfbench: the program (bbc_news_data_pipeline_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's Python workers import the program and the benchmark modules
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [ROOT, HERE]
    try:
        info, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    failed = info["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": info["attempted"], "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
