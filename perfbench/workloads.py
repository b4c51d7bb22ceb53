"""The four workloads: set-up, timed phase, output checks and traced run.

Each workload class has
  setup(ctx)               input generation and a warm-up operation at
                           full size (timed by run.py, with the JVM launch)
  measure(ctx, seconds)    the timed phase; returns end-to-end figures
  traced(ctx)              a traced operation between two untraced ones,
                           plus the workload's own layer spans; returns
                           per-layer figures and the makespans
Every output check goes through ``ctx.ops`` and so counts in the error
rate.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import Ops, median

LDA_K = 4
MIN_OPS = 1  # closed-loop operations per timed phase, whatever --seconds says
HERE = os.path.dirname(os.path.abspath(__file__))


class Ctx:
    def __init__(self, spark, work: str, seed: int, ops: Ops):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ops = ops
        self.tracer = None  # set for the traced operation only
        self._n = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------------------
# DAG workloads


def write_news(batch: gen.NewsBatch, d: str) -> str:
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"xml": batch.sitemaps}), f"{d}/sitemaps.parquet")
    urls, html = zip(*batch.pages)
    pq.write_table(pa.table({"url": list(urls), "html": list(html)}), f"{d}/pages.parquet")
    return d


def run_dag(ctx: Ctx, inputs: str, wd: str, newest_n: int) -> tuple[object, float]:
    """One ``build_pipeline(...).run()``; every stage attempt is an
    operation, and with a tracer each attempt is a ``pipeline.<stage>``
    span. Returns the run report and its makespan."""
    from bbc_news_data_pipeline_spark.pipeline.bbc_news import build_pipeline

    spark = ctx.spark
    sitemaps = spark.read.parquet(f"{inputs}/sitemaps.parquet")
    pages = spark.read.parquet(f"{inputs}/pages.parquet")
    pipe = build_pipeline(spark, sitemaps, pages, wd, newest_n=newest_n, lda_k=LDA_K)
    attempts: dict[str, int] = {}

    def wrap(name, fn):
        def attempt(results):
            attempts[name] = attempts.get(name, 0) + 1
            ctx.ops.attempted += 1
            try:
                if ctx.tracer is None:
                    return fn(results)
                with ctx.tracer.span(f"pipeline.{name}"):
                    return fn(results)
            except Exception:
                ctx.ops.failed += 1  # a raised attempt is a failure, retried or not
                raise

        return attempt

    for stage in pipe.stages.values():
        stage.fn = wrap(stage.name, stage.fn)
    t0 = time.perf_counter()
    report = pipe.run()
    dt = time.perf_counter() - t0
    report.attempts = attempts
    for name in pipe.stages:
        if name not in attempts:  # skipped behind a failed upstream
            ctx.ops.check(False, f"stage {name} never ran: {report.failed.get(name)}")
    return report, dt


def check_report(ops: Ops, report, want: dict, what: str) -> None:
    ops.check(not report.failed, f"{what}: failed stages {report.failed}")
    for key, val in want.items():
        ops.expect(report.results.get(key), val, f"{what} {key}")
    ops.expect((report.results.get("topics") or {}).get("n_topics"), LDA_K, f"{what} n_topics")


def pipeline_metrics(tracer, reports) -> dict[str, float]:
    out = {}
    stages = ("discover_links", "crawl_articles", "prepare", "topics", "sentiment", "emotion", "stats")
    for st in stages:
        spans = [s for s in tracer.spans if s.name == f"pipeline.{st}"]
        out[f"pipeline.{st}.s"] = sum(tracer.self_seconds(s) for s in spans)
        out[f"pipeline.{st}.jobs"] = sum(s.jobs for s in spans)
    out["pipeline.retries"] = sum(n - 1 for r in reports for n in r.attempts.values())
    out["pipeline.failed"] = sum(len(r.failed) for r in reports)
    return out


class Workload:
    def stop(self) -> None:
        """Release what the workload keeps running (the stream query)."""


class NewsBatch(Workload):
    """DAG runs, each in a fresh workdir (no stored tables), over one batch."""

    ENTRIES = 1500  # sitemap entries; ~1,340 fetched pages

    def setup(self, ctx: Ctx) -> None:
        g = gen.NewsGen(ctx.seed)
        self.batch = g.batch(self.ENTRIES)
        self.sim = gen.NewsSim(newest_n=self.ENTRIES)
        self.want = self.sim.run(self.batch)
        self.inputs = write_news(self.batch, ctx.fresh("in"))
        self.check(ctx, *self.run_once(ctx)[:2])  # warm-up: a whole run

    def run_once(self, ctx: Ctx):
        wd = ctx.fresh("wd")
        report, dt = run_dag(ctx, self.inputs, wd, self.ENTRIES)
        return wd, report, dt

    def check(self, ctx: Ctx, wd: str, report) -> None:
        from pyspark.sql import functions as F

        ops, spark = ctx.ops, ctx.spark
        check_report(ops, report, self.want, "batch")
        got = {r.url: r.sentiment_label for r in spark.read.parquet(f"{wd}/articles_sentiment").collect()}
        want = self.sim.labels()
        ops.check(got == want, f"planted labels: {sum(got.get(u) != l for u, l in want.items())} wrong")
        sums = spark.read.parquet(f"{wd}/stats_daily_share").groupBy("day").agg(F.sum("pct").alias("s")).collect()
        ops.check(all(abs(r.s - 100.0) < 0.01 for r in sums), "daily_share does not sum to 100")

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        runs, end = [], time.perf_counter() + seconds
        while len(runs) < MIN_OPS or time.perf_counter() < end:
            runs.append(self.run_once(ctx))
        for wd, report, _ in runs:
            self.check(ctx, wd, report)
        times = [dt for _, _, dt in runs]
        return {"docs_per_s": len(self.batch.pages) / median(times), "samples": times}

    def traced(self, ctx: Ctx, tracer) -> dict:
        _, _, before = self.run_once(ctx)
        ctx.tracer = tracer
        wd, report, traced = self.run_once(ctx)
        ctx.tracer = None
        _, _, after = self.run_once(ctx)
        self.check(ctx, wd, report)
        out = pipeline_metrics(tracer, [report])
        # untraced runs on both sides cancel the JVM's warming trend
        out["trace.untraced_s"], out["trace.traced_s"] = (before + after) / 2, traced
        return out


class NewsRefresh(Workload):
    """Small deltas through the DAG, one at a time, over a loaded base."""

    BASE = 900  # base-corpus sitemap entries
    NEW, RELISTED = 24, 60  # per delta: fresh entries, already-seen articles
    DELTAS = 40
    NEWEST_N = 500  # the spider's docs_count default

    def setup(self, ctx: Ctx) -> None:
        """The base-corpus load is the warm-up."""
        g = gen.NewsGen(ctx.seed)
        self.sim = gen.NewsSim(newest_n=self.NEWEST_N)
        base = g.batch(self.BASE)
        want = self.sim.run(base)
        self.deltas = []
        for _ in range(self.DELTAS):
            b = g.batch(self.NEW, self.RELISTED)
            self.deltas.append((b, self.sim.run(b)))
        self.dirs = [write_news(b, ctx.fresh("in")) for b, _ in self.deltas]
        self.next = 0
        self.wd = ctx.fresh("wd")
        report, _ = run_dag(ctx, write_news(base, ctx.fresh("in")), self.wd, self.NEWEST_N)
        check_report(ctx.ops, report, want, "base load")

    def run_delta(self, ctx: Ctx) -> float:
        i = self.next
        if i == len(self.deltas):
            raise RuntimeError("delta sequence exhausted; raise DELTAS")
        self.next += 1
        report, dt = run_dag(ctx, self.dirs[i], self.wd, self.NEWEST_N)
        check_report(ctx.ops, report, self.deltas[i][1], f"delta {i}")
        self.last_report = report
        return dt

    def check_unique(self, ctx: Ctx) -> None:
        for table in ("links", "articles_raw"):
            df = ctx.spark.read.parquet(f"{self.wd}/{table}")
            n, d = df.count(), df.select("url").distinct().count()
            ctx.ops.check(n == d, f"{table}: {n - d} duplicate urls")

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        times, end = [], time.perf_counter() + seconds
        while len(times) < 3 or time.perf_counter() < end:
            times.append(self.run_delta(ctx))
        self.check_unique(ctx)
        pages = len(self.deltas[0][0].pages)
        return {"docs_per_s": pages / median(times), "samples": times}

    def traced(self, ctx: Ctx, tracer) -> dict:
        before = self.run_delta(ctx)
        ctx.tracer = tracer
        traced = self.run_delta(ctx)
        ctx.tracer = None
        report = self.last_report
        after = self.run_delta(ctx)
        self.check_unique(ctx)
        out = pipeline_metrics(tracer, [report])
        out["trace.untraced_s"], out["trace.traced_s"] = (before + after) / 2, traced
        return out


# ---------------------------------------------------------------------------
# corpus_dedup


MIN_COS = 0.9
N_PLANES = 6
N_SEEDS = 16


def dedup_inputs(ctx: Ctx, seed: int, n_base: int):
    corpus = gen.dedup_corpus(seed, n_base)
    d = ctx.fresh("in")
    os.makedirs(d)
    ids, texts = zip(*corpus.docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}), f"{d}/docs.parquet")
    emb = pa.array(list(corpus.emb), pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(range(len(corpus.emb)), pa.int64()), "embedding": emb}), f"{d}/emb.parquet")
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((N_PLANES, corpus.emb.shape[1])).round(6).tolist()
    seed_ids = sorted(rng.choice(len(corpus.emb), size=N_SEEDS, replace=False).tolist())
    qv = np.floor(corpus.emb[seed_ids].astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
    pq.write_table(
        pa.table({"seed_id": pa.array(seed_ids, pa.int64()), "seed_qv": pa.array(list(qv), pa.list_(pa.int64()))}),
        f"{d}/seeds.parquet",
    )
    return corpus, d, planes


def dedup_pass(ctx: Ctx, d: str, planes) -> tuple[str, float]:
    """exact_dedup, then minhash_candidates over its survivors, then
    lsh_bucket_ann and semantic_dedup over the embeddings; each output is
    committed to parquet before the next step reads it."""
    from contextlib import nullcontext

    from bbc_news_data_pipeline_spark.operators.dedup import exact_dedup, minhash_candidates
    from bbc_news_data_pipeline_spark.operators.similarity import lsh_bucket_ann, semantic_dedup

    spark, out = ctx.spark, ctx.fresh("out")

    def step(name, write):
        ctx.ops.attempted += 1
        try:
            with ctx.tracer.span(f"operators.{name}") if ctx.tracer else nullcontext():
                write()
        except Exception:
            ctx.ops.failed += 1
            raise

    t0 = time.perf_counter()
    docs = spark.read.parquet(f"{d}/docs.parquet")
    step("exact_dedup", lambda: exact_dedup(docs, "text", "doc_id").write.parquet(f"{out}/exact"))
    surv = spark.read.parquet(f"{out}/exact")
    step("minhash_candidates", lambda: minhash_candidates(surv, "doc_id", "text").write.parquet(f"{out}/cand"))
    emb = spark.read.parquet(f"{d}/emb.parquet")
    step("lsh_bucket_ann", lambda: lsh_bucket_ann(emb, planes, min_cos=MIN_COS).write.parquet(f"{out}/lsh"))
    seeds = spark.read.parquet(f"{d}/seeds.parquet")
    step("semantic_dedup", lambda: semantic_dedup(emb, seeds, min_cos=MIN_COS).write.parquet(f"{out}/sem"))
    return out, time.perf_counter() - t0


def check_dedup(ctx: Ctx, corpus: gen.DedupCorpus, planes, out: str) -> dict:
    spark, ops = ctx.spark, ctx.ops
    n_docs, n_vec = len(corpus.docs), len(corpus.emb)
    survivors = spark.read.parquet(f"{out}/exact").count()
    ops.expect(survivors, corpus.exact_survivors, "exact_dedup survivors")
    cand = {(r.id_a, r.id_b) for r in spark.read.parquet(f"{out}/cand").collect()}
    missed = corpus.near_pairs - cand
    ops.check(not missed, f"{len(missed)} planted near-duplicate pairs not candidates")
    lsh = spark.read.parquet(f"{out}/lsh").collect()
    if lsh:
        a = corpus.emb[[r.id_a for r in lsh]].astype(np.float64)
        b = corpus.emb[[r.id_b for r in lsh]].astype(np.float64)
        cos = (a * b).sum(1) / np.linalg.norm(a, axis=1) / np.linalg.norm(b, axis=1)
        # the operator rounds cosine to 4 places on 1e-6-quantized vectors
        ops.check(bool((cos >= MIN_COS - 1e-4).all()), f"lsh pair below min_cos: {cos.min():.6f}")
    sem = [r.vec_id for r in spark.read.parquet(f"{out}/sem").select("vec_id").collect()]
    ops.check(0 < len(sem) == len(set(sem)) <= n_vec, "semantic_dedup survivors not a subset")
    hits = len(corpus.near_pairs & cand)
    sizes = np.bincount(_buckets(corpus.emb, planes))
    within = float((sizes * (sizes - 1) // 2).sum())
    return {
        "operators.exact_dedup.removed_ratio": 1 - survivors / n_docs,
        "operators.minhash_candidates.candidates": len(cand),
        "operators.minhash_candidates.precision": hits / len(cand) if cand else 0.0,
        "operators.minhash_candidates.recall": hits / len(corpus.near_pairs),
        "operators.lsh_bucket_ann.pairs": len(lsh),
        "operators.lsh_bucket_ann.kept_ratio": len(lsh) / within if within else 0.0,
        "operators.semantic_dedup.survivor_ratio": len(sem) / n_vec,
    }


def _buckets(emb: np.ndarray, planes) -> np.ndarray:
    """Hyperplane-sign bucket of every vector, for counting the pairs the
    LSH buckets offer (the operator scores exactly these)."""
    bits = (emb.astype(np.float64) @ np.asarray(planes).T) >= 0
    return bits @ (1 << np.arange(bits.shape[1]))


class CorpusDedup(Workload):
    """One batch curation pass per operation over a seeded corpus."""

    N_BASE = 500  # distinct documents; 600 with planted copies

    def setup(self, ctx: Ctx) -> None:
        self.corpus, self.inputs, self.planes = dedup_inputs(ctx, ctx.seed, self.N_BASE)
        out, _ = dedup_pass(ctx, self.inputs, self.planes)  # warm-up: a whole pass
        check_dedup(ctx, self.corpus, self.planes, out)

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        runs, end = [], time.perf_counter() + seconds
        while len(runs) < MIN_OPS or time.perf_counter() < end:
            runs.append(dedup_pass(ctx, self.inputs, self.planes))
        for out, _ in runs:
            check_dedup(ctx, self.corpus, self.planes, out)
        times = [dt for _, dt in runs]
        return {"docs_per_s": len(self.corpus.docs) / median(times), "samples": times}

    def traced(self, ctx: Ctx, tracer) -> dict:
        _, before = dedup_pass(ctx, self.inputs, self.planes)
        ctx.tracer = tracer
        out, traced = dedup_pass(ctx, self.inputs, self.planes)
        ctx.tracer = None
        _, after = dedup_pass(ctx, self.inputs, self.planes)
        res = check_dedup(ctx, self.corpus, self.planes, out)
        res["trace.untraced_s"], res["trace.traced_s"] = (before + after) / 2, traced
        return res


# ---------------------------------------------------------------------------
# news_stream


class NewsStream(Workload):
    """Open-loop files into a neardup_flags_stream query with a parquet
    sink. Ladder: a warm rung at the low rate (not scored), the low rate
    below saturation (latency), then a rate above saturation (the backlog
    never empties, so the drain rate is the highest rate the query
    sustains)."""

    DOCS_PER_FILE = 5
    TRIGGER = "500 milliseconds"
    MAX_FILES = 32  # maxFilesPerTrigger: bounds a micro-batch at 160 docs
    LOW_RATE = 10.0  # files/s, 50 docs/s
    WARM_S = 2.0  # warm rung length
    HIGH_RATE = 100.0
    HIGH_FILES = 320  # ten full micro-batches
    LAG_BOUND = 0.25  # s; a later write makes the file an invalid operation
    WARM_FILES = 4

    def __init__(self, warm_s: float = WARM_S, high_files: int = HIGH_FILES):
        self.warm_s, self.high_files = warm_s, high_files

    def setup(self, ctx: Ctx) -> None:
        """Starts a query and feeds it warm-up files."""
        from bbc_news_data_pipeline_spark.streaming.neardup import neardup_flags_stream

        self.stop()
        d = self.dir = ctx.fresh("stream")
        for sub in ("src", "stage", "sink", "ckpt"):
            os.makedirs(f"{d}/{sub}")
        files, _ = gen.stream_docs(ctx.seed + 1, self.WARM_FILES, self.DOCS_PER_FILE)
        for i, docs in enumerate(files):
            with open(f"{d}/stage/w{i}.json", "w") as f:
                f.writelines(json.dumps({"doc_id": 10**9 + doc, "text": t}) + "\n" for doc, t in docs)
            os.rename(f"{d}/stage/w{i}.json", f"{d}/src/w{i}.json")
        stream = (
            ctx.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", self.MAX_FILES)
            .json(f"{d}/src")
        )
        self.query = (
            neardup_flags_stream(stream)
            .writeStream.format("parquet")
            .option("path", f"{d}/sink")
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .trigger(processingTime=self.TRIGGER)
            .start()
        )
        self._wait_committed({f"w{i}.json" for i in range(self.WARM_FILES)}, 60)

    def _batches(self) -> tuple[dict[str, int], dict[int, float]]:
        """file name -> micro-batch id, and batch id -> commit time, from the
        query's checkpoint (source log and commit log)."""
        src = f"{self.dir}/ckpt/sources/0"
        batch_of: dict[str, int] = {}
        for name in os.listdir(src) if os.path.isdir(src) else ():
            if name.startswith("."):  # checksum files
                continue
            with open(f"{src}/{name}") as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batch_of[os.path.basename(e["path"])] = e["batchId"]
        commits = f"{self.dir}/ckpt/commits"
        committed = {
            int(n): os.stat(f"{commits}/{n}").st_mtime_ns / 1e9
            for n in (os.listdir(commits) if os.path.isdir(commits) else ())
            if n.isdigit()
        }
        return {f: b for f, b in batch_of.items() if b in committed}, committed

    def _wait_committed(self, names: set[str], timeout: float) -> None:
        end = time.time() + timeout
        while time.time() < end:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream query failed: {self.query.exception()}")
            if names <= set(self._batches()[0]):
                return
            time.sleep(0.1)
        raise TimeoutError(f"{len(names - set(self._batches()[0]))} files never committed")

    def run_ladder(self, ctx: Ctx, low_s: float) -> dict:
        low_files = max(8, int(low_s * self.LOW_RATE))
        log = f"{self.dir}/gen-{ctx.seed}.json"
        cmd = [
            sys.executable, os.path.join(HERE, "stream_gen.py"),
            "--src", f"{self.dir}/src", "--stage", f"{self.dir}/stage", "--log", log,
            "--seed", str(ctx.seed), "--docs-per-file", str(self.DOCS_PER_FILE),
            "--ladder", f"{self.LOW_RATE}:{int(self.warm_s * self.LOW_RATE)},"
            f"{self.LOW_RATE}:{low_files},{self.HIGH_RATE}:{self.high_files}",
        ]
        n_progress = len(self.query.recentProgress)
        proc = subprocess.Popen(cmd)
        try:
            proc.wait(timeout=self.warm_s + low_s + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        ctx.ops.check(proc.returncode == 0, f"stream generator exited {proc.returncode}")
        with open(log) as f:
            glog = json.load(f)
        files = glog["files"]
        self._wait_committed({r["file"] for r in files}, 120)
        batch_of, commit = self._batches()
        progress = self.query.recentProgress[n_progress:]

        ops = ctx.ops
        lags = [r["written"] - r["due"] for r in files]
        for r, lag in zip(files, lags):
            ops.check(lag <= self.LAG_BOUND, f"generator wrote {r['file']} {lag:.3f}s late")
        low = [r for r in files if r["phase"] == 1]
        high = [r for r in files if r["phase"] == 2]
        latency = [commit[batch_of[r["file"]]] - r["due"] for r in low]
        # drain rate while the high rung kept a backlog: the median over
        # full micro-batches that ran back to back after another high-rung one
        docs_in: dict[int, int] = {}
        for r in high:
            b = batch_of[r["file"]]
            docs_in[b] = docs_in.get(b, 0) + len(r["docs"])
        full = self.MAX_FILES * self.DOCS_PER_FILE
        rates = [full / (commit[b] - commit[b - 1]) for b in docs_in if docs_in[b] == full and b - 1 in docs_in]
        sustained = median(rates)
        # backlog when the low rung ends: its files written but not committed
        low_end = low[-1]["written"]
        done = sum(1 for r in low if commit[batch_of[r["file"]]] <= low_end)
        t_first = low[0]["due"]
        first_batch = min(batch_of[r["file"]] for r in low)
        progress = [p for p in progress if p["batchId"] >= first_batch]
        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0

        def p50(key):
            xs = [p["durationMs"].get(key, 0) / 1000.0 for p in progress if p["numInputRows"] > 0]
            return median(xs) if xs else 0.0

        state = progress[-1]["stateOperators"][0] if progress and progress[-1]["stateOperators"] else {}
        layer = {
            "streaming.trigger_s.p50": p50("triggerExecution"),
            "streaming.add_batch_s.p50": p50("addBatch"),
            "streaming.commit_s.p50": median(
                [(p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1000.0
                 for p in progress if p["numInputRows"] > 0] or [0.0]
            ),
            "streaming.rows_per_batch.p50": median([p["numInputRows"] for p in progress if p["numInputRows"] > 0] or [0]),
            "streaming.state_rows": float(state.get("numRowsTotal", 0)),
            "streaming.state_mem_mb": state.get("memoryUsedBytes", 0) / 2**20,
            "streaming.busy_ratio": busy / (max(commit.values()) - t_first),
            "streaming.backlog_files": float(len(low) - done),
            "streaming.gen_lag_max_s": max(lags),
        }
        return {"latency": latency, "sustained": sustained, "rates": rates, "glog": glog, "layer": layer,
                "makespan": max(commit.values()) - t_first}

    def check(self, ctx: Ctx, glog: dict) -> None:
        """canonicalize_flags over the sink against a first-wins pass in
        arrival order (micro-batch, then doc id) over the same documents'
        band keys; every planted near copy must be flagged."""
        from pyspark.sql import functions as F

        from bbc_news_data_pipeline_spark.operators.dedup import band_keys
        from bbc_news_data_pipeline_spark.streaming.neardup import canonicalize_flags

        spark, ops = ctx.spark, ctx.ops
        batch_of, _ = self._batches()
        docs = spark.read.schema("doc_id long, text string").json(f"{self.dir}/src")
        docs = docs.withColumn("file", F.input_file_name())
        rows = band_keys(docs, "doc_id", "text").join(docs.select("doc_id", "file"), "doc_id").collect()
        arrival: dict[int, tuple[int, int]] = {}
        keys: dict[int, list[str]] = {}
        for r in rows:
            arrival[r.doc_id] = (batch_of[os.path.basename(r.file)], r.doc_id)
            keys.setdefault(r.doc_id, []).append(r.band_key)
        owner: dict[str, int] = {}
        parent: dict[int, int] = {}
        for doc in sorted(keys, key=arrival.get):
            hits = [owner[k] for k in keys[doc] if k in owner and owner[k] != doc]
            if hits:
                parent[doc] = min(hits)
            for k in keys[doc]:
                owner.setdefault(k, doc)

        def root(doc):
            while doc in parent:
                doc = parent[doc]
            return doc

        want = {d: (1, root(d)) if d in parent else (0, None) for d in keys}
        got = {r.doc_id: (r.is_neardup, r.canonical_id) for r in canonicalize_flags(spark.read.parquet(f"{self.dir}/sink")).collect()}
        for r in glog["files"]:
            ok = all(got.get(d) == want.get(d) for d in r["docs"] if d in want)
            ops.check(ok, f"{r['file']}: flags differ from first-wins")
        missed = [d for d in glog["planted"] if got.get(d, (0, None))[0] != 1]
        ops.check(not missed, f"{len(missed)} planted near copies not flagged")
        ops.check(len(got) == len(want), f"sink holds {len(got)} docs, expected {len(want)}")

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        res = self.run_ladder(ctx, seconds)
        self.stop()
        self.check(ctx, res["glog"])
        return {"docs_per_s": res["sustained"], "samples": res["latency"], "drain_rates": res["rates"]}

    def traced(self, ctx: Ctx, tracer, seconds: float) -> dict:
        res = self.run_ladder(ctx, seconds)
        self.stop()
        self.check(ctx, res["glog"])
        out = dict(res["layer"])
        # the query's own progress reports are the stream's trace; there is
        # no separate traced makespan, so the overhead is zero by construction
        out["trace.untraced_s"] = out["trace.traced_s"] = res["makespan"]
        return out

    def stop(self) -> None:
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {
    "news_batch": NewsBatch,
    "news_refresh": NewsRefresh,
    "news_stream": NewsStream,
    "corpus_dedup": CorpusDedup,
}
