"""Seeded end-to-end benchmark of the entity-resolution engine.

Run from the repository root:

    python3 perfbench/run.py --workload dupes_skewed --seed 1 --seconds 5 --trace 0

Workloads, generation parameters and pinned session settings live in
``perfbench/spec.json``. Each run

1. starts one Spark session with the pinned settings,
2. generates the workload from ``--seed`` and stages its pages as Parquet
   (several times, to time set-up by its median), then warms up,
3. drives the public APIs in a closed loop with one client for
   ``--seconds`` and at least the workload's ``min_units`` units:
   ``plans.pipeline.run_pipeline`` on a fresh ``TableIO``
   root (batch workloads), or ``streaming.incremental.score_delta_pages_batch``
   -> commit -> ``operators.scoring.match_edges`` ->
   ``operators.clustering.update_clusters`` -> commit (``delta_ingest``),
4. checks every output against the generator's ground truth, and
5. prints a human-readable report, then one JSON line with the metrics.

``--trace 1`` alternates untraced and traced iterations: the traced ones
give the per-layer metrics (see ``perfbench/spans.py``), and the difference
between the two kinds is reported as the tracing overhead.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tracing  # noqa: E402

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


# -- resource sampling from /proc ---------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _forked_jvm(pid: int, jvms: set[int]) -> bool:
    """A child the JVM has forked but not yet exec'd (it briefly shares, and
    would double-count, the JVM's whole resident set)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return False
    return ppid in jvms


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._done.wait(0.5):
            procs = descendants(me)
            jvms = {p for p in procs if _exe(p).endswith("/java")}
            self.peak = max(self.peak, sum(
                _rss_bytes(p) for p in procs
                if not (p in jvms and _forked_jvm(p, jvms))))

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=5)


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` (and anything still below this process) to end;
    SIGTERM after the session is stopped, SIGKILL past ``timeout``."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        pids = [p for p in set(pids) | set(descendants(os.getpid())) if _alive(p)]
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- helpers ------------------------------------------------------------------


def tail_stat(samples: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples above it: (value,
    percentile), or (None, None) when there are fewer than 11 samples."""
    xs = sorted(samples)
    k = len(xs) - 10
    if k < 1:
        return None, None
    return xs[k - 1], 100.0 * k / len(xs)


def check_assignment(pdf, expected: set[str]) -> str | None:
    """Output checks on a (url, cluster_id) assignment; None when it holds."""
    if pdf["url"].duplicated().any():
        return "a url has more than one cluster_id"
    got = set(pdf["url"])
    if got != expected:
        return (f"coverage: {len(expected - got)} urls missing, "
                f"{len(got - expected)} unexpected")
    heads = set(pdf.loc[pdf["url"] == pdf["cluster_id"], "url"])
    if not set(pdf["cluster_id"]) <= heads:
        return "a cluster_id is not one of its cluster's member urls"
    return None


def assignment_digest(pdf) -> str:
    rows = sorted(zip(pdf["url"], pdf["cluster_id"]))
    return hashlib.sha256("\n".join(f"{u}\t{c}" for u, c in rows).encode()).hexdigest()


class Ctx:
    """Session, modules and scratch paths shared by the workloads."""

    def __init__(self, spark, spec: dict, work: str):
        from entity_resolution_pipeline_spark.operators import clustering, scoring
        from entity_resolution_pipeline_spark.plans import evaluation, pipeline
        from entity_resolution_pipeline_spark.sources import pages, tableio
        from entity_resolution_pipeline_spark.streaming import incremental

        self.spark, self.spec, self.work = spark, spec, work
        self.pipeline, self.scoring, self.clustering = pipeline, scoring, clustering
        self.incremental, self.evaluation = incremental, evaluation
        self.TableIO = tableio.TableIO
        self.PAGES_SCHEMA = pages.PAGES_SCHEMA
        self.cfg = pipeline.PipelineConfig(**spec["pipeline"])
        self.tracer: tracing.Tracer | None = None

    def stage_pages(self, rows: list[tuple], path: str, batch_col=None) -> None:
        import pandas as pd
        from pyspark.sql.types import IntegerType, StructField, StructType
        pdf = pd.DataFrame(rows, columns=PAGE_COLS)
        if batch_col is None:
            df = self.spark.createDataFrame(pdf, schema=self.PAGES_SCHEMA)
            df.write.mode("overwrite").parquet(path)
            return
        schema = StructType(self.PAGES_SCHEMA.fields
                            + [StructField("batch", IntegerType(), False)])
        df = self.spark.createDataFrame(pdf.assign(batch=batch_col), schema=schema)
        df.repartition("batch").write.mode("overwrite").partitionBy("batch").parquet(path)

    def labeled_df(self, entity: dict, family: dict):
        import pandas as pd
        lp = pd.DataFrame(gen.labeled_pairs(entity, family),
                          columns=["url_a", "url_b", "label"])
        return self.spark.createDataFrame(lp).cache()

    def f1(self, clusters, labeled) -> float:
        return self.evaluation.pairwise_metrics(clusters, labeled).f1

    # -- tracer installation --------------------------------------------------
    def install_tracer(self, tracer: tracing.Tracer) -> None:
        pl, cl, inc = self.pipeline, self.clustering, self.incremental
        tracer.eager(pl, "run_pipeline", "pipeline")
        for fn, span, table in [
            ("stage_extract", "extract", "extract"), ("stage_blocks", "blocks", "blocks"),
            ("stage_pairs", "pairs", "pairs"), ("stage_attrs", "attrs", "attrs"),
            ("stage_scored", "score", "scored"), ("stage_clusters", "cluster", "clusters"),
        ]:
            tracer.lazy(pl, fn, span, lambda a, kw, t=table: t, under="pipeline")
        tracer.table_writes(self.TableIO)
        tracer.eager(cl, "connected_components", "cc")
        tracer.lazy(cl, "update_clusters", "delta.update", lambda a, kw: "clusters")
        tracer.lazy(inc, "corpus_er_state", "delta.state", lambda a, kw: "delta.state")
        tracer.lazy(inc, "score_delta_pages_batch", "delta.score",
                    lambda a, kw: "delta_scored")
        self.tracer = tracer

    def uninstall_tracer(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
            self.tracer = None

    def pipeline_table_stats(self, io, labeled) -> dict[str, float]:
        """Work counts read from a committed pipeline root (traced runs)."""
        from pyspark.sql import functions as F
        blocks = io.read("blocks")
        rows = blocks.count()
        unsalted = blocks.select("block_key", "url").distinct().count()
        max_bucket = blocks.groupBy("join_key").count().agg(F.max("count")).first()[0]
        pairs = io.read("pairs")
        cand = pairs.count()
        hit = pairs.join(labeled, ["url_a", "url_b"]).groupBy("label").count()
        hits = {r["label"]: r["count"] for r in hit.collect()}
        totals = {r["label"]: r["count"]
                  for r in labeled.groupBy("label").count().collect()}
        covered = hits.get(1, 0)
        scored = io.read("scored")
        srow = scored.agg(
            F.count("*").alias("n"),
            F.sum(F.col("jw_fingerprint").isNotNull().cast("int")).alias("band"),
            F.sum((F.col("p_match") >= self.cfg.threshold).cast("int")).alias("edges"),
        ).first()
        return {
            "blocks.rows": rows, "blocks.replication": rows / max(unsalted, 1),
            "blocks.max_bucket": max_bucket or 0, "pairs.candidates": cand,
            "pairs.completeness": covered / max(totals.get(1, 0), 1),
            "pairs.useful_frac": covered / max(cand, 1),
            "pairs.neg_candidate_frac": hits.get(0, 0) / max(totals.get(0, 0), 1),
            "score.band_frac": (srow["band"] or 0) / max(srow["n"], 1),
            "score.edges": srow["edges"] or 0,
        }


def stage_table_bytes(io) -> int:
    m = io._read_manifest()["committed"]
    return sum(tracing.dir_bytes(io.path(name)) for name in m)


# -- workloads ----------------------------------------------------------------


class BatchWorkload:
    """Full ``run_pipeline(resume=False)`` runs over one staged corpus."""

    def __init__(self, ctx: Ctx, wspec: dict, seed: int):
        self.ctx, self.seed = ctx, seed
        self.params = gen.DupesParams(**wspec["corpus"])
        self.warmup_pages = wspec["warmup_pages"]
        self.pages_dir = os.path.join(ctx.work, "pages")
        self.digest = None
        self.f1_by_output: dict[str, float] = {}
        self.table_stats: dict[str, float] | None = None

    def generate_and_stage(self) -> None:
        corpus, _ = gen.dupes_corpus(self.params, self.seed)
        d = corpus.digest()
        if self.digest not in (None, d):
            raise RuntimeError("generator is not deterministic for one seed")
        self.digest = d
        self.ctx.stage_pages(corpus.rows, self.pages_dir)
        self.corpus = corpus

    def prepare(self) -> None:
        self.urls = set(self.corpus.entity)
        self.n_pages = len(self.urls)
        self.input_bytes = tracing.dir_bytes(self.pages_dir)
        self.labeled = self.ctx.labeled_df(self.corpus.entity, self.corpus.family)

    def warm_up(self) -> None:
        """One pipeline run over a small corpus of the same shape: it pays
        the JVM's first-run costs (class loading, JIT, codegen) that a
        long-lived driver pays once."""
        small = gen.DupesParams(**{**self.params.__dict__,
                                   "n_pages": self.warmup_pages})
        corpus, _ = gen.dupes_corpus(small, self.seed, prefix="w")
        pages_dir = os.path.join(self.ctx.work, "warmup_pages")
        self.ctx.stage_pages(corpus.rows, pages_dir)
        root = os.path.join(self.ctx.work, "warmup")
        self._run(root, pages_dir)
        shutil.rmtree(root, ignore_errors=True)

    def _run(self, root: str, pages_dir: str | None = None):
        ctx = self.ctx
        io = ctx.TableIO(ctx.spark, root)
        pages = ctx.spark.read.parquet(pages_dir or self.pages_dir)
        t0 = time.perf_counter()
        clusters = ctx.pipeline.run_pipeline(ctx.spark, pages, io, ctx.cfg,
                                             resume=False)
        return io, clusters, time.perf_counter() - t0

    def step(self, i: int) -> dict:
        root = os.path.join(self.ctx.work, f"run{i}")
        try:
            io, clusters, dt = self._run(root)
            pdf = clusters.toPandas()
            err = check_assignment(pdf, self.urls)
            key = assignment_digest(pdf)
            if key not in self.f1_by_output:
                self.f1_by_output[key] = self.ctx.f1(clusters, self.labeled)
            out = {"latency_s": dt, "pages": self.n_pages, "error": err,
                   "f1": self.f1_by_output[key],
                   "stored_ratio": stage_table_bytes(io) / self.input_bytes}
            if self.ctx.tracer is not None and self.table_stats is None:
                self.table_stats = self.ctx.pipeline_table_stats(io, self.labeled)
            return out
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def final_f1(self) -> float | None:
        return None


class DeltaWorkload:
    """Micro-batches folded into a corpus's committed clusters."""

    def __init__(self, ctx: Ctx, wspec: dict, seed: int):
        self.ctx, self.seed = ctx, seed
        self.params = gen.DeltaParams(
            corpus=gen.DupesParams(**wspec["corpus"]),
            batch_pages=wspec["batch_pages"], n_batches=wspec["n_batches"],
            dup_frac=wspec["dup_frac"], bridge_frac=wspec["bridge_frac"])
        self.corpus_dir = os.path.join(ctx.work, "corpus_pages")
        self.delta_dir = os.path.join(ctx.work, "delta_pages")
        self.corpus_root = os.path.join(ctx.work, "corpus_root")
        self.delta_root = os.path.join(ctx.work, "delta_root")
        self.digest = None
        self.state = None
        self.table_stats: dict[str, float] | None = None
        self.scored_rows: list[tuple[int, int]] = []   # (rows, pages), traced

    def generate_and_stage(self) -> None:
        corpus, batches = gen.delta_workload(self.params, self.seed)
        d = corpus.digest() + "".join(b.digest() for b in batches)
        if self.digest not in (None, d):
            raise RuntimeError("generator is not deterministic for one seed")
        self.digest = d
        self.ctx.stage_pages(corpus.rows, self.corpus_dir)
        rows = [r for b in batches for r in b.rows]
        ids = [k for k, b in enumerate(batches) for _ in b.rows]
        self.ctx.stage_pages(rows, self.delta_dir, batch_col=ids)
        self.corpus, self.batches = corpus, batches

    def prepare(self) -> None:
        self.expected = set(self.corpus.entity)
        self.folded: list[int] = []
        self.next_batch = 0

    def warm_up(self) -> None:
        """Commit the corpus's clusters, build its static ER state, then
        fold the last generated batch (never reached by a measured run)
        into a throwaway root: the first fold of a session pays the JVM's
        first-run costs of the delta path, about 1 s more than later ones."""
        ctx = self.ctx
        shutil.rmtree(self.corpus_root, ignore_errors=True)
        io = ctx.TableIO(ctx.spark, self.corpus_root)
        pages = ctx.spark.read.parquet(self.corpus_dir)
        ctx.pipeline.run_pipeline(ctx.spark, pages, io, ctx.cfg, resume=False)
        if ctx.tracer is not None:
            labeled = ctx.labeled_df(self.corpus.entity, self.corpus.family)
            self.table_stats = ctx.pipeline_table_stats(io, labeled)
        self.prior = io.read("clusters")
        blocks, attrs = ctx.incremental.corpus_er_state(
            io.read("extract"), n_docs=len(self.corpus.rows))
        blocks.count()
        attrs.count()
        if ctx.tracer is not None:
            ctx.tracer.close("delta.state")
            ctx.uninstall_tracer()  # the warm-up fold is not a measured span
        self.state = (blocks, attrs)
        self.corpus_io = io
        root = os.path.join(ctx.work, "warmup_fold")
        self._fold(len(self.batches) - 1, root)
        shutil.rmtree(root, ignore_errors=True)

    def _fold(self, b: int, root: str):
        """Fold batch ``b`` into ``self.prior``: score -> commit ->
        match_edges -> update_clusters -> commit under ``root``. Returns
        the root's TableIO and the fold's latency."""
        ctx = self.ctx
        io = ctx.TableIO(ctx.spark, root)
        batch = ctx.spark.read.schema(ctx.PAGES_SCHEMA).parquet(
            os.path.join(self.delta_dir, f"batch={b}"))
        blocks, attrs = self.state
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("delta.batch") if tr is not None else nullcontext():
            scored = ctx.incremental.score_delta_pages_batch(batch, blocks, attrs)
            io.write("delta_scored", scored)
            ctx.scoring.release_persisted(scored)
            edges = ctx.scoring.match_edges(io.read("delta_scored"),
                                            threshold=ctx.cfg.threshold)
            new = ctx.clustering.update_clusters(self.prior, edges,
                                                 new_nodes=batch.select("url"))
            io.write("clusters", new)
            ctx.scoring.release_persisted(new)
        return io, time.perf_counter() - t0

    def step(self, i: int) -> dict:
        ctx = self.ctx
        b = self.next_batch
        if b >= len(self.batches):
            raise RuntimeError("ran out of generated delta batches")
        self.next_batch += 1
        io, dt = self._fold(b, os.path.join(self.delta_root, f"b{b:04d}"))
        n = len(self.batches[b].rows)
        self.prior = io.read("clusters")
        self.folded.append(b)
        self.expected |= set(self.batches[b].entity)
        if ctx.tracer is not None:
            self.scored_rows.append((io.read("delta_scored").count(), n))
        if len(self.folded) > 1:  # earlier versions are no longer read
            shutil.rmtree(os.path.join(self.delta_root, f"b{self.folded[-2]:04d}",
                                       "clusters"), ignore_errors=True)
        err = check_assignment(self.prior.toPandas(), self.expected)
        return {"latency_s": dt, "pages": n, "error": err}

    def final_f1(self) -> float:
        entity = dict(self.corpus.entity)
        family = dict(self.corpus.family)
        for b in self.folded:
            entity.update(self.batches[b].entity)
            family.update(self.batches[b].family)
        return self.ctx.f1(self.prior, self.ctx.labeled_df(entity, family))

    def stored_ratio(self) -> float:
        stored = stage_table_bytes(self.corpus_io) + tracing.dir_bytes(self.delta_root)
        inp = tracing.dir_bytes(self.corpus_dir) + sum(
            tracing.dir_bytes(os.path.join(self.delta_dir, f"batch={b}"))
            for b in self.folded)
        return stored / inp


# -- metrics ------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer: tracing.Tracer, wl, samples: list[dict]) -> dict[str, float]:
    """Per-layer metrics from the traced iterations (medians over runs)."""
    tracer.count_jobs()
    recs = tracer.records()
    # batch layers come from the measured runs; delta_ingest runs the
    # pipeline (and builds its state) only in set-up
    batch = isinstance(wl, BatchWorkload)
    by: dict[str, list[dict]] = {}
    for r in recs:
        name = r["name"]
        if name == "cc" and recs[r["parent"]]["name"] == "delta.update":
            name = "delta.cc"  # contracted CC of a delta fold
        # delta_ingest's pipeline and state spans exist only in set-up; its
        # fold spans come from the measured batches like everything else
        if r["run_id"].startswith("m") or (
                not batch and name in ("delta.state",) + tuple(PIPELINE_SPANS)):
            by.setdefault(name, []).append(r)

    def med(name, key):
        return median([r[key] if key != "s" else r["end"] - r["start"]
                       for r in by.get(name, [])])

    out: dict[str, float] = {}
    for span in SPANS:
        # delta spans report delta.state_s, delta.score_s, ... (underscore)
        time_key = span + ("_s" if span.startswith("delta.") else ".s")
        out[time_key] = med(span, "s")
        out[f"{span}.self_s"] = med(span, "self_s")
        out[f"{span}.jobs"] = med(span, "jobs")
        out[f"{span}.tasks"] = med(span, "tasks")
    n_pages = len(wl.corpus.rows)
    out["extract.pages_per_s"] = n_pages / out["extract.s"] if out["extract.s"] else 0.0
    stats = wl.table_stats or {}
    for k in ["blocks.rows", "blocks.replication", "blocks.max_bucket",
              "pairs.candidates", "pairs.completeness", "pairs.useful_frac",
              "pairs.neg_candidate_frac", "score.band_frac", "score.edges"]:
        out[k] = float(stats.get(k, 0.0))
    out["score.pairs_per_s"] = (out["pairs.candidates"] / out["score.s"]
                                if out["score.s"] else 0.0)
    sizes: dict[str, list[int]] = {}
    for run_id, table, nbytes in tracer.bytes:
        measured = run_id.startswith("m")
        # delta_ingest: stage tables of the set-up pipeline, folds measured
        if measured if batch else measured == (table == "delta_scored"):
            sizes.setdefault(table, []).append(nbytes)
    for table in ["extract", "blocks", "pairs", "attrs", "scored", "clusters",
                  "delta_scored"]:
        out[f"{table}.bytes"] = median(sizes.get(table, []))
    rows = getattr(wl, "scored_rows", [])
    out["delta.pairs_per_page"] = (sum(r for r, _ in rows) / sum(p for _, p in rows)
                                   if rows else 0.0)
    # tracing overhead: traced minus untraced, over the measured iterations
    tr = [s for s in samples if s["traced"] and not s["error"]]
    un = [s for s in samples if not s["traced"] and not s["error"]]
    pps = lambda ss: median([s["pages"] / s["latency_s"] for s in ss])  # noqa: E731
    lat = lambda ss: median([s["latency_s"] for s in ss])  # noqa: E731
    out["trace.overhead_pages_per_s"] = pps(tr) - pps(un) if tr and un else 0.0
    out["trace.overhead_batch_p50_s"] = lat(tr) - lat(un) if tr and un else 0.0
    # span checks per traced unit: the self times of its spans against the
    # unit's latency as the benchmark timed it (the part no span covers),
    # and spans that were closed by their root instead of by their own end
    self_sums, gaps = [], []
    for s in tr:
        spans_of = [r for r in recs if r["run_id"] == s["run_id"]]
        self_sums.append(sum(r["self_s"] for r in spans_of))
        gaps.append(s["latency_s"] - self_sums[-1])
    out["trace.self_sum_s"] = median(self_sums)
    out["trace.unattributed_s"] = median(gaps)
    out["trace.forced_spans"] = sum(1 for r in recs if r["forced"])
    out["trace.untraced_batch_p50_s"] = lat(un) if un else 0.0
    return out


PIPELINE_SPANS = ["pipeline", "extract", "blocks", "pairs", "attrs", "score",
                  "cluster", "cc"]
SPANS = PIPELINE_SPANS + ["delta.state", "delta.score", "delta.update", "delta.cc",
                          "delta.batch"]


# -- main ---------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(root: str, work: str, spec: dict) -> None:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["session"]["driver_memory"]
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(spec: dict, work: str):
    from entity_resolution_pipeline_spark.session import get_spark
    s = spec["session"]
    cores = min(s["cores"], len(os.sched_getaffinity(0)))
    conf = dict(s["conf"])
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        + s["java_options"])
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    spark = get_spark(cores=cores, shuffle_partitions=s["shuffle_partitions"],
                      app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - kill below regardless
                proc.kill()
                proc.wait(timeout=10)


def run(args, spec: dict, root: str, work: str, out_lines: list[str]) -> dict:
    wspec = spec["workloads"][args.workload]
    t0 = time.perf_counter()
    spark, cores = start_session(spec, work)
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, spec, work)
    try:
        return _measure(ctx, args, spec, wspec, session_s, cores, root, out_lines)
    finally:
        ctx.uninstall_tracer()
        started = descendants(os.getpid())
        stop_session(spark)
        reap(started)


def _measure(ctx, args, spec, wspec, session_s, cores, root, out_lines) -> dict:
    wl = (BatchWorkload if wspec["kind"] == "batch" else DeltaWorkload)(
        ctx, wspec, args.seed)
    tracer = tracing.Tracer(ctx.spark) if args.trace else None

    # set-up: generation + staging repeated (median), then one warm-up
    stage_times = []
    for _ in range(spec["stage_reps"]):
        t = time.perf_counter()
        wl.generate_and_stage()
        stage_times.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    if tracer is not None:
        tracer.run_id = "setup"
        ctx.install_tracer(tracer)
    wl.warm_up()
    ctx.uninstall_tracer()
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(stage_times) + warm_s

    samples: list[dict] = []
    start = time.perf_counter()
    i = 0
    # at least min_units units (a micro-batch is short and its latency
    # depends on what it merges), and in a traced run at least one untraced
    # and one traced unit
    min_iters = max(wspec["min_units"], 2 if args.trace else 1)
    while i < min_iters or time.perf_counter() - start < args.seconds:
        traced = bool(args.trace) and i % 2 == 1
        if traced:
            tracer.run_id = f"m{i}"
            ctx.install_tracer(tracer)
        s = {"traced": traced, "run_id": f"m{i}", "error": None,
             "latency_s": 0.0, "pages": 0}
        try:
            s.update(wl.step(i))
            if s["latency_s"] > spec["step_timeout_s"]:
                s["error"] = f"timed out ({s['latency_s']:.1f}s)"
        except Exception as e:  # noqa: BLE001 - a failed step is counted
            traceback.print_exc(file=sys.stderr)
            s["error"] = f"{type(e).__name__}: {e}"
        finally:
            ctx.uninstall_tracer()
        samples.append(s)
        i += 1

    f1s = [s["f1"] for s in samples if "f1" in s]
    final_f1 = wl.final_f1()
    if final_f1 is not None:
        f1s = [final_f1]
    ok = [s for s in samples if not s["error"]]
    lat = [s["latency_s"] for s in ok]
    pages = sum(s["pages"] for s in ok)
    tail, pct = tail_stat(lat)
    if isinstance(wl, BatchWorkload):
        pps = median([s["pages"] / s["latency_s"] for s in ok])
        stored = median([s["stored_ratio"] for s in ok])
    else:
        pps = pages / sum(lat) if lat else 0.0
        stored = wl.stored_ratio()
    failed = sum(1 for s in samples if s["error"])
    for s in samples:
        if s["error"]:
            out_lines.append(f"FAILED step: {s['error']}")

    metrics = {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (pps, "pages/s"),
        "batch_p50_s": (median(lat), "s"),
        "pairwise_f1": (median(f1s), "ratio"),
        "success_rate": (1.0 - failed / len(samples), "ratio"),
        "peak_rss_mb": (None, "MB"),   # filled by the caller
        "stored_bytes_ratio": (stored, "ratio"),
    }
    kind = "run_pipeline" if isinstance(wl, BatchWorkload) else "micro-batch"
    out_lines += [
        f"workload={args.workload} seed={args.seed} cores={cores} "
        f"shuffle_partitions={spec['session']['shuffle_partitions']} "
        f"unit={kind} attempted={len(samples)} failed={failed}",
        f"generator: {json.dumps(dataclasses.asdict(wl.params))}",
        f"error_rate = {failed / len(samples)} (failed/attempted)",
        f"setup: session {session_s:.2f}s + median generate/stage "
        f"{statistics.median(stage_times):.2f}s + warm-up {warm_s:.2f}s",
        "latencies: " + " ".join(f"{x:.3f}" for x in lat) + " s",
        "latency tail: " + (f"p{pct:.0f} = {tail:.4f}s over {len(lat)} samples"
                            if tail is not None else
                            f"n/a ({len(lat)} samples; needs at least 11)"),
    ]
    if not isinstance(wl, BatchWorkload):
        out_lines += [f"delta_batch_p50_s = {median(lat)} s",
                      f"delta_pages_per_s = {pps} pages/s",
                      f"delta batches folded = {len(wl.folded)}"]
    layer = None
    if tracer is not None:
        layer = per_layer(tracer, wl, samples)
        outdir = os.path.join(root, spec["session"]["trace_out_dir"])
        os.makedirs(outdir, exist_ok=True)
        path = os.path.join(outdir, f"spans_{args.workload}_s{args.seed}.jsonl")
        with open(path, "w") as f:
            for r in tracer.records():
                f.write(json.dumps(r) + "\n")
        out_lines.append(f"spans written to {os.path.relpath(path, root)}")
        gap, self_sum = layer["trace.unattributed_s"], layer["trace.self_sum_s"]
        spans_ok = (layer["trace.forced_spans"] == 0
                    and abs(gap) <= 0.01 * (self_sum + gap))
        out_lines += [
            f"self times of one traced unit sum to {self_sum:.3f}s; untraced unit "
            f"p50 {layer['trace.untraced_batch_p50_s']:.3f}s; tracing overhead "
            f"{layer['trace.overhead_batch_p50_s']:+.3f}s "
            f"({layer['trace.overhead_pages_per_s']:+.3f} pages/s)",
            f"span check: {'ok' if spans_ok else 'FAILED'} "
            f"({layer['trace.forced_spans']:.0f} spans closed by their root, "
            f"{gap:+.4f}s of a traced unit outside its spans; limit 1%)"]
    return {"metrics": metrics, "layer": layer, "attempted": len(samples),
            "failed": failed}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, spec["session"]["scratch_dir"],
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, root)
    try:
        import entity_resolution_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    configure_env(root, work, spec)

    sampler = RssSampler()
    sampler.start()
    lines: list[str] = []
    try:
        res = run(args, spec, root, work, lines)
    finally:
        sampler.stop()
        reap(descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    m = res["metrics"]
    m["peak_rss_mb"] = (sampler.peak / 2**20, "MB")
    for line in lines:
        print(line)
    for k, (v, unit) in m.items():
        print(f"{k} = {v} {unit}")
    if args.trace:
        for k, v in res["layer"].items():
            print(f"{k} = {v} {layer_unit(k)}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("pages_per_s"):
        return "pages/s"
    if name.endswith("pairs_per_s"):
        return "pairs/s"
    if name.endswith(".bytes"):
        return "bytes"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("replication", "completeness", "useful_frac", "band_frac",
                      "neg_candidate_frac", "pairs_per_page")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
