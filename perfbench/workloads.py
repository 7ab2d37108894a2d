"""The workloads: inputs, one timed round, and output checks.

A workload's ``round`` is the unit the timed section repeats: one
pipeline run plus one call of each corpus operator (``er_corpus``), or
one crawl tick (``crawl_ingest``). It returns the seconds
spent inside the program's calls; the benchmark's own work (landing
files, digests, checks) is left out. Every call into the program goes
through ``Recorder.op``; per-layer figures are taken from the traced
jobs, the checkpoint store's own lineage rows and the files the program
wrote.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from ny_campaign_finance_dedupe_spark import synth
from ny_campaign_finance_dedupe_spark.operators import ann, dedup, packing, quality
from ny_campaign_finance_dedupe_spark.plans import corpus, evaluate
from ny_campaign_finance_dedupe_spark.plans.pipeline import DedupePipeline, PipelineConfig
from ny_campaign_finance_dedupe_spark.sources.checkpoint import STAGES, CheckpointStore
from ny_campaign_finance_dedupe_spark.streaming import crawl, incremental

from . import gen

STAGE_FIELDS = ["wall_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "rows_out"]
BUILD_FIELDS = ["wall_s", "cpu_s", "shuffle_write_bytes", "rows_out",
                "failed_tasks"]
OP_FIELDS = ["wall_s", "cpu_s", "shuffle_write_bytes", "rows_out"]

# the corpus operators, deployed (fast-family) settings: scope ->
# (call on the docs / vecs tables, output columns digested). Every
# output is bit-stable, so each is checked by its digest.
CORPUS_OPS = {
    "corpus.clean_corpus": (
        lambda d, v: corpus.clean_corpus(d, "doc_id", "text"),
        ["record_id", "clean_text", "n_tok"]),
    "dedup.exact_duplicates": (
        lambda d, v: dedup.exact_duplicates(d, "doc_id", "text"),
        ["record_id", "cluster_id", "cluster_size"]),
    "dedup.minhash_candidate_pairs": (
        lambda d, v: dedup.minhash_candidate_pairs(d, "doc_id", "text"),
        ["src", "dst", "est_jaccard"]),
    "dedup.simhash_near_pairs": (
        lambda d, v: dedup.simhash_near_pairs(d, "doc_id", "text"),
        ["src", "dst", "hamming"]),
    "dedup.winnow_jaccard_pairs": (
        lambda d, v: dedup.winnow_jaccard_pairs(d, "doc_id", "text"),
        ["src", "dst", "jaccard"]),
    "dedup.passage_dedup": (
        lambda d, v: dedup.passage_dedup(d, "doc_id", "text"),
        ["record_id", "clean_text", "n_tokens", "n_removed"]),
    "quality.score_text_classifier": (
        lambda d, v: quality.score_text_classifier(d, "doc_id", "text",
                                                   family="fast"),
        ["record_id", "n_feat", "logit_milli"]),
    "packing.pack_sequences": (
        lambda d, v: packing.pack_sequences(d, "doc_id", "text"),
        ["record_id", "shard", "n_tok", "seq_start", "tok_offset", "n_seqs"]),
    "ann.ivf_topk": (
        lambda d, v: ann.ivf_topk(v.where(F.col("vec_id") % 10 == 0), v,
                                  k=10, nlist=16, nprobe=4),
        ["query_id", "neighbor_id", "rank"]),
    "ann.semantic_dedup": (
        lambda d, v: ann.semantic_dedup(v, eps=0.9, nlist=16),
        ["record_id", "keeper_id", "is_dup"]),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in report order."""
    names = []
    for st in STAGES:
        names += [f"pipeline.{st}.{f}" for f in STAGE_FIELDS]
    names += [f"checkpoint.{st}.bytes" for st in STAGES]
    names += ["pipeline.overhead_s", "pipeline.failed_tasks",
              "pairs.candidates", "pairs.useful_ratio",
              "er.pairwise_f1", "er.blocking_recall"]
    for scope in ("crawl.history_index", "incremental.build_index"):
        names += [f"{scope}.{f}" for f in BUILD_FIELDS]
    names += ["crawl.index_build_s", "crawl.tick.wall_s", "crawl.tick.cpu_s",
              "crawl.tick.shuffle_read_bytes", "crawl.tick.failed_tasks",
              "bloom.novel_ratio", "incremental.matched_ratio"]
    for scope in CORPUS_OPS:
        names += [f"{scope}.{f}" for f in OP_FIELDS]
    names += ["corpus_ops.failed_tasks"]
    names += ["process.peak_rss_mb", "traced.wall_s"]

    def unit(name: str) -> str:
        if name.endswith("_s"):
            return "s"
        if name.endswith("_mb"):
            return "MiB"
        if name.endswith("bytes"):
            return "bytes"
        if name.endswith(("_ratio", "_f1", "_recall")):
            return "ratio"
        return "count"

    return {n: unit(n) for n in names}


def digest(df, cols) -> tuple[str, int]:
    """(order-insensitive content digest, row count) in one job. The
    digest is the sum of per-row xxhash64 over ``cols``, in decimal so
    the sum cannot overflow under ANSI mode."""
    h = F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    row = df.select(h, F.count(F.lit(1))).collect()[0]
    return str(row[0]), int(row[1])


def _summed(jobs: dict) -> dict:
    """Metrics of every job group an op started, summed."""
    out: dict[str, float] = {}
    for rec in jobs.values():
        for k, v in rec.items():
            out[k] = out.get(k, 0.0) + v
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*", recursive=True)
               if os.path.isfile(p))


class Workload:
    """Base: subclasses set ``items`` (input pages or documents per
    round) and implement ``prepare`` and ``round``, which returns the
    seconds spent in the program's calls."""

    items = 0
    warm_rounds = 1

    def __init__(self, spark, rec, work: str, seed: int, sizes: dict):
        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.sizes = sizes
        self.errors: list[str] = []
        self.latencies: list[float] = []  # one per repeated operation
        self.layer: dict[str, list[float]] = {}  # per-layer samples
        self.digests: dict[str, str] = {}
        self.warming = False

    def sample(self, name: str, value: float) -> None:
        if not self.warming:
            self.layer.setdefault(name, []).append(float(value))

    def warm_up(self) -> None:
        """``warm_rounds`` untimed rounds on the real inputs (codegen,
        Python workers, JIT); their latencies and samples are dropped,
        their checks kept."""
        self.warming = True
        for i in range(-self.warm_rounds, 0):
            self.round(i)
        self.warming = False
        self.latencies.clear()

    def expect_digest(self, key: str, value: str) -> None:
        """Every round must reproduce the first round's digest."""
        first = self.digests.setdefault(key, value)
        if first != value:
            self.errors.append(f"{key}: digest {value} != first round {first}")

    def final_checks(self) -> None:
        """Checks on the last round's output beyond its digests."""

    def layer_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.layer.items()}


class ErCorpusWorkload(Workload):
    """Each round runs ``DedupePipeline(PipelineConfig()).run`` over the
    generated pages, then calls every corpus operator once on the first
    pages' text (the documents) and on seeded embeddings. A corpus
    operator's output is lazy; the action that materializes it is its
    digest (one hash per output row, summed), so the operator's time
    includes that aggregation."""

    def prepare(self):
        s, spark = self.sizes, self.spark
        self.items = s["pages"] + s["docs"]
        self.paths = gen.er_inputs(spark, f"{self.work}/in", self.seed, s["pages"])
        self.paths.update(gen.corpus_inputs(
            spark, f"{self.work}/in", self.seed, self.paths["pages"],
            s["docs"], s["vecs"]))
        self.pages = spark.read.parquet(self.paths["pages"])
        self.docs = spark.read.parquet(self.paths["docs"])
        self.vecs = spark.read.parquet(self.paths["vecs"])
        self.cfg = PipelineConfig()
        self.store = None

    def round(self, i: int) -> float:
        if self.store is not None:
            shutil.rmtree(self.store.root, ignore_errors=True)
        self.store = CheckpointStore(f"{self.work}/ck{i}")
        # run() writes every stage, the entity map included, to the store
        with self.rec.op("pipeline.run", group=False) as r:
            em = DedupePipeline(self.cfg, self.store).run(self.spark, self.pages)
        self.latencies.append(r["wall_s"])
        self.expect_digest("entity_map", digest(em, ["record_id", "cluster_id"])[0])
        if "jobs" in r:
            self._trace_round(r)
        return r["wall_s"] + self._corpus_round()

    def _corpus_round(self) -> float:
        spent, failed = 0.0, 0.0
        for scope, (call, cols) in CORPUS_OPS.items():
            with self.rec.op(scope) as r:
                out = call(self.docs, self.vecs)
                d, n = digest(out, cols)
                dedup.release(out)
                ann.release_ann_broadcasts()
            spent += r["wall_s"]
            self.latencies.append(r["wall_s"])
            self.expect_digest(scope, d)
            self.sample(f"{scope}.wall_s", r["wall_s"])
            self.sample(f"{scope}.rows_out", n)
            if n == 0:
                self.errors.append(f"{scope}: empty output")
            if "jobs" in r:
                m = _summed(r["jobs"])
                for f in ("cpu_s", "shuffle_write_bytes"):
                    self.sample(f"{scope}.{f}", m.get(f, 0.0))
                failed += m.get("failed_tasks", 0.0)
        if self.rec.traced:
            self.sample("corpus_ops.failed_tasks", failed)
        return spent

    def _trace_round(self, r: dict) -> None:
        lineage = pq.read_table(str(self.store.root / "match_runs")).to_pandas()
        rows = lineage.groupby("stage")["rows_out"].sum()
        stage_wall = 0.0
        for st in STAGES:
            m = r["jobs"].get(f"pipeline:{st}", {})
            stage_wall += m.get("wall_s", 0.0)
            for f in STAGE_FIELDS[:-1]:
                self.sample(f"pipeline.{st}.{f}", m.get(f, 0.0))
            self.sample(f"pipeline.{st}.rows_out", rows.get(st, 0))
            target = self.store.fmt.target(str(self.store.root),
                                           self.store.run_id, st)
            self.sample(f"checkpoint.{st}.bytes", _dir_bytes(target))
        failed = _summed(r["jobs"]).get("failed_tasks", 0.0)
        self.sample("pipeline.overhead_s", r["wall_s"] - stage_wall)
        self.sample("pipeline.failed_tasks", failed)
        n_pairs = rows.get("pairs", 0)
        useful = (self.store.read(self.spark, "score")
                  .where(F.col("score") >= self.cfg.score_threshold).count())
        self.sample("pairs.candidates", n_pairs)
        self.sample("pairs.useful_ratio", useful / n_pairs if n_pairs else 0.0)

    def final_checks(self) -> None:
        """Pairwise F1 (at the shared blocking key, the program's own
        definition) and blocking recall of the last round against the
        generator's truth; one entity-map row per page."""
        spark = self.spark
        em = self.store.read(spark, "cluster")
        ev = evaluate.evaluate_pairs(
            evaluate.clusters_to_pairs(em),
            self.store.read(spark, "pairs"),
            synth.true_pairs(spark.read.parquet(self.paths["entities"])))
        self.sample("er.pairwise_f1", ev.f1)
        self.sample("er.blocking_recall", ev.blocking_recall)
        if ev.f1 < 0.99:
            self.errors.append(f"pairwise F1 {ev.f1:.4f} < 0.99")
        if ev.blocking_recall < 0.95:
            self.errors.append(f"blocking recall {ev.blocking_recall:.4f} < 0.95")
        n_rows, n_pages = em.count(), self.sizes["pages"]
        if n_rows != n_pages:
            self.errors.append(f"entity map has {n_rows} rows for {n_pages} pages")
        shutil.rmtree(self.store.root, ignore_errors=True)


class CrawlWorkload(Workload):
    """Build the history artifacts once (set-up: the write side), then
    each round lands the batch files one at a time and runs one
    availableNow tick of ``crawl.start_crawl_pipeline`` on each (the
    read side)."""

    # the index build warms the UDFs a tick runs; a warm-up tick would
    # add ~14 s to every run for ~3 s of first-query cost
    warm_rounds = 0

    def prepare(self):
        s, spark, root = self.sizes, self.spark, f"{self.work}/index"
        self.paths = gen.crawl_inputs(spark, f"{self.work}/in", self.seed,
                                      s["history"], s["batches"], s["batch_pages"])
        self.cfg = PipelineConfig()
        history = spark.read.parquet(self.paths["history"])
        with self.rec.op("crawl.history_index") as r_hist:
            keys, bloom_index = crawl.build_history_index(history)
            keys.write.parquet(f"{root}/keys")
            bloom_index.write.parquet(f"{root}/bloom")
        with self.rec.op("incremental.build_index") as r_idx:
            incremental.build_index(history, self.cfg).write.parquet(
                f"{root}/match")
        self.sample("crawl.index_build_s", r_hist["wall_s"] + r_idx["wall_s"])
        for scope, r in (("crawl.history_index", r_hist),
                         ("incremental.build_index", r_idx)):
            self.sample(f"{scope}.wall_s", r["wall_s"])
            if "jobs" in r:
                m = _summed(r["jobs"])
                for f in BUILD_FIELDS[1:]:
                    self.sample(f"{scope}.{f}", m.get(
                        "output_records" if f == "rows_out" else f, 0.0))
        self.keys = spark.read.parquet(f"{root}/keys")
        self.bloom_index = spark.read.parquet(f"{root}/bloom")
        self.index = spark.read.parquet(f"{root}/match")
        recrawl = set(pq.read_table(self.paths["recrawl_urls"])
                      .column("url").to_pylist())
        near = pq.read_table(self.paths["neardup_urls"]).to_pydict()
        self.neardup = {u: set(e) for u, e in zip(near["url"], near["entity_urls"])}
        self.batches = []  # (files, urls, planted re-crawl urls)
        for d in self.paths["batches"]:
            files = sorted(glob.glob(f"{d}/*.parquet"))
            urls = {u for f in files
                    for u in pq.read_table(f, columns=["url"]).column("url").to_pylist()}
            self.batches.append((files, urls, urls & recrawl))
        self.items = s["batch_pages"] * s["batches"]

    def round(self, i: int) -> float:
        return sum(self._tick(f"{self.work}/tick{i}-{b}", b, *batch)
                   for b, batch in enumerate(self.batches))

    def _tick(self, root: str, b: int, files: list, urls: set,
              recrawl: set) -> float:
        landing, out = f"{root}/landing", f"{root}/entity_map"
        os.makedirs(landing)
        for f in files:  # the crawler lands the batch
            shutil.copy(f, landing)
        with self.rec.op("crawl.tick") as r:
            q = crawl.start_crawl_pipeline(
                self.spark, landing, self.keys, self.bloom_index, self.index,
                self.cfg, out, f"{root}/stream_ckpt", synth.PAGES_SCHEMA)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"crawl tick on batch {b}: {q.exception()}")
        self.latencies.append(r["wall_s"])
        self.sample("crawl.tick.wall_s", r["wall_s"])
        if "jobs" in r:
            m = _summed(r["jobs"])
            for f in ("cpu_s", "shuffle_read_bytes", "failed_tasks"):
                self.sample(f"crawl.tick.{f}", m.get(f, 0.0))
        self._check_tick(b, out, urls, recrawl)
        shutil.rmtree(root, ignore_errors=True)
        return r["wall_s"]

    def _check_tick(self, b: int, out: str, urls: set, recrawl: set) -> None:
        """Every planted re-crawl suppressed; every novel page exactly one
        entity-map row; every planted near-duplicate matched to a history
        page of its entity; the batch's digest as on every earlier tick."""
        em = self.spark.read.parquet(out)
        rows = em.select("record_id", "cluster_id", "matched").toPandas()
        ids = rows["record_id"]
        if set(ids) & recrawl:
            self.errors.append(f"batch {b}: {len(set(ids) & recrawl)} planted "
                               "re-crawls were not suppressed")
        if ids.duplicated().any() or set(ids) != urls - recrawl:
            self.errors.append(
                f"batch {b}: {len(ids)} entity-map rows ({ids.nunique()} "
                f"distinct) for {len(urls - recrawl)} novel pages")
        linked = rows[ids.isin(self.neardup.keys())]
        wrong = [u for u, c, m in linked.itertuples(index=False)
                 if not m or c not in self.neardup[u]]
        if wrong or linked.empty:
            self.errors.append(
                f"batch {b}: {len(wrong)} of {len(linked)} planted "
                "near-duplicates not matched to a history page of their entity")
        self.sample("bloom.novel_ratio", len(ids) / len(urls))
        self.sample("incremental.matched_ratio",
                    rows["matched"].sum() / len(ids) if len(ids) else 0.0)
        self.expect_digest(f"entity_map.batch{b}",
                           digest(em, ["record_id", "cluster_id"])[0])


WORKLOADS = {
    "er_corpus": ErCorpusWorkload,
    "crawl_ingest": CrawlWorkload,
}
