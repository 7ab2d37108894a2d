"""The benchmark's own tests, at small scale. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyspark.sql.functions as F
import pytest
from pyspark.sql import SparkSession

from ny_campaign_finance_dedupe_spark.plans.pipeline import DedupePipeline, PipelineConfig
from ny_campaign_finance_dedupe_spark.session import get_spark
from ny_campaign_finance_dedupe_spark.sources.checkpoint import CheckpointStore
from perfbench import gen, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    owned = SparkSession.getActiveSession() is None
    s = get_spark("perfbench-tests", shuffle_partitions=8)
    yield s
    if owned:
        s.stop()


def table_digest(spark, path: str) -> str:
    df = spark.read.parquet(path)
    return workloads.digest(df, df.columns)[0]


def test_generator_is_deterministic_per_seed(spark, tmp_path):
    a = gen.er_inputs(spark, str(tmp_path / "a"), 5, 300)
    b = gen.er_inputs(spark, str(tmp_path / "b"), 5, 300)
    c = gen.er_inputs(spark, str(tmp_path / "c"), 6, 300)
    for key in ("pages", "entities"):
        assert table_digest(spark, a[key]) == table_digest(spark, b[key])
    assert table_digest(spark, a["pages"]) != table_digest(spark, c["pages"])

    x = gen.crawl_inputs(spark, str(tmp_path / "x"), 5, 300, 2, 50)
    y = gen.crawl_inputs(spark, str(tmp_path / "y"), 5, 300, 2, 50)
    keys = ["history", "recrawl_urls", "neardup_urls"]
    for px, py in zip([*map(x.get, keys), *x["batches"]],
                      [*map(y.get, keys), *y["batches"]]):
        assert table_digest(spark, px) == table_digest(spark, py)

    u = gen.corpus_inputs(spark, str(tmp_path / "u"), 5, a["pages"], 200, 100)
    v = gen.corpus_inputs(spark, str(tmp_path / "v"), 5, b["pages"], 200, 100)
    for key in ("docs", "vecs"):
        assert table_digest(spark, u[key]) == table_digest(spark, v[key])


def test_text_nulled_input_gives_the_same_entity_map(spark, tmp_path):
    """The pipeline re-derives text from html byte-identically, so the
    entity map cannot depend on whether ``text`` was supplied."""
    got = []
    for null_text in (False, True):
        d = tmp_path / str(null_text)
        paths = gen.er_inputs(spark, str(d / "in"), 7, 400, null_text=null_text)
        pages = spark.read.parquet(paths["pages"])
        assert (pages.where(F.col("text").isNotNull()).count() == 0) == null_text
        em = DedupePipeline(PipelineConfig(), CheckpointStore(str(d / "ck"))).run(
            spark, pages)
        got.append(workloads.digest(em, ["record_id", "cluster_id"]))
    assert got[0] == got[1]
    assert got[0][1] == 400


LAYERS = {
    "er_corpus": ({"pages": 300, "docs": 200, "vecs": 200},
                  ("pipeline.", "checkpoint.", "pairs.", "er.", "corpus",
                   "dedup.", "quality.", "packing.", "ann.")),
    "crawl_ingest": ({"history": 300, "batches": 2, "batch_pages": 60},
                     ("crawl.", "incremental.", "bloom.")),
}


@pytest.mark.parametrize("name", sorted(LAYERS))
def test_traced_round_reports_every_per_layer_metric(spark, tmp_path, name):
    sizes, prefixes = LAYERS[name]
    rec = spans.Recorder(spark, traced=True)
    wl = workloads.WORKLOADS[name](spark, rec, str(tmp_path), 3, sizes)
    wl.prepare()
    wl.round(0)
    wl.round(1)
    wl.final_checks()
    assert wl.errors == []
    report = run.per_layer_report(wl, 1.0)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert {n: m["unit"] for n, m in report.items()} == listed
    assert all(m["value"] >= 0 for m in report.values())
    applies = [n for n in report if n.startswith(prefixes)]
    assert applies and all(n in wl.layer for n in applies)
    assert rec.attempted >= 2 and rec.failed == 0


def test_failed_operation_is_counted_not_timed(spark):
    rec = spans.Recorder(spark, traced=False)
    with rec.op("ok"):
        pass
    with pytest.raises(ZeroDivisionError):
        with rec.op("boom"):
            1 / 0
    assert (rec.attempted, rec.failed) == (2, 1)
    assert [s["ok"] for s in rec.spans] == [True, False]


def test_failed_round_is_counted_and_the_run_goes_on(spark):
    rec = spans.Recorder(spark, traced=False)

    class Flaky:
        def round(self, i):
            with rec.op("flaky"):
                time.sleep(0.01)
                if i == 1:
                    raise RuntimeError("boom")
            return 0.01

    errors = []
    rounds = run.timed_rounds(Flaky(), 0.2, errors)
    assert errors == ["round 1 raised"]
    assert rec.failed == 1 and len(rounds) == rec.attempted - 1 >= 2


def test_end_to_end_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.SIZES)

    class Done:
        items, latencies = 100, [2.0, 1.0, 3.0]

    report = run.end_to_end_report(5.0, [2.0, 4.0, 3.0], Done, 4, 1)
    assert {n: m["unit"] for n, m in report.items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert report["pages_per_s"]["value"] == 100 / 3.0
    assert report["success_rate"]["value"] == 0.75


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert "{" not in p.stdout
