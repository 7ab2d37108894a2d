"""Seeded load generator: every workload's inputs, written to parquet.

Pages come from ``synth.synth_pages``; re-crawl picks and embeddings
from a seeded numpy generator, so the same ``(seed, sizes)`` always
writes the same tables. The program under test only ever sees these
tables; the ground-truth sidecars (``entities``, planted re-crawl and
near-duplicate urls) stay with the benchmark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from ny_campaign_finance_dedupe_spark import synth


def er_inputs(spark, out: str, seed: int, n_pages: int, *,
              null_text: bool = False) -> dict:
    """``pages`` + ``entities`` for the batch pipeline. Every page has
    text and html (``null_text_rate=0``): a page with neither has no
    content to block on, so its true pairs would only lower blocking
    recall."""
    pages, ents = synth.synth_pages(
        spark, n_pages=n_pages, seed=seed, dup_rate=0.45, null_text_rate=0.0
    )
    if null_text:
        # same pages with the extracted text dropped: the pipeline must
        # re-derive it from html byte-identically
        pages = pages.withColumn("text", F.lit(None).cast("string"))
    paths = {"pages": f"{out}/pages", "entities": f"{out}/entities"}
    pages.write.mode("overwrite").parquet(paths["pages"])
    ents.write.mode("overwrite").parquet(paths["entities"])
    return paths


# share of each crawl batch that re-crawls history byte for byte under a
# new url (the Bloom stage must suppress them), and share that re-crawls
# a history page with one token added (novel content the gazetteer
# match must link back to the page's entity)
RECRAWL_FRAC = 0.2
NEARDUP_FRAC = 0.2


def crawl_inputs(spark, out: str, seed: int, n_history: int, n_batches: int,
                 batch_pages: int) -> dict:
    """History pages plus ``n_batches`` landed batch files.

    Each batch holds ``batch_pages`` rows: ``RECRAWL_FRAC`` are
    byte-identical copies of history pages under new urls,
    ``NEARDUP_FRAC`` are copies of other history pages with one token
    appended (new content key, same entity), and the rest are fresh
    pages from another seed's stream (near-duplicates of each other and
    of nothing in history). Returns the history path, one directory per
    batch, the planted re-crawl urls, and the near-duplicate urls with
    the history urls of their entity (every acceptable match)."""
    hist, hist_ents = synth.synth_pages(
        spark, n_pages=n_history, seed=seed, dup_rate=0.45
    )
    hist.write.mode("overwrite").parquet(f"{out}/history")
    hist_ents.write.mode("overwrite").parquet(f"{out}/history_entities")
    n_recrawl = int(round(batch_pages * RECRAWL_FRAC))
    n_near = int(round(batch_pages * NEARDUP_FRAC))
    n_fresh = batch_pages - n_recrawl - n_near
    # fresh pages: another seed's stream under a distinct url path, so
    # no fresh url or text collides with history
    fresh, _ = synth.synth_pages(
        spark, n_pages=n_fresh * n_batches, seed=seed + 1, dup_rate=0.45
    )
    fresh_id = F.substring_index("url", "/", -1).cast("long")
    fresh = fresh.withColumn("batch", fresh_id % n_batches).withColumn(
        "url", F.regexp_replace("url", "/p/", "/n/")
    )
    fresh.write.mode("overwrite").partitionBy("batch").parquet(
        f"{out}/batches"
    )
    # re-crawls: copies of distinct history pages with text (a page with
    # no content has no content key to collide on), two extra part files
    # per batch directory
    hist = pq.read_table(f"{out}/history")
    hist = hist.filter(pc.is_valid(hist["text"])).sort_by("url")
    rng = np.random.default_rng(seed)
    picks = rng.choice(len(hist), (n_recrawl + n_near) * n_batches, replace=False)
    exact = _recopy(hist.take(picks[: n_recrawl * n_batches]), "recrawl")
    near = _recopy(hist.take(picks[n_recrawl * n_batches:]), "edit")
    text = pa.array([f"{t} rev{i}" for i, t in enumerate(near["text"].to_pylist())])
    html = pa.array([f"<html><body><p>{t}</p></body></html>".encode()
                     for t in text.to_pylist()])
    near = near.set_column(near.schema.get_field_index("text"), "text", text)
    near = near.set_column(near.schema.get_field_index("html"), "html", html)
    for b in range(n_batches):
        pq.write_table(exact.slice(b * n_recrawl, n_recrawl),
                       f"{out}/batches/batch={b}/recrawl.parquet")
        pq.write_table(near.slice(b * n_near, n_near),
                       f"{out}/batches/batch={b}/edit.parquet")
    pq.write_table(exact.select(["url"]), f"{out}/recrawl_urls.parquet")
    # the history urls sharing each near-duplicate's entity
    ents = dict(zip(*pq.read_table(f"{out}/history_entities")
                    .select(["url", "entity_id"]).to_pydict().values()))
    by_entity: dict[int, list[str]] = {}
    for u, e in ents.items():
        by_entity.setdefault(e, []).append(u)
    src = hist.take(picks[n_recrawl * n_batches:])["url"].to_pylist()
    pq.write_table(pa.table({
        "url": near["url"],
        "entity_urls": pa.array([sorted(by_entity[ents[u]]) for u in src]),
    }), f"{out}/neardup_urls.parquet")
    return {
        "history": f"{out}/history",
        "batches": [f"{out}/batches/batch={b}" for b in range(n_batches)],
        "recrawl_urls": f"{out}/recrawl_urls.parquet",
        "neardup_urls": f"{out}/neardup_urls.parquet",
    }


def _recopy(pages: pa.Table, tag: str) -> pa.Table:
    """History rows under new urls (``<url>?<tag>=<i>``), with warc_ts
    typed so Spark reads the file with the stream's schema."""
    urls = pa.array([f"{u}?{tag}={i}" for i, u in enumerate(pages["url"].to_pylist())])
    pages = pages.set_column(pages.schema.get_field_index("url"), "url", urls)
    # Spark wrote warc_ts as INT96, which pyarrow reads back tz-naive; as
    # a UTC-adjusted timestamp Spark reads it again as TimestampType
    ts = pages.schema.get_field_index("warc_ts")
    return pages.set_column(
        ts, "warc_ts", pages["warc_ts"].cast(pa.timestamp("us", tz="UTC")))


def corpus_inputs(spark, out: str, seed: int, pages: str, n_docs: int,
                  n_vecs: int, dim: int = 32) -> dict:
    """``docs(doc_id, text)`` for the training-data operators, and
    ``vecs(vec_id, embedding)`` for the ANN operators.

    Documents are the text of the first ``n_docs`` generated pages at
    ``pages`` (exact copies, near-duplicates and shared passages, as
    ``synth.synth_pages`` plants them). Vectors are seeded numpy: 32
    blob centres plus noise (blob members lie far below cosine 0.9 of
    each other), and about a fifth of them near-copies of an earlier
    vector (cosine above 0.999), so semantic duplicates are unambiguous
    at any eps in between."""
    doc_id = F.substring_index("url", "/", -1).cast("long")
    spark.read.parquet(pages).select(doc_id.alias("doc_id"), "text").where(
        F.col("doc_id") < n_docs
    ).write.mode("overwrite").parquet(f"{out}/docs")
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((32, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = centres[rng.integers(0, 32, n_vecs)] + 0.3 * rng.standard_normal((n_vecs, dim))
    twins = np.flatnonzero(rng.random(n_vecs) < 0.2)
    twins = twins[twins > 0]
    src = (rng.random(len(twins)) * twins).astype(np.int64)
    vecs[twins] = vecs[src] + 0.01 * rng.standard_normal((len(twins), dim))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
    }), f"{out}/vecs.parquet")
    return {"docs": f"{out}/docs", "vecs": f"{out}/vecs.parquet"}
