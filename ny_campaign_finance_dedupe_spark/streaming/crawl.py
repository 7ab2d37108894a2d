"""The composed incremental crawl pipeline — the production shape a
crawler actually runs, wiring three pieces that each exist (and are
tested) separately into ONE foreachBatch streaming query:

  readStream(pages)
    -> content key (ingest.keyed_pages — the batch pipeline's
       exact-identity chain, so stream and batch agree on "same page")
    -> Bloom novelty vs indexed history (operators/bloom — negatives
       are certainly novel and skip the join entirely; the small
       positive remainder pays an exact confirm anti-join against the
       history KEY projection, never the corpus)
    -> gazetteer match of the novel pages against the static blocking
       index (incremental.match_extracted — same predicates, features
       and model as batch)
    -> entity-map append: a novel page adopts its best match's url as
       cluster id (the gazetteer decision, reference api.py:612-896),
       or founds a new singleton cluster when nothing clears the
       threshold. Non-novel pages are suppressed before matching —
       that is the point of the Bloom stage at 100 TB/day.

Scale shape per micro-batch: every page is keyed ONCE — html
extraction, normalization and canonicalization run in the keying step
(novel_pages), and the ntext that key was hashed from is carried
forward, so matching never re-runs the normalize chain. The novel set
(one Arrow bloom probe, broadcast or bucket-join, size-gated —
bloom.bloom_probe's strategy knob — plus one anti-join whose history
side is the distinct key column) is the batch's ONE materialization:
the sink persists it and every branch of the match step reads the
cached rows, because the UDFs are opaque to Catalyst, which can neither
share nor eliminate their repeated calls. Matching is one stream-static
equi-join on block_key for the novel-only batch and one window rank.
History artifacts (bloom index + key projection + blocking index) are
built once per ingest epoch and persisted; between epochs they are
plain appends (parquet/Iceberg via the TableFormat seam).

Restart semantics ride the streaming checkpoint: the file source tracks
consumed files, so a restarted availableNow query resumes at the first
unseen file and never re-appends a processed batch (pinned by
test_crawl_pipeline_restart_resumes).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators import bloom
from . import incremental, ingest

def build_history_index(
    history_pages: DataFrame, *, n_buckets: int = 64
) -> tuple[DataFrame, DataFrame]:
    """History side, built once per epoch: (history_keys, bloom_index).

    ``history_keys`` is the distinct content-key projection (one 64-hex
    string per distinct page identity — the exact-confirm side);
    ``bloom_index`` is the partitioned Bloom filter over the same keys.
    Both are returned unmaterialized — persist/localCheckpoint them (or
    write via TableFormat) before probing many batches.
    """
    keys = (
        ingest.with_content_key(history_pages)
        .select("exact_key")
        .distinct()
    )
    idx = bloom.build_bloom_index(
        keys, F.col("exact_key"), n_buckets=n_buckets
    )
    return keys, idx


def novel_pages(
    batch: DataFrame,
    history_keys: DataFrame,
    bloom_index: DataFrame,
    *,
    n_buckets: int = 64,
    strategy: str = "auto",
) -> DataFrame:
    """Step 1 of the kernel: the batch's NOVEL pages as
    (url, warc_ts, lang, ntext, exact_key).

    Keys every page once (ingest.keyed_pages) and carries ``ntext`` on,
    so matching never re-runs the normalize chain. Pages whose content
    key is already in history are dropped (bloom.novel_rows: exact)."""
    keyed = ingest.keyed_pages(batch, "url", "warc_ts", "lang")
    return bloom.novel_rows(
        keyed, "exact_key", history_keys, bloom_index,
        n_buckets=n_buckets, strategy=strategy,
    )


def entity_map_rows(
    novel: DataFrame,
    index: DataFrame,
    cfg,
    *,
    threshold: float | None = None,
) -> DataFrame:
    """Step 2 of the kernel: novel pages -> entity-map rows
    (record_id, cluster_id, cluster_score, exact_key, matched).

    cluster_id is the best gazetteer match's url when one clears the
    threshold, else the page's own url (new singleton entity).
    ``cfg.lang_filter`` narrows the MATCH side only: a filtered-out
    novel page still founds its singleton row."""
    query = novel
    if cfg.lang_filter:
        query = novel.where(F.col("lang") == cfg.lang_filter)
    matches = incremental.match_extracted(
        query, index, cfg, n_matches=1, threshold=threshold
    )
    best = matches.where(F.col("rank") == 1).select(
        F.col("query_url").alias("record_id"),
        F.col("match_url"),
        F.col("score"),
    )
    return (
        novel.select(F.col("url").alias("record_id"), "exact_key")
        .join(best, "record_id", "left")
        .select(
            "record_id",
            F.coalesce(F.col("match_url"), F.col("record_id")).alias(
                "cluster_id"
            ),
            F.coalesce(F.col("score"), F.lit(1.0)).alias("cluster_score"),
            "exact_key",
            F.col("match_url").isNotNull().alias("matched"),
        )
    )


def match_novel_batch(
    batch: DataFrame,
    history_keys: DataFrame,
    bloom_index: DataFrame,
    index: DataFrame,
    cfg,
    *,
    n_buckets: int = 64,
    threshold: float | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """One micro-batch -> entity-map rows for its NOVEL pages:
    :func:`entity_map_rows` over :func:`novel_pages`, unmaterialized.

    Pages whose content key is already in history yield no row
    (suppressed). Pure DataFrame ops — the plain batch call the tests
    and the crawl_entity_map query use; the streaming sink runs the same two
    steps with the novel set persisted between them."""
    novel = novel_pages(
        batch, history_keys, bloom_index,
        n_buckets=n_buckets, strategy=strategy,
    )
    return entity_map_rows(novel, index, cfg, threshold=threshold)


def start_crawl_pipeline(
    spark,
    stream_source_dir: str,
    history_keys: DataFrame,
    bloom_index: DataFrame,
    index: DataFrame,
    cfg,
    out_dir: str,
    checkpoint_dir: str,
    pages_schema,
    *,
    n_buckets: int = 64,
    threshold: float | None = None,
    strategy: str = "auto",
    watermark: str = "1 hour",
):
    """Wire the composed query: file-source pages stream ->
    foreachBatch(novel_pages -> persist -> entity_map_rows) -> entity-map
    parquet append.

    ``trigger(availableNow)`` drains the source directory and stops, so
    repeated calls are the crawl's ingestion ticks; each restart resumes
    from ``checkpoint_dir`` (already-consumed files are never
    reprocessed, so the entity-map append is effectively exactly-once at
    file granularity). The watermark exists for the same reason as in
    start_incremental_matcher: foreachBatch itself never drops late
    rows, but a stateful stage added downstream inherits sane bounds.
    """
    if strategy == "auto":
        # The index is fixed for the query's lifetime: resolve the
        # size-gated probe strategy ONCE here instead of paying the
        # auto agg job inside every micro-batch.
        tot_bits = bloom_index.agg(F.sum("m")).collect()[0][0] or 0
        strategy = (
            "broadcast"
            if tot_bits // 8 <= bloom.BROADCAST_MAX_BYTES
            else "join"
        )
    stream = (
        spark.readStream.schema(pages_schema)
        .parquet(stream_source_dir)
        .withWatermark("warc_ts", watermark)
    )

    def sink(batch_df: DataFrame, batch_id: int):
        # the match step reads the novel set from several plan branches
        # (signatures, ntext join, block cap, final left join): persist
        # it so the keying UDFs and the Bloom probe run once per batch
        novel = novel_pages(
            batch_df, history_keys, bloom_index,
            n_buckets=n_buckets, strategy=strategy,
        ).persist()
        try:
            out = entity_map_rows(novel, index, cfg, threshold=threshold)
            out.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)
        finally:
            novel.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
