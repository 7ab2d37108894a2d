"""Skew-stress bench: planted mega-domain vs uniform corpus (VERDICT
r03 #4 / north_rule skew handling).

Three configurations over the SAME page count, each in its own
subprocess (fresh JVM):

- ``uniform``:   skew 0, flagship defaults — the baseline wall-clock.
- ``mega``:      20% of pages in ONE boilerplate template domain
                 (hot domain + hot minhash bands), flagship defaults —
                 shows the absolute block cap engaging: the mega blocks
                 are DROPPED (drop counts reported) and wall-clock stays
                 at the uniform corpus's level instead of detonating on
                 a (0.2N)^2 self-join.
- ``hot_c2``:    2% of pages across 50 template families (~N*0.02/50
                 pages each), cap raised to admit them, max_component
                 below the family size — shows the plain self-join
                 (with AQE skew-join splitting) on admitted hot blocks
                 AND the C2 oversize re-threshold engaging (split
                 rounds, pre/post max cluster size).

Usage:
    python tools/skew_bench.py --pages 1000000 --cores 8
    python tools/skew_bench.py --worker --mode mega ...   (internal)

Prints one JSON line per mode; record the table in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MODES = ("uniform", "mega", "hot_c2")


def mode_params(mode: str) -> dict:
    if mode == "uniform":
        return dict(skew_domain_frac=0.0, skew_templates=1, cfg={})
    if mode == "mega":
        return dict(skew_domain_frac=0.20, skew_templates=1, cfg={})
    if mode == "hot_c2":
        return dict(
            skew_domain_frac=0.02,
            skew_templates=50,
            cfg=dict(max_block_size=2000, max_component=100),
        )
    raise ValueError(mode)


def worker(mode: str, pages_n: int, cores: int, seed: int) -> None:
    import pyspark.sql.functions as F

    from ny_campaign_finance_dedupe_spark.plans.pipeline import (
        DedupePipeline,
        PipelineConfig,
    )
    from ny_campaign_finance_dedupe_spark.session import get_spark
    from ny_campaign_finance_dedupe_spark.synth import synth_pages

    mp = mode_params(mode)
    spark = get_spark(
        f"skew-{mode}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={"spark.driver.memory": f"{4 * cores}g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages, _ = synth_pages(
        spark,
        n_pages=pages_n,
        seed=seed,
        partitions=2 * cores,
        skew_domain_frac=mp["skew_domain_frac"],
        skew_templates=mp["skew_templates"],
    )
    pages = pages.persist()
    pages.count()  # materialize outside the timed region

    cfg = PipelineConfig(**mp["cfg"])
    pipe = DedupePipeline(cfg)
    ev: dict = {}
    t0 = time.perf_counter()

    from ny_campaign_finance_dedupe_spark.operators import blocking

    ext = pipe.extract(pages).persist()
    signed = pipe.signatures(ext).persist()
    bm_raw = blocking.build_blocking_map(
        signed, "url", pipe.predicates()
    ).persist()
    raw_rows = bm_raw.count()
    sizes = bm_raw.groupBy("block_key").count().persist()
    over_cap = sizes.where(F.col("count") > cfg.max_block_size)
    ev["blocks_over_cap"] = over_cap.count()
    ev["biggest_block"] = (
        sizes.agg(F.max("count")).collect()[0][0] if raw_rows else 0
    )
    bm = blocking.cap_blocks(bm_raw, cfg.max_block_size).persist()
    ev["bm_rows_dropped_by_cap"] = raw_rows - bm.count()
    sizes.unpersist()
    bm_raw.unpersist()
    cand = pipe.gen_pairs(bm)
    scored = pipe.score(cand, ext).persist()
    ev["scored_pairs"] = scored.count()
    # drive the REAL pipeline cluster stage (cluster_edges +
    # split_oversize + add_singletons inside DedupePipeline.cluster);
    # the c2_report hook surfaces engagement off that code path instead
    # of a bench-side reimplementation that could drift
    c2: dict = {}
    em = pipe.cluster(scored, signed, c2_report=c2)
    rows = em.count()
    post_max = em.groupBy("cluster_id").count().agg(F.max("count")).collect()
    ev["post_split_max_cluster"] = post_max[0][0] if post_max else 0
    ev["pre_split_max_cluster"] = c2.get("max_cluster_round1", 0)
    ev["c2_rounds"] = c2.get("rounds", 0)
    ev["c2_oversize_round1"] = c2.get("oversize_round1", 0)
    secs = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "mode": mode,
                "pages": pages_n,
                "cores": cores,
                "secs": round(secs, 2),
                "pages_per_sec": round(pages_n / secs, 1),
                "entity_map_rows": rows,
                **ev,
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=200_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--modes", default=",".join(MODES))
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--mode")
    args = ap.parse_args()
    if args.worker:
        worker(args.mode, args.pages, args.cores, args.seed)
        return
    for mode in args.modes.split(","):
        out = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--worker",
                "--mode",
                mode,
                "--pages",
                str(args.pages),
                "--cores",
                str(args.cores),
                "--seed",
                str(args.seed),
            ],
            capture_output=True,
            text=True,
            check=False,
        )
        line = (
            out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        )
        if out.returncode != 0 or not line.startswith("{"):
            sys.stderr.write(out.stderr[-3000:])
            raise RuntimeError(f"worker {mode} failed rc={out.returncode}")
        print(line)


if __name__ == "__main__":
    main()
