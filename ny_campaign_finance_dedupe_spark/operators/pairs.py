"""Candidate-pair generation — the blocking self-join (the heart).

Reference (J1): ``SELECT DISTINCT l.donor_id, r.donor_id FROM blocking_map
l INNER JOIN blocking_map r USING (block_key) WHERE l.donor_id <
r.donor_id`` executed inside Postgres (campaign_finance_dedupe.py:310-314;
sqlite twin dedupe/api.py:243-247).

Spark shape: equi-join on block_key (sort-merge; AQE may split skewed
partitions), triangular filter, then ``dropDuplicates`` BEFORE the
expensive scoring UDF — the invariant that each pair is scored exactly
once no matter how many keys it co-blocks under (dedupe/api.py:199-205).

Scale notes:
- blocks are pre-capped (operators/blocking.py), so per-key fan-out is
  bounded: the join output is at most max_block^2/2 x n_keys rows.
- the blocking map is persisted by the caller when used on both sides.
- skew is handled by that absolute cap plus AQE's skew-join splitting
  (session.py), not by a per-operator strategy switch: this is the
  package's one blocking self-join — the pipeline's pairs stage and the
  banded near-dup operators (operators/dedup.py) all call it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def candidate_pairs(blocking_map: DataFrame) -> DataFrame:
    """blocking_map(block_key, record_id) -> distinct (src, dst), src<dst."""
    l = blocking_map.alias("l")
    r = blocking_map.alias("r")
    return (
        l.join(r, "block_key")
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("src"),
            F.col("r.record_id").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def hydrate_pairs(
    pairs: DataFrame, records: DataFrame, id_col: str, payload_cols: list[str]
) -> DataFrame:
    """Attach both records' payloads (J2: the double join against
    processed_donors, campaign_finance_dedupe.py:314-316). Re-joining after
    the distinct keeps the pair shuffle narrow (ids only) — the reference
    makes the same call by hydrating inside the SQL after DISTINCT."""
    a = records.select(
        F.col(id_col).alias("src"), *[F.col(c).alias(f"{c}_a") for c in payload_cols]
    )
    b = records.select(
        F.col(id_col).alias("dst"), *[F.col(c).alias(f"{c}_b") for c in payload_cols]
    )
    return pairs.join(a, "src").join(b, "dst")


def record_link_pairs(bm_a: DataFrame, bm_b: DataFrame) -> DataFrame:
    """Two-dataset linkage join (J3, dedupe/api.py:392-395): A x B on
    block_key, no triangular filter (ids live in different namespaces)."""
    return (
        bm_a.select("block_key", F.col("record_id").alias("src"))
        .join(bm_b.select("block_key", F.col("record_id").alias("dst")), "block_key")
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
