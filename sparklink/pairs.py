"""Candidate pair generation: the blocked self-join.

Reference SQL (mysql_example/mysql_example.py:256-264):

    SELECT DISTINCT l.donor_id, r.donor_id
    FROM blocking_map l INNER JOIN blocking_map r USING (block_key)
    WHERE l.donor_id < r.donor_id
    -- then two hydration joins back to processed_donors

Spark shape: hash-join on block_key with the ``l < r`` pair-ordering filter
(halves output, kills self-pairs — mysql_example.py:260) pushed into the
join, then ``dropDuplicates`` BEFORE hydration (dedupe of pairs reached via
multiple keys is cheaper pre-wide-join; SURVEY §4). AQE skew-join splits any
residual hot key the blocking-level cap/salt let through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklink.session import session_expr


def candidate_pairs(blocking_map: DataFrame, pair_slice: tuple[int, int] | None = None) -> DataFrame:
    """(block_key, record_id) self-join -> distinct (id_a, id_b), id_a < id_b.

    ``pair_slice=(k, K)`` keeps only pairs with xxhash64(id_a,id_b) ≡ k
    (mod K) — a deterministic disjoint partition of the pair set; the K
    slices together are exactly the full set. This is how a K-executor
    fleet divides one scoring job (each executor owns a hash range), and
    what bench.py's N-vs-4N *executor* scaling proxy uses. The filter
    runs BEFORE dropDuplicates (duplicates of a pair share its hash, so
    slice-local dedup is exact), keeping the dedup hash-agg sliced too.
    """
    l = blocking_map.select(F.col("block_key"), F.col("record_id").alias("id_a"))
    r = blocking_map.select(F.col("block_key"), F.col("record_id").alias("id_b"))
    j = l.join(r, "block_key").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    if pair_slice is not None:
        k, num = pair_slice
        j = j.filter(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(num)) == F.lit(k))
    return j.dropDuplicates(["id_a", "id_b"])


def candidate_pairs_cross(bm_left: DataFrame, bm_right: DataFrame) -> DataFrame:
    """RecordLink mode: only cross-source pairs (data_1 x data_2, never
    within — record_linkage_example/record_linkage_example.py:167 [lib])."""
    l = bm_left.select("block_key", F.col("record_id").alias("id_a"))
    r = bm_right.select("block_key", F.col("record_id").alias("id_b"))
    return l.join(r, "block_key").select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])


def hydration_side(records: DataFrame, fields: list[str], id_col: str, side: str) -> DataFrame:
    """records -> (id_<side>, <field>_<side>...), the projection built once
    per session (session.session_expr)."""
    key = ("hydrate_side", tuple(fields), id_col, side)
    cols = session_expr(
        key, lambda: [F.col(id_col).alias(f"id_{side}"), *[F.col(f).alias(f"{f}_{side}") for f in fields]]
    )
    return records.select(*cols)


def hydrate(pairs: DataFrame, records: DataFrame, fields: list[str], id_col: str = "conv_id") -> DataFrame:
    """Join field payloads for both sides (the reference's double hydration
    join, mysql_example/mysql_example.py:261-262). Only requested fields are
    selected pre-join so parquet column pruning survives."""
    a = hydration_side(records, fields, id_col, "a")
    b = hydration_side(records, fields, id_col, "b")
    return pairs.join(a, "id_a").join(b, "id_b")
