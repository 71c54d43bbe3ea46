"""Training-pair construction: deterministic negative sampling.

Contrastive objectives (CLIP-style, embedding fine-tuning, reranker
training) need k "random" negatives per anchor — but at pipeline scale
the draw must be reproducible across re-runs and partitionings, must
not collect ids to the driver, and must not degenerate into a cross
join. The construction here is a ring in a hash-shuffled order:

1. every row gets a bucket (``hash(id) % num_buckets``) and a
   pseudo-random rank inside its bucket (ordering by a second,
   independent hash — so bucket membership and order don't correlate);
2. anchor at rank r takes the rows at ranks ``r+1 .. r+k`` (mod bucket
   size) as its negatives.

Within a bucket this is a k-regular pairing of uniformly shuffled rows —
each row serves as a negative exactly k times (perfectly balanced
usage, which i.i.d. sampling does not give), and no pair repeats while
``k < bucket size``. The plan is two windows over the bucket
partitioning plus one co-partitioned equi-join on (bucket, rank) — no
driver state, no cross join, and bucket count is the knob that bounds
per-task memory at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbldatagen_spark.functions._hashing import check_hash_mode, md5_60


def contrastive_negatives(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 1,
    num_buckets: int = 64,
    seed: int = 42,
    hash_mode: str = "md5",
) -> DataFrame:
    """Return ``(anchor_id, negative_id, neg_index)`` with ``k``
    deterministic negatives per anchor (``neg_index`` in ``1..k``).

    Negatives come from the same hash bucket, at the next ``k``
    positions of the bucket's pseudo-random ring order. Self-pairs
    (possible only when a bucket has fewer than ``k+1`` rows) are
    filtered out, so tiny buckets yield fewer than ``k`` negatives —
    size ``num_buckets`` so buckets stay comfortably larger than ``k``
    (and small enough that a bucket's rows fit one task's sort; at
    100 TB raise ``num_buckets`` proportionally).

    ``hash_mode="md5"`` (default) keeps bucket assignment and ring
    order recomputable by any engine; ``xxhash64`` is the cheaper
    JVM-only variant. Everything is a pure function of
    ``(seed, id)`` — stable under repartitioning and re-runs.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    check_hash_mode(hash_mode)
    sid = F.col(id_col).cast("string")
    if hash_mode == "md5":
        bucket_hash = md5_60(F.concat_ws("-", F.lit(seed), sid))
        order_key = F.md5(F.concat_ws("-", F.lit(seed + 1), sid))
    else:
        bucket_hash = F.abs(F.xxhash64(F.lit(seed), sid))
        order_key = F.xxhash64(F.lit(seed + 1), sid).cast("string")

    base = df.select(
        F.col(id_col).alias("_id"),
        F.pmod(bucket_hash, F.lit(num_buckets)).alias("_b"),
        order_key.alias("_ord"),
    )
    w = Window.partitionBy("_b").orderBy("_ord", "_id")
    ranked = base.select(
        "_id",
        "_b",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(Window.partitionBy("_b")).alias("_n"),
    )
    anchors = ranked.select(
        F.col("_id").alias("anchor_id"),
        "_b",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_index"),
        F.col("_r"),
        F.col("_n"),
    ).withColumn(
        "_target", F.pmod(F.col("_r") - 1 + F.col("neg_index"), F.col("_n")) + 1
    )
    negs = ranked.select(
        F.col("_b").alias("_nb"),
        F.col("_r").alias("_nr"),
        F.col("_id").alias("negative_id"),
    )
    return (
        anchors.join(
            negs,
            (F.col("_b") == F.col("_nb")) & (F.col("_target") == F.col("_nr")),
        )
        .where(F.col("anchor_id") != F.col("negative_id"))
        .select("anchor_id", "negative_id", F.col("neg_index").cast("int"))
    )
