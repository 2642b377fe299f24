"""Dense, deterministic FIFO sequence assignment without a global sort.

The frontier's FIFO tie-break needs a total order consistent with discovery
order: new links ranked by (parent_seq, match_idx) (SURVEY.md §7.3 hard
part 3). A single un-partitioned window would serialize the whole delta
through one partition (WindowExec "No Partition Defined"); instead a
two-level prefix sum with an ORDERED partitioning of the key space.

The leading order column is an integer with a KNOWN upper bound
(parent_seq / original seq ≤ the manifest's max_seq), so
``bucket = floor(key * P / (bound+1))`` is an ordered, deterministic,
sampling-free range partitioning. One hash shuffle on the bucket id, a
bucket-partitioned ``row_number`` (never an unpartitioned window),
per-BUCKET counts → cumulative offsets in bucket order, broadcast back:
``seq = base + offset[bucket] + rn``. A sampled range partitioning would
instead re-execute the (scan + join + canonicalize) upstream of every
links/retries delta once per round just to pick bounds. The result is
exactly the dense ranks of ORDER BY (order key); correctness does not
depend on bucket balance because the key is unique.

The prepare/finalize split lets the engine fuse the per-bucket counts into
its one link/retry count job instead of paying one barrier per seq
assignment:

    prep = prepare_dense_seq(df, cols, bound=max_seq, n_parts=P)  # cached, lazy
    ... count rows per (task, _bucket) of prep in the count job ...
    out = finalize_dense_seq(prep, sizes, base)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prepare_dense_seq(
    df: DataFrame, order_cols: list[str], bound: int, n_parts: int
) -> DataFrame:
    """Bucket-partitioned, rank-tagged frame; cached, lazy.

    order_cols must form a total (duplicate-free) order. ``bound``: known
    inclusive upper bound of the (non-negative integer) leading order
    column. ``n_parts``: caller-known sizing (e.g. from an Observation
    count of the rows about to flow in) — a 20k-row retry delta should
    shuffle into a couple of buckets, not ``spark.sql.shuffle.partitions``
    of them; correctness never depends on the bucket count (offsets follow
    bucket ids). The frame carries ``_bucket`` (the ordered slice id) and
    ``_rn`` (the rank within it).
    """
    n = int(n_parts)
    bucket = F.floor(
        F.col(order_cols[0]).cast("long") * F.lit(n) / F.lit(int(bound) + 1)
    ).cast("long")
    w = Window.partitionBy("_bucket").orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_bucket", F.least(F.lit(n - 1), bucket))
        .repartition(n, "_bucket")
        .withColumn("_rn", F.row_number().over(w).cast("long"))
        .cache()
    )


def finalize_dense_seq(
    with_id: DataFrame, sizes: dict[int, int], base_seq: int
) -> DataFrame:
    """Attach the dense ``seq`` given per-bucket row counts.

    ``sizes``: {_bucket: row_count} as counted from ``with_id`` (the
    engine's link/retry count job).
    """
    spark = with_id.sparkSession
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((int(pid), acc))
        acc += int(sizes[pid])
    if not offsets:
        offsets = [(0, 0)]
    off_df = F.broadcast(spark.createDataFrame(offsets, "_bucket long, _off long"))
    out = (
        with_id.join(off_df, "_bucket")
        .withColumn("seq", F.lit(base_seq) + F.col("_off") + F.col("_rn"))
        .drop("_bucket", "_rn", "_off")
    )
    out._total = acc  # row count, free by-product of the offsets pass
    return out
