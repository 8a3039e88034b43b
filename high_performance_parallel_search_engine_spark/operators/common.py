"""Shared distributed primitives."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


# monotonically_increasing_id() = partition index << 33 | row index
_ROW_BITS = 33


def with_global_seq_counted(df: DataFrame, order_cols: list[str],
                            col_name: str = "seq",
                            offset: int = 0) -> tuple[DataFrame, int]:
    """Deterministic dense global sequence following `order_cols`, fully
    JVM-side and distributed (no single-partition sort, no Python row
    round-trip, no window): range-repartition + per-partition sort, then
    monotonically_increasing_id, which numbers rows in that sorted order
    and carries the partition index in its high bits. The sorted rows are
    checkpointed LAZILY, so the tiny per-partition count collect is also
    the job that materializes them; seq = the partition's global offset +
    the row index, a plain projection over the checkpoint. `order_cols`
    must be a unique key (both crawl callers order by one). The serial
    reference's FIFO positions become this column. Returns
    (df_with_seq, row_count).
    """
    mid = (df.repartitionByRange(*order_cols)
           .sortWithinPartitions(*order_cols)
           .withColumn("_mid", F.monotonically_increasing_id())
           .localCheckpoint(eager=False))
    pid = F.shiftright(F.col("_mid"), _ROW_BITS)
    counts = {r["_pid"]: r["n"] for r in
              mid.groupBy(pid.alias("_pid"))
              .agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    offsets = {}
    acc = offset
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    if offsets:
        omap = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv])
        off = F.coalesce(omap[pid], F.lit(0))
    else:
        off = F.lit(0)
    row = F.col("_mid").bitwiseAND(F.lit((1 << _ROW_BITS) - 1))
    out = (mid.withColumn(col_name, (row + off).cast(LongType()))
           .drop("_mid"))
    return out, total


def seen_anti_join(candidates: DataFrame, seen: DataFrame,
                   key: str = "url") -> DataFrame:
    """URL-seen dedup: exact left-anti join, bloom-accelerated (north_rule).

    The bloom pre-filter is Catalyst's own: with
    spark.sql.optimizer.runtime.bloomFilter.enabled=true (default, set
    explicitly in session.py) the optimizer injects a BloomFilterAggregate
    over the seen side and a might_contain runtime filter on the candidate
    side of this shuffle anti-join, so only ~fpp of definitely-new
    candidates pay the exact join shuffle. (bloom_filter_agg is not a
    user-registrable SQL routine in this Spark build, so we rely on the
    injected form rather than hand-rolling one; the exact anti-join remains
    the authoritative check either way - no false drops possible.)

    We additionally pre-hash the key with xxhash64 into the join so the
    shuffle exchanges 8-byte keys + url payload rather than comparing long
    strings during the hash join probe.
    """
    k = F.xxhash64(F.col(key))
    c = candidates.withColumn("_kh", k)
    s = seen.select(F.col(key), k.alias("_kh"))
    return c.join(s, ["_kh", key], "left_anti").drop("_kh")
