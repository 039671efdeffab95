"""Partition-shape helpers.

A single parquet file with few row groups (or one fat JDBC partition)
caps scan parallelism; every narrow op downstream (hashing, casts,
dot products) then runs on a handful of cores. ``fan_out`` inserts one
cheap round-robin shuffle only when the source under-splits — on a real
cluster reading many files it is a no-op, so operators can call it
unconditionally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the source under-splits.

    Compute-heavy per-row operators (minhash, fingerprints, embedding
    arithmetic, decode UDFs) should start with this: the shuffled bytes
    are tiny relative to the per-row CPU they unlock. No-op when the
    input already has >= ``min_partitions`` (default: cluster default
    parallelism) partitions. Reading the partition count executes the
    upstream AQE shuffle stages when the input has exchanges, so callers
    should pass it materialized (e.g. localCheckpoint'd) input."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # JVM-side partition count: df.rdd would build a Python-serialized RDD
    # conversion plan per call; queryExecution().toRdd() is the InternalRow
    # RDD Spark already has.
    n = df._jdf.queryExecution().toRdd().getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target)


def assign_global_ids(df: DataFrame, order_cols: list[str | Column],
                      id_col: str = "row_id", start: int = 1,
                      num_partitions: int | None = None,
                      checkpoint: bool = True) -> DataFrame:
    """Dense global row numbers in ``order_cols`` order WITHOUT the
    single-partition window.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses
    the whole table into ONE task — the classic scale cliff when a
    pipeline needs stable example ids (sharding, pairing, reproducible
    sampling) over billions of rows. The distributed equivalent is the
    textbook two-pass:

    1. ``repartitionByRange`` on the order columns (range exchange —
       the same shuffle a global sort pays, but it is the ONLY wide op
       here) + ``sortWithinPartitions``;
    2. per-partition local ``row_number`` (window partitioned by
       ``spark_partition_id()`` — every partition numbered in
       parallel);
    3. an exclusive prefix sum over the per-partition counts — the
       counts aggregate is O(num_partitions) ROWS, collected to the
       driver (the same O(tasks)-integers class as parquet footer
       counts), prefix-summed in plain Python, and broadcast back as a
       tiny literal relation added to the local rank. Driver-side on
       purpose: the alternative is a single-partition window over the
       counts, which costs an extra exchange + WindowExec for work
       that is a 32-element cumsum.

    ``order_cols`` must be a total order (include a unique tiebreaker);
    otherwise ids among ties are nondeterministic across runs — same
    contract as the reference's deterministic write ordering
    (SURVEY §2.6 O1). Cost: one range shuffle + one broadcast join;
    nothing global ever serializes onto one core."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(n, *cols)
                .sortWithinPartitions(*cols)
                .withColumn("__pid", F.spark_partition_id()))
    local_w = Window.partitionBy("__pid").orderBy(*cols)
    # one materialization feeds BOTH the offsets aggregate and the join:
    # if the range exchange were recomputed per consumer, a task retry
    # could re-sample different range boundaries and the offsets would
    # disagree with the pids they are joined back to
    # (checkpoint=False is for plan inspection in tests only)
    local = ranged.withColumn("__lrn", F.row_number().over(local_w))
    if checkpoint:
        local = local.localCheckpoint(eager=False)
    # exclusive prefix sum over per-partition counts: O(tasks) ints to
    # the driver, cumsum in Python, back as a literal broadcast relation
    counts = sorted((r["__pid"], r["count"])
                    for r in local.groupBy("__pid").count().collect())
    offs, running = [], 0
    for pid, cnt in counts:
        offs.append((pid, running))
        running += cnt
    offsets = df.sparkSession.createDataFrame(
        offs or [(0, 0)], "__pid int, __offset long")
    return (local.join(F.broadcast(offsets), "__pid")
                 .withColumn(id_col,
                             (F.lit(start) + F.col("__offset")
                              + F.col("__lrn") - 1).cast("bigint"))
                 .drop("__pid", "__lrn", "__offset"))


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division for long columns. ``a / b`` in Spark is
    DOUBLE division; for quotients this stays exact only while the
    operands fit the 53-bit mantissa AND the true ratio is not within
    one ulp of the next integer — subtracting the remainder first makes
    the numerator an exact multiple, so the division result IS the
    quotient (no floor-of-almost-integer off-by-one at 10^12 rows)."""
    return ((a - a % b) / b).cast("long")


def distributed_ntile(df: DataFrame, order_cols: list[str | Column],
                      n_buckets: int, bucket_col: str = "bucket",
                      num_partitions: int | None = None,
                      checkpoint: bool = True) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY ...)`` WITHOUT the
    single-partition window.

    CCNet-style quality bucketing (head/middle/tail terciles over a
    corpus LM score) is the canonical user: a global ntile serializes
    100 TB through one task. The common scale answer — bucket by
    ``approx_percentile`` boundaries broadcast back — changes membership
    near the cut points (sketch error + tie handling), so results stop
    matching the exact form. This keeps EXACT ntile semantics at
    distributed cost: global dense ranks via :func:`assign_global_ids`
    (one range exchange, per-partition numbering, tiny offset
    prefix-sum) and the SQL-standard ntile bucket computed in closed
    form from (rank, total): with ``base = n div k`` and
    ``rem = n mod k``, the first ``rem`` buckets hold ``base + 1``
    rows. Total row count rides along as ``max(rank)`` — a broadcast
    1-row aggregate over the already-checkpointed ranked relation, not
    a second scan of the input.

    ``order_cols`` must be a total order (unique tiebreaker), same
    contract as ``assign_global_ids``; without it ntile itself is
    nondeterministic. Cost: one range shuffle + two broadcast joins —
    the same class as the aggregation that invariably follows."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    ranked = assign_global_ids(df, order_cols, id_col="__rn",
                               num_partitions=num_partitions,
                               checkpoint=checkpoint)
    total = ranked.agg(F.max("__rn").alias("__n"))
    out = ranked.crossJoin(F.broadcast(total))
    rn, n, k = F.col("__rn"), F.col("__n"), F.lit(n_buckets)
    base, rem = _idiv(n, k), n % k
    cut = rem * (base + 1)          # rows living in the size-(base+1) buckets
    bucket = (F.when(rn <= cut, _idiv(rn - 1, base + 1) + 1)
               .otherwise(rem + _idiv(rn - cut - 1, base) + 1))
    return (out.withColumn(bucket_col, bucket.cast("int"))
               .drop("__rn", "__n"))

