"""Scalable dense sequence numbering — the counter semantics (A2).

The reference bumps an in-memory counter per work-mode over a sorted file
list (gui/processing_worker.py:320-322); with sorted input that is exactly
``row_number() OVER (PARTITION BY mode ORDER BY url)``.  A naive global
window collapses everything onto one task, which dies at 100 TB, so this
module implements the classic two-phase dense-rank:

  1. range-repartition a NARROW slice (keys only) by the order column —
     partition *i* holds a contiguous key range below partition *i+1*;
  2. ``row_number`` within each partition (parallel, no global shuffle);
  3. collect per-partition counts (one tiny row per partition and group),
     prefix-sum them on the driver into the offsets table, broadcast-join
     it back, add.  The offsets are a driver-local Arrow relation: Spark
     plans them as a ``LocalTableScan``, so building them starts no Spark
     job, and broadcasting them starts no Python worker.

Group columns match null-safely: rows whose group value is null (a
document without a timestamp has no year) form a group of their own, as
in SQL ``GROUP BY``, and are numbered like any other group.  A null in
the order column is refused with ``ValueError``: it has no place in the
order.

The full-width payload never moves through the numbering shuffle; numbers
re-attach with an equi-join on the unique key.  That re-attach join is
the one place the payload leaves its task, and Spark picks how from size
estimates: at 10^12 rows it is a co-shuffle (hash by key on both sides),
the standard price of attaching a global rank.  On small inputs it is
not: when the payload side is estimated under the broadcast threshold,
the join broadcasts the whole payload (``BroadcastHashJoin`` building the
left side: every extracted row is collected on the driver first, so the
extraction runs as the broadcast's collect), and the stage after it is
one task, so a naming UDF over the result runs in one Python task.

This is the engine's only numbering algorithm: it assumes nothing about
input order, so sorted tables and the job's overlapping hash chunks
number alike.
AQE partition coalescing is safe here: merged range partitions stay
contiguous, so offsets remain correct.

One key slice serves several sequences in the same order (``lp`` per
work-mode and ``lp_year`` per work-mode and year): :func:`with_sequences`
numbers them all with one pinned slice, one counts collect, one broadcast
offsets table and one re-attach join.
"""

from __future__ import annotations

from collections import Counter
from itertools import groupby
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from archvisier_spark.session import local_frame


def with_sequence(
    df: DataFrame,
    order_col: str = "url",
    partition_cols: Sequence[str] = (),
    out_col: str = "lp",
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Append a dense 1-based sequence in ``order_col`` order, restarting
    per ``partition_cols`` group, without a single-task global sort — the
    one-output form of :func:`with_sequences`."""
    return with_sequences(df, order_col, {out_col: partition_cols}, keys_df)


def with_sequences(
    df: DataFrame,
    order_col: str,
    outs: Mapping[str, Sequence[str]],
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Append one dense 1-based sequence per ``outs`` entry
    (``out_col → partition_cols``), all in ``order_col`` order, each
    restarting per its own group — from ONE pinned key slice, one counts
    collect and one payload re-attach join.

    ``keys_df``: optional cheap source of the SAME key set (must be 1:1
    with ``df`` on ``key_cols``).  When ``df`` is the output of an
    expensive transform (e.g. the extraction mapInArrow), deriving the
    counting slice from ``df`` would recompute that transform twice — pass
    the raw input keys instead (a column-pruned parquet scan of ``url``
    costs almost nothing)."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    group_cols = list(dict.fromkeys(c for cols in outs.values() for c in cols))
    key_cols = [order_col, *group_cols]

    source = keys_df if keys_df is not None else df
    slim = source.select(*key_cols).repartitionByRange(n, F.col(order_col))
    # CRITICAL: RangePartitioning samples split points PER EXECUTION — two
    # jobs over the same lazy plan can land rows in different partitions.
    # The offsets (collected below) and the __pid/__rn the join reads must
    # come from ONE materialisation, so pin the slim slice here.  Cost is
    # bounded: this is the pruned key slice, never the payload.
    # Cluster note: localCheckpoint stores blocks on executors — an
    # executor loss makes them unrecoverable (lineage is truncated).  On a
    # real cluster the same pin is a written table (the Iceberg index-
    # table analog, exactly like q_minhash_lsh_dedup's shingle table);
    # local mode has no executor loss, so the in-memory form is safe here.
    slim = slim.localCheckpoint(eager=True)
    slim = slim.withColumn("__pid", F.spark_partition_id())
    for out_col, cols in outs.items():
        w = Window.partitionBy("__pid", *cols).orderBy(order_col)
        slim = slim.withColumn(f"__rn_{out_col}", F.row_number().over(w))

    # one row per (physical partition, finest group): tiny — collect +
    # prefix-sum every output's offsets in one pid-ordered sweep
    counts = sorted(
        slim.groupBy("__pid", *group_cols)
        .agg(F.count("*").alias("__cnt"), F.count(order_col).alias("__nn"))
        .collect(),
        key=lambda r: r["__pid"],
    )
    # the re-attach join matches the order column with plain equality, so
    # a null key would silently drop its row: refuse it instead
    nulls = sum(r["__cnt"] - r["__nn"] for r in counts)
    if nulls:
        raise ValueError(
            f"with_sequences: order column {order_col!r} has {nulls} null "
            "value(s); a null key has no place in the sequence"
        )
    running = [Counter() for _ in outs]
    offset_rows = []
    for _, block in groupby(counts, key=lambda r: r["__pid"]):
        block = list(block)
        # a partition's offset in a group is the count of that group in
        # all LOWER partitions: read every offset before adding this block
        for row in block:
            offset_rows.append((
                *(row[c] for c in group_cols), row["__pid"],
                *(run[tuple(row[c] for c in cols)]
                  for run, cols in zip(running, outs.values())),
            ))
        for row in block:
            for run, cols in zip(running, outs.values()):
                run[tuple(row[c] for c in cols)] += row["__cnt"]
    # the offsets' key columns carry a prefix so that the null-safe join
    # below names each side's columns apart.  Empty input gives an empty
    # table, so the result is empty with typed bigint sequence columns.
    offsets = local_frame(spark, offset_rows, T.StructType([
        *(T.StructField(f"__o_{c}", slim.schema[c].dataType) for c in group_cols),
        T.StructField("__o_pid", T.IntegerType()),
        *(T.StructField(f"__off_{o}", T.LongType()) for o in outs),
    ]))

    # group columns match null-safely (a null year is a group of its own,
    # as in SQL GROUP BY); the partition id and the order column match
    # with plain equality
    numbered = slim.join(
        F.broadcast(offsets),
        [F.col("__pid") == F.col("__o_pid"), *_null_safe_eq(group_cols, "__o_")],
    ).select(
        *(F.col(c).alias(f"__k_{c}") for c in key_cols),
        *((F.col(f"__off_{o}") + F.col(f"__rn_{o}")).cast("long").alias(o)
          for o in outs),
    )
    payload = [c for c in df.columns if c not in key_cols]
    return df.join(
        numbered,
        [F.col(order_col) == F.col(f"__k_{order_col}"),
         *_null_safe_eq(group_cols, "__k_")],
    ).select(*key_cols, *payload, *outs)


def _null_safe_eq(cols: Sequence[str], prefix: str) -> list[Column]:
    """``c <=> {prefix}c`` for every column: nulls match each other."""
    return [F.col(c).eqNullSafe(F.col(f"{prefix}{c}")) for c in cols]
