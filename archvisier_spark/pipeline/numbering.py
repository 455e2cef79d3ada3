"""Scalable dense sequence numbering — the counter semantics (A2).

The reference bumps an in-memory counter per work-mode over a sorted file
list (gui/processing_worker.py:320-322); with sorted input that is exactly
``row_number() OVER (PARTITION BY mode ORDER BY url)``.  A naive global
window collapses everything onto one task, which dies at 100 TB, so this
module implements the classic two-phase dense-rank:

  1. range-repartition a NARROW slice (keys only) by the order column —
     partition *i* holds a contiguous key range below partition *i+1*;
  2. ``row_number`` within each partition (parallel, no global shuffle);
  3. collect per-partition counts (one tiny row per partition), prefix-sum
     them on the driver, broadcast the offsets back, add.

The full-width payload never moves through the numbering shuffle; numbers
re-attach with an equi-join on the unique key.  That re-attach join is
the one place the payload crosses a shuffle (hash by key on both sides) —
at 10^12 rows it is a single well-partitioned co-shuffle, the standard
price of attaching a global rank; an Iceberg table with a url sort order
would eliminate it (ranks become a metadata-only merge on sorted scans).
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

from pyspark.sql import DataFrame, Window, functions as F


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
        slim.groupBy("__pid", *group_cols).agg(F.count("*").alias("__cnt")).collect(),
        key=lambda r: r["__pid"],
    )
    if not counts:
        # empty input: createDataFrame([]) can't infer a schema — return the
        # (empty) frame with typed null sequence columns instead of crashing
        for out_col in outs:
            df = df.withColumn(out_col, F.lit(None).cast("long"))
        return df
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
    offsets = spark.createDataFrame(
        offset_rows, [*group_cols, "__pid", *(f"__off_{o}" for o in outs)]
    )

    numbered = slim.join(F.broadcast(offsets), [*group_cols, "__pid"]).select(
        *key_cols,
        *((F.col(f"__off_{o}") + F.col(f"__rn_{o}")).cast("long").alias(o)
          for o in outs),
    )
    return df.join(numbered, key_cols)


_MID_IDX_MASK = (1 << 33) - 1  # monotonically_increasing_id: low 33 bits
#                                are the record index within the partition


def with_sequence_sorted(
    df: DataFrame,
    order_col: str = "url",
    out_col: str = "lp",
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Zero-payload-shuffle numbering for PRE-SORTED input — the Iceberg
    sort-order fast path (round-3 verdict #5).

    When the table is stored sorted by ``order_col`` (an Iceberg table
    with a url sort order; each scan partition internally sorted, the
    partitions' key ranges non-overlapping), the two-phase dense rank and
    its payload re-attach join are pure overhead.  Instead:

    1. one cheap pass over a NARROW key slice collects, per scan
       partition: row count, min/max key, and an is-sorted flag
       (one output row per partition — tiny);
    2. the driver VALIDATES the sorted contract — every partition
       internally sorted, ranges non-overlapping — and raises
       ``ValueError`` otherwise (callers fall back to
       :func:`with_sequence`); partitions are ordered by range-min (NOT
       partition id: Spark's file-split planning orders splits by size
       for bin-packing, so read order ≠ key order) and prefix-summed
       into per-partition offsets;
    3. ``out_col = offset[pid] + within-partition record index + 1``,
       entirely JVM-side: ``spark_partition_id`` +
       ``monotonically_increasing_id``'s low 33 bits + a broadcast join
       of the tiny offset table.  The payload never crosses an Exchange
       and never enters Python (plan-pinned by tests/test_plan_shapes).

    ``keys_df``: same contract as :func:`with_sequence` — a cheap 1:1 key
    source sharing ``df``'s scan lineage (the raw table under a map-only
    transform).  BOTH passes must see the same partitioning: split
    planning is deterministic for the same files and config, and a
    narrow (map-only) transform preserves scan partitions, which is
    exactly the extraction pipeline's shape.  That contract is ENFORCED
    per row, not assumed: the offsets broadcast carries each partition's
    recorded ``(count, min-key, max-key)``, and every output row must
    land inside its partition's key range (ranges are non-overlapping,
    so membership pins the pid uniquely) with a record index below the
    recorded count.  Divergences that move keys across partition
    boundaries — partition reassignment, AQE coalescing/merges of scan
    partitions, a different scan plan, per-partition count growth,
    out-of-range keys — raise at evaluation time instead of emitting
    NULL or silently wrong numbers.  Residual assumption the per-row
    guard CANNOT detect: the transform between ``keys_df`` and ``df``
    must be order- and cardinality-preserving WITHIN each partition —
    intra-partition reordering or row drops still yield in-range keys
    with in-count indices and would number silently wrong (a map-only
    transform over the same scan satisfies this by construction, which
    is the documented precondition above).  A grouped restart
    (``partition_cols``) is not offered here: a constant group (the
    flagship's ``work_mode``) doesn't need one, and a genuinely varying
    group interleaved with the sort order has no JVM-side
    within-partition-per-group index — use :func:`with_sequence`.
    """
    import pandas as pd

    spark = df.sparkSession
    slim = (keys_df if keys_df is not None else df).select(order_col)
    slim = slim.withColumn("__pid", F.spark_partition_id())

    def part_stats(batches):
        pid, cnt, mn, mx, ok, last = None, 0, None, None, True, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            vals = pdf[order_col]
            if ok and not (
                vals.is_monotonic_increasing
                and (last is None or last <= vals.iloc[0])
            ):
                ok = False
            last = vals.iloc[-1]
            bmn, bmx = vals.min(), vals.max()
            mn = bmn if mn is None or bmn < mn else mn
            mx = bmx if mx is None or bmx > mx else mx
            cnt += len(pdf)
        if cnt:
            yield pd.DataFrame(
                {"pid": [pid], "cnt": [cnt], "mn": [mn], "mx": [mx], "ok": [ok]}
            )

    dtype = df.schema[order_col].dataType.simpleString()
    stats = slim.mapInPandas(
        part_stats, f"pid int, cnt long, mn {dtype}, mx {dtype}, ok boolean"
    ).collect()
    if not stats:
        return df.withColumn(out_col, F.lit(None).cast("long"))

    bad = [r["pid"] for r in stats if not r["ok"]]
    if bad:
        raise ValueError(
            f"with_sequence_sorted: partitions {sorted(bad)[:5]} are not "
            f"internally sorted by {order_col!r} — input lacks the sort "
            "order; use with_sequence()"
        )
    ordered = sorted(stats, key=lambda r: r["mn"])
    for prev, cur in zip(ordered, ordered[1:]):
        if prev["mx"] > cur["mn"]:
            raise ValueError(
                f"with_sequence_sorted: partition key ranges overlap "
                f"({prev['mx']!r} > {cur['mn']!r}) — input is not "
                f"range-partitioned by {order_col!r}; use with_sequence()"
            )
    offset_rows, running = [], 0
    for r in ordered:
        offset_rows.append((r["pid"], running, r["cnt"], r["mn"], r["mx"]))
        running += r["cnt"]
    offsets = spark.createDataFrame(
        offset_rows,
        f"__pid int, __offset long, __cnt long, __mn {dtype}, __mx {dtype}",
    )

    # Partition-contract enforcement (round-4 ADVICE): sortedness is
    # validated on the STATS pass, but df's partition assignment could
    # diverge from it (keys_df with a different scan plan, AQE/coalesce
    # upstream, files changed between the two jobs).  Every output row
    # must therefore PROVE its placement: its key lies inside its
    # partition's recorded [mn, mx] range (ranges are validated
    # non-overlapping above, so range membership pins the pid uniquely),
    # its record index is below the recorded count (count conservation),
    # and its pid exists in the offset table at all.  Any breach raises
    # at evaluation time — never a NULL or silently wrong sequence
    # number.  Cost: three comparisons per row against broadcast
    # literals; zero extra jobs over the payload.
    idx = F.monotonically_increasing_id().bitwiseAND(F.lit(_MID_IDX_MASK))
    breach = (
        F.col("__offset").isNull()
        | (F.col("__idx") >= F.col("__cnt"))
        | (F.col(order_col) < F.col("__mn"))
        | (F.col(order_col) > F.col("__mx"))
    )
    err = F.raise_error(
        F.format_string(
            "with_sequence_sorted: partition contract breach (pid=%s, "
            f"idx=%s, {order_col}=%s) — df's partitioning diverged from "
            "the keys_df stats pass; use with_sequence()",
            F.col("__pid"), F.col("__idx"), F.col(order_col),
        )
    )
    seq = (F.col("__offset") + F.col("__idx") + 1).cast("long")
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__idx", idx)
        .join(F.broadcast(offsets), "__pid", "left")
        .withColumn(out_col, F.when(breach, err.cast("long")).otherwise(seq))
        .drop("__pid", "__idx", "__offset", "__cnt", "__mn", "__mx")
    )
