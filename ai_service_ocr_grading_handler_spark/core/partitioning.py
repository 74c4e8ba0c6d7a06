"""Scan-width control for compute-heavy per-row stages.

The headline corpora are small-but-dense: at bench scale `documents.parquet`
is a single ~6 MB file, so a default 128 MB-split scan yields ONE task and
every narrow per-row kernel stacked on it (shingle md5, SimHash votes, LSH
signature folds, quality features) runs single-threaded on a 32-core
executor — measured 6-17 s per query at sf1.0 where the same work spread
over 32 cores takes well under a second (OPTIMIZATION_r06.md). This is the
guide's input-skew case (§2.5: "one huge unsplittable file ... repartition
immediately after the read") in miniature.

`widen_if_narrow` is scale-adaptive, not a local[32] constant: it inserts a
round-robin repartition to `defaultParallelism` ONLY when the input plan
yields fewer partitions than the executor has task slots. At 100 TB the scan
produces thousands of splits and the helper is a provable no-op (no shuffle
added); on a narrow input the shuffle it adds is exactly the rows the
kernel must read anyway — a few MB moved once so the expensive stage uses
the whole machine.

`fanout_repartition` is the other half: the exchange in front of a stage
whose few input rows each fan out into many rows of work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def widen_if_narrow(
    df: DataFrame, by: Column | None = None, probe: DataFrame | None = None
) -> DataFrame:
    """Repartition `df` to ``defaultParallelism`` before a compute-heavy
    per-row stage, but ONLY when its current plan yields fewer partitions
    than that (otherwise return it unchanged — at production scale the scan
    is already wide and adding an exchange would cost a full shuffle for
    nothing).

    ``by``: optional partitioning column (hash partitioning, deterministic
    per key); default is keyless round-robin, which balances perfectly and
    stays deterministic under task retry via Spark's sort-before-repartition
    (SPARK-23207, on by default).

    ``probe``: plan whose partition count stands in for `df`'s. Use when
    `df` contains a join: probing a broadcast-join plan via ``.rdd``
    materializes the broadcast side eagerly (BroadcastExchange runs a job
    at RDD-construction time), which would execute part of the query at
    plan-build time. Probe the scan side instead — same width answer, no
    eager work.
    """
    spark = df.sparkSession
    try:
        par = int(spark.sparkContext.defaultParallelism)
        cur = int((probe if probe is not None else df).rdd.getNumPartitions())
    except Exception:  # pragma: no cover - Connect: no sparkContext/rdd
        return df
    if cur >= par:
        return df
    return df.repartition(par) if by is None else df.repartition(par, by)


def fanout_repartition(df: DataFrame, *keys: Column) -> DataFrame:
    """Hash-repartition `df` on `keys` into exactly ``defaultParallelism``
    partitions, in front of a stage whose rows each fan out into far more
    work than their bytes suggest (a bucket row exploding into its k² pairs,
    a group running a pure-Python kernel).

    The explicit N is the point: AQE coalesces shuffle partitions by BYTES,
    and such a shuffle is tiny in bytes, so a keys-only exchange collapses
    to ~1 partition and the whole fan-out runs as ONE task (measured 73 s
    for the lsh_neardups verify at sf1.0). A ``REPARTITION_BY_NUM``
    exchange is never coalesced, so the fan-out keeps one task per slot.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *keys)
