"""Delivery protocol of the streaming dedup gates — the one owner of
the read / commit / drain / compact steps that the text
(streaming/neardup_gate.py), image (streaming/phash_gate.py),
embedding (streaming/semdedup_gate.py), exact-fingerprint
(streaming/fp_gate.py) and sequence (streaming/seq_near_gate.py) gates
share. Each gate module keeps only its modality: the fingerprinter,
the pruning keys, the call into its BATCH operator (parity by
construction) and its index row layout.

A gate's state is one or more persisted parquet indexes of surviving
fingerprints. Every micro-batch reads the pruned slice of history it
can collide with, gates against it, writes its survivors and appends
their index rows.

Delivery class — exactly-once EFFECTIVE output:

- a committed micro-batch is never replayed (the ``AvailableNow``
  checkpoint of :func:`drain`), so re-running over an unchanged source
  writes nothing;
- within a failed-and-retried batch both sinks are idempotent BY KEY
  rather than append-only. Survivors overwrite their own
  ``_batch_id=N`` partition of the output (dynamic partition
  overwrite, :func:`commit_batch`), so a retry replaces its earlier
  partial output instead of duplicating it. Index rows carry
  ``_batch_id`` and every history read EXCLUDES the current batch id
  (:func:`history`), so a retry that crashed after a partial or
  complete index append re-derives the identical survivor set — its
  own half-written rows can never veto it — and its re-append only
  duplicates rows within the same batch id, which the gates'
  distinct/anti-join semantics make harmless.

Either failure order (output-then-index or index-then-output)
therefore converges to the same final state on retry.

A missing index, or an index directory holding no data files (a first
append that failed leaves only ``_temporary/``), reads as empty
history; any other read error fails the batch, because gating against
a silently-empty history would re-admit every duplicate ever ingested.

``localCheckpoint`` severs lineage inside a batch: both sinks reuse
the materialized survivors, and an index append must not re-read the
index being written. ``DataFrame.unpersist()`` does not free
localCheckpoint blocks, so :func:`released_checkpoints` frees them by
diffing ``getPersistentRDDs`` (the operators/tokenize.py trainer
pattern); without it a long drain strands one pinned RDD per
micro-batch.

Compaction (:func:`compact_index`) collapses retry duplicates of a
long-lived index to one row per logical key into a NEW immutable
directory with the same partitioning. Never in place: readers of the
old index stay consistent, and the caller switches paths between
drains (no concurrent writer). It keeps the MIN id per key, so the
gate's keep-first representative is unchanged, and the MAX
``_batch_id``: by switch time those batches are checkpoint-committed,
so own-batch exclusion can never re-fire for them.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_COL = "_batch_id"

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
_MISSING = ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")


def read_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """The parquet table at ``path``, or None when it does not exist
    yet or holds no data files. Any other read error is raised."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if any(m in str(e) for m in _MISSING):
            return None
        raise


def read_index(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """The persisted index typed by ``schema``, or an empty ``schema``
    frame before the first batch commits (see :func:`read_table`).
    The schema, not inference, types the partition columns: inferred,
    a string prefix index whose directories are all ``pb=00``-like
    reads as int 0 and would be rewritten as ``pb=0``."""
    idx = read_table(spark, path, schema)
    return spark.createDataFrame([], schema) if idx is None else idx


def key_filter(col: str, values: list) -> Column:
    """``col IN values`` as a partition predicate; an empty list reads
    no partition at all."""
    return F.col(col).isin(values) if values else F.lit(False)


def band_filter(pairs: list[tuple[int, int]]) -> Column:
    """Partition predicate over ``(band_idx, pb)`` pairs — one
    ``band_idx = k AND pb IN (...)`` leg per band, visible as
    PartitionFilters in the scan node."""
    by_band: dict[int, list[int]] = {}
    for band_idx, pb in pairs:
        by_band.setdefault(band_idx, []).append(pb)
    legs = [
        (F.col("band_idx") == band_idx) & F.col("pb").isin(pbs)
        for band_idx, pbs in by_band.items()
    ]
    return reduce(lambda a, b: a | b, legs) if legs else F.lit(False)


def band_pairs(index_rows: DataFrame) -> list[tuple[int, int]]:
    """Distinct ``(band_idx, pb)`` pairs of a batch's own index rows —
    the partitions it can touch. The collect is metadata-sized by
    construction: at most bands x 256 rows regardless of batch size."""
    pairs = index_rows.select("band_idx", "pb").distinct().collect()
    return [(r["band_idx"], r["pb"]) for r in pairs]


def history(
    idx: DataFrame, keep: Column | None, exclude_batch_id: int | None
) -> DataFrame:
    """The slice of ``idx`` a batch gates against: rows matching the
    ``keep`` pruning predicate, minus the batch's own (possibly
    partial) appends from an earlier attempt."""
    if keep is not None:
        idx = idx.where(keep)
    if exclude_batch_id is not None:
        idx = idx.where(F.col(BATCH_COL) != F.lit(exclude_batch_id))
    return idx


@contextmanager
def released_checkpoints(spark: SparkSession) -> Iterator[None]:
    """Free every localCheckpoint / persisted block created inside the
    block when it exits, on success or failure."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    try:
        yield
    finally:
        m = jsc.getPersistentRDDs()
        for rid in set(m.keySet().toArray()) - before:
            rdd = m.get(rid)
            if rdd is not None:
                rdd.unpersist(False)


def commit_batch(
    batch_id: int,
    out_path: str,
    survivors: DataFrame,
    *appends: tuple[DataFrame, str, list[str]],
) -> None:
    """Overwrite the batch's own ``_batch_id`` partition of
    ``out_path`` with ``survivors``, then append each
    ``(rows, index_path, partition_cols)`` to its index. The session's
    partition overwrite mode is restored afterwards."""
    spark = survivors.sparkSession
    prev_mode = spark.conf.get(_OVERWRITE_MODE, "static")
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        (
            survivors.withColumn(BATCH_COL, F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL)
            .parquet(out_path)
        )
        for rows, index_path, partition_cols in appends:
            rows.write.mode("append").partitionBy(*partition_cols).parquet(
                index_path
            )
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev_mode)


def drain(
    stream: DataFrame,
    checkpoint: str,
    batch_fn: Callable[[DataFrame, int], None],
) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` over every micro-batch
    available now, checkpointed at ``checkpoint``, and wait for it."""
    (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_index(
    spark: SparkSession,
    index_path: str,
    dest_path: str,
    schema: T.StructType,
    partition_cols: list[str],
    id_col: str | None = None,
) -> None:
    """Write one row per logical key of the index at ``index_path`` to
    the new directory ``dest_path`` (raises if it exists). The key is
    every ``schema`` column except ``id_col`` and ``_batch_id``;
    ``id_col`` keeps its MIN and ``_batch_id`` its MAX."""
    cols = schema.fieldNames()
    keys = [c for c in cols if c not in (id_col, BATCH_COL)]
    aggs = [F.max(BATCH_COL).alias(BATCH_COL)]
    if id_col is not None:
        aggs.append(F.min(id_col).alias(id_col))
    (
        read_index(spark, index_path, schema)
        .groupBy(*keys)
        .agg(*aggs)
        .select(*cols)
        .write.mode("error")
        .partitionBy(*partition_cols)
        .parquet(dest_path)
    )
