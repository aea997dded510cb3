"""Streaming heavy-hitter tracking — Count-Min sketches over a
document stream.

The batch sketch (ext/sketches.py) answers "what are the hot tokens in
THIS corpus"; a live pipeline wants the running answer as drops arrive.
CMS mergeability makes this the cheapest stateful query in the system:
each micro-batch reduces to a PARTIAL sketch of at most d·w cells, the
partials land in `batch_id=N` directories (overwrite → replay-safe,
same idempotence architecture as streaming/corpus.py), and the current
sketch is the cell-wise SUM of all partials at read time. No stream
state store at all — the sketch IS the state, and it is bounded by
d·w·batches bytes regardless of stream volume.

At 100 TB/day: per-batch IO is O(d·w) after the map-side combine
(every task collapses to ≤ d·w cells before the exchange), landing is
one tiny file per batch, and `compact_sketch` folds history into one
d·w-row snapshot so read cost stays flat."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferdb_spark.ext.sketches import cms_sketch
from transferdb_spark.state.commit import BatchDirSwap


def ingest_sketch_stream(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
):
    """foreachBatch: reduce each micro-batch to its partial CMS and
    land it under batch_id=N (overwrite — a replayed batch rewrites
    the same cells instead of double-counting)."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        cms_sketch(batch).write.mode("overwrite").parquet(
            os.path.join(target_dir, f"batch_id={batch_id}")
        )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )


def sketch_current_state(spark: SparkSession, target_dir: str) -> DataFrame:
    """(row, col, cnt): cell-wise sum of every landed partial — the
    exact sketch of everything ingested so far."""
    return (
        spark.read.option("basePath", target_dir)
        .parquet(target_dir)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy("row", "col")
    )


def compact_sketch(spark: SparkSession, target_dir: str) -> int:
    """Fold landed partials into one snapshot; returns the number of
    batch directories folded. Read cost afterwards is one d·w-row file
    however long the stream has run.

    Same state/commit.BatchDirSwap as streaming/corpus.py
    compact_corpus: the batch list is FROZEN first and only those
    directories are read, so a batch landing mid-compaction is
    untouched (merged next time, never dropped); folded dirs are
    renamed aside (underscore prefix — the parquet reader skips them)
    before the snapshot takes the LOWEST folded id, so no reader
    window ever double-counts, and the next call finishes or undoes a
    swap a crash interrupted."""
    swap = BatchDirSwap(target_dir)
    if len(swap.batches) <= 1:
        return 0
    merged = (
        spark.read.option("basePath", target_dir)
        .parquet(*[os.path.join(target_dir, d) for d in swap.batches])
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()  # <= d*w rows
    )
    snap = spark.createDataFrame(
        [(int(r["row"]), int(r["col"]), int(r["cnt"])) for r in merged],
        "row int, col int, cnt bigint",
    )
    snap.coalesce(1).write.mode("overwrite").parquet(swap.staged)
    swap.commit(min(swap.batch_ids))
    return len(swap.batches)
