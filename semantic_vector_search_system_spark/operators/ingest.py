"""Batched ingest with throughput instrumentation (SURVEY §2.4 A7, §2.1
S8–S10, §2.9 ST1/ST5).

The reference streams encode->ingest in timed batches into a DB wrapper
(`ingestion/ingest.py:50-84`, `weaviate/client.py:60-79`,
`pinecone/client.py:61-90`) and summarizes ingestion throughput
(`ingest.py:13-29`). Spark-first:

* the "DB" is the Parquet vector index (sources/parquet_index.py); external
  vector stores plug in through :func:`foreach_partition_sink` — the
  ``foreachPartition`` connector pattern where executor-task parallelism
  replaces the reference's ThreadPoolExecutor (ST5);
* batch timings become per-partition timings collected via an accumulator-
  free pattern: a mapInPandas pass-through that emits (partition, count,
  seconds) rows alongside the write;
* the ingest summary record matches the reference's shape
  (`auto_run_tests.py:474-475`): total_items, total_time_s,
  overall_throughput_vps, db, batch_size.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def ingest_to_index(
    vectors: DataFrame,
    path: str,
    db_name: str = "parquet_index",
    batch_size: int | None = None,
    partition_by: str | None = None,
) -> Row:
    """Encode-agnostic timed ingest into the Parquet index; returns the
    reference-shaped ingest summary row (A7)."""
    from ..sources.parquet_index import read_vector_index, write_vector_index

    t0 = time.time()
    write_vector_index(vectors, path, partition_by=partition_by)
    total_time = time.time() - t0
    spark = vectors.sparkSession
    n = read_vector_index(spark, path).count()
    return Row(
        total_items=n,
        total_time_s=round(total_time, 6),
        overall_throughput_vps=round(n / total_time, 3) if total_time > 0 else None,
        db=db_name,
        batch_size=batch_size,
    )


def per_batch_timings(vectors: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Per-batch (per Arrow batch ≈ reference micro-batch) encode/ingest
    timings (`auto_run_tests.py:89-101` encode_batches records): returns
    ``(batch_count, batch_seconds)`` rows, one per processed batch."""

    def timed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t_prev = time.time()
        for pdf in batches:
            now = time.time()
            yield pd.DataFrame({"batch_count": [len(pdf)], "batch_seconds": [now - t_prev]})
            t_prev = time.time()

    return vectors.mapInPandas(timed, schema="batch_count long, batch_seconds double")


def ingest_summary_from_batches(batches: DataFrame) -> DataFrame:
    """A7: summarize per-batch rows into totals + throughput."""
    return batches.agg(
        F.sum("batch_count").alias("total_items"),
        F.sum("batch_seconds").alias("total_time_s"),
        (F.sum("batch_count") / F.sum("batch_seconds")).alias("overall_throughput_vps"),
    )


def foreach_partition_sink(
    vectors: DataFrame,
    make_client: Callable[[], object],
    upsert: Callable[[object, list], None],
    batch_size: int = 128,
) -> None:
    """S8/S9 connector pattern: per-partition client + batched upserts.

    The reference's Weaviate/Pinecone batch writers (`weaviate/client.py:60-79`,
    `pinecone/client.py:61-90`) map to ``foreachPartition``: one client per
    executor task, rows chunked into ``batch_size`` upserts; Spark's task
    parallelism replaces the explicit thread pool. The external services are
    not available here — this is exercised in tests with an in-memory client.
    """

    def handle(rows):
        client = make_client()
        buf = []
        for row in rows:
            buf.append(row)
            if len(buf) >= batch_size:
                upsert(client, buf)
                buf = []
        if buf:
            upsert(client, buf)

    vectors.foreachPartition(handle)
