"""JSONL / JSON sources and sinks (SURVEY §2.1 S1–S3, S12–S14).

The reference reads corpora, queries and qrels as JSONL/JSON files
(`experiments/run_experiments.py:31-44`) and writes per-run result records +
summary CSVs (`auto_run_tests.py:523-586`). Spark-first: schema-pinned
``spark.read.json`` (schema inference at 100 TB is a full extra scan — never
infer in production paths) and ``DataFrameWriter`` sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """S1: JSONL document scan with pinned schema (no inference pass)."""
    return spark.read.schema(schemas.DOCUMENT).json(path)


def read_queries(spark: SparkSession, path: str) -> DataFrame:
    """S2: JSONL query scan."""
    return spark.read.schema(schemas.QUERY).json(path)


def read_qrels(spark: SparkSession, path: str) -> DataFrame:
    """S3: qrels JSON map ``qid -> [docid,...]`` exploded to (qid, docid) rows.

    The reference stores one JSON object (`run_experiments.py:44`); we read it
    as a map column and explode — the row form is what every join wants.
    """
    raw = spark.read.json(path, multiLine=True)
    qid_cols = raw.columns
    stacked = raw.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in qid_cols]),
                F.array(*[F.col(c) for c in qid_cols]),
            )
        ).alias("qid", "docids")
    )
    return stacked.select("qid", F.explode("docids").alias("docid"))


def write_qrels_rows_as_map_json(
    qrels: DataFrame, path: str, max_qids: int = 1_000_000
) -> None:
    """Inverse of :func:`read_qrels` for reference-format interchange.

    The single-JSON-object format is inherently driver-assembled, so the
    grouped rows are streamed with ``toLocalIterator`` (one partition in
    driver memory at a time, never the whole relation) and the qid count is
    capped: the reference's qrels are one-map-per-experiment small
    (``run_experiments.py:44``), and anything beyond ``max_qids`` doesn't
    belong in this interchange format — write the (qid, docid) rows as
    parquet/JSONL instead."""
    import json

    grouped = qrels.groupBy("qid").agg(F.collect_list("docid").alias("docids"))
    obj = {}
    for r in grouped.toLocalIterator():
        if len(obj) >= max_qids:
            raise ValueError(
                f"write_qrels_rows_as_map_json: more than {max_qids} qids — "
                "this driver-assembled JSON map format is for small qrels; "
                "write the row form (parquet/JSONL) for large relations"
            )
        obj[r["qid"]] = sorted(r["docids"])
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f)


def read_result_records(spark: SparkSession, results_dir: str, pattern: str = "auto_test_*.json") -> DataFrame:
    """S14: glob scan of per-run result record JSONs for reporting
    (reference `analyze_and_report.py:30-51`)."""
    return (
        spark.read.option("pathGlobFilter", pattern)
        .option("multiLine", "true")
        .json(results_dir)
    )


def write_summary_csv(df: DataFrame, path: str) -> None:
    """S13: summary CSV sink (header on, single file like the reference's
    pandas ``to_csv``)."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
