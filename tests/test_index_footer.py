"""The parquet index's footer-schema helper, without Spark.

``parquet_index._footer_schema`` reads Spark's row schema from one data
file's footer so an index opens without a schema-inference job.  It must
pick a data file the way Spark's file index would (skipping markers,
checksums, in-flight ``_temporary`` output and hidden entries), fall back
to Spark's inference for files no Spark writer produced, and raise on a
footer it cannot read.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from semantic_vector_search_system_spark.sources.parquet_index import (
    _SPARK_ROW_META,
    _footer_schema,
)

SCHEMA = StructType([
    StructField("docid", StringType(), False),
    StructField("vec", ArrayType(DoubleType(), False), False),
    StructField("_batch", LongType(), False),
])


def _write(path, spark_meta=True):
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.table({
        "docid": ["a", "b"],
        "vec": [[1.0, 0.0], [0.0, 1.0]],
        "_batch": pa.array([0, 0], pa.int64()),
    })
    if spark_meta:
        table = table.replace_schema_metadata(
            {_SPARK_ROW_META: json.dumps(SCHEMA.jsonValue())}
        )
    pq.write_table(table, path)


def _garbage(path):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(b"this is not parquet")


def test_skips_markers_checksums_temporary_and_hidden(tmp_path):
    root = tmp_path / "index"
    # every skipped entry sorts before the data file and is unreadable, so
    # reading any of them instead would raise
    (root / "_SUCCESS").parent.mkdir(parents=True)
    (root / "_SUCCESS").write_bytes(b"")
    _garbage(root / ".part-00000.parquet.crc")
    _garbage(root / ".hidden" / "part-00000.parquet")
    _garbage(root / "_temporary" / "0" / "part-00000.parquet")
    _garbage(root / "cent_id=0" / ".part-00000.parquet.crc")
    _garbage(root / "cent_id=0" / "_temporary" / "part-00001.parquet")
    _write(root / "cent_id=0" / "part-00002.parquet")
    assert _footer_schema(str(root)) == SCHEMA


def test_single_file_and_empty_table(tmp_path):
    _write(tmp_path / "one.parquet")
    assert _footer_schema(str(tmp_path / "one.parquet")) == SCHEMA
    empty = tmp_path / "empty"
    (empty / "cent_id=1").mkdir(parents=True)
    (empty / "_SUCCESS").write_bytes(b"")
    # no data file: Spark's own inference decides (and names the error)
    assert _footer_schema(str(empty)) is None
    assert _footer_schema(str(tmp_path / "missing")) is None


def test_non_spark_file_and_non_local_paths_fall_back(tmp_path):
    _write(tmp_path / "plain" / "part-00000.parquet", spark_meta=False)
    assert _footer_schema(str(tmp_path / "plain")) is None
    _write(tmp_path / "spark" / "part-00000.parquet")
    assert _footer_schema("file://" + str(tmp_path / "spark")) is None
    assert _footer_schema("s3a://bucket/index") is None
    assert _footer_schema("relative/index") is None


def test_corrupt_footer_raises(tmp_path):
    _garbage(tmp_path / "tomb" / "part-00000.parquet")
    with pytest.raises(Exception):
        _footer_schema(str(tmp_path / "tomb"))
