"""Adaptive, timezone-independent event-timestamp handling.

The driver-generated ``events.parquet`` has shipped with two different
physical encodings of the ``ts`` column across testdata regenerations:

* parquet ``TIMESTAMP(NANOS)`` — Spark's reader rejects it outright unless
  ``spark.sql.legacy.parquet.nanosAsLong=true``, after which it scans as
  ``LongType`` epoch-nanos;
* parquet ``timestamp[us]`` — Spark scans it as ``TimestampNTZType``.

An engine must absorb either (and a plain ``TimestampType``) without code
changes, so every events read funnels through :func:`normalize_event_ts`,
which branches on the *scanned* dtype rather than assuming one encoding.

The canonical form is ``TIMESTAMP_NTZ`` — the same timezone-less semantics
DuckDB gives naive timestamps — and every conversion/extraction here is
built from wall-clock arithmetic (``timestampadd``/``timestampdiff``
against an NTZ epoch literal), NEVER from session-timezone-dependent casts.
That makes query builders pure: they neither read nor mutate
``spark.sql.session.timeZone``, and their results are bit-identical under
any caller session timezone (validated by the +05:30 case in
tests/test_determinism_fuzz.py).

Structured Streaming is the one place an instant (``TIMESTAMP``) type is
mandatory — watermarks reject NTZ event time — so :func:`as_instant`
manufactures the instant from epoch micros (``timestamp_micros``), which
is also session-independent: the instant always equals the stored wall
clock read as UTC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

# Wall-clock epoch anchor for timestampadd/timestampdiff arithmetic.
EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_us(col: str = "ts") -> Column:
    """Epoch microseconds of an NTZ column (wall clock read as UTC),
    independent of the session timezone. ``col`` is a column name usable in
    SQL (the catalog only needs simple names)."""
    return F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, {col})")


def hour_epoch_s(col: str = "ts") -> Column:
    """Epoch seconds of the containing hour boundary of an NTZ column —
    ``date_trunc`` on NTZ is pure wall-clock truncation, so the result is
    session-independent (matches DuckDB ``epoch(date_trunc('hour', ts))``)."""
    return F.expr(f"timestampdiff(SECOND, {EPOCH_NTZ}, date_trunc('hour', {col}))")


def as_instant(col: str = "ts") -> Column:
    """NTZ -> TIMESTAMP (instant) with instant == wall-clock-as-UTC,
    independent of session timezone (via epoch micros, not a cast). Needed
    only where Spark demands an instant type, e.g. streaming watermarks."""
    return F.timestamp_micros(epoch_us(col))


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Return ``df`` with ``col`` as canonical TIMESTAMP_NTZ regardless of
    the physical parquet encoding it was scanned from (module docstring).
    Every branch is exact integer arithmetic — no session-timezone casts."""
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # nanos-as-long legacy scan: integer division to micros, then wall
        # clock via timestampadd against the NTZ epoch (exact).
        return df.withColumn(
            col, F.expr(f"timestampadd(MICROSECOND, {col} div 1000, {EPOCH_NTZ})")
        )
    if isinstance(dt, TimestampNTZType):
        return df
    if isinstance(dt, TimestampType):
        # instant -> its UTC wall clock (unix_micros is session-independent).
        return df.withColumn(
            col, F.expr(f"timestampadd(MICROSECOND, unix_micros({col}), {EPOCH_NTZ})")
        )
    raise TypeError(
        f"events.{col} scanned as unsupported dtype {dt}; expected "
        "LongType (nanos), TimestampNTZType, or TimestampType"
    )


def scan_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the narrow NANOS-encoding retry, schema
    un-normalized (streaming needs the physical scan schema).

    The legacy ``TIMESTAMP(NANOS)`` encoding makes the parquet scan raise
    ``AnalysisException [PARQUET_TYPE_ILLEGAL]``; ONLY that failure flips
    the legacy scan flag and retries — any other error (missing path,
    corrupt file) surfaces as-is, unretried. The flag stays set for the
    session once flipped: the returned DataFrame is lazy and every task
    re-reads the conf when converting the parquet footer, so restoring it
    here would make later actions on the result fail. The common
    (current-format) path performs no session mutation.
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        cond = exc.getCondition() if hasattr(exc, "getCondition") else None
        if cond != "PARQUET_TYPE_ILLEGAL" and "TIMESTAMP(NANOS" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read an events parquet file/dir, absorbing the NANOS encoding
    (see :func:`scan_events_raw`) and normalizing ``ts`` to TIMESTAMP_NTZ."""
    return normalize_event_ts(scan_events_raw(spark, path))
