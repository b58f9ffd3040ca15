"""Parquet sources over the driver's star schema (TESTDATA.md).

Every parquet read in the package goes through ``read_parquet``, the
one place a parquet schema is resolved. It reads the footer of the file
Spark's own schema inference would pick — a lone file as given, or the
first non-hidden data file of a flat directory in path order — with
pyarrow on the driver, and hands Spark that schema, so a read launches
no inference job. A footer written by Spark carries its schema as JSON
under ``org.apache.spark.sql.parquet.row.metadata`` and that JSON is
used, exactly as Spark's ``readSchemaFromFooter`` does. Any other
footer is converted from its Arrow schema only when every column is
int32/int64, float/double, string, bool, date32, a µs timestamp (with
or without a zone) or a list of float.

Everything else falls back to plain ``spark.read.parquet``: partition
subdirectories (hive layout), globs and URIs, summary files, an empty
or missing path, an unreadable footer, and any other type (decimal,
binary, ns or INT96 timestamps, ...). A footer with an INT64
TIMESTAMP(NANOS) column is the one case that touches the session: it
is read with ``spark.sql.legacy.parquet.nanosAsLong`` set, so the column
surfaces as bigint (``normalize_event_ts`` converts it). Spark reads
that conf when it plans the scan, so it stays set.

Scans stay plain parquet scans, so Catalyst gets predicate pushdown,
column pruning, and partition pruning for free. At 100 TB the same call
reads a partitioned/bucketed lakehouse layout through the fallback.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows always; supplier/part grow slowly with SF).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``ts`` to session-timezone TIMESTAMP (µs, LTZ).

    One reader contract for every events consumer (batch AND stream), so
    a driver-side re-encode of events.parquet can never silently skew
    one path: whatever physical encoding the file carries — int64
    nanoseconds (legacy nanosAsLong read), TIMESTAMP_NTZ µs, or LTZ µs —
    the DataFrame downstream operators see always has ``ts: timestamp``.
    Under the UTC session timezone every branch is value-preserving
    against the DuckDB oracle's naive microsecond timestamps.
    """
    dt = dict(df.dtypes).get("ts")
    if dt in (None, "timestamp"):
        return df
    from pyspark.sql import functions as F

    if dt == "bigint":
        # raw nanos: integer `div`, NOT `/` — double division loses µs
        # precision on ~1.7e18 nanosecond epochs (> 2^53). Floor-div is
        # the same truncation DuckDB applies reading NANOS into its
        # microsecond TIMESTAMP, so the oracle compare matches.
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":
        # naive µs: reinterpret in the session timezone (UTC — exactly
        # how DuckDB reads the same file), value-preserving.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(f"unsupported events.ts physical type: {dt}")


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _plain_arrow_type(t: pa.DataType) -> bool:
    """The Arrow types whose Spark conversion is known to match Spark's
    own footer conversion (the types of the committed data)."""
    if pa.types.is_list(t):
        return pa.types.is_float32(t.value_type)
    if pa.types.is_timestamp(t):
        return t.unit == "us"
    return any(
        is_(t)
        for is_ in (
            pa.types.is_int32,
            pa.types.is_int64,
            pa.types.is_float32,
            pa.types.is_float64,
            pa.types.is_string,
            pa.types.is_boolean,
            pa.types.is_date32,
        )
    )


def _first_data_file(paths: tuple[str, ...]) -> str | None:
    """The file Spark's schema inference reads for ``paths``: every
    non-hidden leaf sorted by path, summary files aside, first one
    (``ParquetUtils.splitFiles``). None wherever Spark's answer could
    differ: a glob or URI, a subdirectory (partition discovery), a
    ``_metadata``-style summary file, a missing path, no data file."""
    leaves = []
    for p in paths:
        if "://" in p or p.startswith("file:") or any(c in p for c in "*?[]{}\\"):
            return None
        if os.path.isfile(p):
            leaves.append(os.path.abspath(p))
            continue
        if not os.path.isdir(p):
            return None
        with os.scandir(p) as entries:
            for e in entries:
                name = e.name
                hidden = name.startswith(".") or name.endswith("._COPYING_") or (
                    name.startswith("_") and "=" not in name
                )
                if hidden and not name.startswith(("_metadata", "_common_metadata")):
                    continue
                if e.is_dir() or name.startswith("_"):
                    return None  # partition directory, nesting, summary file
                leaves.append(os.path.abspath(e.path))
    return min(leaves, default=None)


def _footer_schema(path: str) -> tuple[StructType | None, bool]:
    """(the Spark schema of ``path``'s footer or None if only Spark can
    convert it, whether a column is an INT64 TIMESTAMP(NANOS))."""
    meta = pq.read_metadata(path)
    kv = meta.metadata or {}
    if _SPARK_SCHEMA_KEY in kv:
        return StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY])), False
    cols = [meta.schema.column(i) for i in range(meta.num_columns)]
    arrow = meta.schema.to_arrow_schema()
    if all(c.physical_type != "INT96" for c in cols) and all(
        _plain_arrow_type(t) for t in arrow.types
    ):
        return from_arrow_schema(arrow, prefer_timestamp_ntz=True), False
    return None, any('"nanoseconds"' in c.logical_type.to_json() for c in cols)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema read from one
    footer on the driver instead of by a Spark inference job (module
    docstring: which file, which schema, and the fallback)."""
    f = _first_data_file(paths)
    try:
        schema, nanos = _footer_schema(f) if f else (None, False)
    except (OSError, ValueError, LookupError, TypeError, ImportError, pa.ArrowException):
        # an unreadable footer or schema JSON: Spark's own read gives
        # Spark's own answer or error
        schema, nanos = None, False
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    if nanos:
        spark.conf.set(_NANOS_AS_LONG, "true")
    return spark.read.parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts has changed physical encoding across driver data
    # regenerations (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs));
    # normalize_event_ts canonicalizes every encoding to TIMESTAMP.
    return normalize_event_ts(df) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every star-schema table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
