"""File sources: CSV / Parquet / JSON with fabrix's reader/writer
option structs (SURVEY.md §2.6), delegating to ``spark.read`` /
``df.write`` so Catalyst keeps pushdown, pruning and schema handling.

Reference options: CsvReadOptions (fabrix/src/sources/csv/reader.rs:193-208),
ParquetReadOptions (parquet/reader.rs:134-141), JsonReadOptions
(json/reader.rs:48-54).
"""

from __future__ import annotations

import os
import stat
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..frame import FxFrame
from ..types import ValueType, to_spark_type

__all__ = [
    "CsvReadOptions",
    "CsvWriteOptions",
    "ParquetReadOptions",
    "JsonReadOptions",
    "read_csv",
    "write_csv",
    "parquet_schema",
    "resolve_parquet",
    "read_parquet",
    "write_parquet",
    "read_json",
    "write_json",
    "read_orc",
    "write_orc",
]


def _schema_from_dtypes(dtypes: dict[str, ValueType | str]) -> T.StructType:
    return T.StructType(
        [T.StructField(n, to_spark_type(v if isinstance(v, ValueType) else ValueType(v)), True) for n, v in dtypes.items()]
    )


@dataclass
class CsvReadOptions:
    """csv/reader.rs:193-208. ``skip_rows_after_header`` and positional
    ``projection`` are re-expressed relationally (Spark rows are
    unordered); ``ignore_parser_errors`` maps to DROPMALFORMED."""

    has_header: bool = True
    delimiter: str = ","
    comment_char: str | None = None
    n_rows: int | None = None
    dtypes: dict[str, ValueType | str] | None = None
    projection: list[str] | None = None
    ignore_parser_errors: bool = False
    row_count: str | None = None  # add a row-id column with this name
    index: str | None = None


@dataclass
class CsvWriteOptions:
    has_header: bool = True
    delimiter: str = ","


@dataclass
class ParquetReadOptions:
    """parquet/reader.rs:134-141. ``row_count`` adds a row-id column
    (distributed monotonically-increasing ids, not dense)."""

    n_rows: int | None = None
    columns: list[str] | None = None
    row_count: str | None = None
    index: str | None = None


@dataclass
class JsonReadOptions:
    """json/reader.rs:48-54. ``is_json=True`` = one JSON array
    (multiLine), False = NDJSON lines."""

    is_json: bool = False
    schema: dict[str, ValueType | str] | None = None
    n_rows: int | None = None
    projection: list[str] | None = None
    index: str | None = None


def read_csv(spark: SparkSession, path: str, options: CsvReadOptions | None = None) -> FxFrame:
    o = options or CsvReadOptions()
    reader = spark.read.option("header", o.has_header).option("sep", o.delimiter)
    if o.comment_char:
        reader = reader.option("comment", o.comment_char)
    reader = reader.option("mode", "DROPMALFORMED" if o.ignore_parser_errors else "PERMISSIVE")
    if o.dtypes:
        reader = reader.schema(_schema_from_dtypes(o.dtypes))
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if o.projection:
        df = df.select(*o.projection)  # column pruning reaches the scan
    if o.n_rows is not None:
        df = df.limit(o.n_rows)
    if o.row_count:
        from pyspark.sql import functions as _F

        df = df.withColumn(o.row_count, _F.monotonically_increasing_id())
    return FxFrame(df, o.index)


def write_csv(fx: FxFrame | DataFrame, path: str, options: CsvWriteOptions | None = None, mode: str = "overwrite") -> None:
    o = options or CsvWriteOptions()
    df = fx.df if isinstance(fx, FxFrame) else fx
    df.write.mode(mode).option("header", o.has_header).option("sep", o.delimiter).csv(path)


# Session confs that change the schema parquet inference derives from
# the same footers; their values are part of a file's identity.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# path -> (identity, inferred schema); one entry per distinct path
_schemas: dict[str, tuple[tuple, T.StructType]] = {}
_schemas_lock = threading.Lock()


def _listed(name: str) -> bool:
    """Spark's file-listing rule: hidden (``.``) and ``_`` names are
    skipped, except partition dirs (``_x=1``) and parquet summaries."""
    if name.startswith(("_common_metadata", "_metadata")):
        return True
    return not (
        name.startswith(".") or (name.startswith("_") and "=" not in name) or name.endswith("._COPYING_")
    )


def _identity(path: str) -> tuple | None:
    """``(st_mtime_ns, st_size)`` of a file; the sorted ``(name, size,
    mtime_ns)`` list of the files Spark would read under a directory;
    None for a path ``os.stat`` cannot see (a remote URI, a glob)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if _listed(d)]
            for n in filter(_listed, names):
                fst = os.stat(os.path.join(root, n))
                files.append((os.path.relpath(os.path.join(root, n), path), fst.st_size, fst.st_mtime_ns))
    except (OSError, ValueError):  # unseen, or a file vanished mid-walk
        return None
    return tuple(sorted(files))


def parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark infers for the parquet file or tree ``path``,
    inferred once per identity: the file identity of :func:`_identity`
    plus the values of the session confs that change inference
    (``nanosAsLong``, ``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ``). A changed identity re-infers and replaces
    the entry. None when the schema must be inferred on every read: a
    path ``os.stat`` cannot see, or a session reading with
    ``spark.sql.parquet.mergeSchema``."""
    if spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    files = _identity(path)
    if files is None:
        return None
    ident = (files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _schemas_lock:
        hit = _schemas.get(path)
    if hit is not None and hit[0] == ident:
        return hit[1]
    # the identity is taken before inference: a file replaced meanwhile
    # leaves an entry whose identity no longer matches, never a stale hit
    schema = spark.read.parquet(path).schema
    with _schemas_lock:
        _schemas[path] = (ident, schema)
    return schema


def resolve_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that hands Spark the schema of
    :func:`parquet_schema`, so a path read before with the same
    identity and inference confs starts no schema-inference job."""
    schema = parquet_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def read_parquet(spark: SparkSession, path: str, options: ParquetReadOptions | None = None) -> FxFrame:
    """A parquet file or tree through :func:`resolve_parquet`: its
    schema is inferred once per identity — ``(st_mtime_ns, st_size)``
    for a file, the ``(name, size, mtime_ns)`` list of the visible
    files for a directory — and per value of the session confs that
    change parquet inference; a rewritten file or a changed conf infers
    again. Paths ``os.stat`` cannot see infer on every read."""
    o = options or ParquetReadOptions()
    df = resolve_parquet(spark, path)
    if o.columns:
        df = df.select(*o.columns)
    if o.n_rows is not None:
        df = df.limit(o.n_rows)
    if o.row_count:
        from pyspark.sql import functions as _F

        df = df.withColumn(o.row_count, _F.monotonically_increasing_id())
    return FxFrame(df, o.index)


def write_parquet(fx: FxFrame | DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    df = fx.df if isinstance(fx, FxFrame) else fx
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_json(spark: SparkSession, path: str, options: JsonReadOptions | None = None) -> FxFrame:
    o = options or JsonReadOptions()
    reader = spark.read.option("multiLine", o.is_json)
    if o.schema:
        reader = reader.schema(_schema_from_dtypes(o.schema))
    df = reader.json(path)
    if o.projection:
        df = df.select(*o.projection)
    if o.n_rows is not None:
        df = df.limit(o.n_rows)
    return FxFrame(df, o.index)


def write_json(fx: FxFrame | DataFrame, path: str, mode: str = "overwrite", is_json: bool = False) -> None:
    df = fx.df if isinstance(fx, FxFrame) else fx
    if is_json:
        # single JSON array document — driver-side by definition
        import json as _json

        rows = [r.asDict(recursive=True) for r in df.collect()]
        with open(path, "w") as f:
            _json.dump(rows, f, default=str)
    else:
        df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str, options: ParquetReadOptions | None = None) -> FxFrame:
    """ORC reader — same column/limit/row-count option surface as
    parquet (Spark-native columnar format the reference lacks;
    capability superset per SURVEY.md §2.11)."""
    o = options or ParquetReadOptions()
    df = spark.read.orc(path)
    if o.columns:
        df = df.select(*o.columns)
    if o.n_rows is not None:
        df = df.limit(o.n_rows)
    if o.row_count:
        from pyspark.sql import functions as _F

        df = df.withColumn(o.row_count, _F.monotonically_increasing_id())
    return FxFrame(df, o.index)


def write_orc(fx: FxFrame | DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    df = fx.df if isinstance(fx, FxFrame) else fx
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
