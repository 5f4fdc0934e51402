"""FxFrame — DataFrame + index tag (the fabrix frame model on Spark).

Reference: ``Fabrix { data, index_tag }`` (fabrix-core/src/fabrix.rs:160-167)
with ``IndexTag { loc, name, data_type }`` (fabrix.rs:63-71). The index
column is a *key* tag (drives upsert/update/delete-by-key), not a
positional order — Spark DataFrames are unordered, so all positional
reference APIs (insert_row at idx, row.rs:294-303) are re-expressed as
key-based ops; genuinely positional helpers use a row_number window and
are documented as the slow path.

Everything is lazy: each op builds on the wrapped DataFrame's logical
plan, so Catalyst fuses the whole chain (projection pruning, filter
pushdown) — a strict improvement over the reference's eager execution
(SURVEY.md §1.8).
"""

from __future__ import annotations

import decimal as _decimal
from typing import Any, Iterable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .types import (
    FieldInfo,
    ValueType,
    from_spark_type,
    infer_series_type,
    normalize_value,
    schema_from_value_types,
)

__all__ = ["IndexTag", "FxFrame"]

_ROWNUM = "__fx_rownum__"


class IndexTag:
    """Marks one column as the frame's index / primary key
    (fabrix.rs:63-71). Resolvable by position, name, or None
    (IntoIndexTag, fabrix.rs:95-154)."""

    __slots__ = ("loc", "name", "data_type")

    def __init__(self, loc: int, name: str, data_type: ValueType):
        self.loc = loc
        self.name = name
        self.data_type = data_type

    def __repr__(self) -> str:  # pragma: no cover
        return f"IndexTag(loc={self.loc}, name={self.name!r}, dtype={self.data_type.value})"


def _resolve_index(columns: Sequence[str], schema: T.StructType, index: Any) -> IndexTag | None:
    if index is None:
        return None
    if isinstance(index, IndexTag):
        return index
    if isinstance(index, int):
        if not 0 <= index < len(columns):
            raise IndexError(f"index loc {index} out of range for {len(columns)} columns")
        name = columns[index]
        return IndexTag(index, name, from_spark_type(schema[name].dataType))
    if isinstance(index, str):
        if index not in columns:
            raise KeyError(f"index column {index!r} not in frame")
        return IndexTag(list(columns).index(index), index, from_spark_type(schema[index].dataType))
    raise TypeError(f"cannot resolve index tag from {index!r}")


def _local_frame(spark: SparkSession, names: list, vts: list, cols: list) -> DataFrame:
    """Typed driver-side columns -> one Arrow table -> a LocalRelation
    frame, whose actions run no Python workers (a frame of pickled rows
    runs them on every action). Decimals round half-up to the column
    scale and non-finite ones become NULL, as Spark's row path does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = schema_from_value_types(names, vts)
    arrow = to_arrow_schema(schema)
    arrays = []
    for vals, f in zip(cols, arrow):
        if pa.types.is_decimal(f.type):
            ctx = _decimal.Context(prec=f.type.precision, rounding=_decimal.ROUND_HALF_UP)
            q = _decimal.Decimal(1).scaleb(-f.type.scale)
            vals = [
                v.quantize(q, context=ctx) if v is not None and v.is_finite() else None
                for v in vals
            ]
        arrays.append(pa.array(vals, type=f.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


class FxFrame:
    """Thin, lazy wrapper over ``pyspark.sql.DataFrame`` carrying the
    fabrix index tag. ``.df`` is the escape hatch to raw Spark."""

    def __init__(self, df: DataFrame, index: Any = None):
        self._df = df
        self._index = _resolve_index(df.columns, df.schema, index)

    # ------------------------------------------------------------------
    # construction (fabrix.rs:170-260, row.rs:152-252)
    # ------------------------------------------------------------------

    @classmethod
    def new(cls, df: DataFrame, index: Any = None) -> "FxFrame":
        return cls(df, index)

    @classmethod
    def from_series(
        cls, spark: SparkSession, series: dict[str, list[Any]], index: Any = None
    ) -> "FxFrame":
        """Frame from named column lists (fabrix.rs:221-233), with
        first-non-null type inference per column (series.rs:588-647)."""
        names = list(series)
        lengths = {n: len(vals) for n, vals in series.items()}
        if len(set(lengths.values())) > 1:
            # zip would silently truncate every column to the shortest
            raise ValueError(f"ragged series lengths: {lengths}")
        vts = [infer_series_type(vals) for vals in series.values()]
        cols = [[normalize_value(v, vt) for v in vals] for vals, vt in zip(series.values(), vts)]
        return cls(_local_frame(spark, names, vts, cols), index)

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: Sequence[Sequence[Any]],
        names: Sequence[str] | None = None,
        index: Any = None,
    ) -> "FxFrame":
        """Row-major values -> columns (row.rs:152-183). Column types
        are inferred from the first non-null value per column."""
        if not rows:
            raise ValueError("from_rows needs at least one row")
        width = len(rows[0])
        bad = {i: len(r) for i, r in enumerate(rows) if len(r) != width}
        if bad:
            # a short row would IndexError mid-transpose; a long one
            # would silently drop its extra values
            raise ValueError(f"ragged rows (width {width}): {dict(list(bad.items())[:5])}")
        names = list(names) if names is not None else [str(i) for i in range(width)]
        if len(names) != width:
            raise ValueError(f"{len(names)} names for {width}-wide rows")
        cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
        return cls.from_series(spark, cols, index)

    @classmethod
    def from_column_values(
        cls,
        spark: SparkSession,
        columns: Sequence[Sequence[Any]],
        names: Sequence[str] | None = None,
        index: Any = None,
        has_header: bool = False,
    ) -> "FxFrame":
        """Column-major 2D values, optional first-entry-is-name header
        (fabrix.rs:236-260)."""
        cols = [list(c) for c in columns]
        if has_header:
            if any(not c for c in cols):
                raise ValueError("has_header=True but an empty column has no header cell")
            names = [c[0] for c in cols]
            cols = [c[1:] for c in cols]
        elif names is None:
            names = [str(i) for i in range(len(cols))]
        return cls.from_series(spark, dict(zip(names, cols)), index)

    @classmethod
    def from_range(
        cls, spark: SparkSession, n: int, name: str = "id", start: int = 0, index: Any = None
    ) -> "FxFrame":
        """0..n sequence column (series.rs:557-586) — ``spark.range``,
        distributed from the start."""
        df = spark.range(start, start + n).withColumnRenamed("id", name)
        return cls(df, index)

    # ------------------------------------------------------------------
    # escape hatch + basics
    # ------------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def index_tag(self) -> IndexTag | None:
        return self._index

    def set_index_tag(self, index: Any) -> "FxFrame":
        return FxFrame(self._df, index)

    def _with(self, df: DataFrame) -> "FxFrame":
        """Propagate the index tag through a transformation when the
        index column survives it."""
        if self._index is not None and self._index.name in df.columns:
            return FxFrame(df, self._index.name)
        return FxFrame(df)

    # ------------------------------------------------------------------
    # schema & size introspection (fabrix.rs:300-355)
    # ------------------------------------------------------------------

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def get_column_names(self) -> list[str]:
        return self._df.columns

    @property
    def fields(self) -> list[FieldInfo]:
        return [FieldInfo(f.name, from_spark_type(f.dataType)) for f in self._df.schema.fields]

    @property
    def dtypes(self) -> list[ValueType]:
        return [f.dtype for f in self.fields]

    @property
    def width(self) -> int:
        return len(self._df.columns)

    @property
    def height(self) -> int:
        """Row count — an action (triggers the plan)."""
        return self._df.count()

    @property
    def shape(self) -> tuple[int, int]:
        return (self.height, self.width)

    def is_empty(self) -> bool:
        return self._df.isEmpty()

    def has_null(self) -> bool:
        """Any null anywhere (fabrix.rs:310-316) — one aggregated scan,
        not a per-column loop."""
        if not self._df.columns:
            return False
        agg = self._df.select(
            F.greatest(*[F.max(F.col(c).isNull().cast("int")) for c in self._df.columns]).alias("x")
        ).first()
        return bool(agg and agg["x"])

    def index_has_null(self) -> bool:
        self._require_index()
        return self._df.filter(F.col(self._index.name).isNull()).limit(1).count() > 0

    # ------------------------------------------------------------------
    # projection & renaming (fabrix.rs:271-303, 399-444)
    # ------------------------------------------------------------------

    def get_column(self, name: str) -> "FxFrame":
        return FxFrame(self._df.select(name))

    def take_cols(self, names: Sequence[str]) -> "FxFrame":
        return self._with(self._df.select(*names))

    def rename(self, old: str, new: str) -> "FxFrame":
        out = self._df.withColumnRenamed(old, new)
        if self._index is not None and self._index.name == old:
            return FxFrame(out, new)
        return self._with(out)

    def set_column_names(self, names: Sequence[str]) -> "FxFrame":
        if len(names) != len(self._df.columns):
            raise ValueError("names length mismatch")
        out = self._df.toDF(*names)
        if self._index is not None:
            return FxFrame(out, names[self._index.loc])
        return FxFrame(out)

    # ------------------------------------------------------------------
    # row selection by index value (fabrix.rs:369-387, row.rs:273-284)
    # ------------------------------------------------------------------

    def _require_index(self) -> None:
        if self._index is None:
            raise ValueError("operation requires an index tag on the frame")

    def _key_match(self, values: Iterable[Any]) -> Column:
        """TRUE iff the index-column value is in ``values`` — null-safe:
        a ``None`` in ``values`` matches NULL-key rows (plain ``isin``
        can never match NULL, and its three-valued negation silently
        eats NULL-key rows), and the result is never NULL itself so it
        can be negated."""
        all_vals = list(values)
        vals = [v for v in all_vals if v is not None]
        want_null = len(vals) != len(all_vals)
        key = F.col(self._index.name)
        cond = F.coalesce(key.isin(vals), F.lit(False)) if vals else F.lit(False)
        if want_null:
            cond = cond | key.isNull()
        return cond

    def take_rows(self, values: Iterable[Any]) -> "FxFrame":
        """Rows whose index-column value is in ``values`` (``None``
        matches NULL keys). For large value sets, pass a DataFrame to
        ``take_rows_by_frame`` (semi join) instead of a literal IN
        list."""
        self._require_index()
        return self._with(self._df.filter(self._key_match(list(values))))

    def take_rows_by_frame(self, keys: DataFrame) -> "FxFrame":
        self._require_index()
        return self._with(
            self._df.join(keys, on=self._df[self._index.name] == keys[keys.columns[0]], how="left_semi")
        )

    def get_row(self, value: Any) -> Row | None:
        self._require_index()
        return self._df.filter(F.col(self._index.name).eqNullSafe(F.lit(value))).first()

    def remove_rows(self, values: Iterable[Any]) -> "FxFrame":
        """Drop rows whose key is in ``values`` — and ONLY those: the
        match predicate is null-safe, so NULL-key rows survive (a plain
        ``~isin`` is NULL for them, which silently deleted them)."""
        self._require_index()
        return self._with(self._df.filter(~self._key_match(list(values))))

    def popup_rows(self, values: Iterable[Any]) -> tuple["FxFrame", "FxFrame"]:
        """(removed, remaining) — the reference's popup_rows
        (fabrix.rs:574-613). The two halves PARTITION the frame: the
        match predicate is null-safe, so NULL-key rows land in
        ``remaining`` (under plain ``isin`` both ``cond`` and ``~cond``
        are NULL for them and the rows vanished from BOTH halves)."""
        self._require_index()
        cond = self._key_match(list(values))
        return self._with(self._df.filter(cond)), self._with(self._df.filter(~cond))

    # ------------------------------------------------------------------
    # positional row ops — the documented slow path (SURVEY.md §7.4).
    # A global row_number is a single-partition window; fine for the
    # driver-side frames these APIs serve, never for lake-scale tables.
    # ------------------------------------------------------------------

    def _with_rownum(self) -> DataFrame:
        w = Window.orderBy(F.monotonically_increasing_id())
        return self._df.withColumn(_ROWNUM, F.row_number().over(w))

    def slice(self, offset: int, length: int) -> "FxFrame":
        d = self._with_rownum()
        return self._with(
            d.filter((F.col(_ROWNUM) > offset) & (F.col(_ROWNUM) <= offset + length)).drop(_ROWNUM)
        )

    def take_rows_by_idx(self, indices: Sequence[int]) -> "FxFrame":
        d = self._with_rownum()
        return self._with(d.filter(F.col(_ROWNUM).isin([i + 1 for i in indices])).drop(_ROWNUM))

    def split(self, idx: int) -> tuple["FxFrame", "FxFrame"]:
        d = self._with_rownum()
        return (
            self._with(d.filter(F.col(_ROWNUM) <= idx).drop(_ROWNUM)),
            self._with(d.filter(F.col(_ROWNUM) > idx).drop(_ROWNUM)),
        )

    def head(self, n: int = 5) -> "FxFrame":
        return self._with(self._df.limit(n))

    def tail(self, n: int = 5) -> "FxFrame":
        """Last n rows by position (series.rs:376-384) — row_number
        window, driver-frame sized only."""
        d = self._with_rownum().withColumn(
            "__fx_total__", F.max(_ROWNUM).over(Window.partitionBy())
        )
        return self._with(
            d.filter(F.col(_ROWNUM) > F.col("__fx_total__") - n).drop(_ROWNUM, "__fx_total__")
        )

    def remove_slice(self, offset: int, length: int) -> "FxFrame":
        """Drop a positional row range (fabrix.rs:536-556 semantics)."""
        d = self._with_rownum()
        keep = (F.col(_ROWNUM) <= offset) | (F.col(_ROWNUM) > offset + length)
        return self._with(d.filter(keep).drop(_ROWNUM))

    def get(self, idx: int) -> Row | None:
        """Row at position idx (series.rs:386-395) — driver-side."""
        d = self._with_rownum()
        return d.filter(F.col(_ROWNUM) == idx + 1).drop(_ROWNUM).first()

    # ------------------------------------------------------------------
    # column-level helpers (series.rs:408-462)
    # ------------------------------------------------------------------

    def contains(self, column: str, value: Any) -> bool:
        """Any row with column == value (series.rs:408-411) — a
        pushdown-friendly filter + limit 1, not a full scan. Null-safe:
        ``contains(col, None)`` asks "any NULL in this column?" (plain
        ``==`` is NULL against NULL and answered False even when nulls
        existed)."""
        return self._df.filter(F.col(column).eqNullSafe(F.lit(value))).limit(1).count() > 0

    def find_indices(self, column: str, value: Any) -> list[int]:
        """0-based positions where column == value, null-safely
        (series.rs:413-428). Positional — driver-frame sized only."""
        d = self._with_rownum()
        rows = d.filter(F.col(column).eqNullSafe(F.lit(value))).select(_ROWNUM).collect()
        return sorted(r[0] - 1 for r in rows)

    def drop_nulls(self, subset: Sequence[str] | None = None) -> "FxFrame":
        """Rows with no nulls (series.rs:458-462)."""
        return self._with(self._df.na.drop(subset=list(subset) if subset else None))

    # ------------------------------------------------------------------
    # combination (fabrix.rs:447-494, row.rs:287-345)
    # ------------------------------------------------------------------

    def append(self, other: "FxFrame | DataFrame") -> "FxFrame":
        """Add rows (row.rs:287-345). Position is meaningless on Spark;
        this is a schema-aligned union."""
        odf = other.df if isinstance(other, FxFrame) else other
        return self._with(self._df.unionByName(odf))

    def vconcat(self, other: "FxFrame | DataFrame") -> "FxFrame":
        return self.append(other)

    def hconcat(self, other: "FxFrame") -> "FxFrame":
        """Add columns (fabrix.rs:447-463). With an index on both sides
        this is an equi-join on the key; without one we zip positionally
        via row_number (driver-frame sized only)."""
        if self._index is not None and other._index is not None:
            return self._with(self._df.join(other._df, on=self._index.name, how="inner"))
        left = self._with_rownum()
        right = other._with_rownum()
        joined = left.join(right, on=_ROWNUM, how="inner").drop(_ROWNUM)
        return self._with(joined)

    def with_column(self, name: str, col: Column) -> "FxFrame":
        return self._with(self._df.withColumn(name, col))

    # ------------------------------------------------------------------
    # index generation (fabrix.rs:424-429)
    # ------------------------------------------------------------------

    def generate_index(self, name: str = "index", dense: bool = False) -> "FxFrame":
        """Append a row-id column and tag it as index. Default uses
        ``monotonically_increasing_id`` (distributed, no shuffle);
        ``dense=True`` gives contiguous 0..n-1 ids via a global window
        (single-partition — driver-frame sized only)."""
        if dense:
            w = Window.orderBy(F.monotonically_increasing_id())
            out = self._df.withColumn(name, F.row_number().over(w) - F.lit(1))
        else:
            out = self._df.withColumn(name, F.monotonically_increasing_id())
        return FxFrame(out, name)

    def rechunk(self, n: int | None = None) -> "FxFrame":
        """Memory compaction analogue (fabrix.rs:412-415): coalesce to
        ``n`` partitions (no shuffle) or let AQE handle it."""
        return self._with(self._df.coalesce(n) if n else self._df)

    # ------------------------------------------------------------------
    # apply — unimplemented in the reference (fabrix.rs:617-623); real here
    # ------------------------------------------------------------------

    def apply(self, name: str, col: Column) -> "FxFrame":
        return self.with_column(name, col)

    def apply_in_pandas(self, fn, schema: str | T.StructType, by: Sequence[str] | None = None) -> "FxFrame":
        """Grouped-map apply (§2.10): ``fn(pdf) -> pdf`` per group via
        Arrow-batched ``applyInPandas``. Without ``by``, groups by the
        index tag. The group key is the shuffle key — state never
        leaves the executors."""
        keys = list(by) if by else ([self._index.name] if self._index else None)
        if not keys:
            raise ValueError("apply_in_pandas needs group keys or an index tag")
        return self._with(self._df.groupBy(*keys).applyInPandas(fn, schema))

    def map_in_pandas(self, fn, schema: str | T.StructType) -> "FxFrame":
        """Partition-wise apply: ``fn(iter[pdf]) -> iter[pdf]`` —
        narrow, no shuffle (mapInPandas)."""
        return self._with(self._df.mapInPandas(fn, schema))

    # ------------------------------------------------------------------
    # iteration / materialization (row.rs:347-350; warned slow there too)
    # ------------------------------------------------------------------

    def iter_rows(self) -> Iterator[Row]:
        return self._df.toLocalIterator()

    def collect(self) -> list[Row]:
        return self._df.collect()

    def data(self) -> list[tuple]:
        return [tuple(r) for r in self._df.collect()]

    def __repr__(self) -> str:  # pragma: no cover
        idx = f", index={self._index.name!r}" if self._index else ""
        return f"FxFrame({self._df.schema.simpleString()}{idx})"
