"""FxFrame construction + op surface (fabrix.rs / row.rs / series.rs tests)."""

import pytest

from fabrix_spark.frame import FxFrame
from fabrix_spark.types import ValueType


@pytest.fixture()
def fx(spark):
    return FxFrame.from_series(
        spark,
        {
            "id": [1, 2, 3, 4, 5],
            "name": ["a", "b", "c", "d", "e"],
            "val": [1.5, None, 3.5, 4.5, 5.5],
        },
        index="id",
    )


def test_from_series_inference(fx):
    assert [f.dtype for f in fx.fields] == [ValueType.I64, ValueType.STRING, ValueType.F64]
    assert fx.shape == (5, 3)
    assert fx.index_tag.name == "id"
    assert fx.index_tag.loc == 0


def test_from_rows(spark):
    fx = FxFrame.from_rows(spark, [[1, "x"], [2, "y"]], names=["k", "v"], index="k")
    assert fx.shape == (2, 2)
    assert fx.get_row(2)["v"] == "y"


def test_from_column_values_header(spark):
    fx = FxFrame.from_column_values(spark, [["k", 1, 2], ["v", "x", "y"]], has_header=True)
    assert fx.columns == ["k", "v"]
    assert fx.height == 2


def test_mixed_types_nullified(spark):
    # first-non-null inference; mismatches -> null when nullable
    # (series.rs:588-591)
    fx = FxFrame.from_series(spark, {"a": [1, "oops", 3]})
    vals = [r["a"] for r in fx.collect()]
    assert vals == [1, None, 3]


def test_strict_mode_raises(spark):
    from fabrix_spark.types import normalize_value

    with pytest.raises(ValueError):
        normalize_value("oops", ValueType.I64, nullable=False)


def test_take_cols_rename(fx):
    assert fx.take_cols(["id", "val"]).columns == ["id", "val"]
    assert fx.rename("val", "value").columns == ["id", "name", "value"]
    # index tag follows a rename of the index column
    assert fx.rename("id", "pk").index_tag.name == "pk"


def test_has_null(fx):
    assert fx.has_null()
    assert not fx.index_has_null()
    assert not fx.take_cols(["id", "name"]).has_null()


def test_take_remove_popup_rows(fx):
    assert fx.take_rows([2, 4]).height == 2
    assert fx.remove_rows([2, 4]).height == 3
    popped, kept = fx.popup_rows([1])
    assert popped.height == 1 and kept.height == 4


def test_positional_ops(fx):
    assert fx.slice(1, 2).height == 2
    assert fx.take_rows_by_idx([0, 4]).height == 2
    a, b = fx.split(2)
    assert a.height == 2 and b.height == 3


def test_concat(spark, fx):
    other = FxFrame.from_series(
        spark, {"id": [6], "name": ["f"], "val": [6.5]}, index="id"
    )
    assert fx.vconcat(other).height == 6
    wide = FxFrame.from_series(spark, {"id": [1, 2, 3, 4, 5], "extra": [9, 9, 9, 9, 9]}, index="id")
    h = fx.hconcat(wide)
    assert h.width == 4 and h.height == 5


def test_generate_index(spark):
    fx = FxFrame.from_series(spark, {"x": [10, 20, 30]})
    out = fx.generate_index("idx", dense=True)
    assert out.index_tag.name == "idx"
    assert sorted(r["idx"] for r in out.collect()) == [0, 1, 2]


def test_apply(fx):
    from pyspark.sql import functions as F

    out = fx.apply("val2", F.col("val") * 2)
    row = out.get_row(1)
    assert row["val2"] == 3.0


def test_typed_parquet_roundtrip(spark, tmp_path):
    """Decimal/uuid/bytes — the types the reference smuggles into
    Polars as opaque objects (value.rs:369-371) — are native here and
    must survive a parquet round trip with the mapped Spark types."""
    import datetime as dt
    import decimal
    import uuid

    from fabrix_spark.types import ValueType

    u = uuid.uuid5(uuid.NAMESPACE_DNS, "fabrix")
    fx = FxFrame.from_series(
        spark,
        {
            "id": [1, 2],
            "money": [decimal.Decimal("12.340000000000000001"), None],
            "uid": [u, None],
            "blob": [b"\x00\x01\xff", b""],
            "seen": [dt.datetime(2024, 2, 29, 23, 59, 59, 123456), None],
        },
        index="id",
    )
    # uuid is stored as canonical StringType (SURVEY.md §1.2), so the
    # reflected dtype is STRING — the documented deviation
    assert [f.dtype for f in fx.fields] == [
        ValueType.I64, ValueType.DECIMAL, ValueType.STRING, ValueType.BYTES, ValueType.DATETIME,
    ]
    p = str(tmp_path / "typed")
    fx.df.write.parquet(p)
    back = FxFrame(spark.read.parquet(p), "id")
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["money"] == decimal.Decimal("12.340000000000000001")
    assert rows[1]["uid"] == str(u)
    assert bytes(rows[1]["blob"]) == b"\x00\x01\xff"
    assert rows[1]["seen"] == dt.datetime(2024, 2, 29, 23, 59, 59, 123456)
    assert rows[2]["money"] is None and rows[2]["uid"] is None


def test_frame_null_key_rows_survive_key_ops(spark):
    """NULL-key rows must never vanish silently: ~isin is NULL (not
    False) for them, so the pre-fix remove_rows deleted them and
    popup_rows dropped them from BOTH halves of the upsert split."""
    fx = FxFrame.from_series(
        spark,
        {"k": [1, 2, None, 4], "v": ["a", "b", "c", "d"]},
        index="k",
    )
    kept = fx.remove_rows([1, 4])
    assert sorted(r["v"] for r in kept.collect()) == ["b", "c"]

    removed, remaining = fx.popup_rows([2])
    assert sorted(r["v"] for r in removed.collect()) == ["b"]
    # the two halves partition the frame — the NULL-key row is in remaining
    assert sorted(r["v"] for r in remaining.collect()) == ["a", "c", "d"]

    # None in the value list explicitly targets NULL keys
    assert sorted(r["v"] for r in fx.take_rows([None, 1]).collect()) == ["a", "c"]
    assert fx.get_row(None)["v"] == "c"
    assert fx.contains("k", None) is True
    assert fx.remove_rows([None]).df.filter("k IS NULL").count() == 0


def test_frame_ragged_inputs_refused(spark):
    """Ragged construction inputs previously truncated silently via
    zip (from_series) or IndexError'd mid-transpose (from_rows)."""
    import pytest

    with pytest.raises(ValueError, match="ragged series"):
        FxFrame.from_series(spark, {"a": [1, 2, 3], "b": [1]})
    with pytest.raises(ValueError, match="ragged rows"):
        FxFrame.from_rows(spark, [[1, 2], [3]], names=["a", "b"])
    with pytest.raises(ValueError, match="names"):
        FxFrame.from_rows(spark, [[1, 2]], names=["a"])
    with pytest.raises(ValueError, match="header"):
        FxFrame.from_column_values(spark, [[1, 2], []], has_header=True)


def test_from_series_and_from_rows_pin_schema_and_values(spark):
    """from_series/from_rows build the frame from one Arrow table: pin
    the literal schema and collected values for every inferable type, a
    NULL key, an all-NULL column, int->float / int->decimal /
    datetime->date coercion and a mismatch that becomes NULL. The frame
    is a LocalRelation, so reading it back runs no Python workers."""
    import datetime as dt
    import decimal
    import uuid

    u = uuid.UUID("12345678-1234-5678-1234-567812345678")
    series = {
        "k": [1, None, 3],
        "b": [True, None, False],
        "f": [1.5, 2, None],
        "s": ["x", 7, None],
        "dec": [decimal.Decimal("1.25"), 3, None],
        "u": [u, None, None],
        "by": [b"\x00\xff", bytearray(b"ab"), None],
        "ts": [dt.datetime(2024, 1, 2, 3, 4, 5, 6), None, dt.datetime(1969, 12, 31, 23, 59, 59)],
        "d": [dt.date(2024, 1, 2), dt.datetime(2024, 5, 6, 7, 8, 9), None],
        "t": [dt.time(1, 2, 3, 4), None, dt.time(23, 59, 59, 999999)],
        "nul": [None, None, None],
    }
    want_schema = (
        "struct<k:bigint,b:boolean,f:double,s:string,dec:decimal(38,18),u:string,"
        "by:binary,ts:timestamp_ntz,d:date,t:bigint,nul:bigint>"
    )
    want = [
        (1, True, 1.5, "x", decimal.Decimal("1.250000000000000000"), str(u), b"\x00\xff",
         dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.date(2024, 1, 2), 3723000004000, None),
        (None, None, 2.0, None, decimal.Decimal("3.000000000000000000"), None, b"ab",
         None, dt.date(2024, 5, 6), None, None),
        (3, False, None, None, None, None, None,
         dt.datetime(1969, 12, 31, 23, 59, 59), None, 86399999999000, None),
    ]
    by_series = FxFrame.from_series(spark, series, index="k")
    by_rows = FxFrame.from_rows(spark, list(zip(*series.values())), names=list(series), index="k")
    for fx in (by_series, by_rows):
        assert fx.df.schema.simpleString() == want_schema
        assert [tuple(r) for r in fx.collect()] == want
        assert fx.index_tag.name == "k" and fx.index_has_null()
        assert fx.df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")

    # decimals round half-up to the column scale; a non-finite one is NULL
    dec = FxFrame.from_series(
        spark, {"d": [decimal.Decimal("0.1234567890123456785"), decimal.Decimal("NaN")]}
    )
    assert [r[0] for r in dec.collect()] == [decimal.Decimal("0.123456789012345679"), None]
    empty = FxFrame.from_series(spark, {"a": [], "b": []})
    assert empty.df.schema.simpleString() == "struct<a:bigint,b:bigint>" and empty.collect() == []


def test_from_wire_every_value_type_schema_and_values(spark):
    """The wire decoder builds frames with the same Arrow helper; pin
    the Spark type and value of every ValueType, including the widened
    unsigned types, the Decimal(20,0) U64 carrier and the void Null."""
    import datetime as dt
    import decimal

    from fabrix_spark.io.wire import from_wire

    cols = {
        "I8": -128, "I16": 2, "I32": 2**31 - 1, "U8": 255, "U16": 65535, "U32": 2**32 - 1,
        "U64": 2**64 - 1, "F32": 1.5, "F64": 2.5, "Bool": True, "Date": 19000,
        "Time": 3723000004000, "DateTime": 1704164645000006000, "String": "s",
        "Decimal": "1.5", "Uuid": "12345678-1234-5678-1234-567812345678", "Bytes": [0, 255],
        "Null": None,
    }
    payload = {
        "data": [{"name": n.lower(), "datatype": n, "values": [v, None]} for n, v in cols.items()],
        "index_tag": None,
    }
    fx = from_wire(spark, payload)
    assert fx.df.schema.simpleString() == (
        "struct<i8:tinyint,i16:smallint,i32:int,u8:smallint,u16:int,u32:bigint,"
        "u64:decimal(20,0),f32:float,f64:double,bool:boolean,date:date,time:bigint,"
        "datetime:timestamp_ntz,string:string,decimal:decimal(38,18),uuid:string,"
        "bytes:binary,null:void>"
    )
    assert [tuple(r) for r in fx.collect()] == [
        (-128, 2, 2147483647, 255, 65535, 4294967295, decimal.Decimal("18446744073709551615"),
         1.5, 2.5, True, dt.date(2022, 1, 8), 3723000004000,
         dt.datetime(2024, 1, 2, 3, 4, 5, 6), "s", decimal.Decimal("1.500000000000000000"),
         "12345678-1234-5678-1234-567812345678", b"\x00\xff", None),
        (None,) * 18,
    ]
