"""JSON wire formats for frames — fabrix-json parity.

The reference defines three serialized frame layouts
(fabrix-json/src/ft.rs:13-17, serializers se.rs:8-54):

- **column**: ``{"data": [{"name", "datatype", "values"}, ...],
  "index_tag": ...}`` — one entry per series (series serde,
  fabrix-core/src/series.rs:805-987).
- **row**: ``{"data": {"types": [...], "values": [{col: val}, ...]},
  "index_tag": ...}`` — named rows (namedrow.rs:18-40).
- **dataset**: ``{"data": {"names": [...], "types": [...],
  "values": [[...], ...]}, "index_tag": ...}``.

``index_tag`` is ``{"loc", "name", "data_type"}`` (fabrix.rs:63-71) or
null. Datatype strings are the reference's ValueType variant names
("Bool", "I64", "DateTime", ...; value.rs:229-250). Scalar encodings
follow the reference's untagged Value serde (value.rs:124-151):
dates as epoch days, datetimes as ns since epoch, times as ns since
midnight, decimals as strings, bytes as int arrays.

These formats exist for control-plane frames (HTTP payloads, Mongo
documents — §2.8); they materialize on the driver by design. Lake-scale
data uses parquet/JSON-lines via ``sources.files``.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
from typing import Any

from pyspark.sql import SparkSession

from ..frame import FxFrame, _local_frame
from ..types import ValueType

__all__ = ["to_wire", "from_wire", "to_json", "from_json"]

_EPOCH = _dt.date(1970, 1, 1)

# our lowercase serde value <-> the reference's variant-name casing
_WIRE_NAMES: dict[ValueType, str] = {
    ValueType.BOOL: "Bool",
    ValueType.U8: "U8",
    ValueType.U16: "U16",
    ValueType.U32: "U32",
    ValueType.U64: "U64",
    ValueType.I8: "I8",
    ValueType.I16: "I16",
    ValueType.I32: "I32",
    ValueType.I64: "I64",
    ValueType.F32: "F32",
    ValueType.F64: "F64",
    ValueType.DATE: "Date",
    ValueType.TIME: "Time",
    ValueType.DATETIME: "DateTime",
    ValueType.STRING: "String",
    ValueType.DECIMAL: "Decimal",
    ValueType.UUID: "Uuid",
    ValueType.BYTES: "Bytes",
    ValueType.NULL: "Null",
}
_FROM_WIRE_NAMES = {v: k for k, v in _WIRE_NAMES.items()}


def _parse_vt(s: str) -> ValueType:
    if s in _FROM_WIRE_NAMES:
        return _FROM_WIRE_NAMES[s]
    return ValueType(s.lower())


def _enc(v: Any, vt: ValueType) -> Any:
    """Python value -> wire scalar (untagged Value serde encodings)."""
    if v is None:
        return None
    if vt is ValueType.DATE:
        return (v - _EPOCH).days if isinstance(v, _dt.date) else int(v)
    if vt is ValueType.DATETIME:
        if isinstance(v, _dt.datetime):
            # exact integer µs — float total_seconds() loses precision
            # beyond ~2^53 µs (dates centuries from epoch). A tz-aware
            # value must anchor at the UTC epoch: anchoring at
            # 1970-01-01T00:00 *in v's own zone* cancels the offset and
            # encodes wall-clock time as if it were UTC.
            epoch = (
                _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                if v.tzinfo is not None
                else _dt.datetime(1970, 1, 1)
            )
            delta = v - epoch
            micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            return micros * 1000
        return int(v)
    if vt is ValueType.DECIMAL:
        return str(v)
    if vt is ValueType.U64:
        # the DecimalType(20,0) carrier collects as decimal.Decimal,
        # which json.dumps rejects; the wire scalar is a plain int
        return int(v)
    if vt is ValueType.BYTES:
        return list(v)
    if vt is ValueType.UUID:
        return str(v)
    return v


def _dec(v: Any, vt: ValueType) -> Any:
    """Wire scalar -> Python value typed for the Spark schema."""
    if v is None:
        return None
    if vt is ValueType.DATE:
        return _EPOCH + _dt.timedelta(days=int(v))
    if vt is ValueType.DATETIME:
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(v) // 1000)
    if vt in (ValueType.DECIMAL, ValueType.U64):
        # U64 rides a DecimalType(20,0) column (types._TO_SPARK); the
        # frame builder rounds decimal columns as decimal.Decimal values
        return _decimal.Decimal(v)
    if vt is ValueType.BYTES:
        return bytes(v)
    if vt in (ValueType.F32, ValueType.F64):
        return float(v)
    return v


def _index_tag_payload(fx: FxFrame) -> dict | None:
    t = fx.index_tag
    if t is None:
        return None
    return {"loc": t.loc, "name": t.name, "data_type": _WIRE_NAMES[t.data_type]}


def to_wire(fx: FxFrame, fmt: str = "column") -> dict:
    """Serialize a frame to one of the three wire layouts (driver-side
    collect — control-plane frames only)."""
    fields = fx.fields
    names = [f.name for f in fields]
    vts = [f.dtype for f in fields]
    rows = fx.collect()
    tag = _index_tag_payload(fx)
    if fmt == "column":
        data = [
            {
                "name": n,
                "datatype": _WIRE_NAMES[vt],
                "values": [_enc(r[i], vt) for r in rows],
            }
            for i, (n, vt) in enumerate(zip(names, vts))
        ]
        return {"data": data, "index_tag": tag}
    if fmt == "row":
        return {
            "data": {
                "types": [_WIRE_NAMES[vt] for vt in vts],
                "values": [
                    {n: _enc(r[i], vt) for i, (n, vt) in enumerate(zip(names, vts))}
                    for r in rows
                ],
            },
            "index_tag": tag,
        }
    if fmt == "dataset":
        return {
            "data": {
                "names": names,
                "types": [_WIRE_NAMES[vt] for vt in vts],
                "values": [[_enc(r[i], vt) for i, vt in enumerate(vts)] for r in rows],
            },
            "index_tag": tag,
        }
    raise ValueError(f"unknown wire format {fmt!r}")


def from_wire(spark: SparkSession, payload: dict, fmt: str = "column") -> FxFrame:
    tag = payload.get("index_tag")
    index = tag["name"] if tag else None
    if fmt == "column":
        series = payload["data"]
        names = [s["name"] for s in series]
        vts = [_parse_vt(s["datatype"]) for s in series]
        lengths = {n: len(s["values"]) for n, s in zip(names, series)}
        if len(set(lengths.values())) > 1:
            # zip would silently truncate every column to the shortest
            raise ValueError(f"ragged column payload lengths: {lengths}")
        cols = [[_dec(v, vt) for v in s["values"]] for s, vt in zip(series, vts)]
    elif fmt == "row":
        d = payload["data"]
        vts = [_parse_vt(t) for t in d["types"]]
        values = d["values"]
        if not values:
            raise ValueError("row wire format with no rows cannot carry column names")
        names = list(values[0])
        cols = [[_dec(r[n], vt) for r in values] for n, vt in zip(names, vts)]
    elif fmt == "dataset":
        d = payload["data"]
        names = list(d["names"])
        vts = [_parse_vt(t) for t in d["types"]]
        cols = [[_dec(r[i], vt) for r in d["values"]] for i, vt in enumerate(vts)]
    else:
        raise ValueError(f"unknown wire format {fmt!r}")
    return FxFrame(_local_frame(spark, names, vts, cols), index)


def to_json(fx: FxFrame, fmt: str = "column") -> str:
    return json.dumps(to_wire(fx, fmt))


def from_json(spark: SparkSession, s: str, fmt: str = "column") -> FxFrame:
    return from_wire(spark, json.loads(s), fmt)
