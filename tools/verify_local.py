"""Local stand-in for the driver's correctness gate: run every
registry query on Spark AND its DuckDB oracle at the given sf dir,
compare row-count, column names, and TYPED order-insensitive values.

Typed comparison (round-2 hardening): both results are fetched as
ARROW tables — the representation a value-hash comparator sees — so
type-class mismatches that text normalization hides become visible:
  * DuckDB sum(BIGINT) → HUGEINT → decimal128, vs Spark LONG → int64
  * DuckDB floor/ceil(DOUBLE) → DOUBLE, vs Spark floor/ceil → int64
  * DuckDB sign → TINYINT vs Spark signum → DOUBLE
Width within a family is NOT a failure (int32 vs int64, both render
identically; DuckDB year() is BIGINT where Spark's is INT) but the
family (int / float / decimal / date / timestamp / string / …) must
agree, matching the observed driver verdicts in CORRECTNESS_r01.

Usage: python tools/verify_local.py [sf_dir] [--staged] [query ...]
(--staged verifies fabrix_spark.queries.STAGED instead of the registry)
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

from fabrix_spark.queries import REGISTRY  # noqa: E402
from fabrix_spark.session import get_spark  # noqa: E402

TABLES = [
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
]


def family(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{family(t.value_type)}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def canon(v) -> str:
    """Canonical per-value string — floats keep their float-ness
    (``100.0`` ≠ ``100``), exactly what a typed value hash sees."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table_rows(tbl: pa.Table) -> list[tuple]:
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(canon(col[i]) for col in data) for i in range(tbl.num_rows)]
    rows.sort()
    return rows


def compare(s_tbl: pa.Table, o_tbl: pa.Table) -> str | None:
    """Return None when equal, else a failure description."""
    scols, ocols = sorted(s_tbl.column_names), sorted(o_tbl.column_names)
    if scols != ocols:
        return f"columns spark={scols} duck={ocols}"
    if s_tbl.num_rows != o_tbl.num_rows:
        return f"rowcount spark={s_tbl.num_rows} duck={o_tbl.num_rows}"
    for c in scols:
        sf_, of_ = (
            family(s_tbl.column(c).type),
            family(o_tbl.column(c).type),
        )
        if sf_ != of_ and "null" not in (sf_, of_):
            return f"TYPE {c}: spark={sf_}({s_tbl.column(c).type}) duck={of_}({o_tbl.column(c).type})"
    s_rows = table_rows(s_tbl)
    o_rows = table_rows(o_tbl)
    if s_rows != o_rows:
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
        return f"values differ, first diffs: {diffs}"
    return None


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--staged"]
    use_staged = "--staged" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("verify_local")
    con = oracle_con(sf_dir)

    if use_staged:
        # --staged verifies the promotion candidates instead of the
        # registry (same exact compare the driver gate uses)
        from fabrix_spark.queries import STAGED as _src
    else:
        _src = REGISTRY
    unknown = only - set(_src)
    if unknown:
        # a typo or a cross-dict name (registry name with --staged)
        # would otherwise run ZERO queries and exit 0 — reading as a
        # pass to any promotion-gate script keyed on the exit code
        print(f"FAIL: unknown queries for this source: {sorted(unknown)}")
        return 1
    n_pass = n_fail = n_skip = 0
    for name, qd in _src.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qd.fn(spark, sf_dir)
            s_tbl = sdf.toArrow()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if qd.oracle is None:
            print(f"SKIP {name}: rows-only ({s_tbl.num_rows} rows, {time.time()-t0:.1f}s)")
            n_skip += 1
            continue
        try:
            o_tbl = con.execute(qd.oracle).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue

        err = compare(s_tbl, o_tbl)
        if err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
        else:
            print(f"PASS {name} ({s_tbl.num_rows} rows, {time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
