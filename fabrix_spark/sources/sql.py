"""SQL database source/sink with fabrix's save-strategy surface.

Reference: fabrix-sql executor (ec.rs) — select (550-581), save
strategies FailIfExists/Replace/Append/Upsert (484-538), txn
create+insert (602-651), DDL helpers (query_ddl.rs), existing-ids
probe (query_dml.rs:14-28).

Two backends:

- **DB-API** (sqlite3 built-in; duckdb; any PEP-249 driver):
  driver-side connection like the reference's sqlx pool. Reads land in
  Spark via Arrow `createDataFrame`; a write collects the frame once and
  binds its rows with ``executemany`` (mutation_dml.rs:25-35). This is
  the edge path — fine for control-plane tables. DuckDB
  (``dialect="duckdb"``) is the second LIVE columnar engine behind
  this surface: information_schema catalog, explicit BEGIN/COMMIT
  transactions (DuckDB autocommits per statement otherwise), and
  DELETE row counts read from the Count result (PEP-249 ``rowcount``
  is -1 there).
- **JDBC** (`read_jdbc`/`write_jdbc`): the scale path — executors read
  partitioned ranges (`partitionColumn/numPartitions`) and write in
  parallel; requires the JDBC driver jar on the classpath.

Upsert follows the reference exactly: probe existing index values,
split the rows (popup_rows, fabrix.rs:574-613), INSERT the new rows,
per-key UPDATE the matched ones — wrapped in one transaction.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..frame import FxFrame
from ..plans.adt import Col, Compound, Delete, Select, with_primary_key
from ..plans.sqlgen import (
    render_alter_modify_column,
    render_compound,
    render_constraints_query,
    render_create_foreign_key,
    render_create_index,
    render_delete,
    render_drop_foreign_key,
    render_drop_index,
    render_indexes_query,
    render_primary_key_query,
    render_select,
    render_value,
)
from ..types import ValueType

__all__ = ["SaveStrategy", "SqlExecutor", "read_jdbc", "write_jdbc", "upsert_jdbc"]


class SaveStrategy:
    """sql_adt.rs:893-900."""

    FAIL_IF_EXISTS = "fail_if_exists"
    REPLACE = "replace"
    APPEND = "append"
    UPSERT = "upsert"


# ValueType -> SQLite/ANSI column type (generic enough for the DB-API path)
_SQL_TYPES: dict[ValueType, str] = {
    ValueType.BOOL: "BOOLEAN",
    ValueType.I8: "SMALLINT",
    ValueType.I16: "SMALLINT",
    ValueType.I32: "INTEGER",
    ValueType.I64: "BIGINT",
    ValueType.U8: "SMALLINT",
    ValueType.U16: "INTEGER",
    ValueType.U32: "BIGINT",
    ValueType.U64: "DECIMAL(20,0)",
    ValueType.F32: "REAL",
    ValueType.F64: "DOUBLE PRECISION",
    ValueType.DATE: "DATE",
    ValueType.TIME: "BIGINT",
    ValueType.DATETIME: "TIMESTAMP",
    ValueType.STRING: "VARCHAR",
    ValueType.DECIMAL: "DECIMAL(38,18)",
    ValueType.UUID: "VARCHAR(36)",
    ValueType.BYTES: "BLOB",
    ValueType.NULL: "VARCHAR",
}


def _adapt(v: Any) -> Any:
    """Python value -> DB-API parameter (sqlite has no native ts/date,
    and sqlite3 refuses to bind decimal.Decimal — render it lexically;
    engines with a real DECIMAL type cast the string back exactly)."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return str(v)
    return v


class SqlExecutor:
    """Frame-level CRUD over a PEP-249 connection.

    ``conn_factory`` is a zero-arg callable returning a live
    connection (e.g. ``lambda: sqlite3.connect(path)``), mirroring the
    reference's connection-string constructor (ec.rs:388-403).
    """

    def __init__(self, spark: SparkSession, conn_factory, dialect: str = "sqlite"):
        self.spark = spark
        self.dialect = dialect
        self._conn = conn_factory()

    def _cursor(self):
        """DuckDB's ``cursor()`` spawns a SEPARATE connection with its
        own transaction context — statements inside an open explicit
        transaction wouldn't see each other's tables. Its connection
        object implements the cursor protocol (execute/executemany/
        fetch*/description), so use it directly; real cursors
        elsewhere."""
        if self.dialect == "duckdb":
            return self._conn
        return self._conn.cursor()

    # ------------------------------------------------------------------
    # catalog / DDL (§2.5)
    # ------------------------------------------------------------------

    def table_exists(self, table: str) -> bool:
        cur = self._cursor()
        if self.dialect == "sqlite":
            cur.execute("SELECT name FROM sqlite_master WHERE type='table' AND name=?", (table,))
        else:
            cur.execute(
                "SELECT table_name FROM information_schema.tables WHERE table_name = ?", (table,)
            )
        return cur.fetchone() is not None

    def list_tables(self) -> list[str]:
        cur = self._cursor()
        if self.dialect == "sqlite":
            cur.execute("SELECT name FROM sqlite_master WHERE type='table' ORDER BY name")
        else:
            cur.execute("SELECT table_name FROM information_schema.tables ORDER BY table_name")
        return [r[0] for r in cur.fetchall()]

    def table_schema(self, table: str) -> list[tuple[str, str]]:
        """(column, declared type) pairs (query_ddl.rs:36-74)."""
        cur = self._cursor()
        if self.dialect == "sqlite":
            cur.execute(f'PRAGMA table_info("{table}")')
            return [(r[1], r[2]) for r in cur.fetchall()]
        cur.execute(
            "SELECT column_name, data_type FROM information_schema.columns WHERE table_name = ? ORDER BY ordinal_position",
            (table,),
        )
        return [(r[0], r[1]) for r in cur.fetchall()]

    def get_primary_key(self, table: str) -> str | None:
        """PK column via per-dialect catalog SQL (query_ddl.rs:201-244:
        MySQL KEY_COLUMN_USAGE, Postgres pg_index, SQLite
        pragma_table_info)."""
        cur = self._cursor()
        cur.execute(render_primary_key_query(table, self.dialect))
        row = cur.fetchone()
        return row[0] if row else None

    def table_constraints(self, table: str) -> list[tuple[str, str]]:
        """(constraint_name, constraint_type) rows — the reference's
        constraint introspection (query_ddl.rs:76-139, ec.rs:263-349)."""
        cur = self._cursor()
        cur.execute(render_constraints_query(table, self.dialect))
        return [(r[0], r[1]) for r in cur.fetchall()]

    def list_indexes(self, table: str) -> list[tuple[str, bool]]:
        """(index_name, is_unique) rows (query_ddl.rs:140-173)."""
        cur = self._cursor()
        cur.execute(render_indexes_query(table, self.dialect))
        return [(r[0], bool(r[1])) for r in cur.fetchall()]

    def create_table(self, table: str, fx: FxFrame, if_not_exists: bool = False) -> None:
        """Typed CREATE TABLE with PRIMARY KEY from the index tag
        (mutation_ddl.rs:11-34; PK typing sql_adt.rs:906-982)."""
        cols = []
        pk = fx.index_tag.name if fx.index_tag else None
        for f in fx.fields:
            sql_t = _SQL_TYPES[f.dtype]
            col = f'"{f.name}" {sql_t}'
            if f.name == pk:
                col += " PRIMARY KEY"
            cols.append(col)
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self._conn.execute(f'CREATE TABLE {ine}"{table}" ({", ".join(cols)})')

    def drop_table(self, table: str, if_exists: bool = True) -> None:
        ie = "IF EXISTS " if if_exists else ""
        self._conn.execute(f'DROP TABLE {ie}"{table}"')

    def truncate_table(self, table: str) -> None:
        # sqlite has no TRUNCATE; DELETE without WHERE is its idiom
        if self.dialect == "sqlite":
            self._conn.execute(f'DELETE FROM "{table}"')
        else:
            self._conn.execute(f'TRUNCATE TABLE "{table}"')

    def rename_table(self, table: str, new: str) -> None:
        self._conn.execute(f'ALTER TABLE "{table}" RENAME TO "{new}"')

    def add_column(self, table: str, name: str, vt: ValueType) -> None:
        self._conn.execute(f'ALTER TABLE "{table}" ADD COLUMN "{name}" {_SQL_TYPES[vt]}')

    def drop_column(self, table: str, name: str) -> None:
        self._conn.execute(f'ALTER TABLE "{table}" DROP COLUMN "{name}"')

    def modify_column(self, table: str, name: str, vt: ValueType) -> None:
        """ALTER column type (mutation_ddl.rs:36-68 Modify). SQLite has
        no in-place retype — rebuild the table through the frame API
        instead (the renderer refuses the dialect)."""
        self._conn.execute(
            render_alter_modify_column(table, name, _SQL_TYPES[vt], self.dialect)
        )

    def create_index(
        self, table: str, column: str | list[str], unique: bool = False, name: str | None = None
    ) -> None:
        cols = [column] if isinstance(column, str) else list(column)
        self._conn.execute(render_create_index(table, cols, name, unique, self.dialect))

    def drop_index(self, table: str, name: str) -> None:
        """mutation_ddl.rs:107-112 (MySQL scopes the name to the table)."""
        self._conn.execute(render_drop_index(table, name, self.dialect))

    def create_foreign_key(
        self, table: str, column: str, ref_table: str, ref_column: str, name: str | None = None
    ) -> None:
        """mutation_ddl.rs:114-130. SQLite cannot ADD a foreign key
        after table creation — declare it in create_table instead.
        DuckDB's ALTER TABLE has no ADD CONSTRAINT either (live-probed:
        NotImplementedException)."""
        if self.dialect in ("sqlite", "duckdb"):
            raise NotImplementedError(
                f"{self.dialect} only supports FKs at CREATE TABLE time"
            )
        self._conn.execute(
            render_create_foreign_key(table, column, ref_table, ref_column, name, self.dialect)
        )

    def drop_foreign_key(self, table: str, name: str) -> None:
        """mutation_ddl.rs:132-141."""
        if self.dialect in ("sqlite", "duckdb"):
            raise NotImplementedError(
                f"{self.dialect} only supports FKs at CREATE TABLE time"
            )
        self._conn.execute(render_drop_foreign_key(table, name, self.dialect))

    # ------------------------------------------------------------------
    # read (§2.3 Select ADT → SQL → frame; lifecycle SURVEY.md §3.1)
    # ------------------------------------------------------------------

    # declared SQL type -> Spark DDL type, for empty-result schemas
    _SQL_TO_SPARK = {
        "BOOLEAN": "boolean",
        "SMALLINT": "short",
        "INTEGER": "int",
        "INT": "int",
        "BIGINT": "long",
        "REAL": "float",
        "FLOAT": "float",
        "DOUBLE": "double",
        "DOUBLE PRECISION": "double",
        "DATE": "date",
        "TIMESTAMP": "timestamp_ntz",
        "VARCHAR": "string",
        "TEXT": "string",
        "BLOB": "binary",
    }

    def _spark_type_of(self, declared: str) -> str:
        base = declared.split("(")[0].strip().upper()
        return self._SQL_TO_SPARK.get(base, "string")

    def select(self, sel: "Select | Compound", index: str | None = None) -> FxFrame:
        if isinstance(sel, Compound):
            # set-op queries execute whole (no catalog schema to
            # derive — operand names follow the first Select)
            return self.raw_select(render_compound(sel, self.dialect), index)
        if sel.include_primary_key and index is None and isinstance(sel.table, str):
            index = self.get_primary_key(sel.table)
            if index is not None:
                sel = with_primary_key(sel, index)
        sql = render_select(sel, self.dialect)
        # derive the typed schema from the catalog so empty results
        # round-trip with real dtypes, not all-string fabrications
        schema = None
        declared = (
            {} if isinstance(sel.table, Select) else dict(self.table_schema(sel.table))
        )
        if sel.columns and all(
            isinstance(c, Col) and c.name in declared for c in sel.columns
        ):
            schema = ", ".join(
                f"`{c.display_name()}` {self._spark_type_of(declared[c.name])}"
                for c in sel.columns
            )
        elif not sel.columns and declared:
            schema = ", ".join(
                f"`{name}` {self._spark_type_of(t)}" for name, t in declared.items()
            )
        return self.raw_select(sql, index, schema)

    def raw_select(self, sql: str, index: str | None = None, schema: str | None = None) -> FxFrame:
        """Run raw SQL into a frame. ``schema`` (Spark DDL string) is
        used for empty results — without it an empty cursor carries no
        type information on DB-API drivers (cursor.description type
        codes are None on sqlite3), so columns fall back to string."""
        import pandas as pd

        cur = self._cursor()
        cur.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        if rows:
            df = self.spark.createDataFrame(pd.DataFrame(rows, columns=cols))
        else:
            ddl = schema or ", ".join(f"`{c}` string" for c in cols)
            df = self.spark.createDataFrame([], schema=ddl)
        if index is not None and index not in df.columns:
            index = None
        return FxFrame(df, index)

    def select_existing_ids(self, table: str, index_col: str, values: list[Any]) -> list[Any]:
        """query_dml.rs:14-28 — the upsert probe."""
        if not values:
            return []
        rendered = ", ".join(render_value(_adapt(v)) for v in values)
        cur = self._cursor()
        cur.execute(f'SELECT "{index_col}" FROM "{table}" WHERE "{index_col}" IN ({rendered})')
        return [r[0] for r in cur.fetchall()]

    # ------------------------------------------------------------------
    # write (§2.4)
    # ------------------------------------------------------------------

    def _executemany(self, sql: str, rows: list[tuple]) -> int:
        if rows:
            self._cursor().executemany(sql, [tuple(map(_adapt, r)) for r in rows])
        return len(rows)

    def _insert_rows(self, table: str, columns: list[str], rows: list[tuple]) -> int:
        collist = ", ".join(f'"{c}"' for c in columns)
        ph = ", ".join("?" for _ in columns)
        return self._executemany(f'INSERT INTO "{table}" ({collist}) VALUES ({ph})', rows)

    def _update_rows(self, table: str, columns: list[str], idx: str, rows: list[tuple]) -> int:
        """Per-row UPDATE ... WHERE index = v (mutation_dml.rs:44-84)."""
        sets = [i for i, c in enumerate(columns) if c != idx]
        setlist = ", ".join(f'"{columns[i]}" = ?' for i in sets)
        k = columns.index(idx)
        return self._executemany(
            f'UPDATE "{table}" SET {setlist} WHERE "{idx}" = ?',
            [tuple(r[i] for i in sets) + (r[k],) for r in rows],
        )

    def insert(self, table: str, fx: FxFrame | DataFrame) -> int:
        df = fx.df if isinstance(fx, FxFrame) else fx
        return self._insert_rows(table, df.columns, df.collect())

    def update(self, table: str, fx: FxFrame) -> int:
        """Per-row UPDATE by index key — degenerate at scale; prefer
        upsert/MERGE."""
        if fx.index_tag is None:
            raise ValueError("update requires an index tag")
        return self._update_rows(table, fx.columns, fx.index_tag.name, fx.df.collect())

    def delete(self, d: Delete) -> int:
        cur = self._cursor()
        cur.execute(render_delete(d, self.dialect))
        n = cur.rowcount
        if n == -1:
            # DuckDB reports -1 via PEP-249 rowcount; the statement's
            # result set carries the deleted-row Count instead
            try:
                row = cur.fetchone()
                n = int(row[0]) if row else 0
            except Exception:
                n = -1
        self._commit()
        return n

    def save(self, table: str, fx: FxFrame, strategy: str = SaveStrategy.FAIL_IF_EXISTS) -> int:
        """The four-strategy writer (ec.rs:484-538), transactional like
        txn_create_and_insert (ec.rs:602-651).

        Semantics mirror the reference exactly, including upsert's
        probe-and-split with per-row UPDATEs. The frame is read with one
        ``collect()``: the whole saved frame is held on the driver. Big
        writes belong on the set-based paths: :func:`upsert_jdbc`
        (parallel staging write + one MERGE-shaped transaction) or the
        lake anti-join merge (sources/lake.py)."""
        self._begin()
        try:
            n = self._save_inner(table, fx, strategy)
            self._commit()
            return n
        except Exception:
            self._rollback()
            raise

    def _begin(self) -> None:
        """Open an explicit transaction where the driver would
        otherwise autocommit statements that must be atomic together:
        DuckDB autocommits per statement, and Python's sqlite3
        auto-begins on DML but runs DDL in autocommit — so a REPLACE
        (drop + create + insert) would commit the DROP immediately and
        a failed insert could not restore the old table (r16
        self-review; sqlite DDL IS transactional once a transaction is
        explicitly open, and sqlite3 skips its implicit BEGIN when one
        is)."""
        if self.dialect == "duckdb":
            self._conn.execute("BEGIN TRANSACTION")
        elif self.dialect == "sqlite" and not self._conn.in_transaction:
            self._conn.execute("BEGIN")

    def _commit(self) -> None:
        try:
            self._conn.commit()
        except Exception as e:
            # tolerate ONLY the no-open-transaction no-op of
            # autocommit drivers; a genuine commit failure (locked
            # database, I/O error) must propagate — swallowing it
            # reported success for data that was never persisted
            # (r16 self-review)
            if "no transaction" not in str(e).lower():
                raise

    def _rollback(self) -> None:
        try:
            self._conn.rollback()
        except Exception:
            # nothing to roll back (autocommit driver) — the original
            # error propagates from the caller
            pass

    def _save_inner(self, table: str, fx: FxFrame, strategy: str) -> int:
        exists = self.table_exists(table)
        if strategy == SaveStrategy.FAIL_IF_EXISTS:
            if exists:
                raise ValueError(f"table {table!r} already exists (FailIfExists)")
            self.create_table(table, fx)
            return self.insert(table, fx)
        if strategy == SaveStrategy.REPLACE:
            if exists:
                self.drop_table(table)
            self.create_table(table, fx)
            return self.insert(table, fx)
        if strategy == SaveStrategy.APPEND:
            if not exists:
                self.create_table(table, fx)
            return self.insert(table, fx)
        if strategy == SaveStrategy.UPSERT:
            if not exists:
                self.create_table(table, fx)
                return self.insert(table, fx)
            return self._upsert(table, fx)
        raise ValueError(f"unknown save strategy {strategy!r}")

    def _upsert(self, table: str, fx: FxFrame) -> int:
        """Probe existing keys in batched IN lists (query_dml.rs:14-28),
        split the rows in Python (popup_rows, fabrix.rs:574-613), INSERT
        the new ones and UPDATE the matched ones (ec.rs:518-538)."""
        if fx.index_tag is None:
            raise ValueError("upsert requires an index tag")
        idx = fx.index_tag.name
        columns, rows = fx.columns, fx.df.collect()
        keys = [r[idx] for r in rows]
        if None in keys:
            # a NULL key never matches the probe: the row would insert, not update
            raise ValueError(f"upsert index {idx!r} contains NULLs; key every row")
        # dates compare as the ISO text _adapt binds (sqlite returns that
        # text, DuckDB date objects); numbers compare by value
        match = lambda v: _adapt(v) if isinstance(v, _dt.date) else v  # noqa: E731
        existing: set[Any] = set()
        for i in range(0, len(keys), 1000):
            existing.update(map(match, self.select_existing_ids(table, idx, keys[i : i + 1000])))
        new = [r for r, k in zip(rows, keys) if match(k) not in existing]
        old = [r for r, k in zip(rows, keys) if match(k) in existing]
        return self._insert_rows(table, columns, new) + self._update_rows(table, columns, idx, old)


# ---------------------------------------------------------------------------
# JDBC — the executor-parallel scale path (needs driver jar on classpath)
# ---------------------------------------------------------------------------


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: Any = None,
    upper_bound: Any = None,
    **options: str,
) -> DataFrame:
    """Parallel JDBC read. With ``query`` set this is whole-query
    pushdown — the remote DB executes our rendered Select SQL, exactly
    the reference's execution model (SURVEY.md §3.1)."""
    reader = spark.read.format("jdbc").option("url", url)
    if query:
        reader = reader.option("query", query)
    elif table:
        reader = reader.option("dbtable", table)
    else:
        raise ValueError("need table or query")
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions or 8)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    key: str,
    staging_table: str | None = None,
    quote: str = '"',
    **options: str,
) -> None:
    """MERGE-shaped upsert through JDBC — the 100 TB SQL write path.

    ``SqlExecutor.save(strategy='upsert')`` runs the reference's
    probe-and-split (ec.rs:518-538) with the whole frame on the driver.
    This is the scale route: (1) all executors write the new rows to a
    staging table IN PARALLEL via the JDBC datasource, then (2) ONE
    set-based transaction on the driver finalizes:
    ``DELETE matched keys; INSERT all staged rows`` — the same
    delete-matched + insert-all plan the lake merge runs
    (sources/lake.py), expressed in portable ANSI DML so it works on
    any JDBC database (MERGE dialects differ; this doesn't).

    The driver-side connection comes from ``java.sql.DriverManager``
    on the JVM Spark already runs — no extra Python DB driver needed.
    The staged data never flows through the driver; only the three
    DML strings do.

    ``table`` (and the derived staging name) is passed VERBATIM both
    to Spark's JDBC writer and into the DML — Spark treats ``dbtable``
    literally, so quoting it here while the writer created it unquoted
    would break case folding. For a mixed-case or reserved-word table,
    pass the name pre-quoted (e.g. ``table='\"Events\"'``);
    column/key identifiers ARE quoted with ``quote``."""
    staging = staging_table or f"{table}__stg"
    write_jdbc(df, url, staging, mode="overwrite", **options)

    jvm = df.sparkSession._jvm
    if "driver" in options:
        # ensure the driver class is registered with DriverManager
        jvm.java.lang.Class.forName(options["driver"])
    q = lambda ident: f"{quote}{ident}{quote}" if quote else ident  # noqa: E731
    cols = ", ".join(q(c) for c in df.columns)
    if "user" in options or "password" in options:
        # the staging write authenticated through the datasource
        # options; the finalize connection must carry the same
        # credentials or it fails AFTER the staging table was written
        # (r16 self-review)
        conn = jvm.java.sql.DriverManager.getConnection(
            url, options.get("user", ""), options.get("password", "")
        )
    else:
        conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(
                f"DELETE FROM {table} WHERE {q(key)} IN (SELECT {q(key)} FROM {staging})"
            )
            stmt.executeUpdate(
                f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging}"
            )
            stmt.executeUpdate(f"DROP TABLE {staging}")
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            stmt.close()
    finally:
        conn.close()
