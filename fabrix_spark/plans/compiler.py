"""Select-ADT -> Spark DataFrame compiler.

This replaces the reference's compile-to-SQL-string + remote-DB
execution (fabrix-sql/src/builder/query_dml.rs:31-86) with a lazy
DataFrame plan: Catalyst then does predicate pushdown, column pruning,
join planning and limit pushdown on our behalf (SURVEY.md §4).

The expression folding mirrors ``cond_builder``
(fabrix-sql/src/builder/bd.rs:243-323): a flat token list with
AND/OR/NOT and Nest groups folds into one boolean Column.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import resolve_parquet
from .adt import (
    AND,
    Col,
    Cond,
    Exists,
    Expression,
    FnCol,
    Join,
    Nest,
    NOT,
    OR,
    Select,
    WinCol,
    validate_expressions,
    with_primary_key,
)

__all__ = [
    "TableProvider",
    "ParquetDirProvider",
    "compile_select",
    "compile_select_fx",
    "compile_filter",
]

# name -> DataFrame resolver; the Spark analogue of a live DB connection.
TableProvider = Callable[[str], DataFrame]


class ParquetDirProvider:
    """Resolve table names to ``{dir}/{name}.parquet`` — the layout of
    the driver's testdata (TESTDATA.md) — through
    :func:`~fabrix_spark.sources.files.resolve_parquet`: a table's
    schema is inferred once per file identity (``st_mtime_ns``,
    ``st_size``) and per value of the session confs that change parquet
    inference (``nanosAsLong``, ``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ``), so compiling a Select over unchanged files
    starts no Spark job; a rewritten file or a changed conf infers
    again."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")

    def __call__(self, name: str) -> DataFrame:
        return resolve_parquet(self.spark, f"{self.sf_dir}/{name}.parquet")


def _cond_to_column(c: Cond, resolve: Callable[[Cond], Column]) -> Column:
    col = resolve(c)
    op = c.op
    v = c.value
    if op == "eq":
        return col == F.lit(v)
    if op == "ne":
        return col != F.lit(v)
    if op == "gt":
        return col > F.lit(v)
    if op == "ge":
        return col >= F.lit(v)
    if op == "lt":
        return col < F.lit(v)
    if op == "le":
        return col <= F.lit(v)
    if op == "in":
        return col.isin(list(v))
    if op == "between":
        return col.between(F.lit(v[0]), F.lit(v[1]))
    if op == "like":
        return col.like(v)
    if op == "is_null":
        return col.isNull()
    if op == "is_not_null":
        return col.isNotNull()
    raise ValueError(f"unhandled equation {op!r}")  # pragma: no cover


def compile_filter(
    tokens: Sequence[Expression],
    resolve: Callable[[Cond], Column] | None = None,
    subquery: Callable[[Cond | Exists], Column] | None = None,
) -> Column:
    """Fold the flat token list into one boolean Column, left to right
    (matching SQL's left-assoc AND/OR with standard precedence applied
    by nesting — the reference emits the same shape, bd.rs:243-323).

    Like SQL, AND binds tighter than OR: we fold in two passes —
    collect AND-runs, then OR them together.

    ``subquery`` resolves in_select/Exists predicates to the helper
    boolean columns that :func:`compile_select` attaches via joins —
    filters containing subqueries can only compile inside a Select.
    """
    validate_expressions(tokens)
    # honor Cond.tbl qualification (sqlgen renders the qualified
    # reference; on joins with shared column names the unqualified
    # form would bind ambiguously or to the wrong side)
    resolve = resolve or (lambda c: F.col(f"{c.tbl}.{c.col}" if c.tbl else c.col))

    def leaf(t: Expression) -> Column:
        if isinstance(t, Exists) or (isinstance(t, Cond) and t.op == "in_select"):
            if subquery is None:
                raise ValueError(
                    "subquery predicates require compile_select (no standalone filter form)"
                )
            return subquery(t)
        if isinstance(t, Cond):
            return _cond_to_column(t, resolve)
        if isinstance(t, Nest):
            return compile_filter(t.tokens, resolve, subquery)
        raise ValueError(f"unexpected token {t!r}")  # pragma: no cover

    # linear scan: apply NOT to the following operand, split on OR,
    # AND within runs.
    or_groups: list[Column] = []
    current: Column | None = None
    negate = False
    for t in tokens:
        if t is NOT:
            negate = True
        elif t is AND:
            continue
        elif t is OR:
            or_groups.append(current)
            current = None
        else:
            c = leaf(t)
            if negate:
                c = ~c
                negate = False
            current = c if current is None else (current & c)
    or_groups.append(current)
    out = or_groups[0]
    for g in or_groups[1:]:
        out = out | g
    return out


def _column_expr(c: Col | FnCol, alias: bool = True) -> Column:
    """Column / FnCol -> Spark Column (column_builder, bd.rs:330-435)."""
    if isinstance(c, Col):
        expr = F.col(f"{c.tbl}.{c.name}" if c.tbl else c.name)
        return expr.alias(c.alias) if (alias and c.alias) else expr

    inner = _column_expr(c.col, alias=False)
    fn = c.fn
    if fn == "max":
        expr = F.max(inner)
    elif fn == "min":
        expr = F.min(inner)
    elif fn == "sum":
        expr = F.sum(inner)
    elif fn == "avg":
        expr = F.avg(inner)
    elif fn == "count":
        expr = F.count(inner)
    elif fn == "count_distinct":
        # capability ≥ reference (its aggregate set stops at count,
        # sql_adt.rs) — COUNT(DISTINCT x) on both backends
        expr = F.countDistinct(inner)
    elif fn == "abs":
        expr = F.abs(inner)
    elif fn == "ifnull":
        expr = F.coalesce(inner, F.lit(c.args[0]))
    elif fn == "coalesce":
        expr = F.coalesce(inner, *[F.lit(a) for a in c.args])
    elif fn == "cast":
        expr = inner.cast(c.args[0])
    elif fn == "char_length":
        expr = F.length(inner)
    elif fn == "lower":
        expr = F.lower(inner)
    elif fn == "upper":
        expr = F.upper(inner)
    elif fn == "round":
        expr = F.round(inner, int(c.args[0]) if c.args else 0)
    elif fn == "trim":
        expr = F.trim(inner)
    elif fn == "substr":
        # SQL substr semantics: 1-based start, optional length
        start = int(c.args[0])
        expr = (
            F.substring(inner, start, int(c.args[1]))
            if len(c.args) > 1
            else inner.substr(F.lit(start), F.length(inner))
        )
    elif fn == "replace":
        expr = F.replace(inner, F.lit(str(c.args[0])), F.lit(str(c.args[1])))
    else:  # pragma: no cover
        raise ValueError(f"unhandled function {fn!r}")
    return expr.alias(c.display_name()) if alias else expr


def _win_expr(c: WinCol) -> Column:
    """WinCol -> Spark window expression (r8; mirrors sqlgen's OVER
    rendering so both backends share one window semantics)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*[F.col(p) for p in c.partition_by])
    if c.order:
        w = w.orderBy(
            *[F.col(o.col).desc() if o.desc else F.col(o.col).asc() for o in c.order]
        )
    if c.frame is not None:
        mode, lo, hi = c.frame

        def bound(b):
            if b == "unbounded_preceding":
                return Window.unboundedPreceding
            if b == "unbounded_following":
                return Window.unboundedFollowing
            if b == "current":
                return Window.currentRow
            return int(b)

        w = (
            w.rowsBetween(bound(lo), bound(hi))
            if mode == "rows"
            else w.rangeBetween(bound(lo), bound(hi))
        )
    inner = _column_expr(c.col, alias=False) if c.col is not None else None
    fn = c.fn
    if fn == "row_number":
        e = F.row_number()
    elif fn == "rank":
        e = F.rank()
    elif fn == "dense_rank":
        e = F.dense_rank()
    elif fn == "ntile":
        e = F.ntile(int(c.args[0]))
    elif fn == "percent_rank":
        e = F.percent_rank()
    elif fn == "cume_dist":
        e = F.cume_dist()
    elif fn in ("first_value", "last_value"):
        e = (F.first if fn == "first_value" else F.last)(inner)
    elif fn in ("lag", "lead"):
        offset = int(c.args[0]) if c.args else 1
        default = c.args[1] if len(c.args) > 1 else None
        e = (F.lag if fn == "lag" else F.lead)(inner, offset, default)
    elif fn == "sum":
        e = F.sum(inner)
    elif fn == "avg":
        e = F.avg(inner)
    elif fn == "count":
        e = F.count(inner)
    elif fn == "min":
        e = F.min(inner)
    elif fn == "max":
        e = F.max(inner)
    else:  # pragma: no cover
        raise ValueError(f"unhandled window function {fn!r}")
    return e.over(w).alias(c.display_name())


def _attach_subqueries(
    df: DataFrame, tokens: Sequence[Expression], provider: TableProvider
):
    """Attach helper boolean columns for in_select / Exists predicates
    (r8). Each subquery compiles to a DataFrame and joins onto the
    outer plan BROADCAST (probe sets are dimension-sized by contract —
    the reference's existing-ids probe shape); the predicate itself
    becomes a boolean expression over the helper flags, reproducing
    SQL three-valued semantics exactly:

      x IN (sub):  TRUE if matched; FALSE if sub is empty; NULL if x
                   is NULL or sub contains a NULL (and no match);
                   else FALSE.  (So NOT-IN over a NULL-bearing
                   subquery correctly yields no rows.)
      EXISTS:      correlated — equi-join found-flag (never NULL);
                   uncorrelated — one-row COUNT(*) > 0 cross join.

    Returns (df, resolver, helper-columns-to-drop-after-filter)."""
    helpers: dict[int, Column] = {}
    drops: list[str] = []
    state = {"i": 0}

    def attach(t) -> None:
        nonlocal df
        i = state["i"]
        state["i"] += 1
        if isinstance(t, Exists):
            flag = f"__sq{i}_f"
            if t.on:
                if t.select.group_by:
                    raise ValueError(
                        "correlated Exists subqueries cannot use group_by"
                    )
                # EXISTS ignores the subquery's projection — compile it
                # projecting the correlation keys instead (semantically
                # identical, and the keys may not be in the projection).
                # limit/offset are rejected at Exists construction;
                # order/distinct are inert under EXISTS, so dropping
                # them here cannot diverge from the SQL rendering.
                inner = Select(
                    table=t.select.table,
                    columns=[Col(ic) for _, ic in t.on],
                    filter=t.select.filter,
                    joins=t.select.joins,
                    table_alias=t.select.table_alias,
                )
                sub = compile_select(inner, provider)
                keys = [f"__sq{i}_k{j}" for j in range(len(t.on))]
                keyed = (
                    sub.select(
                        *[F.col(ic).alias(kn) for (_, ic), kn in zip(t.on, keys)]
                    )
                    .distinct()
                    .withColumn(flag, F.lit(True))
                )
                cond = None
                for (oc, _), kn in zip(t.on, keys):
                    cl = F.col(oc) == F.col(kn)
                    cond = cl if cond is None else cond & cl
                df = df.join(F.broadcast(keyed), cond, "left").drop(*keys)
                helpers[id(t)] = F.coalesce(F.col(flag), F.lit(False))
            else:
                sub = compile_select(t.select, provider)
                one = sub.select((F.count(F.lit(1)) > 0).alias(flag))
                df = df.crossJoin(F.broadcast(one))
                helpers[id(t)] = F.col(flag)
            drops.append(flag)
        else:  # Cond op == "in_select"
            sub = compile_select(t.value, provider)
            subc = sub.columns[0]
            outer = F.col(f"{t.tbl}.{t.col}" if t.tbl else t.col)
            key, flag = f"__sq{i}_k", f"__sq{i}_f"
            empty, hasnull = f"__sq{i}_e", f"__sq{i}_n"
            keyed = (
                sub.where(F.col(subc).isNotNull())
                .select(F.col(subc).alias(key))
                .distinct()
                .withColumn(flag, F.lit(True))
            )
            stats = sub.select(
                (F.count(F.lit(1)) == 0).alias(empty),
                F.max(F.when(F.col(subc).isNull(), True).otherwise(False)).alias(
                    hasnull
                ),
            )
            df = (
                df.join(F.broadcast(keyed), outer == F.col(key), "left")
                .drop(key)
                .crossJoin(F.broadcast(stats))
            )
            helpers[id(t)] = (
                F.when(F.col(flag), F.lit(True))
                .when(F.col(empty), F.lit(False))
                .when(outer.isNull() | F.col(hasnull), F.lit(None).cast("boolean"))
                .otherwise(F.lit(False))
            )
            drops.extend([flag, empty, hasnull])

    def walk(ts: Sequence[Expression]) -> None:
        for t in ts:
            if isinstance(t, Nest):
                walk(t.tokens)
            elif isinstance(t, Exists) or (isinstance(t, Cond) and t.op == "in_select"):
                attach(t)

    walk(tokens)
    return df, helpers, drops


def _strip_tbl(c: Col | FnCol) -> Col | FnCol:
    if isinstance(c, Col):
        return Col(c.name, None, c.alias)
    return FnCol(c.fn, _strip_tbl(c.col), c.args, c.alias)


def _post_agg_expr(c: Col | FnCol) -> Column:
    """Projection of a group-key column AFTER groupBy().agg(): table
    qualifiers are gone (the aggregate output owns the raw key names),
    so strip ``tbl`` and apply alias / scalar functions on top."""
    if isinstance(c, Col):
        expr = F.col(c.name)
        return expr.alias(c.alias) if c.alias else expr
    return _column_expr(_strip_tbl(c))


def _check_having_cols(tokens: Sequence[Expression], legal: set[str]) -> None:
    for t in tokens:
        if isinstance(t, Nest):
            _check_having_cols(t.tokens, legal)
        elif isinstance(t, Cond) and t.col not in legal:
            raise ValueError(
                f"having references {t.col!r}; legal names are group keys "
                f"or aggregate display names: {sorted(legal)}"
            )


def compile_select(sel: Select, provider: TableProvider) -> DataFrame:
    """Build the lazy DataFrame plan for a Select ADT.

    Order of application mirrors SQL semantics: FROM + JOIN -> WHERE ->
    GROUP BY/agg -> ORDER BY -> OFFSET/LIMIT. Catalyst reorders
    physically (filter pushdown through joins, etc.) — we only declare.
    """
    base = sel.table_name()
    if isinstance(sel.table, Select):
        # FROM-subquery (r8): the inner Select compiles first and is
        # addressable under the alias — aggregate-then-window and any
        # other staged query compose into one serializable object
        df = compile_select(sel.table, provider).alias(base)
    elif sel.filter and hasattr(provider, "scan"):
        # a provider exposing .scan(name, filter_tokens) (e.g. the
        # lake's LakeProvider) gets the Select's filter at scan time so
        # file-level pruning happens before the plan is built; the
        # filter is still compiled and applied below — pruning only
        # shrinks the file list
        df = provider.scan(sel.table, sel.filter).alias(base)
    else:
        df = provider(sel.table).alias(base)

    for j in sel.joins:
        right = provider(j.right).alias(j.right)
        on = None
        for lc, rc in j.on:
            clause = F.col(f"{base}.{lc}") == F.col(f"{j.right}.{rc}")
            on = clause if on is None else (on & clause)
        how = "inner" if j.how == "join" else j.how
        df = df.join(right, on=on, how=how)

    if sel.filter:
        df, helpers, drops = _attach_subqueries(df, sel.filter, provider)
        resolver = (lambda t: helpers[id(t)]) if helpers else None
        df = df.filter(compile_filter(sel.filter, subquery=resolver))
        if drops:
            df = df.drop(*drops)

    agg_cols = [c for c in sel.columns if isinstance(c, FnCol) and c.is_aggregate()]
    if sel.group_by or agg_cols:
        keys = list(sel.group_by)
        aggs = [_column_expr(c) for c in agg_cols]
        df = df.groupBy(*[F.col(k) for k in keys]).agg(*aggs) if aggs else df.select(*keys).distinct()
        if sel.having:
            # post-aggregation filter: conds may name raw group keys or
            # aggregate display names (both exist on the agg output);
            # anything else is a loud error, not a mis-bind
            legal = set(keys) | {c.display_name() for c in agg_cols}
            _check_having_cols(sel.having, legal)
            df = df.filter(compile_filter(sel.having))
        if sel.columns:
            # non-aggregate projected columns must be group keys (SQL
            # rule); aggregates already carry their display name from
            # agg(), while key columns re-apply alias / scalar fns
            # HERE — after aggregation only the raw key names exist,
            # so F.col(display_name) would miss aliased keys
            ordered = [
                F.col(c.display_name())
                if isinstance(c, FnCol) and c.is_aggregate()
                else _post_agg_expr(c)
                for c in sel.columns
            ]
            df = df.select(*ordered)
    elif sel.columns:
        df = df.select(
            *[
                _win_expr(c) if isinstance(c, WinCol) else _column_expr(c)
                for c in sel.columns
            ]
        )
        if sel.qualify:
            # post-window filter (QUALIFY): conds reference display
            # names, which the projection just established
            df = df.filter(compile_filter(sel.qualify))

    if sel.distinct:
        # SQL logical order: ... HAVING -> SELECT -> DISTINCT -> ORDER
        df = df.distinct()

    if sel.order:
        df = df.orderBy(*[F.col(o.col).desc() if o.desc else F.col(o.col).asc() for o in sel.order])

    if sel.offset is not None:
        df = df.offset(sel.offset)
    if sel.limit is not None:
        df = df.limit(sel.limit)
    return df


def compile_compound(cp, provider: TableProvider) -> DataFrame:
    """Compound (set-op) ADT -> DataFrame: left-fold the operands with
    the matching Spark set operation (positional alignment, SQL rule —
    names follow the first operand), then ORDER/OFFSET/LIMIT over the
    combined result."""
    from .adt import Compound

    assert isinstance(cp, Compound)
    parts = [compile_select(s, provider) for s in cp.selects]
    first_cols = parts[0].columns
    out = parts[0]
    for p in parts[1:]:
        p = p.toDF(*first_cols)  # positional alignment
        if cp.op == "union":
            out = out.unionAll(p).distinct()
        elif cp.op == "union_all":
            out = out.unionAll(p)
        elif cp.op == "intersect":
            out = out.intersect(p)
        elif cp.op == "intersect_all":
            out = out.intersectAll(p)
        elif cp.op == "except":
            out = out.subtract(p)  # EXCEPT DISTINCT semantics
        else:  # except_all
            out = out.exceptAll(p)
    if cp.order:
        out = out.orderBy(
            *[F.col(o.col).desc() if o.desc else F.col(o.col).asc() for o in cp.order]
        )
    if cp.offset is not None:
        out = out.offset(cp.offset)
    if cp.limit is not None:
        out = out.limit(cp.limit)
    return out


def compile_select_fx(
    sel: Select,
    provider: TableProvider,
    primary_key: str | Callable[[str], str | None] | None = None,
):
    """compile_select honoring ``include_primary_key``: the PK is
    prepended to the projection and the result frame is index-tagged —
    the DataFrame-backend analogue of the reference's enriched select
    (ec.rs:555-567 fetches the PK from the catalog, 588-591 prepends
    it and tags index 0).

    ``primary_key`` is the PK column name, or a ``table -> pk``
    resolver (the catalog lookup), or None (no tagging)."""
    from ..frame import FxFrame

    pk = primary_key(sel.table) if callable(primary_key) else primary_key
    index = None
    if sel.include_primary_key and pk is not None:
        sel = with_primary_key(sel, pk)
        index = pk
    return FxFrame(compile_select(sel, provider), index)
