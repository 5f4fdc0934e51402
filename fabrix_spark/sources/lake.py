"""Parquet-lake table writer with the fabrix save-strategy surface.

The reference's save strategies target SQL tables
(sql_adt.rs:893-900; executor ec.rs:484-538). On a data lake the same
four semantics apply to a parquet table directory:

- ``fail_if_exists``  → errorifexists write
- ``replace``         → overwrite
- ``append``          → append
- ``upsert``          → key-based merge: delete-matched + insert-all
  (the reference's probe-and-split, ec.rs:518-538, done as one
  anti-join instead of per-row UPDATEs)

Commit protocol (matches the reference's txn-with-rollback guarantee,
ec.rs:602-651, on the lake path): every operation commits a NEW
immutable version directory by atomically replacing a pointer file —

    <root>/_current           ← one line: the live version dir name
    <root>/v_000001_ab12cd34/ ← immutable parquet tree
    <root>/v_000002_ef56ab78/

Readers resolve through the pointer, so there is never an instant
where the table is missing or half-written: the pointer only moves
after the parquet footer of every file the commit wrote has been
opened successfully (no Spark job — the manifest pass reads those
footers anyway), the pointer file is fsynced before the single
``os.replace`` (atomic on POSIX), and the directory entry is fsynced
after. A crash at ANY step leaves the
pointer on a complete tree — before the flip the old version is live,
after it the new one is. Append and partial (bucket-scoped) upserts
assemble their new version by HARD-LINKING the untouched files of the
previous tree — O(#files) metadata work, zero data copied — so every
strategy, append included, goes through the same atomic flip.

Reader-safety guarantee, stated precisely: pointer RESOLUTION is safe
at every instant (a reader never sees a missing or half-written
table). A scan that resolved the pointer *before* a commit and is
still reading the superseded tree is safe only while that tree
exists: with the default ``retain=0`` superseded trees are
garbage-collected immediately after the flip, so long-running scans
can lose files mid-read; construct the table with ``retain >= 1`` to
keep that many superseded versions on disk (hard-linked trees share
file storage, so retention is cheap) and in-flight scans spanning up
to ``retain`` commits complete safely.

Single-writer contract by default: no lock is taken against
concurrent WRITERS (like the pre-Delta lake merges this models) —
each commit stays atomic, but two interleaved read-modify-write
cycles race as lost-update. ``lock=True`` opts into an advisory
``_writer_lock`` file (O_EXCL create, stale takeover, bounded wait —
see :meth:`LakeTable.writer_lock`) that serializes writers sharing a
POSIX filesystem; object-store deployments still need a table format
(Delta/Iceberg) layered on top. Legacy flat layouts
(parquet files directly under the root, e.g. written by plain
``df.write.parquet(path)``) are read transparently and migrated to
the versioned layout by their first rewriting operation; version
directories are recognized by the strict ``v_NNNNNN_hhhhhhhh``
pattern, so a legacy partition column that merely *starts* with
``v_`` (dirs like ``v_date=2020``) is treated as data, not metadata.

File-skipping metadata: every commit writes a ``_manifest.json`` into
the version tree with per-file footer statistics (min/max/null-count
per primitive column — collected from parquet FOOTERS only, and
carried over by relative path for hard-linked files, so incremental
commits re-stat only their new files). :meth:`LakeTable.scan` prunes
the file list against the manifest (plus hive ``col=val`` partition
dirs) before Spark opens a single footer — at 100k files this turns a
selective query from a cluster-wide listing+scheduling pass into a
driver-side metadata lookup, the Iceberg/Delta data-skipping idea.
:meth:`LakeTable.optimize` Z-order-clusters the table (bit-interleaved
multi-column sort, pure column expressions) so pruning works on every
clustered dimension, not just a sort leader.

Schema record: every write stores the Spark schema of the data
columns it wrote (physical names, partition columns left out) in the
version tree's ``_schema.json``, and reads hand it to Spark, so no
read of a version tree starts a schema-inference job. Partition
column values still come from directory inference. Trees without a
record (legacy layouts, older versions) and ``merge_schema=True``
tables keep inferring from footers.

Scale note: the plan shape (anti join on the index, union,
partitioned write) is exactly what a warehouse MERGE executes — the
anti-join shuffles on the key, nothing collects to the driver, and
``partition_by`` keeps reads pruned. With ``buckets=N`` the table is
additionally partitioned by a stable hash of the index key and an
upsert rewrites ONLY the bucket partitions containing matched keys
(the rest of the tree is hard-linked into the new version), so a
small delta merged into a 100 TB table costs O(delta + touched
buckets), not O(corpus). The pointer commit itself is O(1) metadata
work regardless of data size.
"""

from __future__ import annotations

import base64
import contextlib
import hashlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..frame import FxFrame
from .files import parquet_schema
from .sql import SaveStrategy

__all__ = ["LakeTable", "LakeProvider", "save_lake", "compact", "init_aggregate", "maintain_aggregate"]

_POINTER = "_current"
# strict version-dir pattern: a bare "v_" prefix would also swallow a
# legacy table partitioned by a column named e.g. v_date (ADVICE r5)
_VER_RE = re.compile(r"v_\d{6}_[0-9a-f]{8}\Z")
# key-hash bucket partition column (no leading underscore — Spark's
# file listing skips "_"/"." prefixed paths, which must not hide data)
_BUCKET_COL = "fx_bucket"


_MANIFEST = "_manifest.json"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _is_version(name: str) -> bool:
    return _VER_RE.match(name) is not None


def _unreadable(vdir: str, why: str) -> RuntimeError:
    return RuntimeError(
        f"new table version at {vdir!r} is unreadable ({why}); live table "
        f"unchanged (pointer not moved), bad output kept for inspection"
    )


def _stat_key(v):
    """Normalize a stats / predicate value into a sortable key that
    orders identically to the column's own ordering: numbers compare
    numerically, dates/timestamps via their ISO string (lexicographic
    == chronological), strings as-is. None → not comparable."""
    import datetime

    if v is None or isinstance(v, bool):
        return None if v is None else (1 if v else 0)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:  # normalize to UTC-naive so the ISO
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()  # strings of stats and predicates align
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        return v
    return None  # bytes / nested — no pruning on this column


def _footer_stats(md) -> dict:
    """Per-file column statistics from a parquet FOOTER (pyarrow
    ``FileMetaData``; no data pages read): min/max/null-count per
    top-level primitive column, merged across row groups. Parquet
    writers may truncate long string min/max, but truncation preserves
    bound-ness (stored min <= true min, stored max >= true max), so
    pruning stays sound. Columns whose footer carries no usable stats
    are simply absent — absent means "never pruned"."""
    cols: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name:  # nested leaf — not a top-level column
                continue
            st = c.statistics
            if st is None:
                cols[name] = None  # a group without stats poisons the column
                continue
            nulls = st.null_count if st.has_null_count else None
            if st.has_min_max:
                mn, mx = _stat_key(st.min), _stat_key(st.max)
            else:
                mn = mx = None
            prev = cols.get(name, {"min": None, "max": None, "nulls": 0})
            if prev is None:
                continue
            if mn is None or mx is None:
                # stats exist but carry no usable bounds (e.g. all-null
                # group): keep bounds open, still count nulls
                merged_min, merged_max = prev["min"], prev["max"]
                if st.num_values and not st.has_min_max:
                    cols[name] = None
                    continue
            else:
                merged_min = mn if prev["min"] is None else min(prev["min"], mn)
                merged_max = mx if prev["max"] is None else max(prev["max"], mx)
            cols[name] = {
                "min": merged_min,
                "max": merged_max,
                "nulls": None
                if nulls is None or prev["nulls"] is None
                else prev["nulls"] + nulls,
            }
    return {
        "rows": md.num_rows,
        "cols": {k: v for k, v in cols.items() if v is not None},
    }


def _all_nullable(t):
    """A data type's JSON form with every field, array element and map
    value nullable — what Spark's parquet reader reports anyway
    (``StructType.asNullable``), so recorded schemas compare equal
    whatever nullability the written frame declared."""
    if not isinstance(t, dict):
        return t  # primitive type name
    kind = t.get("type")
    if kind == "struct":
        fields = [{**f, "nullable": True, "type": _all_nullable(f["type"])} for f in t["fields"]]
        return {**t, "fields": fields}
    if kind == "array":
        return {**t, "elementType": _all_nullable(t["elementType"]), "containsNull": True}
    if kind == "map":
        return {
            **t,
            "keyType": _all_nullable(t["keyType"]),
            "valueType": _all_nullable(t["valueType"]),
            "valueContainsNull": True,
        }
    return t


def _bloom_indices(key: str, m: int, k: int) -> list[int]:
    """k bit positions for a value's string key: consecutive 8-hex-char
    slices of one md5 digest, mod m. Deterministic (no RNG, no seed),
    so filters built anywhere verify anywhere; k ≤ 4 by construction
    (md5 yields four independent 32-bit slices)."""
    digest = hashlib.md5(key.encode("utf-8")).hexdigest()
    return [int(digest[8 * i : 8 * i + 8], 16) % m for i in range(k)]


def _bloom_key(v) -> "str | None":
    """Canonical STRING key for bloom build/probe. Unlike min/max
    pruning (which compares `5 == 5.0` numerically), a bloom filter
    hashes strings — so numerically-equal values of different Python
    types MUST normalize to the same key or a present value probes
    absent (false negative = silently dropped files). Integral floats
    therefore collapse to their exact int (`float.is_integer` →
    `int(v)` is exact for any such float, at any magnitude); only
    genuinely fractional values keep a float rendering (`repr`, the
    shortest round-trip form). None → no key (nulls never match
    equality predicates)."""
    sk = _stat_key(v)
    if sk is None:
        return None
    if isinstance(sk, float):
        return str(int(sk)) if sk.is_integer() else repr(sk)
    return str(sk)


def _bloom_build(values, m: int, k: int) -> str:
    """Base64 bitset over the values' bloom-keys (None keys skipped)."""
    bits = bytearray((m + 7) // 8)
    for v in values:
        bk = _bloom_key(v)
        if bk is None:
            continue
        for i in _bloom_indices(bk, m, k):
            bits[i >> 3] |= 1 << (i & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def _bloom_may_contain(bf: dict, value) -> bool:
    """Sound membership test: False ONLY when the filter proves
    absence (a zero bit); any decode problem degrades to True.

    Filters carry a key-scheme version: v2 filters were built with
    :func:`_bloom_key` (type-normalized). A legacy (unversioned) filter
    was built with raw ``str(_stat_key(v))``, under which `5` and `5.0`
    hash differently — probing one with a numeric value is only sound
    when the stored column happened to share the literal's type, which
    the manifest doesn't record, so numeric probes against legacy
    filters degrade to True (no pruning) rather than risk a false
    negative. String/date keys are identical across schemes."""
    bk = _bloom_key(value)
    if bk is None:
        return True
    try:
        bits = base64.b64decode(bf["bits"])
        m, k = int(bf["m"]), int(bf["k"])
    except (KeyError, ValueError, TypeError):
        return True
    if int(bf.get("v", 1)) < 2 and isinstance(_stat_key(value), (int, float)):
        return True  # legacy filter, numeric probe: key scheme unknown
    for i in _bloom_indices(bk, m, k):
        if not (bits[i >> 3] >> (i & 7)) & 1:
            return False
    return True


def _file_bloom(path: str, cols: list[str], bits_per_value: int = 10, k: int = 3) -> dict:
    """Per-file bloom filters for the given columns — the
    high-cardinality equality-pruning complement to min/max footer
    stats (the Delta/Iceberg bloom-index idea on the manifest layout).
    Unlike :func:`_file_stats` this reads the indexed COLUMNS' data
    pages (column-pruned arrow read), but only at write time and only
    for new files. Filter size scales with the file's distinct count,
    capped at 2^17 bits (16 KiB → ~22 KiB base64 per column per file;
    beyond that a sidecar file would be the right home)."""
    import pyarrow.parquet as pq

    out = {}
    # Only columns physically present in THIS file's pages: a requested
    # column that lives elsewhere (e.g. a hive partition directory) must
    # not fail the read — and must not take down the other columns'
    # filters with it, so each column builds independently.
    present = set(pq.read_schema(path).names)
    wanted = [c for c in cols if c in present]
    if not wanted:
        return out
    tbl = pq.read_table(path, columns=wanted)
    for c in wanted:
        try:
            vals = [v for v in tbl.column(c).to_pylist() if v is not None]
            if not vals:
                continue
            keys = {_bloom_key(v) for v in vals} - {None}
            m = min(1 << 17, max(64, bits_per_value * len(keys)))
            out[c] = {"m": m, "k": k, "v": 2, "bits": _bloom_build(vals, m, k)}
        except Exception:
            continue  # per-column: one bad column never drops the rest
    return out


def _partition_values(rel_path: str) -> dict:
    """Hive-style ``col=val`` directory components of a file's relative
    path, as exact (min == max) pseudo-stats: partition columns never
    appear in the file's own footer, but their directory value is the
    strongest statistic there is."""
    from urllib.parse import unquote

    out = {}
    for comp in rel_path.split(os.sep)[:-1]:
        if "=" not in comp:
            continue
        col, _, raw = comp.partition("=")
        raw = unquote(raw)
        if raw == _HIVE_NULL:
            out[col] = {"min": None, "max": None, "nulls": None, "all_null": True}
            continue
        val: object = raw
        try:
            val = int(raw)
        except ValueError:
            try:
                val = float(raw)
            except ValueError:
                pass
        k = _stat_key(val)
        out[col] = {"min": k, "max": k, "nulls": 0}
    return out


# predicate grammar for manifest pruning: a conjunction of simple
# (col, op, value) terms — the shape every file-skipping metadata
# layer (Iceberg/Delta) evaluates against its manifests
_PRUNE_OPS = {"=", "==", "<", "<=", ">", ">=", "between", "in", "is_null", "not_null"}


def _file_may_match(stats: dict, part_vals: dict, where: list[tuple]) -> bool:
    """Could ANY row of a file with these footer stats satisfy the
    conjunction? Conservative in every direction: missing column stats
    → yes; non-comparable values → yes. Comparison predicates (=, <,
    between, in) can't match NULL rows, so an all-null column with
    known bounds absent prunes only via its null count."""
    if stats.get("rows") == 0 and where:
        return False  # an empty file provably matches nothing
    for term in where:
        col, op = term[0], term[1]
        st = part_vals.get(col) or stats.get("cols", {}).get(col)
        if st is None:
            continue
        rows = stats.get("rows")
        nulls = st.get("nulls")
        all_null = st.get("all_null") or (
            nulls is not None and rows is not None and nulls >= rows > 0
        )
        if op == "is_null":
            if st.get("all_null"):
                continue
            if nulls is not None and nulls == 0:
                return False
            continue
        if op == "not_null":
            if all_null:
                return False
            continue
        if all_null:
            return False  # comparison predicates never match NULL
        lo, hi = st.get("min"), st.get("max")
        if lo is None or hi is None:
            continue
        if op in ("=", "=="):
            v = _stat_key(term[2])
            if v is None:
                continue
            bf = stats.get("bloom", {}).get(col)
            if bf is not None and not _bloom_may_contain(bf, term[2]):
                return False  # proven absent (no false negatives)
            try:
                if v < lo or v > hi:
                    return False
            except TypeError:
                continue
        elif op in ("<", "<=", ">", ">="):
            v = _stat_key(term[2])
            if v is None:
                continue
            try:
                if op == "<" and not (lo < v):
                    return False
                if op == "<=" and not (lo <= v):
                    return False
                if op == ">" and not (hi > v):
                    return False
                if op == ">=" and not (hi >= v):
                    return False
            except TypeError:
                continue
        elif op == "between":
            a, b = _stat_key(term[2]), _stat_key(term[3])
            if a is None or b is None:
                continue
            try:
                if hi < a or lo > b:
                    return False
            except TypeError:
                continue
        elif op == "in":
            vals = [_stat_key(v) for v in term[2]]
            if any(v is None for v in vals) or not vals:
                continue
            bf = stats.get("bloom", {}).get(col)
            if bf is not None and not any(
                _bloom_may_contain(bf, v) for v in term[2]
            ):
                return False  # every candidate proven absent
            try:
                if all(v < lo or v > hi for v in vals):
                    return False
            except TypeError:
                continue
        else:
            raise ValueError(f"unknown prune op {op!r} (supported: {sorted(_PRUNE_OPS)})")
    return True


_ADT_PRUNE_OPS = {
    "eq": "=",
    "gt": ">",
    "ge": ">=",
    "lt": "<",
    "le": "<=",
    "in": "in",
    "between": "between",
    "is_null": "is_null",
    "is_not_null": "not_null",
}


def _adt_cond_term(c, scan_table: str | None = None, col_map: dict | None = None) -> tuple | None:
    """Cond → prune term, or None for ops min/max stats can't refute
    (ne, like). A Cond qualified with a table name (``c.tbl``) that is
    not the table being scanned must NEVER prune: compile_select hands
    the whole filter tree to the provider even when the Select joins
    other tables, and a join-side column can share a name with a base
    column — pruning base files by a join-table predicate would
    silently drop rows. When ``scan_table`` is None (caller can't name
    the scanned table), any table-qualified Cond is unprunable."""
    if c.tbl is not None and c.tbl != scan_table:
        return None
    op = _ADT_PRUNE_OPS.get(c.op)
    if op is None:
        return None
    col = (col_map or {}).get(c.col, c.col)
    if op == "between":
        return (col, op, c.value[0], c.value[1])
    if op == "in":
        return (col, op, list(c.value))
    if op in ("is_null", "not_null"):
        return (col, op)
    return (col, op, c.value)


def _adt_may_match(
    tokens,
    stats: dict,
    part_vals: dict,
    scan_table: str | None = None,
    col_map: dict | None = None,
) -> bool:
    """Could a file with these footer stats contain a row satisfying
    the ADT filter tree? Mirrors ``plans.compiler.compile_filter``'s
    fold EXACTLY (AND binds tighter than OR, left-assoc, NOT applies
    to the next operand, Nest recurses) over three-valued-to-sound-
    boolean leaves: a Cond evaluates to "maybe" via its stats term
    (unprunable ops → True), and NOT x is always True (knowing x MAY
    match never proves NOT x can't). So OR trees prune per-disjunct —
    a file must be refutable on EVERY disjunct to be skipped."""
    from ..plans.adt import AND, NOT, OR, Cond, Exists, Nest

    def leaf(t) -> bool:
        if isinstance(t, Nest):
            return _adt_may_match(t.tokens, stats, part_vals, scan_table, col_map)
        if isinstance(t, Exists):
            # subquery predicates can never refute from footer stats
            return True
        if isinstance(t, Cond):
            term = _adt_cond_term(t, scan_table, col_map)
            if term is None:
                return True
            return _file_may_match(stats, part_vals, [term])
        raise ValueError(f"unexpected token {t!r}")  # pragma: no cover

    or_groups: list[bool] = []
    current: bool | None = None
    negate = False
    for t in tokens:
        if t is NOT:
            negate = True
        elif t is AND:
            continue
        elif t is OR:
            or_groups.append(bool(current))
            current = None
        else:
            v = True if negate else leaf(t)
            negate = False
            current = v if current is None else (current and v)
    or_groups.append(bool(current))
    return any(or_groups)


def _where_to_column(where: list[tuple]):
    """Compile the prune conjunction to a Spark Column — pruning is an
    optimization, the full predicate is always re-applied to the rows
    of the files that survive it."""
    cond = F.lit(True)
    for term in where:
        col, op = term[0], term[1]
        c = F.col(col)
        if op in ("=", "=="):
            t = c == F.lit(term[2])
        elif op == "<":
            t = c < F.lit(term[2])
        elif op == "<=":
            t = c <= F.lit(term[2])
        elif op == ">":
            t = c > F.lit(term[2])
        elif op == ">=":
            t = c >= F.lit(term[2])
        elif op == "between":
            t = c.between(F.lit(term[2]), F.lit(term[3]))
        elif op == "in":
            t = c.isin(list(term[2]))
        elif op == "is_null":
            t = c.isNull()
        elif op == "not_null":
            t = c.isNotNull()
        else:
            raise ValueError(f"unknown prune op {op!r}")
        cond = cond & t
    return cond


class LakeTable:
    """A parquet table rooted at ``path`` with an optional index
    (primary-key) column and partition columns. See the module
    docstring for the versioned pointer-commit layout.

    ``buckets=N`` partitions the data by ``hash(index) % N`` (an
    internal ``fx_bucket`` directory column, hidden from readers) so
    upserts rewrite only the buckets their keys land in.
    ``retain=K`` keeps the K most recent superseded version trees on
    disk for in-flight readers (default 0: immediate GC)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        index: str | None = None,
        partition_by: list[str] | None = None,
        buckets: int | None = None,
        retain: int = 0,
        lock: bool = False,
        lock_timeout: float = 60.0,
        lock_stale: float = 3600.0,
        merge_schema: bool = False,
        bloom_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.index = index
        self.partition_by = partition_by or []
        if buckets is not None and index is None:
            raise ValueError("buckets requires an index column to hash")
        self.buckets = buckets
        self.retain = retain
        self.lock = lock
        self.lock_timeout = lock_timeout
        self.lock_stale = lock_stale
        # additive schema evolution: reads merge parquet footers across
        # files (a column present in only some files comes back NULL
        # elsewhere) and upsert/append align by name with missing
        # columns allowed — the Delta/Iceberg mergeSchema behavior
        self.merge_schema = merge_schema
        # per-file bloom filters on these columns (built at commit for
        # NEW files only, stored in the manifest): equality/IN pruning
        # on high-cardinality columns where min/max bounds are too wide
        # to refute anything — the Delta/Iceberg bloom-index idea
        self.bloom_cols = bloom_cols or []

    # -- advisory writer lock -----------------------------------------------

    @contextlib.contextmanager
    def writer_lock(self, name: str = "_writer_lock"):
        """Advisory cross-process writer lock (opt-in via
        ``lock=True``): an O_EXCL-created ``_writer_lock`` file under
        the table root serializes read-modify-write cycles (upsert,
        delete, append) between concurrent writers sharing a POSIX
        filesystem — without it the pointer flip keeps each commit
        ATOMIC but two interleaved upserts still race as lost-update
        (both read version k, the second flip silently discards the
        first's merge). A lock file older than ``lock_stale`` seconds
        is treated as abandoned by a crashed writer and taken over;
        acquisition gives up with TimeoutError after ``lock_timeout``.
        Not a substitute for a table format's transaction log on
        object stores (S3 lacks O_EXCL semantics) — this targets the
        shared-POSIX (NFS/local) deployments the lake writer serves."""
        os.makedirs(self.path, exist_ok=True)
        lockfile = os.path.join(self.path, name)
        deadline = time.monotonic() + self.lock_timeout
        while True:
            try:
                fd = os.open(lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
                finally:
                    os.close(fd)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.stat(lockfile).st_mtime
                    if age > self.lock_stale:  # crashed holder: take over
                        os.remove(lockfile)
                        continue
                except FileNotFoundError:
                    continue  # holder released between open and stat
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"writer lock on {self.path!r} held by another writer "
                        f"for over {self.lock_timeout}s (see {lockfile})"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            try:
                os.remove(lockfile)
            except OSError:
                pass

    def _maybe_lock(self):
        return self.writer_lock() if self.lock else contextlib.nullcontext()

    # -- pointer resolution -------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def _current_version(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                v = f.read().strip()
        except FileNotFoundError:
            return None
        return v or None

    def current_dir(self) -> str:
        """Directory holding the live tree: the pointer target, or the
        table root itself for legacy flat layouts."""
        v = self._current_version()
        return os.path.join(self.path, v) if v else self.path

    def _legacy_entries(self) -> list[str]:
        """Top-level entries of a legacy flat layout (data written
        directly under the root — not pointer metadata, not version
        dirs)."""
        if not os.path.isdir(self.path):
            return []
        return [
            n
            for n in os.listdir(self.path)
            if not n.startswith(("_", ".")) and not _is_version(n)
        ]

    def exists(self) -> bool:
        v = self._current_version()
        if v is not None:
            return os.path.isdir(os.path.join(self.path, v))
        return bool(self._legacy_entries())

    def _reader(self, vdir: str):
        """A parquet reader for the version tree ``vdir``: with the
        data schema its writer recorded (Spark starts no inference
        job), else with the schema the file resolver inferred once per
        tree identity (``files.parquet_schema``) — footer inference on
        every read only for ``merge_schema`` tables, whose files may
        legitimately disagree."""
        r = self.spark.read
        if self.merge_schema:
            return r.option("mergeSchema", "true")
        recorded = self._schema_doc(vdir).get("data")
        if recorded is not None:
            return r.schema(StructType.fromJson(recorded))
        inferred = parquet_schema(self.spark, vdir)
        return r if inferred is None else r.schema(inferred)

    def _read_raw_physical(self, vdir: str | None = None) -> DataFrame:
        vdir = vdir or self.current_dir()
        return self._reader(vdir).parquet(vdir)

    def _read_raw(self, vdir: str | None = None) -> DataFrame:
        vdir = vdir or self.current_dir()
        return self._apply_schema_map(self._read_raw_physical(vdir), vdir)

    def versions(self) -> list[str]:
        """Version directories on disk, oldest → newest. The live one
        is whatever the pointer names (not necessarily the newest —
        e.g. after a crash left an uncommitted staging tree); with
        ``retain > 0`` superseded entries stay readable via
        ``read(version=...)`` — bounded time travel."""
        if not os.path.isdir(self.path):
            return []
        return sorted(n for n in os.listdir(self.path) if _is_version(n))

    def read(self, version: str | None = None) -> FxFrame:
        """The live table, or — with ``version`` naming an entry of
        :meth:`versions` — a retained historical snapshot."""
        if version is None:
            df = self._read_raw()
        else:
            vdir = os.path.join(self.path, version)
            if not _is_version(version) or not os.path.isdir(vdir):
                raise ValueError(
                    f"unknown version {version!r} for lake table {self.path!r} "
                    f"(on disk: {self.versions()})"
                )
            df = self._read_raw(vdir)
        if _BUCKET_COL in df.columns:
            df = df.drop(_BUCKET_COL)
        return FxFrame(df, self.index)

    # -- file-statistics manifest + data skipping ---------------------------

    def _data_files(self, vdir: str) -> list[str]:
        """Relative paths of every parquet data file under a version
        tree (skipping metadata like _SUCCESS / _manifest.json)."""
        out = []
        for root, _dirs, files in os.walk(vdir):
            for n in files:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    out.append(os.path.relpath(os.path.join(root, n), vdir))
        return sorted(out)

    def _write_manifest(self, ver: str, carry: dict | None = None) -> tuple[dict, dict]:
        """Collect per-file footer statistics into ``_manifest.json``
        inside the (still-uncommitted) version tree — the Iceberg/Delta
        file-skipping idea on the pointer-commit layout. Metadata-only:
        parquet footers are read, never data pages, and files hard-
        linked from the previous version reuse the previous manifest's
        entry by relative path (linked files are bit-identical), so an
        append/bucketed-upsert pays stats collection for its NEW files
        only.

        This pass is also the commit's readability gate: the footer of
        every new file must open, and the tree must hold at least one
        data file, or it raises before the pointer can move. Statistics
        themselves stay best-effort — a footer that opens but yields
        no usable stats degrades to a stats-less entry (that file is
        simply never pruned), and bloom filters never fail a commit.

        Returns (manifest file entries, commit metrics: files_added,
        files_linked, bytes_added — "added" is every file whose footer
        was opened here, "linked" every entry carried over)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        vdir = os.path.join(self.path, ver)
        prev: dict = carry if carry is not None else {}
        pv = self._current_version()
        if not prev and pv is not None:
            prev = self._load_manifest(os.path.join(self.path, pv)).get("files", {})
        rels = self._data_files(vdir)
        if not rels:
            raise _unreadable(vdir, "it holds no data file")
        files = {}
        added = added_bytes = 0
        for rel in rels:
            if rel in prev:
                files[rel] = prev[rel]
                continue
            path = os.path.join(vdir, rel)
            try:
                md = pq.read_metadata(path)
            except (OSError, pa.ArrowException) as e:
                raise _unreadable(vdir, f"the footer of {rel!r} does not open") from e
            added += 1
            added_bytes += os.stat(path).st_size
            try:
                files[rel] = _footer_stats(md)
            except Exception:
                files[rel] = {"rows": md.num_rows, "cols": {}}
            if self.bloom_cols:
                try:
                    bf = _file_bloom(
                        path, [self._to_physical_name(c) for c in self.bloom_cols]
                    )
                    if bf:
                        files[rel]["bloom"] = bf
                except Exception:
                    pass  # bloom is an optimization, never a gate
        tmp = os.path.join(vdir, f"_manifest_tmp_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            # "buckets" records the writer's bucket COUNT: the layout
            # sniff in _check_bucket_layout can see bucketed-vs-flat
            # from directory names but never N, and a second writer
            # opened with a different N would silently route keys to
            # the wrong bucket (missed CDC deletes, duplicate keys on
            # upsert) — found by the round-16 lake review
            json.dump(
                {"version": 1, "buckets": self.buckets or 0, "files": files}, f
            )
        os.replace(tmp, os.path.join(vdir, _MANIFEST))
        return files, {
            "files_added": added,
            "files_linked": len(rels) - added,
            "bytes_added": added_bytes,
        }

    def _write_commit_info(self, ver: str, op: str, files: dict, metrics: dict) -> None:
        """Record what produced a version (``_commit.json`` in the
        version tree): operation name, wall-clock timestamp, the row
        and file counts folded from the manifest entries, and what the
        commit wrote and linked (``metrics``: files_added, files_linked,
        bytes_added, plus buckets_touched for bucketed merges and any
        caller ``commit_extra``) — the DESCRIBE HISTORY surface of a
        table format."""
        vdir = os.path.join(self.path, ver)
        rows: int | None = 0
        for st in files.values():
            r = st.get("rows")
            rows = None if (rows is None or r is None) else rows + r
        info = {"op": op, "ts": time.time(), "rows": rows, "files": len(files), **metrics}
        tmp = os.path.join(vdir, f"_commit_tmp_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(info, f)
        os.replace(tmp, os.path.join(vdir, "_commit.json"))

    def history(self) -> list[dict]:
        """Commit log of the versions still on disk, oldest → newest:
        one dict per version with (version, op, ts, rows, files, live)
        plus, where recorded, what the commit wrote and linked
        (files_added, files_linked, bytes_added; buckets_touched for
        bucketed merges). Versions written before commit info existed
        report op=None.
        Metadata-only — two small JSON reads per retained version."""
        live = self._current_version()
        out = []
        for v in self.versions():
            try:
                with open(os.path.join(self.path, v, "_commit.json")) as f:
                    info = json.load(f)
            except (OSError, ValueError):
                info = {"op": None, "ts": None, "rows": None, "files": None}
            out.append({"version": v, "live": v == live, **info})
        return out

    @staticmethod
    def _load_manifest(vdir: str) -> dict:
        try:
            with open(os.path.join(vdir, _MANIFEST)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"version": 1, "files": {}}

    def manifest(self) -> dict:
        """The live version's file-statistics manifest:
        ``{"files": {rel_path: {"rows": n, "cols": {col: {"min", "max",
        "nulls"}}}}}``. Empty for legacy/pre-manifest trees."""
        return self._load_manifest(self.current_dir())

    def pruned_files(self, where: list[tuple]) -> tuple[list[str], int]:
        """Evaluate a conjunction of ``(col, op, value...)`` terms
        (ops: = < <= > >= between in is_null not_null) against the
        manifest. Returns (surviving relative paths, total file count).
        Files without usable stats always survive — pruning is sound,
        never required."""
        return self._prune(self.current_dir(), where)

    def _prune(self, cur: str, where: list[tuple]) -> tuple[list[str], int]:
        man = self._load_manifest(cur).get("files", {})
        # predicate names are LOGICAL; manifest/partition-dir keys are
        # PHYSICAL (files never rewrite on rename) — translate terms
        mapping = self._schema_map(cur)
        phys = {logical: p for p, logical in mapping.items()}
        where = [(phys.get(t[0], t[0]), *t[1:]) for t in where]
        all_files = self._data_files(cur)
        kept = []
        for rel in all_files:
            st = man.get(rel) or {"rows": None, "cols": {}}
            if _file_may_match(st, _partition_values(rel), where):
                kept.append(rel)
        return kept, len(all_files)

    def stats(self) -> dict:
        """Table-level statistics straight from the manifest — no scan,
        no Spark job: total row count and, for every column each file
        has stats for, the global min/max and summed null count (None
        where any file lacks usable stats, since the true bound is then
        unknown). This is what answers ``count(*)`` / fuels a
        cost-based planner at 100 TB for the price of one JSON read."""
        man = self._load_manifest(self.current_dir()).get("files", {})
        rows: int | None = 0
        cols: dict[str, dict | None] = {}
        for st in man.values():
            r = st.get("rows")
            rows = None if (rows is None or r is None) else rows + r
            for c, cs in st.get("cols", {}).items():
                prev = cols.setdefault(c, {"min": None, "max": None, "nulls": 0})
                if prev is None:
                    continue
                n = cs.get("nulls")
                if cs.get("min") is None or cs.get("max") is None:
                    # bound-less stats: harmless iff the file provably
                    # holds no values for this column (all-null)
                    if r is not None and n == r:
                        prev["nulls"] = (
                            None if prev["nulls"] is None else prev["nulls"] + n
                        )
                        continue
                    cols[c] = None
                    continue
                try:
                    prev["min"] = (
                        cs["min"] if prev["min"] is None else min(prev["min"], cs["min"])
                    )
                    prev["max"] = (
                        cs["max"] if prev["max"] is None else max(prev["max"], cs["max"])
                    )
                except TypeError:
                    cols[c] = None
                    continue
                prev["nulls"] = (
                    None if (n is None or prev["nulls"] is None) else prev["nulls"] + n
                )
        seen = {c for st in man.values() for c in st.get("cols", {})}
        # a column absent from the stats of a file that HAS rows has
        # unknown bounds (zero-row part files can't hold values and
        # legitimately carry no stats — they bound nothing)
        for st in man.values():
            if st.get("rows") == 0:
                continue
            for c in seen - set(st.get("cols", {})):
                cols[c] = None
        mapping = self._schema_map()
        if mapping:
            cols = {mapping.get(c, c): v for c, v in cols.items()}
        return {"rows": rows, "files": len(man), "cols": cols}

    def scan_adt(self, filter_tokens, table_name: str | None = None) -> FxFrame:
        """Manifest-pruned read driven by the fabrix Select-ADT filter
        grammar: the SAME token tree the reference serializes
        (sql_adt.rs Condition/AND/OR/Nest) compiles to the residual
        Column predicate AND is evaluated per file against the
        manifest's stats — including OR trees (a file survives if ANY
        disjunct may match) and NOT (conservatively never refuted).
        The full predicate always re-applies to surviving files."""
        from ..plans.compiler import compile_filter

        cond = compile_filter(filter_tokens)
        cur = self.current_dir()
        man = self._load_manifest(cur).get("files", {})
        col_map = {l: p for p, l in self._schema_map(cur).items()}
        kept = [
            rel
            for rel in self._data_files(cur)
            if _adt_may_match(
                filter_tokens,
                man.get(rel) or {"rows": None, "cols": {}},
                _partition_values(rel),
                table_name,
                col_map,
            )
        ]
        return self._read_pruned(kept, cond, cur)

    def scan(self, where: list[tuple] | None = None) -> FxFrame:
        """Manifest-pruned read: files whose footer statistics prove
        they cannot contain a matching row are never handed to Spark
        (no task, no footer fetch, no scheduling cost — at 100 TB /
        100k files this is the difference between a metadata lookup
        and a cluster-wide scan), and the predicate is re-applied to
        the survivors. Equivalent to ``read().df.filter(...)`` by
        construction; with no ``where`` it IS :meth:`read`."""
        if not where:
            return self.read()
        cur = self.current_dir()
        kept, _total = self._prune(cur, where)
        return self._read_pruned(kept, _where_to_column(where), cur)

    def _read_pruned(self, kept: list[str], cond, cur: str) -> FxFrame:
        """Read the ``kept`` relative paths of the version tree ``cur``
        (the one they were pruned from) with the tree's schema and
        apply the residual predicate."""
        if not kept:  # provably empty — still typed like the table
            df = self._read_raw(cur).filter(F.lit(False))
        else:
            r = self._reader(cur).option("basePath", cur)
            df = self._apply_schema_map(
                r.parquet(*[os.path.join(cur, rel) for rel in kept]), cur
            ).filter(cond)
        if _BUCKET_COL in df.columns:
            df = df.drop(_BUCKET_COL)
        return FxFrame(df, self.index)

    def optimize(
        self,
        cluster_by: list[str],
        bits: int = 12,
        target_file_mb: int = 128,
        n_files: int | None = None,
    ) -> None:
        """Z-order clustering rewrite: map each ``cluster_by`` column
        (numeric / date / timestamp) onto a ``bits``-bit grid via its
        min/max range (one tiny aggregate), interleave the grid bits
        into a single z-value (pure column expressions, no UDF), then
        range-repartition + sort by z and commit the rewrite through
        the usual pointer flip. Files then cover small hyper-rectangles
        of the clustered space instead of full-range stripes, so the
        manifest prunes on ANY clustered column, not just a sort
        leader — the Delta OPTIMIZE ZORDER BY semantics. One full
        rewrite (range shuffle); run it at the cadence of compaction.

        A SINGLE cluster column takes the direct range-sort path (a
        one-dimensional Z-order IS a range sort) — which also makes
        string columns clusterable (the posting-table / inverted-index
        layout); the grid interleave needs numeric/temporal columns
        and stays the multi-column path."""
        if not cluster_by:
            raise ValueError("optimize requires at least one cluster_by column")
        if self.buckets:
            raise ValueError(
                "z-order optimize would break hash-bucket layout; "
                "use compact() for bucketed tables"
            )
        import glob as _glob

        with self._maybe_lock():
            cur = self.current_dir()
            df = self._read_raw()
            if len(cluster_by) == 1:
                if n_files is None:
                    files = _glob.glob(
                        os.path.join(cur, "**", "*.parquet"), recursive=True
                    )
                    total_bytes = sum(os.path.getsize(f) for f in files)
                    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
                col = F.col(cluster_by[0])
                clustered = df.repartitionByRange(n_files, col).sortWithinPartitions(
                    col
                )
                self._commit_version(self._write_version(clustered), op="optimize")
                return
            from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

            temporal = (DateType, TimestampType, TimestampNTZType)
            nums = [
                F.col(c).cast("timestamp").cast("double")
                if isinstance(df.schema[c].dataType, temporal)
                else F.col(c).cast("double")
                for c in cluster_by
            ]
            rng = df.agg(
                *[f(n).alias(f"{t}{i}") for i, n in enumerate(nums) for t, f in (("lo", F.min), ("hi", F.max))]
            ).first()
            # the interleaved z-value must fit a signed 64-bit long:
            # JVM shiftleft wraps the shift count mod 64, so a shift
            # position >= 63 would silently scramble z-values (data
            # stays correct — clustering quality would just degrade).
            # Clamp bits so bits * n_cols <= 63.
            max_bits = 63 // len(cluster_by)
            if bits > max_bits:
                bits = max_bits
            grid = (1 << bits) - 1
            cells = []
            for i, n in enumerate(nums):
                lo, hi = rng[f"lo{i}"], rng[f"hi{i}"]
                span = (hi - lo) if (lo is not None and hi is not None and hi > lo) else 1.0
                cell = F.floor(((n - F.lit(lo or 0.0)) / F.lit(span)) * grid).cast("long")
                cells.append(F.least(F.greatest(F.coalesce(cell, F.lit(0)), F.lit(0)), F.lit(grid)))
            stride = len(cells)
            z = F.lit(0).cast("long")
            for b in range(bits):
                for i, cell in enumerate(cells):
                    z = z + F.shiftleft(
                        F.shiftright(cell, b).bitwiseAND(F.lit(1)), b * stride + i
                    )
            if n_files is None:
                files = _glob.glob(os.path.join(cur, "**", "*.parquet"), recursive=True)
                total_bytes = sum(os.path.getsize(f) for f in files)
                n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
            clustered = (
                df.withColumn("__z", z)
                .repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            self._commit_version(self._write_version(clustered), op="optimize")

    # -- bucket partitioning ------------------------------------------------

    def _tree_bucketed(self) -> bool:
        cur = self.current_dir()
        if not os.path.isdir(cur):
            return False
        return any(n.startswith(_BUCKET_COL + "=") for n in os.listdir(cur))

    def _check_bucket_layout(self) -> None:
        """Incremental writes (append/upsert/delete) must agree with
        the on-disk layout: a bucketed writer over a flat tree would
        mix partition dirs with loose files, and a flat writer over a
        bucketed tree would route the same key to a different place
        than the existing rows (duplicate keys across buckets) or
        silently flatten the layout. REPLACE is the intentional way to
        change layouts."""
        if not self.exists():
            return
        tree = self._tree_bucketed()
        cur = self.current_dir()
        loose_parquet = os.path.isdir(cur) and any(
            n.endswith(".parquet") for n in os.listdir(cur)
        )
        mismatch = (self.buckets and loose_parquet and not tree) or (
            not self.buckets and tree
        )
        if mismatch:
            have = "bucketed" if tree else "flat"
            want = "bucketed" if self.buckets else "flat"
            raise ValueError(
                f"lake table {self.path!r} on disk is {have} but this writer is "
                f"{want}; open it with matching `buckets` or rewrite with REPLACE"
            )
        # bucket COUNT check (directory sniffing can only see
        # bucketed-vs-flat): a writer opened with a different N than
        # the table was written with computes pmod(hash, N) into the
        # wrong partition — CDC deletes would silently miss rows whose
        # bucket dir is classified "untouched" and upserts would leave
        # duplicate keys across buckets. Manifests older than this
        # field (or legacy trees) record nothing and skip the check.
        recorded = self._load_manifest(cur).get("buckets")
        if recorded and self.buckets and recorded != self.buckets:
            raise ValueError(
                f"lake table {self.path!r} was written with buckets="
                f"{recorded} but this writer was opened with buckets="
                f"{self.buckets}; open it with the recorded count or "
                f"rewrite with REPLACE"
            )

    def _part_cols(self) -> list[str]:
        # bucket OUTERMOST so an untouched bucket is one wholesale
        # linkable directory regardless of inner partition columns
        return ([_BUCKET_COL] if self.buckets else []) + self.partition_by

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if not self.buckets or _BUCKET_COL in df.columns:
            return df
        return df.withColumn(
            _BUCKET_COL,
            F.pmod(F.xxhash64(F.col(self.index).cast("string")), F.lit(self.buckets)).cast(
                "int"
            ),
        )

    # -- column mapping (rename without rewrite) ----------------------------

    _SCHEMA = "_schema.json"

    def _schema_doc(self, vdir: str) -> dict:
        """A version tree's ``_schema.json``: ``renames`` (physical →
        logical column names) and ``data`` (the recorded Spark schema
        of the data columns, see :meth:`_write_version`). Empty when
        the tree has none."""
        try:
            with open(os.path.join(vdir, self._SCHEMA)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _schema_map(self, vdir: str | None = None) -> dict:
        """physical → logical column renames for a version tree
        (empty = identity). Files ALWAYS store the original physical
        names — renames are metadata only."""
        return self._schema_doc(vdir or self.current_dir()).get("renames", {})

    def _apply_schema_map(self, df: DataFrame, vdir: str | None = None) -> DataFrame:
        for phys, logical in self._schema_map(vdir).items():
            if phys in df.columns:
                df = df.withColumnRenamed(phys, logical)
        return df

    def _to_physical_df(self, df: DataFrame) -> DataFrame:
        """Inverse mapping for WRITES: callers supply logical names;
        files keep physical names forever, so every file in the tree
        stays schema-uniform across renames."""
        for phys, logical in self._schema_map().items():
            if logical in df.columns:
                df = df.withColumnRenamed(logical, phys)
        return df

    def _to_physical_name(self, name: str) -> str:
        for phys, logical in self._schema_map().items():
            if logical == name:
                return phys
        return name

    def rename_column(self, old: str, new: str) -> None:
        """RENAME WITHOUT REWRITE (the Delta column-mapping idea):
        commit a new version whose data files are all hard-links of
        the live tree and whose ``_schema.json`` maps the column's
        PHYSICAL name (as stored in parquet, stable forever) to the
        new logical name. Reads apply the mapping after load; writes
        apply the inverse before writing; manifest/bloom pruning
        translates predicate names to physical — so a rename on a
        100 TB table is O(#files) metadata. Chained renames collapse
        onto the original physical name."""
        with self._maybe_lock():
            cur = self.current_dir()
            mapping = self._schema_map(cur)
            logical_now = [mapping.get(c, c) for c in self._read_raw_physical(cur).columns]
            if old not in logical_now:
                raise ValueError(f"no column {old!r} (have {logical_now})")
            if new in logical_now:
                raise ValueError(f"column {new!r} already exists")
            if old in self.partition_by:
                raise ValueError(
                    "cannot rename a hive partition column without rewrite "
                    "(directory names are physical)"
                )
            phys = self._to_physical_name(old)
            mapping = {p: l for p, l in mapping.items() if p != phys}
            if phys != new:
                mapping[phys] = new
            ver = self._new_version()
            dst = os.path.join(self.path, ver)
            os.makedirs(dst, exist_ok=True)
            self._link_tree(cur, dst)
            self._write_schema_doc(dst, {**self._schema_doc(cur), "renames": mapping})
            if self.index == old:
                self.index = new
            self._commit_version(
                ver,
                op="rename_column",
                extra={"from": old, "to": new},
                _carry_stats=self._load_manifest(cur).get("files", {}),
            )

    # -- versioned commit ---------------------------------------------------

    def _new_version(self) -> str:
        v = self._current_version()
        seq = 1
        if v:
            try:
                seq = int(v.split("_")[1]) + 1
            except (IndexError, ValueError):
                pass
        return f"v_{seq:06d}_{uuid.uuid4().hex[:8]}"

    def _write_version(self, df: DataFrame, empty_bucket: int = 0) -> str:
        """Write ``df`` as a fresh immutable version tree
        (uncommitted). Buckets hash the LOGICAL index column, then the
        frame renames to physical so files stay schema-uniform across
        column renames; the live schema map carries into the new tree.

        The tree's ``_schema.json`` also records the Spark schema of
        the data columns written (physical names, partition columns
        left out so their values and types still come from directory
        inference), which :meth:`_reader` hands to Spark instead of
        inferring it from a footer. ``merge_schema`` tables record
        none: their files may disagree and reads merge footers.
        ``empty_bucket`` names the bucket directory that holds the
        placeholder file of an empty bucketed write."""
        ver = self._new_version()
        wdf = self._to_physical_df(self._with_bucket(df))
        w = wdf.write.mode("errorifexists")
        if self._part_cols():
            w = w.partitionBy(*self._part_cols())
        vdir = os.path.join(self.path, ver)
        w.parquet(vdir)
        if self._part_cols() and not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(vdir)
            for f in fs
        ):
            # Spark writes NO data files for an empty PARTITIONED
            # frame (SPARK-23271 covers only unpartitioned writes), so
            # a CDC delete draining the whole table (or an empty
            # REPLACE) would commit a fileless tree that fails the
            # readability gate. Represent the empty bucketed table as
            # one empty bucket directory holding a 0-row
            # schema-carrying file: reads, layout checks, and later
            # bucket merges all see a normal bucketed tree (found by
            # the round-16 lake review; loud-and-unrepresentable
            # before). With user partition columns there is no valid
            # directory value to invent — refuse with a clear error
            # instead of the cryptic unreadable-version one.
            if self.partition_by:
                raise ValueError(
                    f"cannot write an empty version of {self.path!r}: a "
                    f"partition_by table has no representation for zero "
                    f"rows (drop the table instead of emptying it)"
                )
            self._to_physical_df(df).drop(_BUCKET_COL).limit(0).write.mode(
                "overwrite"
            ).parquet(os.path.join(vdir, f"{_BUCKET_COL}={empty_bucket}"))
        doc: dict = {}
        mapping = self._schema_map() if self.exists() else {}
        if mapping:
            doc["renames"] = mapping
        if not self.merge_schema:
            part = set(self._part_cols())
            data = StructType([f for f in wdf.schema.fields if f.name not in part])
            doc["data"] = _all_nullable(data.jsonValue())
        if doc:
            self._write_schema_doc(vdir, doc)
        return ver

    def _write_schema_doc(self, vdir: str, doc: dict) -> None:
        with open(os.path.join(vdir, self._SCHEMA), "w") as f:
            json.dump(doc, f)

    @staticmethod
    def _link_tree(src: str, dst: str, names: list[str] | None = None) -> None:
        """Hard-link every data file under ``src`` into the mirrored
        relative path under ``dst`` (merging with files already staged
        there). O(#files) metadata ops, zero bytes copied; falls back
        to a copy across filesystems. Skips "_"/"." prefixed entries
        (write markers like _SUCCESS — the staged tree has its own)."""
        entries = names if names is not None else os.listdir(src)
        for name in entries:
            if name.startswith(("_", ".")):
                continue
            sp = os.path.join(src, name)
            dp = os.path.join(dst, name)
            if os.path.isdir(sp):
                os.makedirs(dp, exist_ok=True)
                LakeTable._link_tree(sp, dp)
            else:
                try:
                    os.link(sp, dp)
                except FileExistsError:
                    pass
                except OSError:
                    shutil.copy2(sp, dp)

    def _commit_version(
        self,
        ver: str,
        op: str = "write",
        extra: dict | None = None,
        _carry_stats: dict | None = None,
    ) -> None:
        """Atomically make ``ver`` the live tree.

        Order matters: (1) prove the new tree readable without a Spark
        job — :meth:`_write_manifest` opens the parquet footer of every
        file this commit wrote and refuses a tree with no data file, so
        a failure here leaves the pointer (and therefore readers)
        untouched; the same pass records the manifest and the commit
        info (what was written and what was linked); (2) write
        the new pointer to a temp file and fsync it; (3) one atomic
        ``os.replace`` onto ``_current``; (4) fsync the directory entry
        so the flip survives power loss; (5) garbage-collect superseded
        trees beyond the retention horizon. A crash between any two
        steps leaves readers on a complete tree — old before step 3,
        new after."""
        files, metrics = self._write_manifest(ver, carry=_carry_stats)
        self._write_commit_info(ver, op, files, {**metrics, **(extra or {})})
        prev = self._current_version()
        legacy = self._legacy_entries() if prev is None else []
        tmp = os.path.join(self.path, f"_current_tmp_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(ver + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer_path())
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        self._gc(keep=ver, legacy=legacy)

    def _gc(self, keep: str, legacy: list[str]) -> None:
        """Best-effort cleanup after a successful commit: superseded /
        stray version trees beyond the ``retain`` most recent ones,
        migrated legacy flat data, abandoned pointer temp files.
        Failures are ignored — leftovers never affect readers (they
        resolve through the pointer) and the next commit retries."""
        try:
            others = sorted(
                (n for n in os.listdir(self.path) if _is_version(n) and n != keep),
                reverse=True,
            )
            for n in others[self.retain :]:
                shutil.rmtree(os.path.join(self.path, n), ignore_errors=True)
            for n in os.listdir(self.path):
                p = os.path.join(self.path, n)
                if n.startswith("_current_tmp_"):
                    try:
                        os.remove(p)
                    except OSError:
                        pass
                elif n in legacy:
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        try:
                            os.remove(p)
                        except OSError:
                            pass
        except OSError:
            pass

    # -- save strategies ----------------------------------------------------

    def _append_version(self, df: DataFrame) -> str:
        """Append as a COMMIT, not an in-place mutation: stage the new
        rows as a fresh version tree, hard-link the live tree's files
        in beside them (O(#files) metadata, no data copied), flip the
        pointer. Readers therefore never observe a partially-appended
        table, and a crashed append leaves the live tree untouched —
        same guarantee as every other strategy.

        The new tree keeps its schema record only when the live tree
        recorded the same one: linked files written under another (or
        an unrecorded) schema make readers infer, as before records
        existed."""
        ver = self._write_version(df)
        dst = os.path.join(self.path, ver)
        prev = self._current_version()
        if prev is not None:
            src = os.path.join(self.path, prev)
            self._link_tree(src, dst)
        else:
            src = self.path
            self._link_tree(self.path, dst, names=self._legacy_entries())
        doc = self._schema_doc(dst)
        if doc.get("data") != self._schema_doc(src).get("data"):
            doc.pop("data", None)
            self._write_schema_doc(dst, doc)
        return ver

    def _write(self, df: DataFrame, mode: str, extra: dict | None = None) -> None:
        with self._maybe_lock():
            if mode == "append" and self.exists():
                self._check_bucket_layout()
                self._commit_version(self._append_version(df), op="append", extra=extra)
                return
            self._commit_version(
                self._write_version(df),
                op={"overwrite": "replace", "errorifexists": "create", "append": "create"}[mode],
                extra=extra,
            )

    def save(
        self,
        fx: FxFrame | DataFrame,
        strategy: str = SaveStrategy.FAIL_IF_EXISTS,
        commit_extra: dict | None = None,
    ) -> None:
        """``commit_extra``: caller metadata merged into the version's
        ``_commit.json`` (e.g. a streaming batch id) — readable back via
        :meth:`history`, which is how multi-sink writers make retried
        micro-batches idempotent."""
        df = fx.df if isinstance(fx, FxFrame) else fx
        if strategy == SaveStrategy.FAIL_IF_EXISTS:
            if self.exists():
                raise ValueError(f"lake table {self.path!r} already exists (FailIfExists)")
            self._write(df, "errorifexists", commit_extra)
        elif strategy == SaveStrategy.REPLACE:
            self._write(df, "overwrite", commit_extra)
        elif strategy == SaveStrategy.APPEND:
            self._write(df, "append", commit_extra)
        elif strategy == SaveStrategy.UPSERT:
            self.upsert(fx)
        else:
            raise ValueError(f"unknown save strategy {strategy!r}")

    def upsert(self, fx: FxFrame | DataFrame) -> None:
        """Merge by index key: existing rows with a matching key are
        replaced, everything else is kept, new keys are inserted.

        One anti-join (shuffle on the key) + union + rewrite into a new
        version tree, committed via the atomic pointer flip. The
        reference's per-row UPDATE batch (mutation_dml.rs:44-84)
        degenerates at scale — this is the MERGE-shaped plan instead
        (SURVEY.md §7.4). With ``buckets`` set, only the bucket
        partitions the delta's keys hash into are scanned (partition
        pruning) and rewritten; every other bucket directory is
        hard-linked into the new version untouched, so the merge costs
        O(delta + touched buckets) regardless of table size.

        The Spark jobs are the merge's own: reading the live tree uses
        its recorded schema and the commit is gated on pyarrow footers,
        so neither starts a job. A 10-key bucketed upsert of a parquet
        batch runs 4 jobs, all of them stages of the touched-bucket
        ``collect`` or of the write. The batch is not materialized: it
        is evaluated once for the touched buckets and again by the
        write, so it must be deterministic — see
        :meth:`_merge_bucketed`."""
        key = self.index or (fx.index_tag.name if isinstance(fx, FxFrame) and fx.index_tag else None)
        if key is None:
            raise ValueError("upsert requires an index column")
        new = fx.df if isinstance(fx, FxFrame) else fx
        with self._maybe_lock():
            if not self.exists():
                self._commit_version(self._write_version(new), op="upsert")
                return
            self._check_bucket_layout()
            if self.buckets:
                self._merge_bucketed(new, new.select(key), key, op="upsert")
                return
            current = self._read_raw()
            kept = current.join(new.select(key), on=key, how="left_anti")
            merged = kept.unionByName(new, allowMissingColumns=self.merge_schema)
            self._commit_version(self._write_version(merged), op="upsert")

    def _merge_bucketed(
        self, ups: DataFrame, touched_keys: DataFrame, key: str, op: str
    ) -> None:
        """Bucket-pruned merge, the shared O(delta) write path: every
        row whose key is in ``touched_keys`` leaves, every ``ups`` row
        enters, and only the bucket partitions the touched keys hash
        into are read and rewritten — all other bucket directories
        hard-link into the new version untouched — then one commit
        (``op``) whose info records ``buckets_touched``.
        :meth:`upsert` is the special case ``touched_keys == ups'
        keys``; :meth:`apply_changes` additionally lists delete-marked
        keys that have no replacement row in ``ups``. An empty delta
        is a no-op (no commit), not an empty rewrite.

        The touched set comes from one evaluation of the batch and the
        written rows from another. A batch that changes between them
        (a key derived from a nondeterministic expression) could put a
        row into a bucket outside the touched set, whose old files
        would then be linked beside it (duplicate keys) or whose kept
        rows were never read (lost rows). So the buckets the write
        produced are checked against the touched set before anything
        is linked, and a stray bucket raises with the pointer unmoved."""
        # force-recompute bucket values (r16 lake review): a caller
        # frame still carrying the physical bucket column (e.g.
        # derived from _read_raw) would short-circuit _with_bucket and
        # write rows into STALE bucket dirs — dirs the fresh
        # touched-set then classifies untouched and hard-links
        # wholesale, leaving the old row alive beside the new one.
        # The bucket is a pure function of the key; recomputing is
        # always correct.
        ups = ups.drop(_BUCKET_COL)
        touched_keys = self._with_bucket(touched_keys.drop(_BUCKET_COL))
        # the delta's distinct buckets — bounded by `buckets`, tiny
        touched = [r[0] for r in touched_keys.select(_BUCKET_COL).distinct().collect()]
        if not touched:
            return
        cur = self.current_dir()
        kept = self._read_raw(cur).filter(F.col(_BUCKET_COL).isin(touched)).join(
            touched_keys.select(key), on=key, how="left_anti"
        )
        merged = kept.unionByName(
            self._with_bucket(ups), allowMissingColumns=self.merge_schema
        )
        # an emptied merge's placeholder file goes into a touched
        # bucket: every bucket dir the write produced must be touched
        ver = self._write_version(merged, empty_bucket=min(touched))
        dst = os.path.join(self.path, ver)
        touched_set = set(touched)
        written = {
            int(n.split("=", 1)[1]) for n in os.listdir(dst) if n.startswith(_BUCKET_COL + "=")
        }
        stray = sorted(written - touched_set)
        if stray:
            shutil.rmtree(dst, ignore_errors=True)
            raise RuntimeError(
                f"bucketed {op} into {self.path!r} wrote rows into buckets {stray} "
                f"outside the touched set {sorted(touched)}: the batch changed "
                f"between evaluations (is its key nondeterministic?); live table "
                f"unchanged (pointer not moved)"
            )
        # link untouched bucket dirs from wherever the live tree is —
        # INCLUDING a legacy pointerless layout, where current_dir()
        # is the table root (r16 lake review: the old `cur != path`
        # guard skipped linking there, and _commit_version's legacy GC
        # then deleted the originals — one merge destroyed every
        # untouched bucket of an adopted flat-bucketed tree; the
        # name filter keeps version dirs and metadata out of the link)
        untouched = [
            n
            for n in os.listdir(cur)
            if n.startswith(_BUCKET_COL + "=")
            and int(n.split("=", 1)[1]) not in touched_set
        ]
        self._link_tree(cur, dst, names=untouched)
        self._commit_version(ver, op=op, extra={"buckets_touched": len(touched)})

    def diff(self, from_version: str, to_version: str | None = None) -> DataFrame:
        """Change feed between two retained snapshots (requires an
        index): every key that was inserted, updated, or deleted
        between ``from_version`` and ``to_version`` (default: the live
        table), with its before/after row structs. One full-outer join
        on the key — the CDC read every downstream incremental consumer
        wants from a versioned table; pair with ``retain >= 1`` so the
        compared snapshot still exists.

        Returns (index, change ∈ {insert, update, delete}, before,
        after). Unchanged keys are not emitted."""
        if self.index is None:
            raise ValueError("diff requires an index column")
        key = self.index
        old = self.read(version=from_version).df
        new = (self.read(version=to_version) if to_version else self.read()).df
        o = old.select(
            F.col(key), F.struct(*[c for c in old.columns if c != key]).alias("before")
        )
        n = new.select(
            F.col(key), F.struct(*[c for c in new.columns if c != key]).alias("after")
        )
        j = o.join(n, key, "full_outer")
        change = (
            F.when(F.col("before").isNull(), "insert")
            .when(F.col("after").isNull(), "delete")
            .when(~F.col("before").eqNullSafe(F.col("after")), "update")
        )
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(key, "change", "before", "after")
        )

    def apply_changes(
        self,
        changes: DataFrame,
        change_col: str = "change",
        seq_col: str | None = None,
    ) -> None:
        """Apply a CDC batch — rows of (index, ``change_col`` ∈
        {insert, update, delete}, data columns) — as ONE atomic merge:
        current rows minus deleted-and-upserted keys, union the
        upserts, single pointer commit. The consumer side of
        :meth:`diff` (and of any Debezium-shaped feed): feeding one
        table's diff into another reproduces the source table
        exactly. Replaying the same batch is a no-op (idempotent
        under at-least-once delivery).

        With ``seq_col`` (an event-order column), multiple changes to
        one key within the batch collapse to the highest-sequence row
        first — the Delta ``APPLY CHANGES ... SEQUENCE BY`` contract;
        without it the batch must carry at most one change per key."""
        if self.index is None:
            raise ValueError("apply_changes requires an index column")
        key = self.index
        if seq_col is not None:
            from pyspark.sql.window import Window

            w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
            changes = (
                changes.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        ups = changes.filter(F.col(change_col) != "delete").drop(change_col)
        touched_keys = changes.select(key)
        with self._maybe_lock():
            if not self.exists():
                self._commit_version(self._write_version(ups), op="apply_changes")
                return
            self._check_bucket_layout()
            if self.buckets:
                # same O(delta) bucket-pruned merge as upsert — a CDC
                # batch against a 100 TB bucketed table rewrites only
                # the buckets its keys hash into, never the table
                self._merge_bucketed(ups, touched_keys, key, op="apply_changes")
                return
            current = self._read_raw()
            kept = current.join(touched_keys, on=key, how="left_anti")
            merged = kept.unionByName(
                self._with_bucket(ups), allowMissingColumns=self.merge_schema
            )
            self._commit_version(self._write_version(merged), op="apply_changes")

    def delete(self, d) -> int:
        """Execute a Delete ADT against the lake table — the same
        serialized mutation the DB-API executor runs remotely
        (sql_adt.rs:861-880), compiled to a Column predicate here."""
        from ..plans.compiler import compile_filter

        return self.delete_where(compile_filter(d.filter))

    def clone(self, dst_path: str, **overrides) -> "LakeTable":
        """ZERO-COPY shallow clone (the Delta SHALLOW CLONE idea on
        the pointer-commit layout): the live tree hard-links into the
        clone's first version — O(#files) metadata ops, no bytes
        copied — and the source manifest carries over by relative path
        so the clone pays no re-stat either. Version files are
        immutable (every mutation commits a NEW tree), so shared
        inodes are safe: source and clone then evolve independently.
        The dev/test-against-prod-data primitive at 100 TB cost ~0.
        ``overrides`` replace constructor settings (index, buckets,
        ...) which default to the source's."""
        cfg = dict(
            index=self.index,
            partition_by=self.partition_by or None,
            buckets=self.buckets,
            retain=self.retain,
            lock=self.lock,
            merge_schema=self.merge_schema,
            bloom_cols=self.bloom_cols or None,
        )
        cfg.update(overrides)
        out = LakeTable(self.spark, dst_path, **cfg)
        if out.exists():
            raise ValueError(f"clone target {dst_path!r} already exists")
        cur = self.current_dir()
        ver = out._new_version()
        dst = os.path.join(out.path, ver)
        os.makedirs(dst, exist_ok=True)
        self._link_tree(cur, dst)
        sp = os.path.join(cur, self._SCHEMA)
        if os.path.exists(sp):  # column-mapping metadata travels too
            shutil.copy2(sp, os.path.join(dst, self._SCHEMA))
        out._commit_version(
            ver,
            op="clone",
            extra={"source": self.path},
            _carry_stats=self._load_manifest(cur).get("files", {}),
        )
        return out

    def delete_adt(self, filter_tokens, table_name: str | None = None) -> int:
        """MANIFEST-PRUNED filtered delete (the Delta/Iceberg partial-
        rewrite optimization on the pointer-commit layout): files whose
        footer stats / partition values / bloom filters REFUTE the ADT
        predicate cannot contain a matching row, so they hard-link into
        the new version untouched — only candidate files re-read and
        rewrite. A selective delete against a 100 TB table costs
        O(candidate files), not O(table). Same NULL semantics as
        :meth:`delete_where` (predicate-NULL rows are kept); returns
        rows removed. No-op (no new version) when pruning proves
        nothing can match."""
        from ..plans.compiler import compile_filter

        scan_table = table_name if table_name is not None else self._default_scan_table()
        with self._maybe_lock():
            self._check_bucket_layout()
            cur = self.current_dir()
            man = self._load_manifest(cur).get("files", {})
            col_map = {l: p for p, l in self._schema_map(cur).items()}
            all_files = self._data_files(cur)
            cands, untouched = [], []
            for rel in all_files:
                st = man.get(rel) or {"rows": None, "cols": {}}
                if _adt_may_match(
                    filter_tokens, st, _partition_values(rel), scan_table, col_map
                ):
                    cands.append(rel)
                else:
                    untouched.append(rel)
            if not cands:
                return 0
            reader = self._reader(cur).option("basePath", cur)
            cdf = self._apply_schema_map(
                reader.parquet(*[os.path.join(cur, rel) for rel in cands]), cur
            )
            before = cdf.count()
            cond = compile_filter(filter_tokens)
            remaining = cdf.filter(~F.coalesce(cond, F.lit(False)))
            # the bucket column came back as a partition dir value;
            # _write_version re-derives it, so drop the read-side copy
            if _BUCKET_COL in remaining.columns and self.buckets is not None:
                remaining = remaining.drop(_BUCKET_COL)
            ver = self._write_version(remaining)
            dst = os.path.join(self.path, ver)
            after = self._read_raw_physical(dst).count()
            for rel in untouched:
                sp = os.path.join(cur, rel)
                dp = os.path.join(dst, rel)
                os.makedirs(os.path.dirname(dp), exist_ok=True)
                try:
                    os.link(sp, dp)
                except FileExistsError:
                    pass
                except OSError:
                    shutil.copy2(sp, dp)
            self._commit_version(
                ver, op="delete", extra={"pruned_files": len(untouched)}
            )
            return before - after

    def _default_scan_table(self) -> str | None:
        """Unqualified Conds always apply; a ``tbl``-qualified Cond can
        only prune when the caller names the scanned table — mirrored
        from LakeProvider.scan's guard."""
        return None

    def delete_where(self, condition) -> int:
        """Filtered delete (the Delete ADT's lake analogue): rewrite
        keeping only non-matching rows; returns rows removed.

        SQL DELETE removes only rows where the predicate is TRUE —
        rows where it evaluates NULL (e.g. a NULL in the filtered
        column) must be KEPT, so the keep-filter coalesces NULL to
        FALSE before negating."""
        with self._maybe_lock():
            self._check_bucket_layout()
            current = self._read_raw()
            before = current.count()
            remaining = current.filter(~F.coalesce(condition, F.lit(False)))
            ver = self._write_version(remaining)
            after = self._read_raw_physical(os.path.join(self.path, ver)).count()
            self._commit_version(ver, op="delete")
            return before - after


def init_aggregate(
    base: DataFrame,
    agg: LakeTable,
    group_col: str,
    sum_cols: dict[str, str],
) -> None:
    """Seed a maintained aggregate table: per-group row count + sums
    over the given (integer-valued) columns. The companion of
    :func:`maintain_aggregate`."""
    out = base.groupBy(group_col).agg(
        F.count("*").alias("n_rows"),
        *[F.sum(src).alias(out_name) for out_name, src in sum_cols.items()],
    )
    agg.save(out, SaveStrategy.REPLACE)


def maintain_aggregate(
    agg: LakeTable,
    diff: DataFrame,
    group_col: str,
    sum_cols: dict[str, str],
) -> None:
    """INCREMENTAL VIEW MAINTENANCE of a per-group count/sum aggregate
    from a CDC change feed (:meth:`LakeTable.diff` shape: key, change,
    before, after): inserts add (+1, +after.col) to the after-row's
    group, deletes subtract from the before-row's group, and updates
    do both — so GROUP MIGRATION (an update that moves a row between
    groups) maintains exactly. Count/int-sum aggregates are
    self-maintainable, so maintained == recomputed bit-for-bit; groups
    whose count reaches zero drop.

    The 100 TB shape: the base table never re-aggregates — the work is
    O(|diff|) plus a merge over the |groups|-row aggregate table (the
    metadata-sized side), committed atomically through the pointer.
    ``sum_cols`` maps output column → integer-valued source column
    (quantize floats to cents upstream — the repo's exactness
    recipe)."""
    minus = diff.filter(F.col("change").isin("delete", "update")).select(
        F.col(f"before.{group_col}").alias(group_col),
        F.lit(-1).cast("long").alias("__w"),
        *[
            (-F.col(f"before.{src}")).cast("long").alias(out_name)
            for out_name, src in sum_cols.items()
        ],
    )
    plus = diff.filter(F.col("change").isin("insert", "update")).select(
        F.col(f"after.{group_col}").alias(group_col),
        F.lit(1).cast("long").alias("__w"),
        *[
            F.col(f"after.{src}").cast("long").alias(out_name)
            for out_name, src in sum_cols.items()
        ],
    )
    delta = (
        minus.unionByName(plus)
        .groupBy(group_col)
        .agg(
            F.sum("__w").alias("__dn"),
            *[F.sum(out_name).alias(f"__d_{out_name}") for out_name in sum_cols],
        )
    )
    cur = agg.read().df
    merged = (
        cur.join(delta, group_col, "full_outer")
        .select(
            group_col,
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))).alias(
                "n_rows"
            ),
            *[
                (
                    F.coalesce(F.col(out_name), F.lit(0))
                    + F.coalesce(F.col(f"__d_{out_name}"), F.lit(0))
                ).alias(out_name)
                for out_name in sum_cols
            ],
        )
        .filter(F.col("n_rows") > 0)
    )
    agg.save(merged, SaveStrategy.REPLACE)


def _compact_plan(df: DataFrame, target_file_mb: int, approx_bytes: int) -> DataFrame:
    n_files = max(1, round(approx_bytes / (target_file_mb * 1024 * 1024)))
    # coalesce, not repartition: compaction only narrows (many small
    # files → few big ones), and coalesce merges partitions WITHOUT a
    # shuffle. Falls back to repartition only in the degenerate
    # widening case (fewer input partitions than target files).
    if n_files < df.rdd.getNumPartitions():
        return df.coalesce(n_files)
    return df.repartition(n_files)


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
    lock: bool = False,
) -> tuple[int, int]:
    """Small-file compaction — the maintenance pass every parquet lake
    needs: streaming/micro-batch appends leave hundreds of KB-sized
    files whose open/footer overhead dominates scans. Rewrites the
    table into ~``target_file_mb`` files (per partition directory when
    partitioned) through the same versioned pointer commit as upsert,
    so readers never observe a missing or partial table.

    Returns (files_before, files_after). Scale note: the rewrite is a
    shuffle-free ``coalesce`` sized from the actual on-disk bytes
    (see ``_compact_plan``); partitioned tables keep their partition
    columns so reads still prune."""
    import glob as _glob

    t = LakeTable(spark, path, partition_by=partition_by or [], lock=lock)
    with t._maybe_lock():
        cur = t.current_dir()
        # a bucketed table keeps its bucket layout through compaction
        # (the bucket column is a partition dir, so it must stay a
        # partition dir — otherwise reads lose pruning and upserts
        # lose O(delta))
        if os.path.isdir(cur) and any(
            n.startswith(_BUCKET_COL + "=") for n in os.listdir(cur)
        ):
            t.partition_by = [*t.partition_by, _BUCKET_COL]
        files_before = _glob.glob(os.path.join(cur, "**", "*.parquet"), recursive=True)
        total_bytes = sum(os.path.getsize(f) for f in files_before)
        df = t._read_raw_physical(cur)
        ver = t._write_version(_compact_plan(df, target_file_mb, total_bytes))
        t._commit_version(ver, op="compact")
    files_after = _glob.glob(
        os.path.join(t.current_dir(), "**", "*.parquet"), recursive=True
    )
    return len(files_before), len(files_after)


def save_lake(
    spark: SparkSession,
    path: str,
    fx: FxFrame | DataFrame,
    strategy: str = SaveStrategy.FAIL_IF_EXISTS,
    index: str | None = None,
    partition_by: list[str] | None = None,
) -> LakeTable:
    t = LakeTable(spark, path, index=index, partition_by=partition_by)
    t.save(fx, strategy)
    return t


class LakeProvider:
    """Table provider backing the Select-ADT compiler with versioned
    lake tables: ``root/<name>`` directories read through the pointer
    protocol, and — because :func:`plans.compiler.compile_select`
    hands providers with a ``scan`` method the Select's filter tokens —
    manifest file pruning applied BEFORE the plan is built. The filter
    itself is still compiled and applied by the Select plan; pruning
    only shrinks the file list, so results are identical to an
    unpruned read by construction."""

    def __init__(self, spark: SparkSession, root: str, **table_kwargs):
        self.spark = spark
        self.root = root.rstrip("/")
        self.table_kwargs = table_kwargs

    def table(self, name: str) -> LakeTable:
        return LakeTable(self.spark, os.path.join(self.root, name), **self.table_kwargs)

    def __call__(self, name: str) -> DataFrame:
        return self.table(name).read().df

    def scan(self, name: str, filter_tokens) -> DataFrame:
        t = self.table(name)
        cur = t.current_dir()
        man = t._load_manifest(cur).get("files", {})
        col_map = {l: p for p, l in t._schema_map(cur).items()}
        kept = [
            rel
            for rel in t._data_files(cur)
            if _adt_may_match(
                filter_tokens,
                man.get(rel) or {"rows": None, "cols": {}},
                _partition_values(rel),
                name,
                col_map,
            )
        ]
        # prune only — the Select plan applies the compiled filter
        return t._read_pruned(kept, F.lit(True), cur).df
