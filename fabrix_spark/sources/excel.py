"""Chunked Excel ingestion — the reference's only streaming pipeline
(fabrix-xl: SAX row iterator + micro-batches, ec.rs:188-236; consumer
plumbing ec.rs:49-92; Excel→DB state machine xl_db.rs:218-300).

Spark-first re-expression: the workbook is parsed driver-side in
bounded ``batch_size`` chunks (the SAX reader streams rows without
loading the sheet); each chunk becomes a small Arrow-built local frame
(reading it back runs no Spark job) handed to a consumer — the first
batch may Replace, later batches Append/Upsert, exactly the
reference's per-batch strategy switch (xl_db.rs:219-230, 263-280). A
``SqlExecutor`` consumer writes from the driver over DB-API; a lake or
JDBC consumer writes from executors. A DSv2 source is only warranted
if a single sheet exceeds driver memory (SURVEY.md §7.4).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterable, Iterator, Sequence

from pyspark.sql import SparkSession

from ..frame import FxFrame

__all__ = ["XlReadOptions", "iter_batches", "read_excel_batches", "consume_excel"]


@dataclass
class XlReadOptions:
    """xl/reader.rs:81-228: sheet_name, has_header, is_column_wise
    (transposed sheets), index; batch_size for streaming."""

    sheet_name: str | None = None
    has_header: bool = True
    is_column_wise: bool = False
    index: str | None = None
    batch_size: int | None = None


def _open_workbook_rows(path: str, sheet_name: str | None) -> Iterator[Sequence[Any]]:
    """Stream rows via the stdlib SAX parser (``xlsx.py``) — the same
    bounded-memory design as the reference's own XML reader
    (fabrix-xl/src/ws.rs:244-469); no external Excel library."""
    from .xlsx import stream_xlsx_rows

    return stream_xlsx_rows(path, sheet_name)


def iter_batches(
    rows: Iterable[Sequence[Any]],
    options: XlReadOptions,
) -> Iterator[tuple[list[str], list[list[Any]]]]:
    """Group a row stream into (names, chunk) micro-batches.

    Mirrors XlSheetIter (fabrix-xl/src/ec.rs:188-236): accumulate
    until batch_size then yield; the first row becomes the cached
    header (xl_db.rs:44-69). Column-wise sheets are transposed
    per-batch (convert_col_wise, xl_db.rs:131-161) — in that layout
    each ROW is a column, so the whole sheet forms one batch.
    """
    it = iter(rows)
    if options.is_column_wise:
        cols = [list(r) for r in it]
        if options.has_header:
            if any(not c for c in cols):
                raise ValueError("column-wise sheet with has_header=True has a headerless empty row")
            names = [str(c[0]) for c in cols]
            cols = [c[1:] for c in cols]
        else:
            names = [f"col_{i}" for i in range(len(cols))]
        # sparse sheets yield ragged columns; pad to the longest like
        # the row-wise path pads short rows (zip alone would silently
        # TRUNCATE every column to the shortest)
        depth = max((len(c) for c in cols), default=0)
        cols = [c + [None] * (depth - len(c)) for c in cols]
        chunk = [list(t) for t in zip(*cols)]
        yield names, chunk
        return

    names: list[str] | None = None
    if options.has_header:
        try:
            header = next(it)
        except StopIteration:
            return
        names = [str(v) for v in header]
    chunk: list[list[Any]] = []
    for row in it:
        if names is None:
            names = [f"col_{i}" for i in range(len(row))]
        # standardize width: sparse sheets yield short rows (the
        # reference pads to num_cols, ws.rs empty-cell simulation)
        padded = list(row)[: len(names)] + [None] * max(0, len(names) - len(row))
        chunk.append(padded)
        if options.batch_size and len(chunk) >= options.batch_size:
            yield names, chunk
            chunk = []
    if chunk:
        yield names, chunk


def read_excel_batches(
    spark: SparkSession,
    source: str | Iterable[Sequence[Any]],
    options: XlReadOptions | None = None,
) -> Iterator[FxFrame]:
    """Yield one FxFrame per micro-batch (bounded memory)."""
    o = options or XlReadOptions()
    rows = _open_workbook_rows(source, o.sheet_name) if isinstance(source, str) else source
    for names, chunk in iter_batches(rows, o):
        if not chunk:
            # header-only column-wise sheet: no rows to type-infer from
            continue
        yield FxFrame.from_rows(spark, chunk, names=names, index=o.index)


def consume_excel(
    spark: SparkSession,
    source: str | Iterable[Sequence[Any]],
    consumer: Callable[[FxFrame, int], None],
    options: XlReadOptions | None = None,
) -> int:
    """Push-mode pipeline: ``consumer(frame, batch_idx)`` per chunk —
    the XlConsumer analogue (ec.rs:49-92). batch_idx lets the consumer
    switch Replace→Append like XlToDbConsumer (xl_db.rs:257-289)."""
    n = 0
    for i, fx in enumerate(read_excel_batches(spark, source, options)):
        consumer(fx, i)
        n += 1
    return n


def write_excel(
    fx: "FxFrame | Any",
    path: str,
    sheet_name: str = "Sheet1",
    has_header: bool = True,
) -> int:
    """Write a frame to .xlsx — a writer the reference lacks entirely
    (fabrix-xl/src/lib.rs:3 lists write as unsupported). Rows stream
    through the driver via ``toLocalIterator`` (bounded memory, one
    partition in flight): xlsx is a single-file zip container, so a
    distributed write cannot exist — this is the ingest/export edge,
    not a lake format. Returns data-row count written."""
    from .xlsx import write_xlsx

    df = fx.df if isinstance(fx, FxFrame) else fx

    def rows():
        if has_header:
            yield list(df.columns)
        for r in df.toLocalIterator():
            yield list(r)

    n = write_xlsx(rows(), path, sheet_name)
    return n - (1 if has_header else 0)
