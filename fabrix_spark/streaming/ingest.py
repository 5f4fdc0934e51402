"""Structured Streaming ingestion — the reference's micro-batch model,
made event-time aware.

The only streaming engine in the reference is the Excel SAX iterator:
accumulate ``batch_size`` rows, hand each chunk to a consumer whose
save strategy switches from Replace (first batch) to Append/Upsert
(fabrix-xl/src/ec.rs:188-236; fabrix/src/dispatcher/xl_db.rs:219-289).
That maps exactly onto ``readStream → foreachBatch`` with an
``availableNow`` trigger: bounded-memory micro-batches, first-batch
mode switching, and — because it is Spark — watermarks and windowed
aggregations come free (absent in the reference, SURVEY.md §2.7).

Scale note: ``foreach_batch_save`` executes the sink callback per
micro-batch with a *distributed* DataFrame — sinks that write via
``df.write`` (parquet/Delta/JDBC) stay executor-parallel. The
SqlExecutor sink is driver-side by design (control-plane DBs).
"""

from __future__ import annotations

import contextlib
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

__all__ = [
    "EVENTS_SCHEMA",
    "read_stream_json",
    "read_stream_parquet",
    "foreach_batch_save",
    "stream_upsert_lake",
    "admit_batch",
    "stream_dedup_against_store",
    "stream_apply_changes",
    "stream_validated_ingest",
    "stream_pq_ingest",
    "tumbling_window",
    "sliding_window",
    "session_window",
    "stream_interval_join",
    "run_available_now",
    "stream_maintain_aggregate",
    "stream_maintain_profile",
    "stream_maintain_heavy_hitters",
    "stream_maintain_gram",
    "profile_fold_consumer",
    "heavy_hitter_consumer",
    "gram_fold_consumer",
    "stream_asof_enrich",
    "stream_maintain_index",
]

# the driver's events table shape (TESTDATA.md), ts as NTZ micros
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def read_stream_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (one micro-batch per file group) — the
    chunked-reader analogue; schema is mandatory on streams."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def foreach_batch_save(
    stream: DataFrame,
    save: Callable[[DataFrame, int, str], Any],
    checkpoint: str,
    first_strategy: str = "replace",
    rest_strategy: str = "append",
) -> StreamingQuery:
    """First-batch-replace-then-append state machine
    (xl_db.rs:219-230, 263-280) over ``foreachBatch``.

    ``save(batch_df, batch_id, strategy)`` is the consumer; strategy is
    ``first_strategy`` for batch 0, ``rest_strategy`` after. Runs with
    the availableNow trigger: process everything currently in the
    source, then stop (the reference's finite-file semantics).
    """
    state = {"first_done": False}

    def _consume(batch_df: DataFrame, batch_id: int) -> None:
        strategy = rest_strategy if state["first_done"] else first_strategy
        save(batch_df, batch_id, strategy)
        state["first_done"] = True

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_lake(
    stream: DataFrame,
    lake_table,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming merge sink: every micro-batch is key-upserted into a
    parquet lake table (``sources.lake.LakeTable`` with an index) —
    the CDC-ingest shape: late/replayed records overwrite by key
    instead of duplicating, so the sink is idempotent under
    at-least-once delivery (re-merging a batch is a no-op).

    Per batch this runs the lake's MERGE-shaped plan (anti-join on the
    key + union + staged rewrite, sources/lake.py) — the same plan a
    Delta/Iceberg MERGE would execute; layer a table format for true
    multi-writer ACID. availableNow trigger: drain what exists, stop.

    A micro-batch pays for its merge and nothing else: on a bucketed
    table the Spark jobs are the touched-bucket ``collect`` and the
    write, because the lake reads its live tree with the recorded
    schema and gates the commit on pyarrow footers. The batch is read
    again by each of those jobs rather than materialized, so it must
    be deterministic; a bucketed merge refuses a batch whose rows land
    outside the buckets it computed first."""
    if lake_table.index is None:
        raise ValueError("stream_upsert_lake requires a LakeTable with an index")
    return foreach_batch_save(
        stream,
        lambda batch, _bid, _strategy: lake_table.upsert(batch),
        checkpoint,
        first_strategy="upsert",
        rest_strategy="upsert",
    )


_ADMISSION_LOCK = "_admission_lock"


def _admission_guard(admitted, stale_log):
    """Mutual exclusion between the admission gate and
    :func:`compact_admitted` (r17, per the r16 verdict): compaction
    snapshots its condemned-id set before its two deletes, so an
    admission batch interleaving with the pass could be silently lost
    (update accepted between snapshot and delete → row deleted, store
    left rejecting content whose row is gone). Both sides hold an
    advisory ``_admission_lock`` file on the admitted table root —
    compaction for its whole snapshot-and-delete span,
    :func:`admit_batch` per batch. The gate takes it only when a
    ``stale_log`` is in play: without one, :func:`compact_admitted`
    never runs on these tables (it is driven by the log) and the gate
    skips the filesystem round-trip. A pathological overlap degrades
    to the lock's bounded wait and then a loud ``TimeoutError`` —
    never silent row loss."""
    if stale_log is None or not hasattr(admitted, "writer_lock"):
        return contextlib.nullcontext()
    return admitted.writer_lock(name=_ADMISSION_LOCK)


def admit_batch(
    batch: DataFrame,
    store,
    admitted,
    threshold: float = 0.5,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    intra_batch: bool = False,
    stale_log: "object | None" = None,
) -> DataFrame:
    """One round of incremental dedup admission — the per-micro-batch
    body of :func:`stream_dedup_against_store`, exposed so a batch
    pipeline (or a deterministic replay/verification harness) can run
    the exact same admission sequence without a streaming query.

    Steps: (1) exact within-batch id dedup; (2) optionally
    (``intra_batch=True``) fuzzy within-batch dedup — MinHash near-dup
    pairs inside the batch are resolved to clusters and only the
    minimum-id representative of each survives (without this, two
    near-copies arriving in the SAME batch both pass, since neither is
    in the store yet); (3) probe the persisted ``SignatureStore`` with
    the banded candidates of the batch's fresh signatures and drop
    docs with an exact-verified near-dup already in the corpus;
    (4) key-upsert survivors into ``admitted`` and fold their
    signatures into the store. Returns the admitted survivors.

    Update semantics vs :func:`admit_batch_fuzzy` (documented
    divergence): a doc re-sent under its own id is excluded from
    candidates as a self-pair, so an ACCEPTED update overwrites both
    its admitted row and its store signatures. But when the edited
    text is rejected for near-matching a DIFFERENT admitted doc, the
    stale previous version (row AND signatures) is retained — this
    gate does NOT tombstone, because the signature store would need a
    coordinated key-delete to stay consistent with the admitted
    table, and a half-applied tombstone (row gone, signatures still
    rejecting) would be worse than the stale row. The fuzzy gate has
    no persisted derived state, so it does tombstone; route feeds
    whose update-then-reject path matters through
    :func:`admit_batch_fuzzy`, or pass a ``stale_log`` (a keyed
    ``LakeTable``, ``index=id_col``) and run :func:`compact_admitted`
    when stale mass accumulates: with the log set, every rejected
    update records ``(id, xxhash64 of the stale admitted text)`` via
    a key-upsert (idempotent under redelivery), which is exactly the
    evidence the offline compaction needs to delete the stale row AND
    its signatures in a coordinated, restartable pass. With a
    ``stale_log`` set, each batch holds the ``_admission_lock``
    advisory lock on the admitted table so an interleaving
    :func:`compact_admitted` pass serializes instead of losing the
    batch's updates (see :func:`_admission_guard`)."""
    with _admission_guard(admitted, stale_log):
        return _admit_batch_locked(
            batch,
            store,
            admitted,
            threshold=threshold,
            bands=bands,
            text_col=text_col,
            id_col=id_col,
            intra_batch=intra_batch,
            stale_log=stale_log,
        )


def _admit_batch_locked(
    batch: DataFrame,
    store,
    admitted,
    threshold: float,
    bands: int,
    text_col: str,
    id_col: str,
    intra_batch: bool,
    stale_log: "object | None",
) -> DataFrame:
    from ..operators import dedup as _dedup
    from ..sources.sql import SaveStrategy

    batch = batch.dropDuplicates([id_col])
    if intra_batch:
        pairs = _dedup.minhash_dedup_pairs(
            batch,
            threshold=threshold,
            n_hashes=store.n_hashes,
            bands=bands,
            shingle_size=store.shingle_size,
            text_col=text_col,
            id_col=id_col,
        )
        clusters = _dedup.dup_clusters(batch, pairs, id_col=id_col)
        batch = _dedup.keep_canonical(batch, clusters, id_col=id_col)
    if store.exists() and admitted.exists():
        corpus = admitted.read().df
        pairs = _dedup.incremental_dedup_pairs(
            batch,
            store,
            corpus,
            threshold=threshold,
            bands=bands,
            text_col=text_col,
            id_col=id_col,
        )
        dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct()
        if stale_log is not None:
            if stale_log.index != id_col:
                raise ValueError(
                    f"stale_log must be a LakeTable keyed by {id_col!r}"
                )
            # rejected UPDATES: batch ids already admitted whose text
            # differs from the admitted row — this gate retains their
            # stale row and signatures (see docstring), so record the
            # stale version's identity (id + xxhash64 of the admitted
            # text) for compact_admitted(). Key-upsert: redelivering
            # the batch re-writes the same entry. Cost guard: in the
            # common zero-rejections batch, dup_ids is empty (a cheap
            # driver probe on the checkpointed set) and the log pays
            # neither the batch×corpus join nor a commit.
            dup_ids = dup_ids.localCheckpoint(eager=True)
            if not dup_ids.isEmpty():
                entries = (
                    batch.select(id_col, F.col(text_col).alias("__new"))
                    .join(
                        corpus.select(id_col, F.col(text_col).alias("__old")),
                        id_col,
                    )
                    .filter(~F.col("__old").eqNullSafe(F.col("__new")))
                    .join(dup_ids, id_col, "left_semi")
                    .select(
                        F.col(id_col),
                        F.xxhash64(F.col("__old")).alias("stale_hash"),
                    )
                )
                stale_log.save(entries, SaveStrategy.UPSERT)
        keep = batch.join(dup_ids, id_col, "left_anti")
    else:
        keep = batch
    # two sinks read `keep` — materialize once instead of running
    # the probe plan twice
    keep = keep.localCheckpoint(eager=True)
    if stale_log is not None and stale_log.exists():
        # REVERT drain (found by round-16 self-review): an ACCEPTED
        # batch id just re-asserted its content, so any pending stale
        # entry for it is obsolete — and the hash guard alone cannot
        # see one case: a producer REVERT re-sends exactly the logged
        # stale text, is accepted as a verbatim no-op upsert, and
        # leaves the entry hash-MATCHING the live row; compaction
        # would then delete the feed's current content. Draining
        # entries for accepted ids here closes that hole. Ordering:
        # drain BEFORE the admitted upsert — a crash in between leaks
        # at worst one uncompacted stale row (lenient direction) and
        # the batch's at-least-once redelivery completes the upsert;
        # the reverse order would leave a live-row-matching entry for
        # compaction to act on. The semi-join is log×batch sized; the
        # isEmpty probes are batch/log-bounded driver actions.
        drained = stale_log.read().df.join(
            keep.select(id_col), id_col, "left_semi"
        )
        if not drained.isEmpty():
            stale_log.apply_changes(
                drained.withColumn("__change", F.lit("delete")),
                change_col="__change",
            )
    admitted.save(keep, SaveStrategy.UPSERT)
    if store.exists():
        store.ingest(keep, text_col)
    else:
        store.build(keep, text_col)
    return keep


def stream_dedup_against_store(
    stream: DataFrame,
    store,
    admitted,
    checkpoint: str,
    threshold: float = 0.5,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    intra_batch: bool = False,
    stale_log: "object | None" = None,
) -> StreamingQuery:
    """Continuous incremental near-dedup at ingest: every micro-batch
    of documents is deduped against the persisted corpus
    ``SignatureStore`` (``operators.dedup``) — only the batch is
    shingled/signed, the corpus side is the store's parquet scan —
    then survivors are key-upserted into the ``admitted`` lake table
    and their signatures folded into the store (see
    :func:`admit_batch` for the per-batch plan).

    This is :func:`~fabrix_spark.operators.dedup.incremental_dedup_pairs`
    run forever: the corpus grows batch over batch without ever being
    re-signed. Replay-safe under at-least-once delivery — both sinks
    are key-upserts, and a doc re-sent under its own id is excluded
    from candidates as a self-pair, so re-processing a batch is a
    no-op. Within-batch duplicates are resolved exactly (by id);
    near-dups *inside* one micro-batch both pass by default (neither
    is in the store yet) — ``intra_batch=True`` adds a fuzzy
    within-batch MinHash pass that admits only each near-dup cluster's
    minimum-id representative.

    ``admitted`` must be a ``LakeTable`` with ``index=id_col``.
    Construct both lake tables with ``buckets=N`` to make the
    per-batch upserts rewrite only touched bucket partitions —
    O(delta) file writes per batch instead of a full-table rewrite."""
    if admitted.index is None:
        raise ValueError("stream_dedup_against_store requires a LakeTable with an index")

    def _consume(batch: DataFrame, _bid: int) -> None:
        admit_batch(
            batch,
            store,
            admitted,
            threshold=threshold,
            bands=bands,
            text_col=text_col,
            id_col=id_col,
            intra_batch=intra_batch,
            stale_log=stale_log,
        )

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_admitted(
    store,
    admitted,
    stale_log,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Offline compaction of :func:`admit_batch`'s documented
    stale-update mass: every ``stale_log`` entry whose ``(id,
    stale_hash)`` still matches the live admitted row identifies a
    version the feed replaced but the gate could not tombstone
    in-stream (a coordinated in-stream delete across the admitted
    table AND the signature store risks the half-applied state the
    gate's docstring warns about) — this pass deletes the stale row
    and its store signatures together, then drains the resolved log
    entries. Returns the number of stale rows removed.

    Consistency contract: the two deletes are two table commits, so
    cross-table atomicity is replaced by IDEMPOTENT RESTARTABILITY —
    rerun after any crash and the pass completes. Ordering makes every
    intermediate state safe:

    1. signatures first — a crash here leaves rows whose signatures
       are gone, so a near-copy of condemned content could be admitted
       before the rerun (the lenient direction; the reverse order
       could leave signatures REJECTING content whose row is gone,
       silently losing novel docs forever);
    2. admitted rows second — the target id set is derived from
       log ⨝ admitted BEFORE any delete, so a rerun after a crash
       between 1 and 2 re-finds the same ids (their rows still match)
       and step 1 degenerates to a no-op;
    3. log drain last — every entry whose hash no longer matches a
       live row is resolved: deleted above, deleted by an interrupted
       earlier run, or SUPERSEDED by a later accepted update (the
       upsert re-wrote row + signatures, so nothing to compact; the
       hash guard is what keeps this pass from deleting the fresh
       version). Accepted updates normally drain their entry
       IN-STREAM (:func:`admit_batch`'s revert drain — required,
       because a producer REVERT to the exact logged text would
       hash-MATCH the live row and the guard alone would delete
       current content); the guard here is the backstop for entries
       surviving an interrupted batch. An id whose accepted
       replacement collides with the stale version's xxhash64 would
       be wrongly deleted — 2^-64 per entry, accepted.

    Concurrency contract (guarded since r17): the condemned-id set is
    snapshotted before the deletes, so this pass must not interleave
    with the admission stream on the same tables — an update accepted
    between the snapshot and the deletes would be lost (and the store
    left rejecting content whose row is gone). The guard is
    enforced, not docstring-only: this pass holds the
    ``_admission_lock`` advisory lock on the admitted table root for
    its WHOLE snapshot-and-delete span, and :func:`admit_batch` holds
    the same lock per batch whenever a ``stale_log`` is configured —
    so an in-flight availableNow drain serializes batch-by-batch
    against this pass, and a batch that cannot acquire the lock
    within the table's ``lock_timeout`` fails loudly with
    ``TimeoutError`` instead of losing rows. (The lake's per-commit
    ``_writer_lock`` is a different, narrower lock: it serializes
    individual commits, not this read-then-delete span.)

    Scale shape: one admitted scan and one store scan (both pruned to
    the log's key-semi-join on bucketed tables via apply_changes'
    bucket-pruned merge), everything else keyed by the log — a
    maintenance op whose cost is O(log + touched buckets), run at
    whatever cadence stale mass warrants."""
    if not (stale_log.exists() and admitted.exists() and store.exists()):
        return 0
    with admitted.writer_lock(name=_ADMISSION_LOCK):
        log = stale_log.read().df
        adm = admitted.read().df
        ids = (
            adm.select(id_col, F.xxhash64(F.col(text_col)).alias("__h"))
            .join(log, id_col)
            .filter(F.col("__h").eqNullSafe(F.col("stale_hash")))
            .select(id_col)
            .localCheckpoint(eager=True)
        )
        removed = ids.count()
        if removed:
            store.table.apply_changes(
                store.read()
                .join(ids, id_col, "left_semi")
                .withColumn("__change", F.lit("delete")),
                change_col="__change",
            )
            admitted.apply_changes(
                adm.join(ids, id_col, "left_semi").withColumn(
                    "__change", F.lit("delete")
                ),
                change_col="__change",
            )
        live = admitted.read().df.select(
            id_col, F.xxhash64(F.col(text_col)).alias("__h")
        )
        resolved = (
            log.join(live, id_col, "left")
            .filter(~F.col("__h").eqNullSafe(F.col("stale_hash")))
            .select(id_col, "stale_hash")
        )
        stale_log.apply_changes(
            resolved.withColumn("__change", F.lit("delete")),
            change_col="__change",
        )
        return removed


def admit_batch_fuzzy(
    batch: DataFrame,
    admitted,
    pct_threshold: int = 30,
    key_len: int = 16,
    block_cap: int = 64,
    block_col: str | None = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    intra_batch: bool = False,
) -> DataFrame:
    """One round of EDIT-DISTANCE admission — :func:`admit_batch`'s
    character-level sibling (that one gates on MinHash/Jaccard; this
    one on banded Levenshtein via ``dedup.fuzzy_join``), the
    per-micro-batch body of :func:`stream_fuzzy_admission` exposed
    for batch pipelines and deterministic replay harnesses.

    Steps: (1) exact within-batch id dedup; (2) optionally
    (``intra_batch=True``) within-batch fuzzy dedup — ``fuzzy_pairs``
    clusters resolve to their minimum-id representative; (3) probe
    the ``admitted`` master with ``fuzzy_join`` and drop batch docs
    with a near-copy already kept — SELF-id matches are excluded, so
    a doc re-sent under its own id (same or edited text) is an UPDATE
    and re-admits rather than being rejected by its own previous
    version, and OUTGOING rows (admitted rows whose id this batch
    re-sends with EDITED text) are excluded from the ref side
    entirely: content the feed is replacing in this very batch cannot
    reject OTHER batch docs either — rejections are computed against
    the post-update master, which is what makes redelivery a fixpoint
    (found by the replay-identity property fuzz: rejecting doc X
    against a row this batch then tombstones would admit X on
    replay). For the same reason the ref-side block-purge counts are
    computed over the master MINUS ALL batch ids (``fuzzy_join``'s
    ``count_ref``) — a basis the batch's own commits cannot change —
    so a survivor joining a block at exactly ``block_cap`` cannot
    flip it to purged on replay and admit a doc the first pass
    rejected (the trade: the batch's own rows padding a ref block are
    excluded from the count, so the effective per-block candidate
    bound is ``block_cap`` plus the batch's rows in that block —
    hot-block protection degrades gracefully rather than strictly);
    (3b) a rejected update is TOMBSTONED: when a doc re-sent
    under its own id with EDITED text is rejected because the new
    text near-matches a DIFFERENT admitted doc, the stale previous
    version of that id is deleted from ``admitted`` (the producer
    replaced that content, and its replacement is represented by the
    other doc — retaining the old row would keep content the feed
    says no longer exists). Outgoing/tombstone fire only when the
    admitted text actually DIFFERS from the incoming text: a VERBATIM
    redelivery of a doc that happens to cross-match another admitted
    near-copy (possible when ``intra_batch=False`` let two same-batch
    near-copies both pass) must be a strict no-op, or at-least-once
    replay would mutate the table. Consequence to know: after a
    tombstone, the id's OLD content class loses its representative,
    so a later doc repeating that old content is admissible again —
    correct under the "feed describes current content" reading, but
    worth knowing if the master doubles as a history; (4) key-upsert
    survivors into ``admitted``. Replay-safe under at-least-once
    delivery: re-processing a batch re-runs the same probes against a
    master that already contains the batch's survivors, the
    self-exclusion keeps them admissible, the text-differs guard
    empties the outgoing set (so the tombstone is a no-op and the
    rejection frontier is unchanged), and the upsert is a no-op —
    property-fuzzed in test_admit_batch_fuzzy_replay_fixpoint.

    Scale: only the BATCH is new work; the master side is a map-only
    blocking-key extraction over the admitted scan (no signatures to
    maintain — the price of edit distance vs the MinHash store is
    re-deriving cheap substring keys per batch; cluster the admitted
    table by block key if the master scan becomes the bottleneck).
    The delivery-invariant purge basis adds a second pass over the
    master per batch (a map-side-combined per-block count) — a
    constant factor on the already-documented master-scan cost, and
    the map-only key projection means both passes prune to (id, text,
    block) columns. Returns the admitted survivors."""
    from ..operators import dedup as _dedup
    from ..sources.sql import SaveStrategy

    if "__change" in batch.columns:
        # the CDC merge marks rows with a __change column; silently
        # overwriting (and then dropping) a same-named batch column —
        # e.g. an upstream feed's own CDC marker — would lose user
        # data on every survivor. Refuse loudly (r16 self-review).
        raise ValueError(
            "admit_batch_fuzzy: batch carries a reserved '__change' "
            "column; rename it before admission"
        )
    batch = batch.dropDuplicates([id_col])
    if intra_batch:
        pairs = _dedup.fuzzy_pairs(
            batch,
            text_col=text_col,
            id_col=id_col,
            block_col=block_col,
            key_len=key_len,
            block_cap=block_cap,
            pct_threshold=pct_threshold,
        ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        clusters = _dedup.dup_clusters(batch, pairs, id_col=id_col)
        batch = _dedup.keep_canonical(batch, clusters, id_col=id_col)
    if admitted.exists():
        ref_df = admitted.read().df
        # OUTGOING rows (step 3): batch ids whose admitted text differs
        # from the incoming text. Checkpointed: read by the ref-side
        # exclusion, the stale semi-join and the CDC batch.
        outgoing = (
            batch.select(F.col(id_col), F.col(text_col).alias("__new_text"))
            .join(
                ref_df.select(F.col(id_col), F.col(text_col).alias("__ref_text")),
                id_col,
            )
            .filter(~F.col("__ref_text").eqNullSafe(F.col("__new_text")))
            .select(id_col)
            .localCheckpoint(eager=True)
        )
        hits = _dedup.fuzzy_join(
            batch,
            ref_df.join(outgoing, id_col, "left_anti"),
            text_col=text_col,
            probe_id_col=id_col,
            ref_id_col=id_col,
            block_col=block_col,
            key_len=key_len,
            block_cap=block_cap,
            pct_threshold=pct_threshold,
            count_ref=ref_df.join(batch.select(id_col), id_col, "left_anti"),
        ).filter(F.col("probe_id") != F.col("ref_id"))
        # the rejected ids, checkpointed: read by the survivor anti-join
        # and the tombstone scan
        dup_ids = (
            hits.select(F.col("probe_id").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        keep = batch.join(dup_ids, id_col, "left_anti")
        # (3b) outgoing ids whose new version was rejected: their stale
        # rows are deleted in the same CDC batch as the upserts
        stale = outgoing.join(dup_ids, id_col, "left_semi")
    else:
        keep = batch
        stale = None
    keep = keep.localCheckpoint(eager=True)
    if stale is not None:
        # ONE CDC batch per micro-batch (r15 ADVICE): the tombstone
        # deletes ride WITH the survivor upserts through a single
        # apply_changes merge — one atomic pointer commit, so there is
        # no crash window (and no concurrent-reader state) where the
        # stale row is gone but the batch's survivors are not yet in.
        # Keys are disjoint by construction (stale ⊆ rejected ids,
        # keep = batch MINUS rejected ids), so the batch carries at
        # most one change per key — apply_changes' contract without a
        # seq_col. An all-empty batch is a no-op on bucketed tables
        # (the merge prunes to zero touched buckets and skips the
        # commit), which also retires the per-batch isEmpty() driver
        # action the two-commit shape needed.
        changes = keep.withColumn("__change", F.lit("update")).unionByName(
            batch.join(stale, id_col, "left_semi").withColumn(
                "__change", F.lit("delete")
            )
        )
        admitted.apply_changes(changes, change_col="__change")
    else:
        admitted.save(keep, SaveStrategy.UPSERT)
    return keep


def stream_fuzzy_admission(
    stream: DataFrame,
    admitted,
    checkpoint: str,
    pct_threshold: int = 30,
    key_len: int = 16,
    block_cap: int = 64,
    block_col: str | None = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    intra_batch: bool = False,
) -> StreamingQuery:
    """Continuous edit-distance admission at ingest —
    :func:`stream_dedup_against_store`'s character-level sibling:
    every micro-batch is fuzzy-probed (``dedup.fuzzy_join``) against
    the growing ``admitted`` master and only non-near-copies are
    key-upserted, so later batches reject near-copies of earlier
    admissions. See :func:`admit_batch_fuzzy` for the per-batch plan
    and the replay-safety argument. ``admitted`` must be a
    ``LakeTable`` with ``index=id_col`` (``buckets=N`` keeps each
    upsert O(delta))."""
    if admitted.index is None:
        raise ValueError("stream_fuzzy_admission requires a LakeTable with an index")

    def _consume(batch: DataFrame, _bid: int) -> None:
        admit_batch_fuzzy(
            batch,
            admitted,
            pct_threshold=pct_threshold,
            key_len=key_len,
            block_cap=block_cap,
            block_col=block_col,
            text_col=text_col,
            id_col=id_col,
            intra_batch=intra_batch,
        )

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_apply_changes(
    stream: DataFrame,
    table,
    checkpoint: str,
    change_col: str = "change",
    seq_col: str | None = None,
) -> StreamingQuery:
    """Continuously apply a CDC stream — rows of (key, change ∈
    {insert, update, delete}, data columns) — to a lake table: each
    micro-batch is one atomic ``LakeTable.apply_changes`` merge
    (idempotent under at-least-once replay; pass ``seq_col`` so
    multiple changes to a key within one batch collapse to the
    latest). The streaming consumer of ``LakeTable.diff`` or any
    Debezium-shaped feed."""

    def _consume(batch: DataFrame, _bid: int) -> None:
        table.apply_changes(batch, change_col=change_col, seq_col=seq_col)

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_pq_ingest(
    stream: DataFrame,
    store,
    checkpoint: str,
) -> StreamingQuery:
    """Maintain a persisted PQ ANN index (``similarity.PQStore``) from
    an embedding stream: the first micro-batch trains the codebooks
    and encodes itself; every later batch is encoded against the
    FROZEN codebooks and key-upserted into the code table — O(delta)
    index maintenance per batch, the corpus is never re-encoded.
    Replay-safe: a re-sent id overwrites its own code rows. Construct
    the store with ``buckets=N`` so each upsert rewrites only touched
    key-hash partitions."""

    def _consume(batch: DataFrame, _bid: int) -> None:
        batch = batch.dropDuplicates([store.id_col])
        if store.exists():
            store.ingest(batch)
        else:
            store.build(batch)

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within
    the watermark horizon (state is bounded by the watermark — the
    requirement for an always-on dedup stage at ingest)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def tumbling_window(
    stream: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation; late rows beyond the
    watermark are dropped and window state is bounded (what lets this
    run forever on an unbounded stream)."""
    aggs = aggs or [F.count("*").alias("n"), F.sum("value").alias("total_value")]
    gcols = [F.window(ts_col, window_len).alias("win")] + [F.col(k) for k in (keys or [])]
    return stream.withWatermark(ts_col, watermark).groupBy(*gcols).agg(*aggs)


def sliding_window(
    stream: DataFrame,
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    aggs = aggs or [F.count("*").alias("n")]
    gcols = [F.window(ts_col, window_len, slide).alias("win")] + [
        F.col(k) for k in (keys or [])
    ]
    return stream.withWatermark(ts_col, watermark).groupBy(*gcols).agg(*aggs)


def session_window(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Gap-based session windows (the batch e_sessionize query's
    streaming twin)."""
    aggs = aggs or [F.count("*").alias("n_events")]
    gcols = [F.session_window(ts_col, gap).alias("session")] + [
        F.col(k) for k in (keys or [])
    ]
    return stream.withWatermark(ts_col, watermark).groupBy(*gcols).agg(*aggs)


def run_available_now(
    result: DataFrame,
    checkpoint: str,
    sink_path: str | None = None,
    memory_table: str | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain the stream with availableNow into parquet or an in-memory
    table (tests), then stop."""
    w = result.writeStream.option("checkpointLocation", checkpoint).outputMode(output_mode)
    if memory_table:
        q = w.format("memory").queryName(memory_table).trigger(availableNow=True).start()
    elif sink_path:
        q = w.format("parquet").option("path", sink_path).trigger(availableNow=True).start()
    else:
        raise ValueError("need sink_path or memory_table")
    return q


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    upper: str = "1 hour",
    watermark: str = "30 minutes",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with right
    events of the same ``key`` whose timestamp falls in
    ``[left.ts, left.ts + upper]`` — the streaming twin of the batch
    interval join (operators/temporal.py), e.g. purchases within an
    hour of a click.

    Both sides carry watermarks AND the join condition bounds the two
    event times, which is precisely what lets Spark expire join state:
    without the time bound the state store would grow forever (the
    stream-stream join requirement). Right columns come back
    ``right_prefix``-ed to avoid collisions."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark)
    r = r.select([F.col(c).alias(f"{right_prefix}{c}") for c in r.columns]).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{right_prefix}{key}"))
        & (F.col(f"r.{right_prefix}{ts_col}") >= F.col(f"l.{ts_col}"))
        & (
            F.col(f"r.{right_prefix}{ts_col}")
            <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {upper}")
        )
    )
    return l.join(r, cond)


def stream_validated_ingest(
    stream: DataFrame,
    rules: list[tuple],
    good,
    quarantine,
    checkpoint: str,
) -> StreamingQuery:
    """Dead-letter ingestion gate: each micro-batch splits on the
    row-level constraint conjunction
    (:func:`fabrix_spark.operators.profile.row_constraints`); passing
    rows append to the ``good`` lake table, failing rows go to the
    ``quarantine`` table with a ``_fx_reason`` column naming the first
    violated rule — nothing is silently dropped, and the quarantine is
    re-processable once the rule or the data is fixed (the
    Deequ/Delta-expectations ingestion pattern).

    Both writes are atomic pointer commits (append = hard-link
    assembled version), so readers of either table never observe a
    partially-written batch. The split predicate is one codegen'd
    expression evaluated once per row; the batch is localCheckpointed
    so source files are read once per batch, not once per sink.

    The two sinks have no cross-table transaction, so each save stamps
    the micro-batch id into its version's commit info and ``_consume``
    skips any sink whose history already holds this batch id: if the
    driver dies after ``good`` committed but before ``quarantine`` did,
    the availableNow retry re-runs the batch and appends ONLY the
    missing quarantine write instead of double-appending good rows.
    (The guard is retention-INDEPENDENT: every commit carries the
    cumulative applied-batch-id ranges, so the live version alone
    recognizes any replayed id — see ``_applied_ids``.)"""
    from ..operators.profile import row_constraints

    pred, reason = row_constraints(rules)

    def _consume(batch: DataFrame, bid: int) -> None:
        batch = batch.localCheckpoint()
        ok = batch.filter(pred)
        bad = batch.filter(~pred).withColumn("_fx_reason", reason)
        if not _committed(good, bid):
            strategy = "append" if good.exists() else "replace"
            good.save(ok, strategy, commit_extra=_commit_meta(good, bid))
        if bad.limit(1).count() > 0 and not _committed(quarantine, bid):
            q_strategy = "append" if quarantine.exists() else "replace"
            quarantine.save(
                bad, q_strategy, commit_extra=_commit_meta(quarantine, bid)
            )

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_aggregate(
    stream: DataFrame,
    agg,
    group_col: str,
    sum_cols: dict[str, str],
    checkpoint: str,
) -> StreamingQuery:
    """STREAMING incremental view maintenance: each micro-batch's
    per-group (count, int-sum) deltas merge into the maintained
    aggregate lake table — the always-on form of
    :func:`fabrix_spark.sources.lake.maintain_aggregate` for
    insert-only streams (CDC streams go through
    ``stream_apply_changes`` + batch ``maintain_aggregate``). Work per
    batch is O(|batch|) + a merge over the metadata-sized aggregate;
    the stream itself never re-aggregates.

    Exactly-once under at-least-once delivery: the retention-
    independent cumulative applied-batch-id protocol
    (``_applied_ids``), so the delta can never double-apply — even
    when the duplicate arrives after more than ``retain`` newer
    commits."""
    from pyspark.sql import functions as F

    def _consume(batch: DataFrame, bid: int) -> None:
        if _committed(agg, bid):
            return
        delta = batch.groupBy(group_col).agg(
            F.count("*").alias("__dn"),
            *[
                F.sum(src).cast("long").alias(f"__d_{out}")
                for out, src in sum_cols.items()
            ],
        )
        extra = _commit_meta(agg, bid)
        if not agg.exists():
            init = delta.select(
                group_col,
                F.col("__dn").alias("n_rows"),
                *[F.col(f"__d_{out}").alias(out) for out in sum_cols],
            )
            agg.save(init, "replace", commit_extra=extra)
            return
        cur = agg.read().df
        merged = (
            cur.join(delta, group_col, "full_outer")
            .select(
                group_col,
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("__dn"), F.lit(0))
                ).alias("n_rows"),
                *[
                    (
                        F.coalesce(F.col(out), F.lit(0))
                        + F.coalesce(F.col(f"__d_{out}"), F.lit(0))
                    ).alias(out)
                    for out in sum_cols
                ],
            )
        )
        agg.save(merged, "replace", commit_extra=extra)

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_profile(
    stream: DataFrame,
    hist_table,
    kmv_table,
    value_col: str,
    distinct_col: str,
    checkpoint: str,
    width: int = 1000,
    scale: int = 100,
    k: int = 256,
) -> StreamingQuery:
    """STREAMING profile maintenance: each micro-batch folds its
    sketch PARTIALS into two lake-persisted, metadata-sized sketch
    tables — the always-on form of the batch profiling sketches, which
    are mergeable BY CONSTRUCTION (profile.py):

    * histogram sketch of ``value_col`` (bucket, cnt): per-batch
      partial is one hash aggregate over the batch; the fold is a
      per-bucket count sum — merge(batches) == build(union) exactly.
    * KMV distinct sketch of ``distinct_col`` (h): per-batch partial
      is the batch's k smallest distinct hashes; the fold keeps the k
      smallest of (table ∪ partial) — "k smallest of a union == k
      smallest of the union of k-smallest sets", so the maintained
      sketch equals the one built over all data ever streamed.

    Work per batch is O(|batch|) plus merges over two sketch-sized
    tables; the stream history is never re-read — at 100 TB profiling
    is incremental or it doesn't happen. Exactly-once under
    at-least-once delivery: both saves stamp the micro-batch id and a
    retried batch skips any table whose history already holds it
    (each table checks independently, so a crash between the two
    commits re-applies only the missing one). The per-batch fold is
    :func:`profile_fold_consumer` — exposed so tests can drive
    arbitrary delivery orders (mid-stream duplicates, out-of-order
    event time) without a streaming query."""
    return (
        stream.writeStream.foreachBatch(
            profile_fold_consumer(
                hist_table, kmv_table, value_col, distinct_col,
                width=width, scale=scale, k=k,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _applied_ids(table) -> set[int]:
    """Every micro-batch id ever applied to ``table``, INDEPENDENT of
    version retention: each fold commit stamps the cumulative id set
    (compressed to ``[lo, hi]`` ranges — contiguous for streaming
    epochs, so usually one pair) into its commit metadata, and the
    live version alone remembers all predecessors even after their
    trees were vacuumed. A batch redelivered arbitrarily late is still
    recognized (r12 ADVICE: the old guard scanned only the retained
    history, so a duplicate older than ``retain`` commits re-applied
    and double-counted). Tables written before this record existed
    fall back to the retained history's per-commit stamps."""
    if not table.exists():
        return set()
    hist = table.history()
    live = next((h for h in reversed(hist) if h.get("live")), None)
    if live is not None and live.get("applied_batch_ids") is not None:
        return {
            i
            for lo, hi in live["applied_batch_ids"]
            for i in range(int(lo), int(hi) + 1)
        }
    # Legacy fallback: count only versions UP TO the live one. The
    # lake writes a version's _commit.json before flipping the live
    # pointer, so a crash in between leaves an orphan NEWER than live
    # whose batch was never actually applied — counting it would skip
    # the retry and silently lose the batch.
    live_idx = next(
        (i for i in range(len(hist) - 1, -1, -1) if hist[i].get("live")), -1
    )
    return {
        int(h["batch_id"])
        for h in hist[: live_idx + 1]
        if h.get("batch_id") is not None
    }


def _id_ranges(ids: set[int]) -> list[list[int]]:
    out: list[list[int]] = []
    for i in sorted(ids):
        if out and i == out[-1][1] + 1:
            out[-1][1] = i
        else:
            out.append([i, i])
    return out


def _committed(table, bid: int) -> bool:
    return bid in _applied_ids(table)


def _commit_meta(table, bid: int, **extra) -> dict:
    """Commit metadata for a fold save: this batch's id plus the
    cumulative applied-id ranges (``_applied_ids`` of the CURRENT live
    version, plus ``bid``). Compute BEFORE the save moves the live
    pointer."""
    meta = {
        "batch_id": bid,
        "applied_batch_ids": _id_ranges(_applied_ids(table) | {bid}),
    }
    meta.update(extra)
    return meta


def profile_fold_consumer(
    hist_table,
    kmv_table,
    value_col: str,
    distinct_col: str,
    width: int = 1000,
    scale: int = 100,
    k: int = 256,
):
    """The (batch_df, batch_id) fold behind
    :func:`stream_maintain_profile` — duplicate batch ids are skipped
    per-table (idempotent under at-least-once delivery, including a
    duplicate arriving MID-stream after later batches moved the live
    version on), and the folds are order-free so out-of-event-time
    delivery still converges to the batch-recomputed sketches."""
    from pyspark.sql import functions as F

    from ..operators.profile import hist_sketch, kmv_sketch

    def _consume(batch: DataFrame, bid: int) -> None:
        batch = batch.localCheckpoint()
        if not _committed(hist_table, bid):
            extra = _commit_meta(hist_table, bid)
            delta = hist_sketch(batch, value_col, width=width, scale=scale)
            if hist_table.exists():
                merged = (
                    hist_table.read().df.unionByName(delta)
                    .groupBy("bucket")
                    .agg(F.sum("cnt").alias("cnt"))
                )
                hist_table.save(merged, "replace", commit_extra=extra)
            else:
                hist_table.save(delta, "replace", commit_extra=extra)
        if not _committed(kmv_table, bid):
            extra = _commit_meta(kmv_table, bid)
            partial = kmv_sketch(batch, distinct_col, k=k)
            if kmv_table.exists():
                folded = (
                    kmv_table.read().df.unionByName(partial)
                    .distinct()
                    .orderBy("h")
                    .limit(k)
                )
                kmv_table.save(folded, "replace", commit_extra=extra)
            else:
                kmv_table.save(partial, "replace", commit_extra=extra)

    return _consume


def stream_maintain_heavy_hitters(
    stream: DataFrame,
    summary_table,
    item_col: str,
    checkpoint: str,
    k: int = 500,
) -> StreamingQuery:
    """STREAMING Misra-Gries maintenance — the third mergeable sketch
    fold (with :func:`stream_maintain_profile`'s histogram and KMV):
    each micro-batch's exact item counts compress to a k-counter MG
    summary, merge into the lake-persisted summary by count sum, and
    re-compress to k (the mergeable-summaries MERGE — see
    ``profile.mg_compress``). The maintained table is therefore ≤ k
    rows forever, per-batch work is one count aggregate over the batch
    plus metadata-sized merges, and the MG guarantee survives merging:
    counts only under-count, total error ≤ n/(k+1), so every item with
    frequency > n/(k+1) of ALL data ever streamed is present — the
    candidate superset an exact verify pass needs.

    Exactly-once under at-least-once delivery: commits stamp the
    micro-batch id (replays skip) AND carry the running total row
    count ``n_total`` in the commit info, so the threshold for a
    φ-heavy query needs no re-scan of the stream history. The
    per-batch fold is :func:`heavy_hitter_consumer` (exposed for
    delivery-order tests)."""
    return (
        stream.writeStream.foreachBatch(
            heavy_hitter_consumer(summary_table, item_col, k=k)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def heavy_hitter_consumer(summary_table, item_col: str, k: int = 500):
    """The (batch_df, batch_id) MG fold behind
    :func:`stream_maintain_heavy_hitters` — idempotent on duplicate
    batch ids (including redelivery beyond the retention window — the
    cumulative applied-id protocol, same as every other fold) and
    order-free."""
    from pyspark.sql import functions as F

    from ..operators.profile import mg_compress

    def _consume(batch: DataFrame, bid: int) -> None:
        if _committed(summary_table, bid):
            return
        hist = summary_table.history() if summary_table.exists() else []
        # history is oldest -> newest; the LIVE version carries the
        # running total. A live commit WITHOUT n_total means the table
        # was created or last written by something other than this
        # maintainer — silently resetting the running total to 0 would
        # corrupt every later φ-threshold (ceil(n_total·φ)), so refuse.
        prev_total = 0
        if hist:
            live = [h for h in hist if h.get("live")]
            if live and live[-1].get("n_total") is None:
                raise ValueError(
                    "stream_maintain_heavy_hitters: summary table exists but "
                    "its live commit carries no n_total — it was not written "
                    "by this maintainer; refusing to reset the running total "
                    "(start from a fresh summary table instead)"
                )
            if live:
                prev_total = int(live[-1]["n_total"])
        rows = batch.filter(F.col(item_col).isNotNull())
        n_batch = rows.count()
        partial = mg_compress(
            rows.groupBy(F.col(item_col).alias("item")).agg(
                F.count("*").alias("cnt")
            ),
            k,
        )
        if summary_table.exists():
            merged = mg_compress(
                summary_table.read().df.unionByName(partial)
                .groupBy("item")
                .agg(F.sum("cnt").alias("cnt")),
                k,
            )
        else:
            merged = partial
        summary_table.save(
            merged,
            "replace",
            commit_extra=_commit_meta(
                summary_table, bid, n_total=prev_total + n_batch
            ),
        )

    return _consume


def stream_maintain_gram(
    stream: DataFrame,
    gram_table,
    checkpoint: str,
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> StreamingQuery:
    """STREAMING Gram-matrix maintenance — the fourth mergeable fold
    (after histogram/KMV/Misra-Gries): each micro-batch's exact
    integer Gram partial (:func:`similarity.gram_matrix` — one
    Arrow-batched matmul pass over the batch) adds cell-wise into a
    lake-persisted dim² table. Sums of outer products are mergeable BY
    CONSTRUCTION — ``G(A ∪ B) = G(A) + G(B)`` exactly in integer
    arithmetic — so the maintained table equals the Gram matrix built
    over all vectors ever streamed, bit for bit, and the downstream
    PCA (:func:`similarity.power_iteration_top`) is always current
    without re-reading stream history. The maintained state is dim²
    rows forever; per-batch work is O(|batch|·dim) + a dim²-row merge.

    Exactly-once under at-least-once delivery: commits stamp the
    micro-batch id and replays skip (the :func:`gram_fold_consumer`
    fold, exposed for delivery-order tests)."""
    return (
        stream.writeStream.foreachBatch(
            gram_fold_consumer(gram_table, vec_col=vec_col, quantize=quantize)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def gram_fold_consumer(gram_table, vec_col: str = "embedding", quantize: int = 1_000_000):
    """The (batch_df, batch_id) fold behind
    :func:`stream_maintain_gram` — idempotent on duplicate batch ids
    (including mid-stream redelivery arbitrarily later than the
    version-retention window: commits carry the cumulative
    applied-id ranges, see ``_applied_ids``) and order-free
    (cell-wise integer addition commutes)."""
    from pyspark.sql import functions as F

    from ..operators.similarity import gram_matrix

    def _consume(batch: DataFrame, bid: int) -> None:
        if _committed(gram_table, bid):
            return
        delta = gram_matrix(batch, vec_col=vec_col, quantize=quantize)
        if gram_table.exists():
            merged = (
                gram_table.read().df.unionByName(delta)
                .groupBy("i", "j")
                .agg(F.sum("g").cast("decimal(38,0)").alias("g"))
            )
            gram_table.save(
                merged, "replace", commit_extra=_commit_meta(gram_table, bid)
            )
        else:
            gram_table.save(
                delta, "replace", commit_extra=_commit_meta(gram_table, bid)
            )

    return _consume


def stream_maintain_class_counts(
    stream: DataFrame,
    counts_table,
    checkpoint: str,
    class_col: str = "lang",
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """STREAMING Naive-Bayes model maintenance — the FIFTH mergeable
    fold (histogram / KMV / Misra-Gries / Gram / this): each
    micro-batch tokenizes (text.feature_hash — one explode + map-side
    combine) and its class×bucket token counts add cell-wise into a
    lake-persisted model table. Counts are mergeable BY CONSTRUCTION
    (``C(A ∪ B) = C(A) + C(B)`` exactly), so the maintained table
    equals the batch rebuild over everything ever streamed bit for
    bit, and the classifier (:func:`~fabrix_spark.operators.train
    .nb_train_predict`'s scoring half) retrains online — new domains
    enter the model at stream latency without re-reading history. The
    maintained state is ≤ classes·dim rows forever; per-batch work is
    one tokenize pass over the batch + a model-sized merge.

    Exactly-once under at-least-once delivery: the retention-
    independent cumulative applied-batch-id protocol
    (``_applied_ids``)."""
    return (
        stream.writeStream.foreachBatch(
            class_count_fold_consumer(
                counts_table, class_col=class_col, dim=dim,
                text_col=text_col, id_col=id_col,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def class_count_fold_consumer(
    counts_table,
    class_col: str = "lang",
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The (batch_df, batch_id) fold behind
    :func:`stream_maintain_class_counts` — idempotent on duplicate
    batch ids regardless of version retention and order-free
    (cell-wise integer addition commutes). Exposed for delivery-order
    tests."""
    from pyspark.sql import functions as F

    from ..operators.text import feature_hash

    def _consume(batch: DataFrame, bid: int) -> None:
        if _committed(counts_table, bid):
            return
        delta = (
            feature_hash(
                batch, dim=dim, text_col=text_col, id_col=id_col,
                carry=[class_col],
            )
            .where(F.col(class_col).isNotNull())
            .groupBy(class_col, "feature")
            .agg(F.sum("cnt").alias("n"))
        )
        if counts_table.exists():
            merged = (
                counts_table.read().df.unionByName(delta)
                .groupBy(class_col, "feature")
                .agg(F.sum("n").alias("n"))
            )
            counts_table.save(
                merged, "replace", commit_extra=_commit_meta(counts_table, bid)
            )
        else:
            counts_table.save(
                delta, "replace", commit_extra=_commit_meta(counts_table, bid)
            )

    return _consume


def stream_asof_enrich(
    stream: DataFrame,
    rates: DataFrame,
    out_table,
    checkpoint: str,
    on: str,
    by: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> StreamingQuery:
    """STREAMING as-of enrichment — the feature-store attach at ingest
    time: each micro-batch as-of joins a static ``rates`` dimension
    (most recent rate at-or-before the event's time, per ``by`` key)
    and appends to a lake table. Structured Streaming has no built-in
    as-of join, so this is foreachBatch + the batch
    :func:`operators.temporal.asof_join` — per-batch cost is the
    batch-sized union+window, the stream history is never re-read, and
    results equal the batch as-of over the union because the as-of of
    a row depends only on that row and the static dimension.

    Exactly-once under at-least-once delivery: every commit carries
    the CUMULATIVE applied-batch-id ranges (``_applied_ids``), so a
    replayed id is recognized from the live version alone — any
    ``retain`` works, for same-checkpoint recovery AND a full
    from-scratch replay (fresh checkpoint over the same source)."""
    from ..operators.temporal import asof_join

    def _consume(batch: DataFrame, bid: int) -> None:
        if _committed(out_table, bid):
            return
        enriched = asof_join(batch, rates, on=on, by=by, right_cols=right_cols)
        strategy = "append" if out_table.exists() else "replace"
        out_table.save(
            enriched, strategy, commit_extra=_commit_meta(out_table, bid)
        )

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_index(
    stream: DataFrame,
    index_table,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """STREAMING inverted-index maintenance: each micro-batch of new
    documents tokenizes (operators/search.py's exact tokenization) and
    APPENDS its (token, doc_id) postings to the lake posting table —
    at 100 TB the index is maintained incrementally or it doesn't
    exist. Per-batch work is one explode + distinct over the batch;
    the corpus and the existing index are never re-read (documents are
    new-by-contract — route updates through dedup/admission first).
    Appended postings land unsorted; run ``optimize(cluster_by=
    ['token'])`` at compaction cadence to restore the range-sorted
    file layout that makes term seeks manifest-prunable — queries stay
    CORRECT meanwhile (pruning is conservative), just less pruned.

    Exactly-once under at-least-once delivery: every commit carries
    the cumulative applied-batch-id ranges, so replayed ids are
    skipped regardless of retention (same retention-independent
    protocol as stream_asof_enrich)."""
    from ..operators.search import build_token_index

    def _consume(batch: DataFrame, bid: int) -> None:
        if _committed(index_table, bid):
            return
        postings = build_token_index(batch, text_col=text_col, id_col=id_col)
        strategy = "append" if index_table.exists() else "replace"
        index_table.save(
            postings, strategy, commit_extra=_commit_meta(index_table, bid)
        )

    return (
        stream.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
