"""Wire formats (ft.rs parity), Mongo codec, dispatcher pump, and the
Structured Streaming ingestion path."""

import datetime as dt
import decimal
import json
import sqlite3

import pytest

from fabrix_spark.frame import FxFrame
from fabrix_spark.io.wire import from_json, from_wire, to_json, to_wire
from fabrix_spark.pipe import Dispatcher, DynConn, dispatch
from fabrix_spark.sources.files import CsvReadOptions, read_csv, write_csv
from fabrix_spark.sources.mongo import (
    MongoExecutor,
    SavingCategory,
    doc_to_frame,
    frame_to_doc,
)
from fabrix_spark.sources.sql import SaveStrategy, SqlExecutor
from fabrix_spark.streaming import (
    EVENTS_SCHEMA,
    foreach_batch_save,
    read_stream_json,
    run_available_now,
    session_window,
    tumbling_window,
)


@pytest.fixture()
def fx(spark):
    return FxFrame.from_series(
        spark,
        {
            "id": [1, 2, 3],
            "name": ["a", None, "c"],
            "val": [1.5, 2.5, None],
            "born": [dt.date(2020, 1, 2), dt.date(2021, 3, 4), None],
            "seen": [dt.datetime(2022, 5, 6, 7, 8, 9), None, dt.datetime(2023, 1, 1)],
            "money": [decimal.Decimal("1.25"), decimal.Decimal("2.50"), None],
        },
        index="id",
    )


# ---------------------------------------------------------------------------
# wire formats
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt", ["column", "row", "dataset"])
def test_wire_roundtrip(spark, fx, fmt):
    payload = to_wire(fx, fmt)
    back = from_wire(spark, payload, fmt)
    assert back.index_tag is not None and back.index_tag.name == "id"
    assert sorted(map(repr, back.data())) == sorted(map(repr, fx.data()))
    # JSON-serializable end to end
    assert from_json(spark, to_json(fx, fmt), fmt).height == 3


def test_wire_shapes_match_reference(fx):
    col = to_wire(fx, "column")
    assert {s["name"] for s in col["data"]} == {"id", "name", "val", "born", "seen", "money"}
    by_name = {s["name"]: s for s in col["data"]}
    assert by_name["id"]["datatype"] == "I64"
    assert by_name["born"]["datatype"] == "Date"
    # Date = days since epoch (value.rs:140-145)
    assert by_name["born"]["values"][0] == (dt.date(2020, 1, 2) - dt.date(1970, 1, 1)).days
    # DateTime = ns since epoch
    assert by_name["seen"]["values"][2] == int(dt.datetime(2023, 1, 1).timestamp()) * 10**9
    assert col["index_tag"] == {"loc": 0, "name": "id", "data_type": "I64"}

    ds = to_wire(fx, "dataset")
    assert ds["data"]["names"][0] == "id" and ds["data"]["types"][0] == "I64"
    assert len(ds["data"]["values"]) == 3

    row = to_wire(fx, "row")
    assert row["data"]["values"][0].keys() == {"id", "name", "val", "born", "seen", "money"}
    json.dumps(col), json.dumps(ds), json.dumps(row)  # all JSON-safe


# ---------------------------------------------------------------------------
# Mongo frame-as-document (codec + fake client, no server)
# ---------------------------------------------------------------------------


class _FakeColl(dict):
    class _Res:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    def __init__(self):
        self._docs = {}
        self._next = 1

    def insert_one(self, doc):
        oid = doc.get("_id", self._next)
        self._next += 1
        self._docs[oid] = {**doc, "_id": oid}
        return self._Res(inserted_id=oid)

    def find_one(self, q):
        return self._docs.get(q.get("_id"))

    def find(self, q):
        ids = q.get("_id", {}).get("$in", list(self._docs))
        return [self._docs[i] for i in ids if i in self._docs]

    def replace_one(self, q, doc):
        oid = q["_id"]
        hit = oid in self._docs
        if hit:
            self._docs[oid] = {**doc, "_id": oid}
        return self._Res(modified_count=int(hit))

    def delete_one(self, q):
        return self._Res(deleted_count=int(self._docs.pop(q.get("_id"), None) is not None))

    def delete_many(self, q):
        n = 0
        for i in q.get("_id", {}).get("$in", []):
            n += self._docs.pop(i, None) is not None
        return self._Res(deleted_count=n)

    def create_index(self, spec, unique=False):
        self.created_indexes = getattr(self, "created_indexes", [])
        self.created_indexes.append({"keys": list(spec), "unique": unique})
        return "_".join(f"{k}_{d}" for k, d in spec)


class _FakeClient:
    def __init__(self):
        self._coll = _FakeColl()

    def __getitem__(self, _):
        # database level: return a {collection-name: collection} view
        return {"frames": self._coll}

    def list_database_names(self):
        return ["dev"]


@pytest.mark.parametrize("cat", [SavingCategory.COLUMN, SavingCategory.ROW, SavingCategory.DATASET])
def test_mongo_codec_roundtrip(spark, fx, cat):
    doc = frame_to_doc(fx, cat)
    assert doc["category"] == cat
    back = doc_to_frame(spark, doc)
    assert sorted(map(repr, back.data())) == sorted(map(repr, fx.data()))


def test_mongo_create_index_shapes(spark):
    """Contract test for the index surface the reference derive macro
    exposes (fabrix-mg/src/indexes.rs:11-53): single, compound+unique,
    text flag (all keys), and per-key mixed text."""
    ex = MongoExecutor(spark, _FakeClient(), "dev", "frames")
    ex.create_index([("name", 1)])
    ex.create_index([("a", 1), ("b", -1)], unique=True)
    ex.create_index([("title", 1), ("body", 1)], text=True)
    ex.create_index([("title", "text"), ("year", -1)])
    got = ex._coll.created_indexes
    assert got == [
        {"keys": [("name", 1)], "unique": False},
        {"keys": [("a", 1), ("b", -1)], "unique": True},
        {"keys": [("title", "text"), ("body", "text")], "unique": False},
        {"keys": [("title", "text"), ("year", -1)], "unique": False},
    ]
    with pytest.raises(ValueError, match="direction"):
        ex.create_index([("name", 2)])


class _RecordingColl:
    """Records every (method, *args) the executor emits and returns
    minimal valid driver responses — the wire-contract twin of the
    behavioral _FakeColl."""

    class _Res:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    def __init__(self, canned_doc=None):
        self.calls = []
        self.canned_doc = canned_doc

    def find_one(self, q):
        self.calls.append(("find_one", q))
        return self.canned_doc

    def find(self, q):
        self.calls.append(("find", q))
        return []

    def insert_one(self, doc):
        self.calls.append(("insert_one", doc))
        return self._Res(inserted_id=1)

    def replace_one(self, q, doc):
        self.calls.append(("replace_one", q, doc))
        return self._Res(modified_count=1)

    def delete_one(self, q):
        self.calls.append(("delete_one", q))
        return self._Res(deleted_count=1)

    def delete_many(self, q):
        self.calls.append(("delete_many", q))
        return self._Res(deleted_count=2)

    def create_index(self, spec, unique=False):
        self.calls.append(("create_index", list(spec), unique))
        return "ix"

    def list_indexes(self):
        self.calls.append(("list_indexes",))
        return [{"name": "_id_"}]


class _RecordingClient:
    def __init__(self, coll):
        self.coll = coll

    def __getitem__(self, _):
        return {"frames": self.coll}


def test_mongo_wire_contract_exact_documents(spark):
    """Pin the exact documents MongoExecutor emits, against fabrix-mg's
    surface (dy.rs:247-455): the ``{"_id": ...}`` / ``{"_id": {"$in":
    [...]}}`` filter shapes for every *_fx op and the exact stored
    frame document (category + wire payload + index_tag)."""
    small = FxFrame.from_series(spark, {"id": [1, 2], "v": [1.5, None]}, index="id")
    col_doc = {
        "category": "column",
        "data": [
            {"name": "id", "datatype": "I64", "values": [1, 2]},
            {"name": "v", "datatype": "F64", "values": [1.5, None]},
        ],
        "index_tag": {"loc": 0, "name": "id", "data_type": "I64"},
    }
    coll = _RecordingColl(canned_doc={**col_doc, "_id": 7})
    ex = MongoExecutor(spark, _RecordingClient(coll), "dev", "frames")

    ex.insert_fx(small)
    ex.find_fx(7)
    ex.find_fxs([7, 8])
    ex.update_fx(7, small)
    ex.delete_fx(7)
    ex.delete_fxs([7, 8])

    assert [c[0] for c in coll.calls] == [
        "insert_one", "find_one", "find", "replace_one", "delete_one", "delete_many",
    ]
    assert coll.calls[0][1] == col_doc
    assert coll.calls[1][1] == {"_id": 7}
    assert coll.calls[2][1] == {"_id": {"$in": [7, 8]}}
    assert coll.calls[3][1] == {"_id": 7} and coll.calls[3][2] == col_doc
    assert coll.calls[4][1] == {"_id": 7}
    assert coll.calls[5][1] == {"_id": {"$in": [7, 8]}}


def test_mongo_wire_contract_row_dataset_documents(spark):
    """The row/dataset SavingCategory layouts store exactly the
    reference's serde shapes (ft.rs:13-17, se.rs:8-54)."""
    small = FxFrame.from_series(spark, {"id": [1, 2], "v": [1.5, None]}, index="id")
    coll = _RecordingColl()
    ex = MongoExecutor(spark, _RecordingClient(coll), "dev", "frames")
    ex.insert_fx(small, SavingCategory.ROW)
    ex.insert_fx(small, SavingCategory.DATASET)
    tag = {"loc": 0, "name": "id", "data_type": "I64"}
    assert coll.calls[0][1] == {
        "category": "row",
        "data": {
            "types": ["I64", "F64"],
            "values": [{"id": 1, "v": 1.5}, {"id": 2, "v": None}],
        },
        "index_tag": tag,
    }
    assert coll.calls[1][1] == {
        "category": "dataset",
        "data": {
            "names": ["id", "v"],
            "types": ["I64", "F64"],
            "values": [[1, 1.5], [2, None]],
        },
        "index_tag": tag,
    }


def test_mongo_executor_crud(spark, fx):
    ex = MongoExecutor(spark, _FakeClient(), "dev", "frames")
    oid = ex.insert_fx(fx)
    got = ex.find_fx(oid)
    assert got.height == 3 and got.index_tag.name == "id"
    fx2 = FxFrame.from_series(spark, {"id": [9], "v": [1.0]}, index="id")
    assert ex.update_fx(oid, fx2) == 1
    assert ex.find_fx(oid).columns == ["id", "v"]
    assert ex.delete_fx(oid) == 1
    with pytest.raises(KeyError):
        ex.find_fx(oid)


# ---------------------------------------------------------------------------
# dispatcher / dynconn (dispatcher_tests.rs shapes)
# ---------------------------------------------------------------------------


def test_dispatch_csv_to_db(spark, fx, tmp_path):
    p = str(tmp_path / "csv")
    write_csv(fx.take_cols(["id", "name", "val"]), p)
    db = sqlite3.connect(str(tmp_path / "d.db"))
    ex = SqlExecutor(spark, lambda: db)
    dispatch(
        spark,
        reader=lambda s: read_csv(
            s, p, CsvReadOptions(dtypes={"id": "i64", "name": "string", "val": "f64"}, index="id")
        ),
        writer=lambda f: ex.save("people", f, SaveStrategy.REPLACE),
    )
    assert ex.raw_select("SELECT count(*) AS n FROM people").data()[0][0] == 3


def test_dispatcher_db_transform_csv(spark, fx, tmp_path):
    db = sqlite3.connect(str(tmp_path / "d.db"))
    ex = SqlExecutor(spark, lambda: db)
    ex.save("t", fx.take_cols(["id", "val"]).set_index_tag("id"), SaveStrategy.REPLACE)
    out = str(tmp_path / "out")

    d = Dispatcher(
        spark,
        reader=lambda s: ex.raw_select("SELECT id, val FROM t", index="id"),
        writer=lambda f: write_csv(f, out),
    )
    d.read()
    assert d.has_data
    d.transform(lambda f: f.take_rows([1, 3]))
    d.write()
    back = read_csv(spark, out, CsvReadOptions(dtypes={"id": "i64", "val": "f64"}))
    assert sorted(r[0] for r in back.data()) == [1, 3]
    d.clean_data()
    assert not d.has_data


def test_dynconn_registry(spark, tmp_path):
    reg = DynConn()
    reg.insert("db1", SqlExecutor(spark, lambda: sqlite3.connect(str(tmp_path / "a.db"))))
    reg.insert("db2", SqlExecutor(spark, lambda: sqlite3.connect(str(tmp_path / "b.db"))))
    assert len(reg) == 2 and "db1" in reg
    assert isinstance(reg.get("db1"), SqlExecutor)
    reg.remove("db1")
    with pytest.raises(KeyError):
        reg.get("db1")


# ---------------------------------------------------------------------------
# structured streaming ingestion
# ---------------------------------------------------------------------------


def _write_event_files(tmp_path, n_files=3, rows_per_file=4):
    src = tmp_path / "src"
    src.mkdir()
    eid = 0
    for i in range(n_files):
        lines = []
        for j in range(rows_per_file):
            lines.append(
                json.dumps(
                    {
                        "event_id": eid,
                        "user_id": eid % 2,
                        "event_type": "click",
                        "ts": f"2024-01-01T{i:02d}:{j * 10:02d}:00.000Z",
                        "value": float(eid),
                    }
                )
            )
            eid += 1
        (src / f"part-{i}.json").write_text("\n".join(lines))
    return str(src), eid


def test_stream_foreach_batch_save(spark, tmp_path):
    """availableNow + foreachBatch with replace-then-append — the
    xl_db state machine on a real stream."""
    src, total = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src, max_files_per_trigger=1)
    seen: list[tuple[int, str, int]] = []

    def save(batch_df, batch_id, strategy):
        seen.append((batch_id, strategy, batch_df.count()))

    q = foreach_batch_save(
        stream, save, checkpoint=str(tmp_path / "ckpt"), first_strategy="replace"
    )
    q.awaitTermination(120)
    assert sum(n for _, _, n in seen) == total
    strategies = [s for _, s, _ in sorted(seen)]
    assert strategies[0] == "replace" and all(s == "append" for s in strategies[1:])
    assert len(seen) >= 2  # maxFilesPerTrigger=1 → multiple micro-batches


def test_stream_dedup_against_store(spark, tmp_path):
    """Continuous incremental dedup: batch 2's near-copy of a batch-1
    document is rejected by probing the persisted signature store;
    novel documents are admitted and signed."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from fabrix_spark.operators.dedup import SignatureStore
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_dedup_against_store

    t1 = "the quick brown fox jumps over the lazy dog again and again today"
    t2 = "spark shuffles partitions across the cluster during wide transformations"
    near_t1 = "the quick brown fox jumps over the lazy dog again and again tonight"
    novel = "completely unrelated fresh content about entirely different topics now"

    src = tmp_path / "doc_src"
    src.mkdir()
    (src / "part-0.json").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in [(1, t1), (2, t2)])
    )
    (src / "part-1.json").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in [(3, near_t1), (4, novel)])
    )
    now = _time.time()
    _os.utime(src / "part-0.json", (now - 60, now - 60))
    _os.utime(src / "part-1.json", (now, now))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = read_stream_json(spark, str(src), schema=schema, max_files_per_trigger=1)
    store = SignatureStore(spark, str(tmp_path / "sigs"))
    admitted = LakeTable(spark, str(tmp_path / "admitted"), index="doc_id")
    q = stream_dedup_against_store(
        stream, store, admitted, checkpoint=str(tmp_path / "ckpt_store"), threshold=0.4
    )
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in admitted.read().df.collect())
    assert got == [1, 2, 4]  # 3 rejected as near-dup of 1
    assert sorted(r["doc_id"] for r in store.read().collect()) == [1, 2, 4]


def test_stream_dedup_intra_batch_near_dups_admit_one(spark, tmp_path):
    """Two near-dup documents arriving in the SAME micro-batch: by
    default both pass (neither is in the store yet — documented);
    with intra_batch=True the within-batch MinHash pass admits only
    the cluster's minimum-id representative."""
    import json as _json

    from pyspark.sql import types as T

    from fabrix_spark.operators.dedup import SignatureStore
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_dedup_against_store

    t1 = "the quick brown fox jumps over the lazy dog again and again today"
    near_t1 = "the quick brown fox jumps over the lazy dog again and again tonight"
    novel = "completely unrelated fresh content about entirely different topics now"

    src = tmp_path / "doc_src"
    src.mkdir()
    (src / "part-0.json").write_text(
        "\n".join(
            _json.dumps({"doc_id": i, "text": t})
            for i, t in [(1, t1), (3, near_t1), (4, novel)]
        )
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = read_stream_json(spark, str(src), schema=schema)
    store = SignatureStore(spark, str(tmp_path / "sigs"))
    admitted = LakeTable(spark, str(tmp_path / "admitted"), index="doc_id")
    q = stream_dedup_against_store(
        stream,
        store,
        admitted,
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.4,
        intra_batch=True,
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in admitted.read().df.collect())
    assert got == [1, 4]  # 3 deduped against 1 within the batch
    assert sorted(r["doc_id"] for r in store.read().collect()) == [1, 4]


def test_bucketed_admission_is_o_delta_per_batch(spark, tmp_path):
    """With buckets=N on both lake tables, admitting a batch rewrites
    only the bucket partitions its keys hash into — parquet files of
    untouched buckets survive as the same inodes (hard links), so N
    batches cost O(N · delta) file writes, not O(N · corpus)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from fabrix_spark.operators.dedup import SignatureStore
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch

    store = SignatureStore(spark, str(tmp_path / "sigs"), buckets=8)
    admitted = LakeTable(spark, str(tmp_path / "admitted"), index="doc_id", buckets=8)

    def _docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = _docs(
        [(i, f"wholly distinct base document number {i} with its own words {i * 7}")
         for i in range(32)]
    )
    admit_batch(base, store, admitted, threshold=0.4)

    cur = admitted.current_dir()
    inode_before = {
        os.path.relpath(f, cur): os.stat(f).st_ino
        for f in glob.glob(os.path.join(cur, "**", "*.parquet"), recursive=True)
    }
    delta = _docs([(100, "a brand new novel document that matches nothing else at all")])
    touched = {
        r[0]
        for r in delta.select(
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(8)).cast("int")
        ).collect()
    }
    admit_batch(delta, store, admitted, threshold=0.4)

    cur2 = admitted.current_dir()
    inode_after = {
        os.path.relpath(f, cur2): os.stat(f).st_ino
        for f in glob.glob(os.path.join(cur2, "**", "*.parquet"), recursive=True)
    }
    untouched = 0
    for rel, ino in inode_before.items():
        bucket = int(rel.split("=", 1)[1].split("/", 1)[0])
        if bucket not in touched:
            assert inode_after[rel] == ino
            untouched += 1
    assert untouched > 0  # the claim is vacuous if every bucket was hit
    assert admitted.read().height == 33
    assert sorted(r["doc_id"] for r in store.read().collect()) == sorted(
        list(range(32)) + [100]
    )


def test_stream_pq_ingest_builds_then_freezes(spark, tmp_path):
    """Streaming PQ-index maintenance: batch 1 trains codebooks and
    encodes itself; batch 2 is encoded against the FROZEN codebooks
    and upserted — final code table covers both batches with m rows
    per vector, and the codebooks carry batch-1 seed ids only."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from fabrix_spark.operators.similarity import PQStore
    from fabrix_spark.streaming.ingest import read_stream_json, stream_pq_ingest

    dim, m = 8, 2
    src = tmp_path / "emb_src"
    src.mkdir()

    def vec(i):
        return [((i * 7 + d * 3) % 10) / 10.0 for d in range(dim)]

    (src / "part-0.json").write_text(
        "\n".join(_json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(6))
    )
    (src / "part-1.json").write_text(
        "\n".join(_json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(6, 10))
    )
    now = _time.time()
    _os.utime(src / "part-0.json", (now - 60, now - 60))
    _os.utime(src / "part-1.json", (now, now))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = read_stream_json(spark, str(src), schema=schema, max_files_per_trigger=1)
    store = PQStore(spark, str(tmp_path / "pq"), dim=dim, m=m, n_codes=4, buckets=4)
    q = stream_pq_ingest(stream, store, checkpoint=str(tmp_path / "ckpt_pq"))
    q.awaitTermination(120)

    codes = store.codes().collect()
    assert sorted({r["vec_id"] for r in codes}) == list(range(10))
    assert len(codes) == 10 * m
    # codebooks trained on batch 1 only: every code id is a batch-1 seed
    assert all(r["code"] < 6 for r in store.codebooks().collect())
    # the maintained index answers queries
    queries = spark.createDataFrame([(0, vec(0))], schema)
    top = store.topk(queries, k=3).collect()
    assert len(top) == 3 and all(r["c_id"] != 0 for r in top)


def test_stream_upsert_lake(spark, tmp_path):
    """CDC-shaped streaming merge: micro-batches key-upsert into a
    lake table, so replayed/late records overwrite instead of
    duplicating — final table has one row per event_id with the
    LAST-merged value."""
    import json as _json

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import stream_upsert_lake

    src = tmp_path / "cdc_src"
    src.mkdir()
    # batch files: ids 0-4, then an overlapping correction for 2-4 (+ new 5-6)
    for i, ids in enumerate([range(0, 5), range(2, 7)]):
        lines = [
            _json.dumps(
                {
                    "event_id": e,
                    "user_id": e % 2,
                    "event_type": f"v{i}",
                    "ts": f"2024-01-01T00:0{i}:00.000Z",
                    "value": float(e + i * 100),
                }
            )
            for e in ids
        ]
        (src / f"part-{i}.json").write_text("\n".join(lines))

    # FileStreamSource drains oldest-mtime-first; both files land within
    # one mtime tick, so pin distinct mtimes to make batch order (and
    # therefore which version wins the upsert) deterministic.
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "part-0.json", (now - 60, now - 60))
    _os.utime(src / "part-1.json", (now, now))

    stream = read_stream_json(spark, str(src), max_files_per_trigger=1)
    table = LakeTable(spark, str(tmp_path / "cdc_lake"), index="event_id")
    q = stream_upsert_lake(stream, table, checkpoint=str(tmp_path / "cdc_ckpt"))
    q.awaitTermination(120)
    rows = {r["event_id"]: r for r in table.read().df.collect()}
    assert sorted(rows) == list(range(7))  # one row per key, no dups
    # keys 2-4 were overwritten by the second batch (files arrive in
    # pinned-mtime order: part-0 before part-1, per the utime calls above)
    assert all(rows[e]["event_type"] == "v1" for e in (2, 3, 4))
    assert all(rows[e]["event_type"] == "v0" for e in (0, 1))


def test_stream_tumbling_window(spark, tmp_path):
    src, total = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src)
    agg = tumbling_window(stream, "1 hour", "30 minutes", keys=["event_type"])
    q = run_available_now(
        agg, str(tmp_path / "ckpt2"), memory_table="tumbled", output_mode="complete"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM tumbled").collect()
    assert sum(r["n"] for r in rows) == total
    assert len(rows) == 3  # one window per hour-file


def test_stream_stateful_running_totals(spark, tmp_path):
    from fabrix_spark.streaming import running_totals

    src, total = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src, max_files_per_trigger=1)
    agg = running_totals(stream, key_col="user_id", value_col="value")
    q = run_available_now(
        agg, str(tmp_path / "ckpt_rt"), memory_table="totals", output_mode="update"
    )
    q.awaitTermination(120)
    # update mode emits one row per key per batch; the final row per
    # key carries the cumulative totals across ALL batches
    rows = spark.sql("SELECT * FROM totals").collect()
    final = {}
    for r in rows:  # memory sink appends in batch order
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert sum(n for n, _ in final.values()) == total
    expect_sum = sum(range(total))  # value == event_id
    assert sum(v for _, v in final.values()) == float(expect_sum)


def test_stream_stateful_sessionize_runs(spark, tmp_path):
    from fabrix_spark.streaming import stateful_sessionize

    src, _ = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src, max_files_per_trigger=1)
    sess = stateful_sessionize(stream, gap_seconds=900, watermark="0 seconds")
    q = run_available_now(
        sess, str(tmp_path / "ckpt_ss"), memory_table="state_sessions", output_mode="append"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM state_sessions").collect()
    # in-batch gap closure emits at least the sessions fully contained
    # in early files once later files advance the watermark
    assert all(r["n_events"] > 0 for r in rows)
    assert set(rows[0].asDict()) == {"user_id", "session_start", "session_end", "n_events"} if rows else True


def test_stream_session_window(spark, tmp_path):
    src, total = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src)
    agg = session_window(stream, gap="15 minutes", keys=["user_id"])
    q = run_available_now(
        agg, str(tmp_path / "ckpt3"), memory_table="sessions", output_mode="complete"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert sum(r["n_events"] for r in rows) == total


def test_stream_into_lake_upsert(spark, tmp_path):
    """The full ingestion story: file stream → foreachBatch → lake
    table with replace-then-upsert strategy switching (the xl→db
    pipeline re-homed onto the lake writer)."""
    from fabrix_spark.frame import FxFrame
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.sources.sql import SaveStrategy

    src, total = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src, max_files_per_trigger=1)
    table = LakeTable(spark, str(tmp_path / "lake_events"), index="event_id")

    def save(batch_df, batch_id, strategy):
        table.save(FxFrame(batch_df, "event_id"), strategy)

    q = foreach_batch_save(
        stream,
        save,
        checkpoint=str(tmp_path / "ckpt_lake"),
        first_strategy=SaveStrategy.REPLACE,
        rest_strategy=SaveStrategy.UPSERT,
    )
    q.awaitTermination(120)
    got = table.read()
    assert got.height == total
    assert got.index_tag.name == "event_id"


def test_stream_dedup_within_watermark(spark, tmp_path):
    from fabrix_spark.streaming.ingest import stream_dedup

    src = tmp_path / "dupsrc"
    src.mkdir()
    row = {"event_id": 1, "user_id": 1, "event_type": "click", "ts": "2024-01-01T00:00:00.000Z", "value": 1.0}
    # same event replayed in two files + one unique
    (src / "a.json").write_text(json.dumps(row))
    (src / "b.json").write_text(
        json.dumps(row) + "\n" + json.dumps({**row, "event_id": 2, "ts": "2024-01-01T00:01:00.000Z"})
    )
    stream = read_stream_json(spark, str(src))
    deduped = stream_dedup(stream, ["event_id"], watermark="1 hour")
    q = run_available_now(
        deduped, str(tmp_path / "ckpt_dd"), memory_table="dedup_out", output_mode="append"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_stream_sliding_window(spark, tmp_path):
    from fabrix_spark.streaming import sliding_window

    src, total = _write_event_files(tmp_path)
    stream = read_stream_json(spark, src)
    agg = sliding_window(stream, "1 hour", "30 minutes", "30 minutes", keys=["event_type"])
    q = run_available_now(
        agg, str(tmp_path / "ckpt_sl"), memory_table="slid", output_mode="complete"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM slid").collect()
    # each event lands in window_len/slide = 2 overlapping windows
    assert sum(r["n"] for r in rows) == total * 2


def test_stream_real_events_parquet(spark, tmp_path):
    """Stream the driver's real events table (nanosecond timestamps)
    through a watermarked tumbling window and match the batch result."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fabrix_spark.queries import _events
    from fabrix_spark.streaming import tumbling_window

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = _events(spark, "/root/testdata/sf0.001")
    # re-write with micros timestamps so the stream reader sees a
    # standard schema (the ns->long conversion is reader-level)
    src = str(tmp_path / "events_us")
    batch.write.parquet(src)
    schema = batch.schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = tumbling_window(
        stream.withColumn("ts", F.col("ts").cast("timestamp")),
        "1 hour", "0 seconds", keys=["event_type"],
    )
    from fabrix_spark.streaming import run_available_now

    q = run_available_now(
        agg, str(tmp_path / "ckpt_real"), memory_table="real_tumbled", output_mode="complete"
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS n FROM real_tumbled").collect()[0]["n"]
    assert got == batch.count()


def test_stream_stream_interval_join(spark, tmp_path):
    from fabrix_spark.streaming.ingest import (
        read_stream_json,
        run_available_now,
        stream_interval_join,
    )

    clicks = tmp_path / "clicks"
    buys = tmp_path / "buys"
    clicks.mkdir()
    buys.mkdir()
    mk = lambda i, u, t, typ: json.dumps(  # noqa: E731
        {"event_id": i, "user_id": u, "event_type": typ, "ts": t, "value": 1.0}
    )
    clicks.joinpath("c.json").write_text(
        "\n".join(
            [
                mk(1, 7, "2024-01-01T10:00:00.000Z", "click"),
                mk(2, 8, "2024-01-01T10:05:00.000Z", "click"),
            ]
        )
    )
    buys.joinpath("b.json").write_text(
        "\n".join(
            [
                mk(10, 7, "2024-01-01T10:30:00.000Z", "buy"),   # in window for user 7
                mk(11, 7, "2024-01-01T12:00:00.000Z", "buy"),   # too late (> 1h)
                mk(12, 8, "2024-01-01T10:04:00.000Z", "buy"),   # before the click
                mk(13, 9, "2024-01-01T10:10:00.000Z", "buy"),   # no matching click
            ]
        )
    )
    joined = stream_interval_join(
        read_stream_json(spark, str(clicks)),
        read_stream_json(spark, str(buys)),
        key="user_id",
        upper="1 hour",
    )
    q = run_available_now(
        joined, str(tmp_path / "ckpt_ij"), memory_table="ij_out", output_mode="append"
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, r_event_id FROM ij_out").collect()
    assert [(r["event_id"], r["r_event_id"]) for r in rows] == [(1, 10)]


def test_stream_validated_ingest_quarantines_bad_rows(spark, tmp_path):
    """Dead-letter gate: rows violating row-level constraints land in
    the quarantine table with a reason; good rows land in the main
    table; nothing is lost."""
    import json as _json

    from pyspark.sql import types as T

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_validated_ingest

    rows = [
        {"id": 1, "score": 0.5, "status": "ok"},
        {"id": 2, "score": -1.0, "status": "ok"},      # non_negative fails
        {"id": 3, "score": 0.9, "status": "weird"},    # values_in fails
        {"id": 4, "score": None, "status": "ok"},      # not_null fails
        {"id": 5, "score": 2.5, "status": "ok"},       # max fails
    ]
    src = tmp_path / "vsrc"
    src.mkdir()
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("status", T.StringType()),
        ]
    )
    good = LakeTable(spark, str(tmp_path / "good"), index="id")
    quar = LakeTable(spark, str(tmp_path / "quarantine"), index="id")
    q = stream_validated_ingest(
        read_stream_json(spark, str(src), schema=schema),
        [
            ("not_null", "score"),
            ("non_negative", "score"),
            ("max", "score", 1.0),
            ("values_in", "status", ["ok", "retry"]),
        ],
        good,
        quar,
        checkpoint=str(tmp_path / "vckpt"),
    )
    q.awaitTermination(120)
    assert sorted(r["id"] for r in good.read().df.collect()) == [1]
    bad = {r["id"]: r["_fx_reason"] for r in quar.read().df.collect()}
    assert set(bad) == {2, 3, 4, 5}  # total coverage: good + bad == input
    assert bad[2] == "non_negative(score)"
    assert bad[3] == "values_in(status)"
    assert bad[4] == "not_null(score)"
    assert bad[5] == "max(score,1.0)"


def test_stream_stateful_rolling_zscore_matches_batch(spark, tmp_path):
    """In-order replay of the stream emits the SAME anomalies (ids and
    z values) as the batch rolling_zscore over the identical data."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fabrix_spark.operators.temporal import rolling_zscore
    from fabrix_spark.streaming import stateful_rolling_zscore
    from fabrix_spark.streaming.ingest import read_stream_json, run_available_now

    # user 1: calm then spike (batch 2); user 2: always calm
    def ev(i, uid, val, minute):
        return {"user_id": uid, "ts": f"2024-01-01 00:{minute:02d}:00", "value": val}

    b1 = [ev(i, 1, 10.0 + (i % 2), i) for i in range(8)] + [
        ev(i, 2, 5.0 + (i % 3), i) for i in range(8)
    ]
    b2 = [ev(8, 1, 200.0, 8), ev(9, 1, 11.0, 9), ev(8, 2, 6.0, 8)]
    src = tmp_path / "zsrc"
    src.mkdir()
    import os as _os
    import time as _time

    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))
    now = _time.time()
    _os.utime(src / "b1.json", (now - 60, now - 60))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = read_stream_json(spark, str(src), schema=schema, max_files_per_trigger=1)
    out = stateful_rolling_zscore(stream, threshold=3.0)
    q = run_available_now(
        out, str(tmp_path / "zckpt"), memory_table="anoms", output_mode="append"
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["ts"])): r["z"] for r in spark.sql("SELECT * FROM anoms").collect()
    }

    batch_df = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["value"]) for r in b1 + b2],
        "user_id long, ts string, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    want = {
        (r["user_id"], str(r["ts"])): r["z"]
        for r in rolling_zscore(batch_df, window_rows=10).collect()
        if r["z"] is not None and abs(r["z"]) > 3.0
    }
    assert got == want           # same anomalies, byte-identical z
    assert (1, "2024-01-01 00:08:00") in got  # the spike was caught
    assert not any(uid == 2 for uid, _ in got)  # calm user stays quiet


def test_quantize_half_up_matches_spark_round(spark):
    """The streaming zscore quantizer must round HALF_UP like the batch
    twin's F.round — Python round() is half-to-even and diverges on
    exact-.5 products, breaking stream==batch replay."""
    from pyspark.sql import functions as F

    from fabrix_spark.streaming.stateful import _quantize_half_up

    vals = [0.0000005, -0.0000005, 0.0000015, -0.0000015, 0.0000025,
            1.2345675, -1.2345675, 0.1, -0.1, 0.0, 12.5, -12.5]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    want = [
        r["q"]
        for r in df.select(
            F.round(F.col("v") * 1_000_000).cast("long").alias("q")
        ).collect()
    ]
    got = [_quantize_half_up(v, 1_000_000) for v in vals]
    assert got == want
    # the half-to-even builtin disagrees on at least one of these — the
    # case this guards against
    assert any(int(round(v * 1_000_000)) != g for v, g in zip(vals, got))


def test_stream_validated_ingest_retry_is_idempotent(spark, tmp_path):
    """Driver dies after the good-table commit but before quarantine:
    the availableNow retry must complete the quarantine write WITHOUT
    appending the batch's good rows a second time (batch id stamped in
    each sink's commit info; committed sinks skipped on retry)."""
    import json as _json

    from pyspark.sql import types as T

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_validated_ingest

    rows = [
        {"id": 1, "score": 0.5},
        {"id": 2, "score": -1.0},  # non_negative fails
    ]
    src = tmp_path / "vsrc"
    src.mkdir()
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("score", T.DoubleType())]
    )
    good = LakeTable(spark, str(tmp_path / "good"), index="id")
    quar = LakeTable(spark, str(tmp_path / "quarantine"), index="id")
    rules = [("non_negative", "score")]

    # inject a crash on the FIRST quarantine save (after good committed)
    orig_save = quar.save
    state = {"failed": False}

    def flaky_save(*a, **k):
        if not state["failed"]:
            state["failed"] = True
            raise RuntimeError("injected crash before quarantine commit")
        return orig_save(*a, **k)

    quar.save = flaky_save
    q = stream_validated_ingest(
        read_stream_json(spark, str(src), schema=schema),
        rules, good, quar, checkpoint=str(tmp_path / "vckpt"),
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert state["failed"]
    assert sorted(r["id"] for r in good.read().df.collect()) == [1]

    # retry: same checkpoint replays the failed batch; quarantine now works
    q2 = stream_validated_ingest(
        read_stream_json(spark, str(src), schema=schema),
        rules, good, quar, checkpoint=str(tmp_path / "vckpt"),
    )
    q2.awaitTermination(120)
    assert sorted(r["id"] for r in good.read().df.collect()) == [1]  # NOT doubled
    assert sorted(r["id"] for r in quar.read().df.collect()) == [2]
    # both sinks carry the replayed batch id in their commit info
    assert any("batch_id" in h for h in good.history())
    assert any("batch_id" in h for h in quar.history())


def test_stream_maintain_profile_fold_matches_batch_and_replay_noop(spark, tmp_path):
    """Streaming sketch maintenance: per-batch histogram/KMV partials
    folded across micro-batches must equal the batch sketches over the
    union (both sketches are mergeable by construction), and replaying
    the same batch ids (fresh checkpoint, same source) must be a
    commit-skipped no-op — the maintained tables keep their version."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.profile import hist_sketch, kmv_sketch
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_maintain_profile

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 997).alias("v")
    )
    src = str(tmp_path / "src")
    df.coalesce(3).write.mode("overwrite").json(src)
    hist = LakeTable(spark, str(tmp_path / "hist"), index="bucket", retain=6)
    kmv = LakeTable(spark, str(tmp_path / "kmv"), index="h", retain=6)

    def run(ckpt: str):
        q = stream_maintain_profile(
            read_stream_json(spark, src, schema="k long, v long", max_files_per_trigger=1),
            hist, kmv, value_col="v", distinct_col="k",
            checkpoint=str(tmp_path / ckpt), width=100, scale=1, k=64,
        )
        q.awaitTermination(120)

    run("ckpt1")
    want_hist = sorted(map(tuple, hist_sketch(df, "v", width=100, scale=1).collect()))
    got_hist = sorted(map(tuple, hist.read().df.collect()))
    assert got_hist == want_hist
    want_kmv = sorted(r["h"] for r in kmv_sketch(df, "k", k=64).collect())
    got_kmv = sorted(r["h"] for r in kmv.read().df.collect())
    assert got_kmv == want_kmv

    v_hist, v_kmv = hist.current_dir(), kmv.current_dir()
    run("ckpt2")  # same batch ids 0..2 — every commit must be skipped
    assert hist.current_dir() == v_hist and kmv.current_dir() == v_kmv
    assert sorted(map(tuple, hist.read().df.collect())) == want_hist


def test_stream_maintain_heavy_hitters_guarantee_and_replay(spark, tmp_path):
    """Streamed MG maintenance holds the mergeable-summaries contract
    regardless of batching: summary ≤ k rows, counts only UNDER-count
    the truth, total undercount ≤ n/(k+1), every item with true
    frequency > n/(k+1) present; running total is carried in commit
    info; replaying the same batch ids is a no-op."""
    from pyspark.sql import functions as F

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_maintain_heavy_hitters

    # skewed domain: item 'h0' hot, long tail
    df = spark.range(0, 3000).select(
        F.when(F.col("id") % 3 == 0, F.lit("h0"))
        .when(F.col("id") % 3 == 1, F.concat(F.lit("m"), (F.col("id") % 20).cast("string")))
        .otherwise(F.concat(F.lit("t"), F.col("id").cast("string")))
        .alias("item")
    )
    src = str(tmp_path / "src")
    df.coalesce(4).write.mode("overwrite").json(src)
    hh = LakeTable(spark, str(tmp_path / "hh"), index="item", retain=8)
    k = 25

    def run(ckpt):
        q = stream_maintain_heavy_hitters(
            read_stream_json(spark, src, schema="item string", max_files_per_trigger=1),
            hh, "item", checkpoint=str(tmp_path / ckpt), k=k,
        )
        q.awaitTermination(120)

    run("c1")
    got = {r["item"]: r["cnt"] for r in hh.read().df.collect()}
    true = {r["item"]: r["cnt"] for r in df.groupBy("item").agg(F.count("*").alias("cnt")).collect()}
    n = sum(true.values())
    assert len(got) <= k
    assert all(got[i] <= true[i] for i in got)  # never over-counts
    assert all(true[i] - got[i] <= n / (k + 1) for i in got)
    heavy = {i for i, c in true.items() if c > n / (k + 1)}
    assert heavy <= set(got)  # no heavy item ever lost
    n_total = next(int(h["n_total"]) for h in hh.history() if h.get("live"))
    assert n_total == n == 3000
    cur = hh.current_dir()
    run("c2")  # same batch ids — all commits skipped
    assert hh.current_dir() == cur


def test_stream_maintain_profile_partial_commit_retry(spark, tmp_path):
    """Crash between the two sketch commits: the histogram table
    commits, then the KMV save dies mid-batch. The availableNow retry
    on the same checkpoint must re-run the batch and apply ONLY the
    missing KMV write — the histogram's batch-id guard skips its
    already-committed merge, so nothing double-applies."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.profile import hist_sketch, kmv_sketch
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_maintain_profile

    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 13 % 311).alias("v")
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("overwrite").json(src)  # one batch
    hist = LakeTable(spark, str(tmp_path / "hist"), index="bucket", retain=6)
    kmv = LakeTable(spark, str(tmp_path / "kmv"), index="h", retain=6)

    class FailingOnce:
        """kmv-table proxy whose first save dies AFTER hist committed."""

        def __init__(self, inner):
            self._inner = inner
            self.fails = 1

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def save(self, *a, **kw):
            if self.fails:
                self.fails = 0
                raise RuntimeError("injected crash")
            return self._inner.save(*a, **kw)

    flaky = FailingOnce(kmv)
    q = stream_maintain_profile(
        read_stream_json(spark, src, schema="k long, v long"),
        hist, flaky, value_col="v", distinct_col="k",
        checkpoint=str(tmp_path / "ckpt"), width=50, scale=1, k=32,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert hist.exists() and not kmv.exists()  # crashed between commits
    v_hist = hist.current_dir()

    # retry: same checkpoint replays the batch; hist skips, kmv applies
    q2 = stream_maintain_profile(
        read_stream_json(spark, src, schema="k long, v long"),
        hist, kmv, value_col="v", distinct_col="k",
        checkpoint=str(tmp_path / "ckpt"), width=50, scale=1, k=32,
    )
    q2.awaitTermination(120)
    assert hist.current_dir() == v_hist  # NOT double-applied
    assert sorted(map(tuple, hist.read().df.collect())) == sorted(
        map(tuple, hist_sketch(df, "v", width=50, scale=1).collect())
    )
    assert sorted(r["h"] for r in kmv.read().df.collect()) == sorted(
        r["h"] for r in kmv_sketch(df, "k", k=32).collect()
    )


def test_stream_maintain_heavy_hitters_refuses_foreign_table(spark, tmp_path):
    """A summary table whose live commit carries no n_total was not
    written by the maintainer (pre-created, or last written by other
    code). Silently treating the running total as 0 would corrupt every
    later φ-threshold (ceil(n_total·φ)), so the maintainer must REFUSE
    loudly rather than produce silently-wrong heavy hitters."""
    from pyspark.sql import functions as F

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import (
        read_stream_json,
        stream_maintain_heavy_hitters,
    )

    src = str(tmp_path / "src")
    spark.range(0, 50).select(
        F.concat(F.lit("i"), (F.col("id") % 5).cast("string")).alias("item")
    ).coalesce(1).write.mode("overwrite").json(src)

    # foreign table: valid MG-shaped rows but NO n_total in commit info
    hh = LakeTable(spark, str(tmp_path / "hh"), index="item", retain=8)
    hh.save(
        spark.createDataFrame([("x", 3)], "item string, cnt long"), "replace"
    )

    q = stream_maintain_heavy_hitters(
        read_stream_json(spark, src, schema="item string"),
        hh, "item", checkpoint=str(tmp_path / "ckpt"), k=10,
    )
    with pytest.raises(Exception, match="no n_total"):
        q.awaitTermination(120)
    # the foreign table was left untouched
    assert [tuple(r) for r in hh.read().df.collect()] == [("x", 3)]


def test_stream_maintain_profile_midstream_duplicate_and_out_of_order(spark, tmp_path):
    """Mid-stream duplicate delivery against a LIVE table that has
    moved on: batch 0 is redelivered AFTER batches 1 and 2 already
    advanced the live version (at-least-once delivery, not just the
    tail-retry case) — the ``_committed`` guard must skip it against
    the moved-on history, not re-apply it. Batches also arrive out of
    event-time order (batch 2 holds the OLDEST values) — the folds are
    order-free, so the maintained tables must equal the batch
    recompute over the union. Drives the exposed fold consumer
    directly so the delivery order is exact."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.profile import hist_sketch, kmv_sketch, mg_compress  # noqa: F401
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import heavy_hitter_consumer, profile_fold_consumer

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 37 % 997).alias("v")
    )
    b0, b1, b2 = mk(200, 350), mk(350, 500), mk(0, 200)  # b2 = oldest events, last
    hist = LakeTable(spark, str(tmp_path / "hist"), index="bucket", retain=10)
    kmv = LakeTable(spark, str(tmp_path / "kmv"), index="h", retain=10)
    consume = profile_fold_consumer(
        hist, kmv, value_col="v", distinct_col="k", width=100, scale=1, k=64
    )

    consume(b0, 0)
    consume(b1, 1)
    consume(b0, 0)  # duplicate MID-stream: live version has moved past it
    v_hist, v_kmv = hist.current_dir(), kmv.current_dir()
    consume(b0, 0)  # and again — still a no-op
    assert hist.current_dir() == v_hist and kmv.current_dir() == v_kmv
    consume(b2, 2)  # late, out-of-event-time batch

    union = b0.unionByName(b1).unionByName(b2)
    assert sorted(map(tuple, hist.read().df.collect())) == sorted(
        map(tuple, hist_sketch(union, "v", width=100, scale=1).collect())
    )
    assert sorted(r["h"] for r in kmv.read().df.collect()) == sorted(
        r["h"] for r in kmv_sketch(union, "k", k=64).collect()
    )
    # batch-id guard held: exactly one commit per distinct batch id
    hist_bids = [h.get("batch_id") for h in hist.history() if "batch_id" in h]
    assert sorted(hist_bids) == [0, 1, 2]

    # same delivery pattern through the MG fold: summary still equals
    # a tail-retry-free maintenance pass and n_total counts each batch once
    items = lambda df: df.select(  # noqa: E731
        F.concat(F.lit("i"), (F.col("k") % 40).cast("string")).alias("item")
    )
    hh = LakeTable(spark, str(tmp_path / "hh"), index="item", retain=10)
    hh_consume = heavy_hitter_consumer(hh, "item", k=15)
    hh_consume(items(b0), 0)
    hh_consume(items(b1), 1)
    hh_consume(items(b0), 0)  # mid-stream duplicate
    hh_consume(items(b2), 2)
    n_total = next(int(h["n_total"]) for h in hh.history() if h.get("live"))
    assert n_total == union.count()  # duplicate batch counted exactly once
    got = {r["item"]: r["cnt"] for r in hh.read().df.collect()}
    true = {
        r["item"]: r["cnt"]
        for r in items(union).groupBy("item").agg(F.count("*").alias("cnt")).collect()
    }
    assert len(got) <= 15
    assert all(got[i] <= true[i] for i in got)
    assert all(true[i] - got[i] <= n_total / 16 for i in got)


def test_gram_fold_midstream_duplicate_and_out_of_order(spark, tmp_path):
    """The streaming Gram fold under adversarial delivery: a batch
    redelivered MID-stream after the live version moved on is skipped
    (batch-id guard), and out-of-order arrival converges to the batch
    recompute — cell-wise integer addition commutes, so the maintained
    matrix must equal gram_matrix over the union bit for bit."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.similarity import gram_matrix
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import gram_fold_consumer

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.array(
            (F.col("id") % 7).cast("float") / 8,
            (F.col("id") % 5).cast("float") / 4 - 0.5,
            (F.col("id") % 3).cast("float") / 2,
        ).alias("embedding")
    )
    b0, b1, b2 = mk(100, 160), mk(160, 220), mk(0, 100)  # b2 oldest, last
    gram = LakeTable(spark, str(tmp_path / "gram"), index="i", retain=10)
    consume = gram_fold_consumer(gram, quantize=1000)

    consume(b0, 0)
    consume(b1, 1)
    v_live = gram.current_dir()
    consume(b0, 0)  # duplicate MID-stream: live version has moved on
    assert gram.current_dir() == v_live
    consume(b2, 2)  # late, out-of-order batch

    union = b0.unionByName(b1).unionByName(b2)
    want = sorted(
        (r["i"], r["j"], int(r["g"]))
        for r in gram_matrix(union, quantize=1000).collect()
    )
    got = sorted(
        (r["i"], r["j"], int(r["g"])) for r in gram.read().df.collect()
    )
    assert got == want
    bids = [h.get("batch_id") for h in gram.history() if "batch_id" in h]
    assert sorted(bids) == [0, 1, 2]


def test_gram_fold_redelivery_beyond_retention_window(spark, tmp_path):
    """A batch redelivered after MORE than ``retain`` newer commits is
    still skipped: the dedup guard reads the cumulative
    applied-batch-id ranges the live commit carries, not the retained
    version history (r12 ADVICE — with retain=1 the old guard forgot
    batch 0 after two newer commits and double-counted it into G)."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.similarity import gram_matrix
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import gram_fold_consumer

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.array(
            (F.col("id") % 7).cast("float") / 8,
            (F.col("id") % 5).cast("float") / 4 - 0.5,
        ).alias("embedding")
    )
    batches = [mk(i * 30, (i + 1) * 30) for i in range(4)]
    gram = LakeTable(spark, str(tmp_path / "gram"), index="i", retain=1)
    consume = gram_fold_consumer(gram, quantize=1000)
    for bid, b in enumerate(batches):
        consume(b, bid)
    v_live = gram.current_dir()
    consume(batches[0], 0)  # redelivered 3 commits late — outside retain=1
    assert gram.current_dir() == v_live
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    want = sorted(
        (r["i"], r["j"], int(r["g"]))
        for r in gram_matrix(union, quantize=1000).collect()
    )
    got = sorted(
        (r["i"], r["j"], int(r["g"])) for r in gram.read().df.collect()
    )
    assert got == want
    live = [h for h in gram.history() if h.get("live")][0]
    assert live["applied_batch_ids"] == [[0, 3]]  # compressed to one range


def test_class_count_fold_duplicate_and_out_of_order(spark, tmp_path):
    """The streaming NB-model fold (fifth mergeable fold) under
    adversarial delivery: mid-stream duplicates are skipped (including
    beyond the retention window — cumulative applied-id protocol) and
    out-of-order arrival converges to the batch recompute, because
    class×bucket counts add cell-wise."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.text import feature_hash
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import class_count_fold_consumer

    docs = [
        (i, ["alpha beta", "gamma delta", "beta beta epsilon"][i % 3],
         ["aa", "bb"][i % 2])
        for i in range(30)
    ]
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        docs[lo:hi], "doc_id long, text string, lang string"
    )
    batches = [mk(0, 10), mk(10, 20), mk(20, 30)]
    tbl = LakeTable(spark, str(tmp_path / "cc"), index="feature", retain=1)
    consume = class_count_fold_consumer(tbl, class_col="lang", dim=16)
    consume(batches[1], 1)  # out of order
    consume(batches[0], 0)
    v_live = tbl.current_dir()
    consume(batches[0], 0)  # immediate duplicate
    assert tbl.current_dir() == v_live
    consume(batches[2], 2)
    # redelivered TWO commits after it applied — with retain=1 the
    # version history no longer holds batch 0, so only the cumulative
    # applied-id-range protocol can catch it (the r12 gram lesson,
    # asserted for the NB fold specifically)
    v_live = tbl.current_dir()
    consume(batches[0], 0)
    assert tbl.current_dir() == v_live

    union = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    want = sorted(
        (r["lang"], r["feature"], int(r["n"]))
        for r in feature_hash(union, dim=16, carry=["lang"])
        .groupBy("lang", "feature")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    )
    got = sorted(
        (r["lang"], r["feature"], int(r["n"])) for r in tbl.read().df.collect()
    )
    assert got == want


def test_class_count_fold_redelivery_beyond_retention_window(spark, tmp_path):
    """The NB class-count fold's twin of
    test_gram_fold_redelivery_beyond_retention_window (the fifth
    mergeable fold gets the same standalone replay-guarantee test as
    the other four): a batch redelivered after MORE than ``retain``
    newer commits is still skipped, because the dedup guard reads the
    cumulative applied-batch-id ranges off the live commit, not the
    retained version history."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.text import feature_hash
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import class_count_fold_consumer

    docs = [
        (i, ["alpha beta", "gamma delta", "beta beta epsilon"][i % 3],
         ["aa", "bb"][i % 2])
        for i in range(40)
    ]
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        docs[lo:hi], "doc_id long, text string, lang string"
    )
    batches = [mk(i * 10, (i + 1) * 10) for i in range(4)]
    tbl = LakeTable(spark, str(tmp_path / "cc"), index="feature", retain=1)
    consume = class_count_fold_consumer(tbl, class_col="lang", dim=16)
    for bid, b in enumerate(batches):
        consume(b, bid)
    v_live = tbl.current_dir()
    consume(batches[0], 0)  # redelivered 3 commits late — outside retain=1
    assert tbl.current_dir() == v_live
    union = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    want = sorted(
        (r["lang"], r["feature"], int(r["n"]))
        for r in feature_hash(union, dim=16, carry=["lang"])
        .groupBy("lang", "feature")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    )
    got = sorted(
        (r["lang"], r["feature"], int(r["n"])) for r in tbl.read().df.collect()
    )
    assert got == want
    live = [h for h in tbl.history() if h.get("live")][0]
    assert live["applied_batch_ids"] == [[0, 3]]  # compressed to one range


def test_stream_asof_enrich_batch_parity_and_replay(spark, tmp_path):
    """Streaming as-of enrichment equals the batch as-of over the
    union (an as-of row depends only on itself and the static
    dimension), and replaying committed batch ids is a no-op."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.temporal import asof_join
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_parquet, stream_asof_enrich

    ev = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", f"2024-01-01 0{i % 8}:15:00") for i in range(40)],
        "event_id long, typ string, ts_s string",
    ).select("event_id", "typ", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    rates = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 100), ("a", "2024-01-01 04:00:00", 140),
         ("b", "2024-01-01 01:00:00", 210), ("b", "2024-01-01 06:00:00", 260)],
        "typ string, ts_s string, rate long",
    ).select("typ", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "rate")
    src = str(tmp_path / "src")
    ev.coalesce(2).write.mode("overwrite").parquet(src)
    out = LakeTable(spark, str(tmp_path / "out"), index="event_id", retain=10)

    def run(ckpt):
        q = stream_asof_enrich(
            read_stream_parquet(
                spark, src, schema="event_id long, typ string, ts timestamp_ntz",
                max_files_per_trigger=1,
            ),
            rates, out, checkpoint=str(tmp_path / ckpt),
            on="ts", by=["typ"], right_cols=["rate"],
        )
        q.awaitTermination(120)

    run("c1")
    got = sorted(map(tuple, out.read().df.select("event_id", "rate").collect()))
    want = sorted(map(tuple, asof_join(
        ev, rates, on="ts", by=["typ"], right_cols=["rate"]
    ).select("event_id", "rate").collect()))
    assert got == want and got
    v = out.current_dir()
    run("c2")  # fresh checkpoint, same batch ids -> every commit skipped
    assert out.current_dir() == v


def test_stream_maintain_index_replay_noop_and_search_parity(spark, tmp_path):
    """Incrementally-maintained posting index == batch-built index
    (same search answers); replaying committed batch ids is a no-op;
    a post-stream optimize(cluster_by=['token']) restores the
    range-sorted pruneable layout without changing answers."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.search import build_token_index, search_all_terms
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_maintain_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    src = str(tmp_path / "src")
    docs.select("doc_id", "text").coalesce(2).write.mode("overwrite").json(src)
    idx = LakeTable(spark, str(tmp_path / "idx"), retain=8)

    def run(ckpt):
        q = stream_maintain_index(
            read_stream_json(
                spark, src, schema="doc_id long, text string", max_files_per_trigger=1
            ),
            idx, checkpoint=str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    run("c1")
    want = sorted(map(tuple, build_token_index(docs).collect()))
    assert sorted(map(tuple, idx.read().df.collect())) == want
    v = idx.current_dir()
    run("c2")  # same batch ids, fresh checkpoint -> all skipped
    assert idx.current_dir() == v

    terms = ["spark", "window"]
    got = sorted(r["doc_id"] for r in search_all_terms(idx.read().df, terms).collect())
    idx.optimize(cluster_by=["token"], n_files=4)
    kept, total = idx.pruned_files([("token", "in", terms)])
    assert len(kept) < total  # clustered layout prunes again
    after = sorted(
        r["doc_id"]
        for r in search_all_terms(idx.scan([("token", "in", terms)]).df, terms).collect()
    )
    assert after == got and got


@pytest.mark.slow
def test_stateful_sessionize_unsorted_batch(spark, tmp_path):
    """Rows inside one micro-batch arrive in arbitrary order — the
    update fn must time-sort before gap detection. One file holds two
    sessions for one user written in SHUFFLED order; a later file
    advances the watermark so both sessions flush."""
    import json as _json
    import os

    from fabrix_spark.streaming import stateful_sessionize

    src = tmp_path / "src"
    src.mkdir()
    # session A: 10:00, 10:05, 10:10; session B: 12:00, 12:01 — written
    # interleaved/descending inside the single file
    times = ["12:01", "10:05", "12:00", "10:10", "10:00"]
    (src / "b0.json").write_text(
        "\n".join(
            _json.dumps({"user_id": 1, "ts": f"2024-01-01T{t}:00.000Z"}) for t in times
        )
    )
    (src / "b1.json").write_text(
        _json.dumps({"user_id": 99, "ts": "2024-01-02T00:00:00.000Z"})
    )
    os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
    os.utime(src / "b1.json", (1_700_000_060, 1_700_000_060))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sess = stateful_sessionize(stream, gap_seconds=1800, watermark="0 seconds")
    q = run_available_now(
        sess, str(tmp_path / "ckpt_us"), memory_table="unsorted_sessions",
        output_mode="append",
    )
    q.awaitTermination(120)
    rows = {
        (r["session_start"].strftime("%H:%M"), r["n_events"])
        for r in spark.sql(
            "SELECT * FROM unsorted_sessions WHERE user_id = 1"
        ).collect()
    }
    assert rows == {("10:00", 3), ("12:00", 2)}


@pytest.mark.slow
def test_stateful_sessionize_out_of_order_above_watermark(spark, tmp_path):
    """session_window parity for in-watermark stragglers (the r16
    self-review's finding — the old single-session fold silently
    corrupted these): an event newer than the watermark but older than
    the open session must (a) extend the session BACKWARD, (b) open a
    separate EARLIER session when it is more than gap before it, and
    (c) BRIDGE two open sessions into one. Sessions seal only when the
    watermark passes end + gap, so an early gap inside one batch must
    NOT finalize a session a later straggler can still join."""
    import json as _json
    import os

    from fabrix_spark.streaming import stateful_sessionize

    src = tmp_path / "src"
    src.mkdir()

    def put(name, rows, mtime):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": f"2024-01-0{d}T{t}:00.000Z"})
                for u, d, t in rows
            )
        )
        os.utime(src / name, (mtime, mtime))

    # user 1: 10:00, then straggler 9:45 (backward extension), then
    # 8:00 (separate earlier session). user 2: 10:00 and 11:00 (two
    # open sessions, 2*gap apart), then 10:30 bridges them.
    put("b0.json", [(1, 1, "10:00"), (2, 1, "10:00")], 1_700_000_000)
    put("b1.json", [(1, 1, "09:45"), (2, 1, "11:00")], 1_700_000_060)
    put("b2.json", [(1, 1, "08:00"), (2, 1, "10:30")], 1_700_000_120)
    # far-future sentinels seal everything (two so the watermark —
    # computed from the PREVIOUS batch — passes every timeout)
    put("b3.json", [(99, 2, "00:00")], 1_700_000_180)
    put("b4.json", [(99, 2, "12:00")], 1_700_000_240)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    # watermark delay 4 h keeps every straggler above the watermark
    sess = stateful_sessionize(stream, gap_seconds=1800, watermark="4 hours")
    q = run_available_now(
        sess, str(tmp_path / "ckpt_ooo"), memory_table="ooo_sessions",
        output_mode="append",
    )
    q.awaitTermination(120)

    def sessions_of(uid):
        return sorted(
            (r["session_start"].strftime("%H:%M"),
             r["session_end"].strftime("%H:%M"), r["n_events"])
            for r in spark.sql(
                f"SELECT * FROM ooo_sessions WHERE user_id = {uid}"
            ).collect()
        )

    assert sessions_of(1) == [("08:00", "08:00", 1), ("09:45", "10:00", 2)]
    assert sessions_of(2) == [("10:00", "11:00", 3)]


@pytest.mark.slow
def test_sessionize_ooo_mutation_sensitivity(spark, tmp_path):
    """stream_session_ooo_replay's evidence is SENSITIVE to each of
    the three r16 out-of-order semantics it exists to pin (the same
    device as test_fuzzy_update_replay_mutation_sensitivity): on a
    constructed delivery schedule where every path fires, the
    unmutated sessionizer produces the full-event-set reconstruction
    exactly, and disabling any ONE semantic via the ``_mutate`` knob
    (backward extension / open-session bridging / watermark-sealed
    emission) flips its designated rows — so a regression in any path
    cannot hide behind the other two.

    Fixture (seconds offsets, gap=100, watermark delay=2500; every
    straggler stays above the watermark, so the oracle is the plain
    ordered reconstruction): batch 0 delivers 1050,1120 / 1500 / 1700
    / 2000 / 3000; batch 1 delivers straggler 1000 (extends
    [1050,1120] BACKWARD), 1600 (BRIDGES open [1500] and [1700]) and
    2200; batch 2 delivers 2150 (backward onto [2200] — under
    eager_seal, [2200] was already emitted, so this opens a phantom
    fragment instead). Two sentinels flush."""
    import json as _json
    import os as _os
    from datetime import datetime, timedelta

    from fabrix_spark.streaming import stateful_sessionize
    from fabrix_spark.streaming.ingest import run_available_now

    base = datetime(2024, 1, 1)
    base_epoch = 1_704_067_200  # 2024-01-01T00:00:00Z

    def put(src, name, rows, mtime):
        (src / name).write_text(
            "\n".join(
                _json.dumps(
                    {
                        "user_id": u,
                        "ts": (base + timedelta(seconds=t)).strftime(
                            "%Y-%m-%dT%H:%M:%S.000Z"
                        ),
                    }
                )
                for u, t in rows
            )
        )
        _os.utime(src / name, (mtime, mtime))

    def run(tag, mutate):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        put(src, "b0.json", [(1, t) for t in (1050, 1120, 1500, 1700, 2000, 3000)], 1_700_000_000)
        put(src, "b1.json", [(1, t) for t in (1000, 1600, 2200)], 1_700_000_060)
        put(src, "b2.json", [(1, 2150)], 1_700_000_120)
        put(src, "b3.json", [(99, 5700)], 1_700_000_180)
        put(src, "b4.json", [(99, 5800)], 1_700_000_240)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sess = stateful_sessionize(
            stream, gap_seconds=100, watermark="2500 seconds", _mutate=mutate
        )
        q = run_available_now(
            sess,
            str(tmp_path / f"ckpt_{tag}"),
            memory_table=f"mut_{tag}",
            output_mode="append",
        )
        q.awaitTermination(120)
        return {
            (r["s"] - base_epoch, r["e"] - base_epoch, r["n_events"])
            for r in spark.sql(
                f"SELECT cast(session_start AS long) s, cast(session_end AS long) e,"
                f" n_events FROM mut_{tag} WHERE user_id = 1"
            ).collect()
        }

    true = {(1000, 1120, 3), (1500, 1700, 3), (2000, 2000, 1), (2150, 2200, 2), (3000, 3000, 1)}
    assert run("none", None) == true
    # backward extension disabled: straggler counts but start stays at
    # the first-seen session start — flips the two backward rows
    assert run("noback", "no_backward") == {
        (1050, 1120, 3), (1500, 1700, 3), (2000, 2000, 1), (2200, 2200, 2), (3000, 3000, 1),
    }
    # bridging disabled: the 1600 straggler joins [1500] but [1700]
    # stays a separate session — one merged row becomes two
    assert run("nobridge", "no_bridge") == {
        (1000, 1120, 3), (1500, 1600, 2), (1700, 1700, 1), (2000, 2000, 1),
        (2150, 2200, 2), (3000, 3000, 1),
    }
    # watermark-sealed emission disabled (pre-r16 inline gap-close):
    # everything but the newest session is emitted per batch, so each
    # later straggler opens a phantom fragment instead of merging
    assert run("eager", "eager_seal") == {
        (1050, 1120, 2), (1500, 1500, 1), (1700, 1700, 1), (2000, 2000, 1),
        (1000, 1000, 1), (1600, 1600, 1), (2200, 2200, 1), (2150, 2150, 1),
        (3000, 3000, 1),
    }


def test_stateful_rolling_zscore_null_value_matches_batch(spark, tmp_path):
    """NULL values must not crash the streaming fold and must occupy a
    window SLOT without contributing to the moments — exactly the
    batch twin's ROWS frame over a null quantized value (r16
    self-review: the old fold crashed in the Decimal quantizer on the
    first null). Anomaly parity with the batch operator is asserted on
    data where the null displaces a baseline row."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fabrix_spark.operators.temporal import rolling_zscore
    from fabrix_spark.streaming import stateful_rolling_zscore
    from fabrix_spark.streaming.ingest import read_stream_json, run_available_now

    rows = (
        [{"user_id": 1, "ts": f"2024-01-01 00:{m:02d}:00", "value": 10.0 + (m % 2)}
         for m in range(6)]
        + [{"user_id": 1, "ts": "2024-01-01 00:06:00", "value": None}]
        + [{"user_id": 1, "ts": "2024-01-01 00:07:00", "value": 10.0},
           {"user_id": 1, "ts": "2024-01-01 00:08:00", "value": 250.0},
           {"user_id": 1, "ts": "2024-01-01 00:09:00", "value": 11.0}]
    )
    src = tmp_path / "znsrc"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows[:7]))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows[7:]))
    now = _time.time()
    _os.utime(src / "b1.json", (now - 60, now - 60))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = read_stream_json(spark, str(src), schema=schema, max_files_per_trigger=1)
    out = stateful_rolling_zscore(stream, window_rows=4, threshold=3.0)
    q = run_available_now(
        out, str(tmp_path / "znckpt"), memory_table="null_anoms", output_mode="append"
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["ts"])): r["z"]
        for r in spark.sql("SELECT * FROM null_anoms").collect()
    }
    batch_df = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["value"]) for r in rows],
        "user_id long, ts string, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    want = {
        (r["user_id"], str(r["ts"])): r["z"]
        for r in rolling_zscore(batch_df, window_rows=4).collect()
        if r["z"] is not None and abs(r["z"]) > 3.0
    }
    assert got == want and want  # parity, and the case is non-vacuous


@pytest.mark.slow
def test_stateful_sessionize_drops_event_older_than_watermark(spark, tmp_path):
    """Late-data contract of the sessionizer: an event whose time is
    OLDER than the current watermark arrives mid-stream and is DROPPED
    before it reaches the state update — it neither reopens the
    already-flushed session nor creates a phantom one. (The watermark
    is what bounds state at scale; late rows are the price, and the
    contract must be explicit.)"""
    import json as _json
    import os

    from fabrix_spark.streaming import stateful_sessionize

    src = tmp_path / "src"
    src.mkdir()

    def put(name, rows, mtime):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": f"2024-01-0{d}T{t}:00.000Z"})
                for u, d, t in rows
            )
        )
        os.utime(src / name, (mtime, mtime))

    put("b0.json", [(1, 1, "10:00"), (1, 1, "10:05")], 1_700_000_000)
    # advances the watermark to 12:30 (13:00 - 30 min)
    put("b1.json", [(2, 1, "13:00")], 1_700_000_060)
    # LATE: 10:20 < watermark 12:30 -> must be dropped
    put("b2.json", [(1, 1, "10:20")], 1_700_000_120)
    # far-future sentinel flushes every remaining session
    put("b3.json", [(99, 2, "00:00")], 1_700_000_180)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sess = stateful_sessionize(stream, gap_seconds=1800, watermark="30 minutes")
    q = run_available_now(
        sess, str(tmp_path / "ckpt_late"), memory_table="late_sessions",
        output_mode="append",
    )
    q.awaitTermination(120)
    u1 = [
        (r["session_start"].strftime("%H:%M"),
         r["session_end"].strftime("%H:%M"), r["n_events"])
        for r in spark.sql(
            "SELECT * FROM late_sessions WHERE user_id = 1"
        ).collect()
    ]
    # exactly the pre-late session; the 10:20 event left no trace
    assert u1 == [("10:00", "10:05", 2)]
    u2 = [
        r["n_events"]
        for r in spark.sql(
            "SELECT * FROM late_sessions WHERE user_id = 2"
        ).collect()
    ]
    assert u2 == [1]


def test_stream_asof_enrich_includes_late_arrival(spark, tmp_path):
    """Late-data contract of the as-of replay: stream_asof_enrich has
    NO watermark — a row arriving in a later micro-batch with an older
    event time is still enriched (its as-of depends only on itself and
    the static dimension) and appended. Explicit INCLUDE, the dual of
    the sessionizer's drop."""
    import os

    from pyspark.sql import functions as F

    from fabrix_spark.operators.temporal import asof_join
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import stream_asof_enrich

    src = tmp_path / "src"
    src.mkdir()

    def put(name, rows, mtime):
        import json as _json

        (src / name).write_text(
            "\n".join(
                _json.dumps({"event_id": i, "typ": t, "ts": f"2024-01-01T{h}:00.000"})
                for i, t, h in rows
            )
        )
        os.utime(src / name, (mtime, mtime))

    put("b0.json", [(1, "a", "06:00"), (2, "a", "07:30")], 1_700_000_000)
    # LATE arrival: event time 00:30 predates everything in b0
    put("b1.json", [(3, "a", "00:30")], 1_700_000_060)

    rates = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 100), ("a", "2024-01-01 04:00:00", 140)],
        "typ string, ts_s string, rate long",
    ).select("typ", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "rate")

    out = LakeTable(spark, str(tmp_path / "out"), index="event_id", retain=10)
    stream = (
        spark.readStream.schema("event_id long, typ string, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = stream_asof_enrich(
        stream, rates, out, checkpoint=str(tmp_path / "ckpt"),
        on="ts", by=["typ"], right_cols=["rate"],
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, out.read().df.select("event_id", "rate").collect()))
    # the late row IS present, enriched with the rate as-of ITS time
    assert (3, 100) in got
    ev = spark.createDataFrame(
        [(1, "a", "2024-01-01 06:00:00"), (2, "a", "2024-01-01 07:30:00"),
         (3, "a", "2024-01-01 00:30:00")],
        "event_id long, typ string, ts_s string",
    ).select("event_id", "typ", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    want = sorted(map(tuple, asof_join(
        ev, rates, on="ts", by=["typ"], right_cols=["rate"]
    ).select("event_id", "rate").collect()))
    assert got == want


@pytest.mark.slow
def test_admit_batch_fuzzy_sequence(spark, tmp_path):
    """Sequential edit-distance admission: batch 2's near-copy of a
    batch-1 admission is rejected; a doc re-sent under its OWN id with
    edited text is an update (self-match excluded), and novel content
    passes. intra_batch=True admits only a within-batch cluster's
    minimum id."""
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch_fuzzy

    t1 = "the quick brown fox jumps over the lazy dog again and again today"
    t2 = "spark shuffles partitions across the cluster during wide transformations"
    near_t1 = "the quick brown fox jumps over the lazy dog again and again tonite"
    novel = "completely unrelated fresh content about entirely different topics now"

    admitted = LakeTable(spark, str(tmp_path / "adm"), index="doc_id")
    b1 = spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string")
    got1 = sorted(
        r["doc_id"]
        for r in admit_batch_fuzzy(b1, admitted, block_col=None).collect()
    )
    assert got1 == [1, 2]

    # near-copy under a NEW id rejected; novel admitted; doc 2 edited
    # under its OWN id re-admitted (update, not rejection)
    t2_edit = t2.replace("wide", "wIde")
    b2 = spark.createDataFrame(
        [(3, near_t1), (4, novel), (2, t2_edit)], "doc_id long, text string"
    )
    got2 = sorted(
        r["doc_id"]
        for r in admit_batch_fuzzy(b2, admitted, block_col=None).collect()
    )
    assert got2 == [2, 4]
    final = {r["doc_id"]: r["text"] for r in admitted.read().df.collect()}
    assert sorted(final) == [1, 2, 4]
    assert final[2] == t2_edit  # the upsert carried the edit

    # replay batch 2 verbatim: survivors re-admit (self-excluded),
    # rejects stay rejected — the admitted table is unchanged
    admit_batch_fuzzy(b2, admitted, block_col=None).collect()
    again = {r["doc_id"]: r["text"] for r in admitted.read().df.collect()}
    assert again == final

    # intra-batch: two near-copies arriving together — only min id
    admitted2 = LakeTable(spark, str(tmp_path / "adm2"), index="doc_id")
    b = spark.createDataFrame(
        [(7, t1), (8, t1.replace("today", "tonite")), (9, novel)],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in admit_batch_fuzzy(
            b, admitted2, block_col=None, intra_batch=True
        ).collect()
    )
    assert got == [7, 9]


@pytest.mark.slow
def test_admit_batch_fuzzy_cross_id_rejected_update_tombstones(spark, tmp_path):
    """The r14 ADVICE edge, fixed by tombstoning: a doc re-sent under
    its own id with EDITED text that near-matches a DIFFERENT admitted
    doc is rejected AND its stale previous version is deleted — the
    feed replaced that content and its replacement is represented by
    the other doc, so retaining the old row would keep content the
    feed says no longer exists. Replaying the edit batch is a fixpoint
    (the stale row is already gone). A VERBATIM redelivery of a doc
    that cross-matches another admitted near-copy (two same-batch
    near-copies both passed under intra_batch=False) must NOT
    tombstone — the text-differs guard keeps at-least-once replay
    from mutating the table."""
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch_fuzzy

    t1 = "the quick brown fox jumps over the lazy dog again and again today"
    t2 = "spark shuffles partitions across the cluster during wide transformations"
    near_t2 = "spark shuffles partitions across the cluster during wIde transformations"

    admitted = LakeTable(spark, str(tmp_path / "adm"), index="doc_id")
    b1 = spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string")
    assert sorted(
        r["doc_id"]
        for r in admit_batch_fuzzy(b1, admitted, block_col=None).collect()
    ) == [1, 2]

    # doc 1 edited into a near-copy of doc 2's content: rejected
    # (cross-id match) and doc 1's stale t1 row tombstoned
    b2 = spark.createDataFrame([(1, near_t2)], "doc_id long, text string")
    assert admit_batch_fuzzy(b2, admitted, block_col=None).collect() == []
    final = {r["doc_id"]: r["text"] for r in admitted.read().df.collect()}
    assert final == {2: t2}

    # replay of the edit batch: fixpoint (no stale row to delete, no
    # survivor to upsert)
    admit_batch_fuzzy(b2, admitted, block_col=None).collect()
    assert {
        r["doc_id"]: r["text"] for r in admitted.read().df.collect()
    } == {2: t2}

    # after the tombstone, t1's content class has no representative —
    # a later doc repeating it is admissible again (documented
    # consequence of the "feed describes current content" reading)
    b3 = spark.createDataFrame([(5, t1)], "doc_id long, text string")
    assert [
        r["doc_id"] for r in admit_batch_fuzzy(b3, admitted, block_col=None).collect()
    ] == [5]

    # the tombstone ships through apply_changes — exercise it on a
    # BUCKETED admitted table too (the layout stream_fuzzy_admission
    # recommends for O(delta) upserts): same reject + delete outcome
    admitted_b = LakeTable(
        spark, str(tmp_path / "admb"), index="doc_id", buckets=4
    )
    admit_batch_fuzzy(b1, admitted_b, block_col=None).collect()
    assert admit_batch_fuzzy(b2, admitted_b, block_col=None).collect() == []
    assert {
        r["doc_id"]: r["text"] for r in admitted_b.read().df.collect()
    } == {2: t2}

    # verbatim-redelivery safety: seed a master where two near-copies
    # both passed (same batch, intra_batch=False probes the master
    # only), then redeliver one VERBATIM — it cross-matches the other,
    # is rejected, but must NOT be tombstoned (text unchanged)
    admitted2 = LakeTable(spark, str(tmp_path / "adm2"), index="doc_id")
    near_t1 = t1.replace("today", "tonite")
    b = spark.createDataFrame([(7, t1), (8, near_t1)], "doc_id long, text string")
    assert sorted(
        r["doc_id"]
        for r in admit_batch_fuzzy(b, admitted2, block_col=None).collect()
    ) == [7, 8]
    redeliver = spark.createDataFrame([(7, t1)], "doc_id long, text string")
    admit_batch_fuzzy(redeliver, admitted2, block_col=None).collect()
    assert sorted(
        r["doc_id"] for r in admitted2.read().df.collect()
    ) == [7, 8]


def test_admit_batch_fuzzy_rejects_reserved_change_column(spark, tmp_path):
    """A batch carrying its own __change column (e.g. an upstream CDC
    marker) must be refused loudly — the gate's CDC merge would
    otherwise overwrite and then drop it, silently losing user data
    on every survivor (r16 self-review)."""
    import pytest

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch_fuzzy

    admitted = LakeTable(spark, str(tmp_path / "adm"), index="doc_id")
    b = spark.createDataFrame(
        [(1, "some document text", "insert")],
        "doc_id long, text string, __change string",
    )
    with pytest.raises(ValueError, match="__change"):
        admit_batch_fuzzy(b, admitted, block_col=None)


def test_admit_batch_fuzzy_replay_purge_boundary(spark, tmp_path):
    """Redelivery fixpoint ACROSS the block-purge cap boundary (found
    by code review of the fixpoint argument): the master holds exactly
    block_cap docs sharing a prefix block; the batch carries X (a
    near-dup of member m1, diverging at the tail so only the prefix
    key matches) and Z (same prefix, novel content). First delivery:
    the block counts cap, X is verified against m1 and rejected, Z is
    admitted — pushing the block to cap+1 members. If purge counts
    were taken over the probe ref, redelivering the batch would see
    the block purged, give X no candidates, and ADMIT the near-dup.
    The count basis is the master minus the batch's ids — invariant
    across deliveries — so the replay must reject X again and leave
    the table bit-identical."""
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch_fuzzy

    cap = 4
    masters = [
        (i, "PREFIXAA shared opening " + f"body variant {i} " * 4 + f"end{i}")
        for i in range(cap)
    ]
    x_near = masters[0][1][:-12] + "TAIL-EDITED!"  # near m1, suffix differs
    z_novel = "PREFIXAA shared opening " + "completely novel unrelated words now"
    b0 = spark.createDataFrame(masters, "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(100, x_near), (101, z_novel)], "doc_id long, text string"
    )
    admitted = LakeTable(spark, str(tmp_path / "adm"), index="doc_id")
    admit_batch_fuzzy(
        b0, admitted, block_col=None, key_len=8, block_cap=cap
    ).collect()
    got1 = sorted(
        r["doc_id"]
        for r in admit_batch_fuzzy(
            b1, admitted, block_col=None, key_len=8, block_cap=cap
        ).collect()
    )
    assert got1 == [101]  # X rejected against m1; Z admitted
    state = sorted(r["doc_id"] for r in admitted.read().df.collect())
    assert state == [0, 1, 2, 3, 101]
    # redeliver the batch: the prefix block now has cap+1 members in
    # the master, but the count basis excludes batch ids — X must be
    # rejected again and the table unchanged
    admit_batch_fuzzy(
        b1, admitted, block_col=None, key_len=8, block_cap=cap
    ).collect()
    assert sorted(r["doc_id"] for r in admitted.read().df.collect()) == state


@pytest.mark.slow
def test_compact_admitted_removes_stale_rows_and_signatures(spark, tmp_path):
    """The MinHash gate's documented stale-update scenario, replayed
    end to end and then COMPACTED (r15 verdict's What's wrong #1): an
    update rejected by a DIFFERENT admitted doc leaves its stale
    previous version in both the admitted table and the signature
    store; with a stale_log attached, compact_admitted() removes the
    row AND its signatures in one coordinated pass, the store then
    matches a from-scratch build over the compacted master, the log
    drains, and the pass is idempotent. A log entry SUPERSEDED by a
    later accepted update must NOT delete the fresh version (the
    stale-hash guard)."""
    from fabrix_spark.operators.dedup import SignatureStore
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch, compact_admitted

    # long texts so a one-token append stays firmly above the jaccard
    # threshold on word 3-gram shingles ((n-2)/(n-1) ≈ 0.97 at n=30)
    t1 = " ".join(f"alpha{i} bravo{i} charlie{i}" for i in range(10))
    t2 = " ".join(f"delta{i} echo{i} foxtrot{i}" for i in range(10))
    t3 = " ".join(f"golf{i} hotel{i} india{i}" for i in range(10))
    novel = " ".join(f"juliet{i} kilo{i} lima{i}" for i in range(10))

    store = SignatureStore(spark, str(tmp_path / "sigs"))
    admitted = LakeTable(spark, str(tmp_path / "adm"), index="doc_id")
    log = LakeTable(spark, str(tmp_path / "stale"), index="doc_id")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def fresh_build():
        import shutil

        shutil.rmtree(str(tmp_path / "fresh"), ignore_errors=True)
        fresh = SignatureStore(spark, str(tmp_path / "fresh"))
        fresh.build(admitted.read().df)
        return sorted(map(tuple, fresh.read().collect()))

    admit_batch(docs([(1, t1), (2, t2), (3, t3)]), store, admitted, stale_log=log)
    # doc 1 edited into a near-copy of doc 2's content: rejected, and
    # the stale (1, t1) row + signatures are retained (the documented
    # no-tombstone divergence) — but now logged
    near_t2 = t2 + " extra"
    assert admit_batch(docs([(1, near_t2)]), store, admitted, stale_log=log).collect() == []
    assert sorted(r["doc_id"] for r in admitted.read().df.collect()) == [1, 2, 3]
    assert [r["doc_id"] for r in log.read().df.collect()] == [1]

    removed = compact_admitted(store, admitted, log)
    assert removed == 1
    assert {r["doc_id"]: r["text"] for r in admitted.read().df.collect()} == {
        2: t2,
        3: t3,
    }
    # store == a from-scratch build over the compacted master
    assert sorted(map(tuple, store.read().collect())) == fresh_build()
    # log drained; pass idempotent
    assert log.read().df.count() == 0
    assert compact_admitted(store, admitted, log) == 0

    # superseded entry: doc 3's rejected update logs (3, hash(t3)),
    # but a LATER accepted update overwrites row + signatures — the
    # hash guard must keep the fresh version and just drain the entry
    near_t2b = t2 + " other"
    assert admit_batch(docs([(3, near_t2b)]), store, admitted, stale_log=log).collect() == []
    assert [r["doc_id"] for r in log.read().df.collect()] == [3]
    got = admit_batch(docs([(3, novel)]), store, admitted, stale_log=log).collect()
    assert [r["doc_id"] for r in got] == [3]
    assert compact_admitted(store, admitted, log) == 0
    assert {r["doc_id"]: r["text"] for r in admitted.read().df.collect()} == {
        2: t2,
        3: novel,
    }
    assert sorted(map(tuple, store.read().collect())) == fresh_build()
    assert log.read().df.count() == 0

    # PRODUCER REVERT (found by the r16 self-review): doc 3's edit is
    # rejected and logged, then the producer re-sends the EXACT prior
    # text — accepted as a verbatim no-op, which must DRAIN the log
    # entry in-stream: the entry's hash matches the live row again,
    # so the compaction hash guard alone would delete the feed's
    # CURRENT content
    assert admit_batch(docs([(3, t2 + " more")]), store, admitted, stale_log=log).collect() == []
    assert [r["doc_id"] for r in log.read().df.collect()] == [3]
    got = admit_batch(docs([(3, novel)]), store, admitted, stale_log=log).collect()
    assert [r["doc_id"] for r in got] == [3]
    assert log.read().df.count() == 0  # drained by the accepted revert
    assert compact_admitted(store, admitted, log) == 0
    assert {r["doc_id"]: r["text"] for r in admitted.read().df.collect()} == {
        2: t2,
        3: novel,
    }
    assert sorted(map(tuple, store.read().collect())) == fresh_build()


@pytest.mark.slow
def test_compact_admitted_serializes_against_admission(spark, tmp_path):
    """The r16 verdict's What's wrong #2: compact_admitted's
    must-not-interleave contract is now ENFORCED, not docstring-only.
    Both sides hold the `_admission_lock` advisory lock on the admitted
    table root, so the exact lost-update interleaving (admission batch
    accepted between compaction's snapshot and its deletes) cannot
    happen: the late side waits, then fails loudly with TimeoutError.
    The held-lock spans here pin the interleavings deterministically —
    a live availableNow drain takes the identical per-batch lock
    through admit_batch, so the race is the same one.

    Three contracts: (a) compaction against an in-flight admission
    batch = loud refusal after the bounded wait, zero rows lost;
    (b) admission against an in-flight compaction = same, and a
    no-stale-log gate (compaction never runs on those tables) skips
    the lock entirely; (c) the serialized schedule: compaction started
    mid-batch WAITS and completes correctly once the batch releases."""
    import threading
    import time as _time

    from fabrix_spark.operators.dedup import SignatureStore
    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch, compact_admitted

    t1 = " ".join(f"alpha{i} bravo{i} charlie{i}" for i in range(10))
    t2 = " ".join(f"delta{i} echo{i} foxtrot{i}" for i in range(10))
    novel = " ".join(f"juliet{i} kilo{i} lima{i}" for i in range(10))

    store = SignatureStore(spark, str(tmp_path / "sigs"))
    admitted = LakeTable(
        spark, str(tmp_path / "adm"), index="doc_id", lock_timeout=2.0
    )
    log = LakeTable(spark, str(tmp_path / "stale"), index="doc_id")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    admit_batch(docs([(1, t1), (2, t2)]), store, admitted, stale_log=log)
    # one stale entry: doc 1 edited into a near-copy of doc 2, rejected
    assert (
        admit_batch(docs([(1, t2 + " extra")]), store, admitted, stale_log=log)
        .collect()
        == []
    )
    assert [r["doc_id"] for r in log.read().df.collect()] == [1]
    before_rows = sorted(map(tuple, admitted.read().df.collect()))

    # (a) compaction vs in-flight admission batch: loud refusal,
    # nothing deleted, log intact
    with admitted.writer_lock(name="_admission_lock"):
        import pytest as _pytest

        with _pytest.raises(TimeoutError):
            compact_admitted(store, admitted, log)
    assert sorted(map(tuple, admitted.read().df.collect())) == before_rows
    assert [r["doc_id"] for r in log.read().df.collect()] == [1]

    # (b) admission vs in-flight compaction: loud refusal with a
    # stale_log; WITHOUT one the gate must not take the lock at all
    # (no compaction exists for log-less tables — pure overhead)
    with admitted.writer_lock(name="_admission_lock"):
        import pytest as _pytest

        with _pytest.raises(TimeoutError):
            admit_batch(docs([(5, novel)]), store, admitted, stale_log=log)
        got = admit_batch(docs([(5, novel)]), store, admitted)  # no log: passes
        assert [r["doc_id"] for r in got.collect()] == [5]

    # (c) serialized schedule: compaction launched while a "batch"
    # holds the lock WAITS (does not snapshot past the batch), then
    # completes correctly after release — the not-lost-update order
    long_handle = LakeTable(
        spark, str(tmp_path / "adm"), index="doc_id", lock_timeout=60.0
    )
    results: dict = {}

    def run_compact():
        results["removed"] = compact_admitted(store, long_handle, log)

    with admitted.writer_lock(name="_admission_lock"):
        t = threading.Thread(target=run_compact)
        t.start()
        _time.sleep(0.5)
        assert "removed" not in results  # blocked on the admission lock
    t.join(timeout=120)
    assert results.get("removed") == 1
    assert sorted(r["doc_id"] for r in admitted.read().df.collect()) == [2, 5]
    assert log.read().df.count() == 0


def test_stream_fuzzy_admission_replay(spark, tmp_path):
    """stream_fuzzy_admission == the sequential admit_batch_fuzzy
    replay: batch 2's near-copy of a batch-1 admission is rejected by
    probing the growing master, novel docs pass."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import read_stream_json, stream_fuzzy_admission

    t1 = "the quick brown fox jumps over the lazy dog again and again today"
    t2 = "spark shuffles partitions across the cluster during wide transformations"
    near_t1 = "the quick brown fox jumps over the lazy dog again and again tonite"
    novel = "completely unrelated fresh content about entirely different topics now"

    src = tmp_path / "fuzzy_src"
    src.mkdir()
    (src / "part-0.json").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in [(1, t1), (2, t2)])
    )
    (src / "part-1.json").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in [(3, near_t1), (4, novel)])
    )
    now = _time.time()
    _os.utime(src / "part-0.json", (now - 60, now - 60))
    _os.utime(src / "part-1.json", (now, now))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = read_stream_json(spark, str(src), schema=schema, max_files_per_trigger=1)
    admitted = LakeTable(spark, str(tmp_path / "fadm"), index="doc_id")
    q = stream_fuzzy_admission(
        stream, admitted, checkpoint=str(tmp_path / "fckpt"), block_col=None
    )
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in admitted.read().df.collect())
    assert got == [1, 2, 4]  # 3 rejected as a near-copy of 1


def test_wire_u64_decimal_carrier_and_tz_datetime(spark):
    """U64 wire columns ride DecimalType(20,0): Spark's row verifier
    accepts only decimal.Decimal there, so raw wire ints must be
    converted on decode (pre-fix: createDataFrame TypeError) and the
    Decimal carrier must re-encode as a plain int (pre-fix: json.dumps
    TypeError). Tz-aware datetimes must anchor at the UTC epoch —
    anchoring at 1970-01-01 in the value's own zone cancels the offset."""
    import datetime as dt
    import decimal

    from fabrix_spark.io.wire import _enc, from_wire, to_json
    from fabrix_spark.types import ValueType

    payload = {
        "data": [
            {"name": "id", "datatype": "I64", "values": [1, 2]},
            # 2^63 <= v < 2^64: exactly the range only U64 can carry
            {"name": "big", "datatype": "U64", "values": [2**63 + 7, 18446744073709551615]},
        ],
        "index_tag": {"loc": 0, "name": "id", "data_type": "I64"},
    }
    fx = from_wire(spark, payload)
    rows = {r["id"]: r for r in fx.collect()}
    assert int(rows[1]["big"]) == 2**63 + 7
    assert int(rows[2]["big"]) == 18446744073709551615
    # the Decimal carrier must survive JSON re-serialization
    assert '"18446744073709551615"' in to_json(fx) or "18446744073709551615" in to_json(fx)

    plus5 = dt.timezone(dt.timedelta(hours=5))
    aware = dt.datetime(1970, 1, 1, 0, 0, 0, tzinfo=plus5)
    # 1970-01-01T00:00+05:00 is 5h BEFORE the epoch
    assert _enc(aware, ValueType.DATETIME) == -5 * 3600 * 1_000_000_000
    naive = dt.datetime(1970, 1, 1, 1, 0, 0)
    assert _enc(naive, ValueType.DATETIME) == 3600 * 1_000_000_000

    import pytest as _pytest

    ragged = {
        "data": [
            {"name": "a", "datatype": "I64", "values": [1, 2]},
            {"name": "b", "datatype": "I64", "values": [1]},
        ],
        "index_tag": None,
    }
    with _pytest.raises(ValueError, match="ragged column payload"):
        from_wire(spark, ragged)


def test_stream_session_replay_tolerates_empty_quartile_buckets(spark, tmp_path):
    """stream_session_replay splits events into four time-quartile
    micro-batches. When timestamps cluster (here two bursts ten hours
    apart, so the middle quartiles hold no event; lo == hi empties
    three of them the same way) a quartile's bucket directory is
    never written. The replay must skip those micro-batches, not fail
    on the missing directory, and still emit exactly the gap sessions
    of the full event set."""
    from fabrix_spark.queries import REGISTRY

    t0 = dt.datetime(2024, 1, 1, 8)
    t1 = t0 + dt.timedelta(hours=10)
    five = dt.timedelta(minutes=5)
    events = [(1, t0), (1, t0 + 2 * five), (1, t1), (2, t1 + five)]
    sf = tmp_path / "sf"
    spark.createDataFrame(events, "user_id long, ts timestamp_ntz").coalesce(1).write.parquet(
        str(sf / "events.parquet")
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in REGISTRY["stream_session_replay"].fn(spark, str(sf)).collect()
    }
    assert got == {(1, t0, t0 + 2 * five, 2), (1, t1, t1, 1), (2, t1 + five, t1 + five, 1)}
