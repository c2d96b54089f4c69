"""Vector-store sink tests: partition lifecycle + executor-side upsert."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from data_ingestion_spark.plans.ingestion import ingestion_pipeline
from data_ingestion_spark.sources.catalog import load_table
from data_ingestion_spark.sources.sinks import (
    FileBackedFakeClient,
    ParquetVectorStore,
    ServiceVectorStore,
)


def test_parquet_store_lifecycle(spark, tmp_path):
    store = ParquetVectorStore(spark, str(tmp_path / "store"), key="lang")
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang", "n_chars")
    store.upsert(docs)
    assert store.list_collections() == ["de", "en", "es", "fr", "zh"]

    back = store.read_collection("en")
    assert back.count() == docs.filter(F.col("lang") == "en").count()

    store.delete_collection("de")
    assert "de" not in store.list_collections()
    assert spark.read.parquet(str(tmp_path / "store")).filter("lang = 'de'").count() == 0


def test_parquet_store_idempotent_reupsert(spark, tmp_path):
    """Dynamic partition overwrite: re-ingesting a collection replaces
    it instead of duplicating (the reference's skip-if-exists becomes
    overwrite-partition)."""
    store = ParquetVectorStore(spark, str(tmp_path / "store"), key="lang")
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang", "n_chars")
    store.upsert(docs)
    store.upsert(docs.filter(F.col("lang") == "en"))  # partial re-run
    back = spark.read.parquet(str(tmp_path / "store"))
    assert back.count() == docs.count()  # no duplication


def test_numeric_looking_collection_names_stay_apart(spark, tmp_path):
    """Collection names are strings even when they look like numbers:
    "42" and "042" keep their own rows, counts and search results, and
    a non-numeric collection beside them stays readable (partition type
    inference would make the key an int, merging 42 with 042)."""
    from data_ingestion_spark.query_api import EngineQuery

    store = ParquetVectorStore(spark, str(tmp_path / "store"))
    schema = "index_name string, chunk_idx int, chunk_text string, embedding array<float>"
    want = {"42": 3, "042": 4}
    store.upsert(
        spark.createDataFrame(
            [(n, i, f"{n}/{i}", [1.0, float(i)]) for n, m in want.items() for i in range(m)],
            schema,
        )
    )
    store.create_collection("docs")
    eq = EngineQuery(spark, store, embed_dim=2)

    def check() -> None:
        for name, m in want.items():
            assert eq.get_record_count(name) == m
            rows = store.read_collection(name).collect()
            assert len(rows) == m and {r.index_name for r in rows} == {name}
            hits = eq.search_by_vector(name, [1.0, 0.0], k=10).collect()
            assert sorted(r.chunk_text for r in hits) == [f"{name}/{i}" for i in range(m)]

    check()
    assert eq.get_record_count("docs") == 0
    assert store.read_collection("docs").count() == 0
    store.upsert(spark.createDataFrame([("docs", 0, "docs/0", [0.5, 0.5])], schema))
    want["docs"] = 1
    check()


def test_count_collection_reads_footers(spark, tmp_path):
    """``count_collection`` equals Spark's count per collection, skips
    ``_``/``.`` files like Spark's file index, and an empty created
    collection counts 0."""
    import shutil

    root = tmp_path / "store"
    store = ParquetVectorStore(spark, str(root), key="lang")
    store.upsert(load_table(spark, SF_SMALL, "documents").select("doc_id", "lang", "n_chars"))
    part = root / "lang=en"
    data = next(f for f in os.listdir(part) if f.endswith(".parquet"))
    shutil.copy(part / data, part / f"_{data}")
    shutil.copy(part / data, part / f".{data}")
    for name in store.list_collections():
        spark_count = spark.read.parquet(str(root)).filter(F.col("lang") == name).count()
        assert store.count_collection(name) == spark_count > 0
    store.create_collection("empty")
    assert store.count_collection("empty") == 0


def test_service_sink_batches(spark, tmp_path):
    out = tmp_path / "client"
    os.makedirs(out)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang").limit(137)
    sink = ServiceVectorStore(lambda: FileBackedFakeClient(str(out)), batch_size=50)
    sink.upsert(docs)
    ids, batch_sizes = set(), []
    for f in os.listdir(out):
        for line in open(out / f, encoding="utf-8"):
            rec = json.loads(line)
            if "n" in rec:
                batch_sizes.append(rec["n"])
            else:
                ids.add(rec["id"])
    assert len(ids) == 137  # every row upserted exactly once
    assert max(batch_sizes) <= 50  # bounded batches


def test_service_sink_retries_flaky_transport(spark, tmp_path):
    """Transient failures are retried with backoff and every row still
    lands exactly once; batch ids are content-stable so the re-sends
    are idempotent."""
    from data_ingestion_spark.sources.sinks import FlakyFakeClient

    out = tmp_path / "flaky"
    os.makedirs(out)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang").limit(120)
    sink = ServiceVectorStore(
        lambda: FlakyFakeClient(str(out), fail_first=2),
        batch_size=50,
        max_retries=3,
        sleep=lambda s: None,  # no wall-clock waits in tests
    )
    sink.upsert(docs)

    ids, batch_ids = set(), []
    for f in os.listdir(out):
        if f == "failures":
            continue
        for line in open(out / f, encoding="utf-8"):
            rec = json.loads(line)
            if "n" in rec:
                batch_ids.append(rec["batch_id"])
            else:
                ids.add(rec["id"])
    assert len(ids) == 120  # all rows delivered despite 2 failures/batch
    assert len(batch_ids) == len(set(batch_ids))  # each batch landed once
    # every delivered batch really did fail (and retry) first
    failed = {f[: -len(".attempts")] for f in os.listdir(out / "failures")}
    assert set(batch_ids) <= failed


def test_service_sink_retry_exhaustion_raises(spark, tmp_path):
    """More consecutive failures than max_retries -> the upsert fails
    loudly (Spark task failure), never silently drops a batch."""
    import pytest

    from data_ingestion_spark.sources.sinks import FlakyFakeClient

    out = tmp_path / "dead"
    os.makedirs(out)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang").limit(10)
    sink = ServiceVectorStore(
        lambda: FlakyFakeClient(str(out), fail_first=99),
        batch_size=50,
        max_retries=2,
        sleep=lambda s: None,
    )
    with pytest.raises(Exception):
        sink.upsert(docs)


def test_stable_batch_id_is_content_derived():
    from data_ingestion_spark.sources.sinks import _stable_batch_id

    a = [{"doc_id": 1, "x": "a"}, {"doc_id": 2, "x": "b"}]
    b = [{"doc_id": 2, "x": "b"}, {"doc_id": 1, "x": "a"}]  # order-insensitive
    c = [{"doc_id": 3}]
    assert _stable_batch_id(a) == _stable_batch_id(b)
    assert _stable_batch_id(a) != _stable_batch_id(c)


def test_full_ingestion_to_store(spark, tmp_path):
    """Flagship plan → partitioned vector store, end-to-end lazy."""
    enriched = ingestion_pipeline(spark, SF_SMALL)
    store = ParquetVectorStore(spark, str(tmp_path / "vstore"))
    store.upsert(enriched)
    cols = set(spark.read.parquet(str(tmp_path / "vstore")).columns)
    assert {"doc_id", "chunk_idx", "chunk_text", "embedding", "index_name"} <= cols
    assert len(store.list_collections()) > 50  # source x lang combos


def test_incremental_ingest_document_granular(spark, tmp_path):
    """Second run with overlapping docs ingests only the new ones."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.plans.ingestion import incremental_ingest

    docs = load_table(spark, SF_SMALL, "documents")
    store = ParquetVectorStore(spark, str(tmp_path / "inc"))

    first = incremental_ingest(spark, store, docs.filter(F.col("doc_id") < 100))
    assert first > 0
    total_after_first = spark.read.parquet(store.path).count()

    # overlap: docs 50..149 — only 100..149 are new
    second = incremental_ingest(
        spark, store, docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 150))
    )
    back = spark.read.parquet(store.path)
    assert back.count() == total_after_first + second
    assert back.select("doc_id").distinct().count() == 150
    # no duplicated chunks for the overlapping docs
    dup = (
        back.groupBy("doc_id", "chunk_idx").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_incremental_ingest_single_evaluation(spark, tmp_path, monkeypatch):
    """The chunk+embed pipeline runs ONCE per increment (persist before
    count+write), not once for the count and again for the write.

    Proof via accumulator: a counting UDF column is injected into the
    chunk stage; after an increment of n chunks the accumulator must be
    exactly n — a double evaluation would show 2n."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from data_ingestion_spark.functions import textops
    from data_ingestion_spark.plans.ingestion import incremental_ingest

    acc = spark.sparkContext.accumulator(0)

    def counting(v):
        acc.add(1)
        return 1

    count_udf = F.udf(counting, IntegerType())
    real_chunker = textops.chunk_fixed_overlap

    def instrumented(df, text_col, id_cols, size, overlap):
        return real_chunker(df, text_col, id_cols, size, overlap).withColumn(
            "__evals", count_udf(F.col("chunk_text"))
        )

    monkeypatch.setattr(textops, "chunk_fixed_overlap", instrumented)

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 50)
    store = ParquetVectorStore(spark, str(tmp_path / "once"))
    n_chunks = incremental_ingest(spark, store, docs)
    assert n_chunks > 0
    assert acc.value == n_chunks  # 2x here means the pipeline ran twice


def test_incremental_ingest_missing_vs_broken_store(spark, tmp_path):
    """Missing store path = fresh start; a BROKEN store (unreadable
    parquet) must raise, not silently re-ingest duplicates."""
    import pytest
    from pyspark.sql import functions as F

    from data_ingestion_spark.plans.ingestion import incremental_ingest

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 20)

    # missing path: treated as empty store, ingest proceeds
    store = ParquetVectorStore(spark, str(tmp_path / "fresh"))
    assert incremental_ingest(spark, store, docs) > 0

    # corrupt store: a non-parquet file where the store should be.
    # Schema inference fails with a SparkException (NOT AnalysisException,
    # verified), so the narrowed except re-raises instead of silently
    # re-ingesting duplicates into a store that has data.
    broken_path = tmp_path / "broken"
    broken_path.mkdir()
    (broken_path / "part-00000.parquet").write_bytes(b"this is not parquet")
    broken = ParquetVectorStore(spark, str(broken_path))
    with pytest.raises(Exception) as exc_info:
        incremental_ingest(spark, broken, docs)
    assert type(exc_info.value).__name__ != "AnalysisException"


def test_json_artifact_roundtrip(spark, tmp_path):
    from data_ingestion_spark.sources.catalog import (
        read_json_artifact,
        write_json_artifact,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang", "n_chars")
    p = str(tmp_path / "artifact")
    write_json_artifact(docs, p)
    back = read_json_artifact(spark, p, "doc_id bigint, lang string, n_chars bigint")
    assert back.count() == docs.count()
    a = {r.doc_id: (r.lang, r.n_chars) for r in docs.collect()}
    b = {r.doc_id: (r.lang, r.n_chars) for r in back.collect()}
    assert a == b


def test_binary_dir_source(spark, tmp_path):
    from data_ingestion_spark.functions.multimodal import decode_media_meta
    from data_ingestion_spark.sources.catalog import read_binary_dir
    from pyspark.sql import functions as F

    media = tmp_path / "media"
    media.mkdir()
    for i in range(4):
        (media / f"img_{i}.bin").write_bytes(b"fakeimage" * (i + 1))
    df = read_binary_dir(spark, str(media), "*.bin")
    assert df.count() == 4
    assert {f.name for f in df.schema.fields} == {
        "path", "modificationTime", "length", "content"
    }
    # plumb into the decode stage (payload/mime/doc_id contract)
    shaped = df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
        F.lit("image/png").alias("mime"),
    )
    meta = decode_media_meta(shaped).collect()
    assert len(meta) == 4 and all(r.byte_len > 0 for r in meta)


def test_compact_collections(spark, tmp_path):
    from data_ingestion_spark.sources.sinks import compact_collections

    store = ParquetVectorStore(spark, str(tmp_path / "cstore"), key="lang")
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang", "n_chars")
    # simulate incremental appends: many small files per collection
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).repartition(3).write.mode(
            "append"
        ).partitionBy("lang").parquet(store.path)
    total_before = store.read_collection("en").count()

    before = compact_collections(store, target_files=1)
    assert before["en"] > 1  # really was fragmented
    import os

    files_after = [
        f for f in os.listdir(tmp_path / "cstore" / "lang=en") if f.endswith(".parquet")
    ]
    assert len(files_after) == 1
    assert store.read_collection("en").count() == total_before  # lossless


def test_stable_batch_id_idless_rows_differ():
    """Batches whose rows carry NO id column must still get distinct,
    content-derived batch ids — otherwise a batch_id-deduping server
    silently keeps only the first id-less batch ever sent."""
    from data_ingestion_spark.sources.sinks import _stable_batch_id

    a = [{"text": "alpha", "n": 1}, {"text": "beta", "n": 2}]
    b = [{"text": "gamma", "n": 3}]
    assert _stable_batch_id(a) != _stable_batch_id(b)
    assert _stable_batch_id(a) == _stable_batch_id(list(reversed(a)))


class _StubWeaviateRaw:
    """Stub of the weaviate v4 client surface the adapter touches."""

    def __init__(self):
        self.inserted = []
        self.closed = False
        outer = self

        class _Data:
            def insert_many(self, objs):
                outer.inserted.append(objs)

        class _Collections:
            def get(self, name):
                outer.got_collection = name
                c = type("C", (), {})()
                c.data = _Data()
                return c

        self.collections = _Collections()

    def close(self):
        self.closed = True


def test_weaviate_adapter_maps_protocol_idempotently():
    """uuid5-of-id object ids (retries overwrite, never duplicate),
    vector split out of properties, close delegated."""
    from data_ingestion_spark.sources.sinks import WeaviateIndexClient

    raw = _StubWeaviateRaw()
    c = WeaviateIndexClient(raw, "docs", id_field="chunk_id", vector_field="embedding")
    batch = [
        {"chunk_id": "a", "text": "t1", "embedding": [0.1, 0.2]},
        {"chunk_id": "b", "text": "t2", "embedding": [0.3, 0.4]},
    ]
    c.index(batch, batch_id="bid1")
    c.index(batch, batch_id="bid1")  # retry: same ids
    assert raw.got_collection == "docs"
    assert len(raw.inserted) == 2
    first, second = raw.inserted
    assert [o["uuid"] for o in first] == [o["uuid"] for o in second]  # idempotent ids
    assert len({o["uuid"] for o in first}) == 2
    assert all("embedding" not in o["properties"] for o in first)
    assert first[0]["vector"] == [0.1, 0.2]
    assert first[0]["properties"]["text"] == "t1"
    c.close()
    assert raw.closed


class _StubEsRaw:
    def __init__(self, response=None):
        self.bulks = []
        self.closed = False
        self.response = response if response is not None else {"errors": False}

    def bulk(self, operations):
        self.bulks.append(operations)
        return self.response

    def close(self):
        self.closed = True


def test_elastic_adapter_maps_protocol_idempotently():
    """_id = doc id (bulk upserts in place on retry), action/doc
    pairs interleaved, the id stays in the document body (so _source
    consumers still see it), close delegated."""
    from data_ingestion_spark.sources.sinks import ElasticIndexClient

    raw = _StubEsRaw()
    c = ElasticIndexClient(raw, "chunks", id_field="chunk_id")
    c.index([{"chunk_id": "x", "text": "t"}])
    (ops,) = raw.bulks
    assert ops[0] == {"index": {"_index": "chunks", "_id": "x"}}
    assert ops[1] == {"chunk_id": "x", "text": "t"}
    c.close()
    assert raw.closed


def test_elastic_adapter_raises_on_partial_bulk_failure():
    """ES returns HTTP 200 with per-item errors; the adapter must
    surface them as an exception so _send_with_retry engages instead
    of silently dropping documents."""
    import pytest

    from data_ingestion_spark.sources.sinks import ElasticIndexClient

    raw = _StubEsRaw(
        response={
            "errors": True,
            "items": [
                {"index": {"_id": "x", "status": 200}},
                {"index": {"_id": "y", "status": 429, "error": {"type": "rejected"}}},
            ],
        }
    )
    c = ElasticIndexClient(raw, "chunks", id_field="chunk_id")
    with pytest.raises(ConnectionError, match="1 failed"):
        c.index([{"chunk_id": "x"}, {"chunk_id": "y"}], batch_id="b1")


def test_weaviate_adapter_uses_injected_data_object_cls():
    """With the v4 DataObject class injected (as the live factory
    does), objects are constructed through it — a bare dict would be
    read by insert_many as properties-only, discarding the
    deterministic uuid and the vector."""
    from data_ingestion_spark.sources.sinks import WeaviateIndexClient

    built = []

    class FakeDataObject:
        def __init__(self, uuid, properties, vector=None):
            self.uuid, self.properties, self.vector = uuid, properties, vector
            built.append(self)

    raw = _StubWeaviateRaw()
    c = WeaviateIndexClient(
        raw, "docs", id_field="chunk_id", vector_field="embedding",
        data_object_cls=FakeDataObject,
    )
    c.index([{"chunk_id": "a", "text": "t", "embedding": [0.1]}])
    (objs,) = raw.inserted
    assert objs == built and len(built) == 1
    assert built[0].vector == [0.1]
    assert built[0].properties == {"chunk_id": "a", "text": "t"}
    assert built[0].uuid  # deterministic uuid5 travels in the object


def test_live_factories_fail_clearly_without_libs():
    """The optional-dependency gate: calling a live factory without
    the client library installed raises ImportError with install
    guidance (not an opaque executor crash). Skipped per-lib when the
    real client IS installed (constructing it needs a live service)."""
    import importlib.util

    import pytest

    from data_ingestion_spark.sources.sinks import (
        elastic_client_factory,
        weaviate_client_factory,
    )

    checked = 0
    for mod, factory in (
        ("weaviate", weaviate_client_factory("docs")),
        ("elasticsearch", elastic_client_factory("chunks")),
    ):
        if importlib.util.find_spec(mod) is not None:
            continue  # real lib present: factory() would try to connect
        with pytest.raises(ImportError, match="pip install"):
            factory()
        checked += 1
    if not checked:
        pytest.skip("both client libraries installed in this environment")


def test_elastic_adapter_raises_on_unparseable_response():
    """An unreadable bulk response must raise (engaging retry), not
    be treated as success — otherwise a wrapped/changed client shape
    silently re-opens the lost-documents mode."""
    import pytest

    from data_ingestion_spark.sources.sinks import ElasticIndexClient

    raw = _StubEsRaw(response="ok")  # non-mapping: resp['errors'] fails
    c = ElasticIndexClient(raw, "chunks", id_field="chunk_id")
    with pytest.raises(ConnectionError, match="unparseable"):
        c.index([{"chunk_id": "x"}])


# ------------------------------------------- real-socket ES wire tests

class _BulkHTTPServer:
    """Tiny in-process HTTP server speaking the ES bulk wire shape
    (stdlib only): scripted per-request behaviors, records every
    received NDJSON body for assertions."""

    def __init__(self, script):
        import http.server
        import threading

        srv = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (stdlib naming)
                body = self.rfile.read(int(self.headers["Content-Length"]))
                srv.requests.append(
                    {
                        "path": self.path,
                        "lines": [
                            json.loads(ln)
                            for ln in body.decode("utf-8").splitlines()
                            if ln
                        ],
                    }
                )
                step = srv.script[min(len(srv.requests) - 1, len(srv.script) - 1)]
                if step == "503":
                    self.send_error(503, "injected unavailable")
                    return
                n_docs = len(srv.requests[-1]["lines"]) // 2
                if step == "partial":
                    payload = {
                        "errors": True,
                        "items": [
                            {"index": {"_id": str(i), "status": 429,
                                       "error": {"type": "es_rejected_execution_exception"}}}
                            for i in range(n_docs)
                        ],
                    }
                else:  # "ok"
                    payload = {
                        "errors": False,
                        "items": [
                            {"index": {"_id": str(i), "status": 201}}
                            for i in range(n_docs)
                        ],
                    }
                data = json.dumps(payload).encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):  # silence request logging
                pass

        self.requests = []
        self.script = script
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_elastic_stdlib_transport_5xx_then_success_over_real_socket():
    """E:348-355 failure surface one level deeper than fakes: the real
    adapter + real NDJSON serialization + a real socket. Two 503s then
    success — _send_with_retry must re-POST the same wire bytes and
    converge."""
    from data_ingestion_spark.sources.sinks import (
        _send_with_retry,
        elastic_http_factory,
    )

    srv = _BulkHTTPServer(script=["503", "503", "ok"])
    try:
        client = elastic_http_factory(srv.url, "docs_idx", id_field="doc_id")()
        batch = [
            {"doc_id": 1, "text": "alpha"},
            {"doc_id": 2, "text": "beta"},
        ]
        _send_with_retry(client, batch, max_retries=3, backoff_s=0.0, sleep=lambda s: None)
        client.close()
    finally:
        srv.stop()

    assert len(srv.requests) == 3  # two failures + the success
    # every attempt carried identical wire bytes to the same endpoint
    assert all(r["path"] == "/_bulk" for r in srv.requests)
    assert srv.requests[0]["lines"] == srv.requests[2]["lines"]
    # wire shape: action/doc pairs, _id = doc_id, id kept in body
    lines = srv.requests[-1]["lines"]
    assert lines[0] == {"index": {"_index": "docs_idx", "_id": "1"}}
    assert lines[1]["doc_id"] == 1 and lines[1]["text"] == "alpha"
    assert lines[2] == {"index": {"_index": "docs_idx", "_id": "2"}}


def test_elastic_stdlib_transport_partial_failure_then_success():
    """HTTP 200 with errors:true (hot-shard rejection) must raise
    inside the adapter and be retried like a transport failure."""
    from data_ingestion_spark.sources.sinks import (
        _send_with_retry,
        elastic_http_factory,
    )

    srv = _BulkHTTPServer(script=["partial", "ok"])
    try:
        client = elastic_http_factory(srv.url, "docs_idx", id_field="doc_id")()
        _send_with_retry(
            client, [{"doc_id": 7, "text": "x"}], max_retries=2, backoff_s=0.0,
            sleep=lambda s: None,
        )
        client.close()
    finally:
        srv.stop()
    assert len(srv.requests) == 2


def test_elastic_stdlib_transport_exhaustion_propagates():
    """A permanently-down endpoint exhausts retries and raises — the
    Spark task must fail loudly, never ack silently."""
    import pytest

    from data_ingestion_spark.sources.sinks import (
        _send_with_retry,
        elastic_http_factory,
    )

    srv = _BulkHTTPServer(script=["503"])
    try:
        client = elastic_http_factory(srv.url, "docs_idx", id_field="doc_id")()
        with pytest.raises(Exception):
            _send_with_retry(
                client, [{"doc_id": 1}], max_retries=2, backoff_s=0.0,
                sleep=lambda s: None,
            )
        client.close()
    finally:
        srv.stop()
    assert len(srv.requests) == 3  # initial + 2 retries


def test_elastic_stdlib_sink_end_to_end_through_spark(spark):
    """The full executor path: DataFrame -> foreachPartition -> real
    adapter -> real socket -> bulk NDJSON, with a 503 injected
    mid-stream. Every doc must land exactly once per wire _id."""
    from data_ingestion_spark.sources.sinks import (
        ServiceVectorStore,
        elastic_http_factory,
    )

    srv = _BulkHTTPServer(script=["503", "ok"])
    try:
        df = spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(20)], "doc_id int, text string"
        ).coalesce(2)
        sink = ServiceVectorStore(
            elastic_http_factory(srv.url, "docs_idx", id_field="doc_id"),
            batch_size=6,
            max_retries=3,
            backoff_s=0.0,
            sleep=lambda s: None,
        )
        sink.upsert(df)
    finally:
        srv.stop()

    landed = {}
    for req in srv.requests:
        lines = req["lines"]
        for action, doc in zip(lines[0::2], lines[1::2]):
            landed[action["index"]["_id"]] = doc["text"]
    assert len(landed) == 20
    assert all(landed[str(i)] == f"doc-{i}" for i in range(20))


class _WeaviateBatchHTTPServer:
    """Tiny in-process HTTP server speaking the Weaviate v1 REST batch
    wire shape (stdlib only): scripted per-request behaviors, records
    every received JSON body for assertions — the Weaviate twin of
    _BulkHTTPServer."""

    def __init__(self, script):
        import http.server
        import threading

        srv = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (stdlib naming)
                body = self.rfile.read(int(self.headers["Content-Length"]))
                srv.requests.append(
                    {"path": self.path, "body": json.loads(body.decode("utf-8"))}
                )
                step = srv.script[min(len(srv.requests) - 1, len(srv.script) - 1)]
                if step == "503":
                    self.send_error(503, "injected unavailable")
                    return
                objs = srv.requests[-1]["body"]["objects"]
                if step == "partial":
                    # Weaviate reports per-object failures INSIDE a 200:
                    # result.status FAILED + result.errors.error[]
                    payload = [
                        {
                            "class": o["class"],
                            "id": o["id"],
                            "result": {
                                "status": "FAILED",
                                "errors": {"error": [{"message": "injected vector dim mismatch"}]},
                            },
                        }
                        for o in objs
                    ]
                else:  # "ok"
                    payload = [
                        {"class": o["class"], "id": o["id"], "result": {"status": "SUCCESS"}}
                        for o in objs
                    ]
                data = json.dumps(payload).encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):  # silence request logging
                pass

        self.requests = []
        self.script = script
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_weaviate_stdlib_transport_5xx_then_success_over_real_socket():
    """P:341-349 failure surface one level deeper than stubs: the real
    adapter + real /v1/batch/objects JSON + a real socket. Two 503s
    then success — _send_with_retry must re-POST byte-identical
    objects (uuid5 determinism) and converge."""
    import uuid as _uuid

    from data_ingestion_spark.sources.sinks import (
        _send_with_retry,
        weaviate_http_factory,
    )

    srv = _WeaviateBatchHTTPServer(script=["503", "503", "ok"])
    try:
        client = weaviate_http_factory(
            srv.url, "DocsCollection", id_field="doc_id", vector_field="embedding"
        )()
        batch = [
            {"doc_id": 1, "text": "alpha", "embedding": [0.1, 0.2]},
            {"doc_id": 2, "text": "beta", "embedding": [0.3, 0.4]},
        ]
        _send_with_retry(client, batch, max_retries=3, backoff_s=0.0, sleep=lambda s: None)
        client.close()
    finally:
        srv.stop()

    assert len(srv.requests) == 3  # two failures + the success
    assert all(r["path"] == "/v1/batch/objects" for r in srv.requests)
    # every attempt carried the identical body (idempotent retry)
    assert srv.requests[0]["body"] == srv.requests[2]["body"]
    objs = srv.requests[-1]["body"]["objects"]
    assert [o["class"] for o in objs] == ["DocsCollection", "DocsCollection"]
    # uuid is uuid5 of the id_field; vector split out of properties
    assert objs[0]["id"] == str(_uuid.uuid5(_uuid.NAMESPACE_URL, "1"))
    assert objs[0]["vector"] == [0.1, 0.2]
    assert objs[0]["properties"] == {"doc_id": 1, "text": "alpha"}
    assert "embedding" not in objs[0]["properties"]


def test_weaviate_stdlib_transport_partial_failure_then_success():
    """HTTP 200 with per-object result.status=FAILED (how Weaviate
    reports batch errors) must raise inside the transport and be
    retried like a transport failure — never silently lost."""
    from data_ingestion_spark.sources.sinks import (
        _send_with_retry,
        weaviate_http_factory,
    )

    srv = _WeaviateBatchHTTPServer(script=["partial", "ok"])
    try:
        client = weaviate_http_factory(srv.url, "DocsCollection", id_field="doc_id")()
        _send_with_retry(
            client,
            [{"doc_id": 7, "text": "x", "embedding": [1.0]}],
            max_retries=2,
            backoff_s=0.0,
            sleep=lambda s: None,
        )
        client.close()
    finally:
        srv.stop()
    assert len(srv.requests) == 2


def test_weaviate_stdlib_transport_exhaustion_propagates():
    """A permanently-down endpoint exhausts retries and raises — the
    Spark task must fail loudly, never ack silently."""
    import pytest

    from data_ingestion_spark.sources.sinks import (
        _send_with_retry,
        weaviate_http_factory,
    )

    srv = _WeaviateBatchHTTPServer(script=["503"])
    try:
        client = weaviate_http_factory(srv.url, "DocsCollection", id_field="doc_id")()
        with pytest.raises(Exception):
            _send_with_retry(
                client,
                [{"doc_id": 1, "embedding": [1.0]}],
                max_retries=2,
                backoff_s=0.0,
                sleep=lambda s: None,
            )
        client.close()
    finally:
        srv.stop()
    assert len(srv.requests) == 3  # initial + 2 retries


def test_weaviate_stdlib_sink_end_to_end_through_spark(spark):
    """The full executor path: DataFrame -> foreachPartition -> real
    adapter -> real socket -> /v1/batch/objects, with a 503 injected
    mid-stream. Every doc must land exactly once per uuid5 id."""
    import uuid as _uuid

    from data_ingestion_spark.sources.sinks import (
        ServiceVectorStore,
        weaviate_http_factory,
    )

    srv = _WeaviateBatchHTTPServer(script=["503", "ok"])
    try:
        df = spark.createDataFrame(
            [(i, f"doc-{i}", [float(i), 0.5]) for i in range(20)],
            "doc_id int, text string, embedding array<double>",
        ).coalesce(2)
        sink = ServiceVectorStore(
            weaviate_http_factory(srv.url, "DocsCollection", id_field="doc_id"),
            batch_size=6,
            max_retries=3,
            backoff_s=0.0,
            sleep=lambda s: None,
        )
        sink.upsert(df)
    finally:
        srv.stop()

    landed = {}
    for req in srv.requests:
        for o in req["body"]["objects"]:
            landed[o["id"]] = o["properties"]["text"]
    assert len(landed) == 20
    for i in range(20):
        assert landed[str(_uuid.uuid5(_uuid.NAMESPACE_URL, str(i)))] == f"doc-{i}"
