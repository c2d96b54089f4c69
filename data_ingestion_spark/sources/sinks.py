"""Sinks: vector-store connectors + DDL surface (SURVEY.md §2.1 S7-S10).

The reference upserts chunks into Weaviate or Elasticsearch through
LangChain ``add_documents`` (ingestion-pipeline.py:341-349,
ingestion-pipeline-elastic.py:348-355), creating the index first
(website-ingestion-pipeline.py:102-138 / ingestion-pipeline-website-
local.py:295-318) and deleting per collection
(ingestion-pipeline-website-local.py:119-136).

Spark-first design: two interchangeable sink backends behind one
``VectorStoreSink`` protocol —

- ``ParquetVectorStore``: the testable stand-in; collections are
  partitions of a parquet table (``partitionBy(index_name)``), DDL is
  directory lifecycle, delete is partition overwrite. This is also
  the honest 100 TB architecture for an analytical store.
- ``ServiceVectorStore``: the remote-service shape (Weaviate/ES).
  Executor-side ``foreachPartition`` with a per-partition client and
  bounded batch upserts — the driver never sees the data. The client
  factory is injectable: ``weaviate_client_factory`` /
  ``elastic_client_factory`` build thin protocol adapters over the
  real libraries when installed (optional dependencies, clear
  ImportError otherwise); tests use a file-backed fake and stub raw
  clients for the adapter mapping.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.similarity import _local_dataset


class VectorStoreSink(Protocol):
    def create_collection(self, name: str) -> None: ...
    def delete_collection(self, name: str) -> None: ...
    def list_collections(self) -> list[str]: ...
    def upsert(self, df: DataFrame) -> None: ...


class ParquetVectorStore:
    """S7/S8 stand-in + S9/S10 DDL as partition lifecycle.

    ``upsert`` repartitions by collection so each collection writes
    from co-located tasks — the one shuffle of the ingestion plan;
    dynamic partition overwrite gives idempotent re-ingestion
    (the reference's 'skip if index exists' becomes 'overwrite the
    collection partition')."""

    def __init__(self, spark: SparkSession, path: str, key: str = "index_name"):
        self.spark, self.path, self.key = spark, path, key

    def _partition(self, name: str) -> str:
        return os.path.join(self.path, f"{self.key}={name}")

    def create_collection(self, name: str) -> None:
        os.makedirs(self._partition(name), exist_ok=True)

    def delete_collection(self, name: str) -> None:
        """S10: delete = drop the partition directory (at scale:
        ``ALTER TABLE ... DROP PARTITION`` on the metastore)."""
        import shutil

        p = self._partition(name)
        if os.path.exists(p):
            shutil.rmtree(p)

    def list_collections(self) -> list[str]:
        """S11: catalog scan over partition names (no data read)."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            p.split("=", 1)[1]
            for p in os.listdir(self.path)
            if p.startswith(f"{self.key}=")
        )

    def upsert(self, df: DataFrame) -> None:
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            df.repartition(F.col(self.key))
            .write.mode("overwrite")
            .partitionBy(self.key)
            .parquet(self.path)
        )

    def read_collection(self, name: str) -> DataFrame:
        """One collection's partition directory, with ``basePath`` so the
        key column stays in the rows. The schema is explicit: the data
        columns from a parquet footer of this partition (of any
        collection when this one is empty) plus the key as a string.
        That skips Spark's schema-inference job and the listing of every
        other partition, and keeps a name like ``"042"`` from being
        inferred as the integer 42."""
        part = self._partition(name)
        arrow = _local_dataset(part).schema
        if not arrow.names:
            arrow = _local_dataset(self.path).schema
        spark_json = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        data = StructType.fromJson(json.loads(spark_json)) if spark_json else from_arrow_schema(arrow)
        schema = StructType(
            [f for f in data.fields if f.name != self.key] + [StructField(self.key, StringType())]
        )
        # the filter drops nothing here; it keeps the collection
        # predicate visible in the scan's PartitionFilters
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.path)
            .parquet(part)
            .filter(F.col(self.key) == name)
        )

    def count_collection(self, name: str) -> int:
        """Row count from the partition's parquet footers: no Spark job."""
        return _local_dataset(self._partition(name)).count_rows()


#: client factory signature: () -> object with .index(batch: list[dict])
ClientFactory = Callable[[], "ServiceClient"]


class ServiceClient(Protocol):
    def index(self, batch: list[dict], batch_id: str | None = None) -> None: ...
    def close(self) -> None: ...


def _stable_batch_id(batch: list[dict]) -> str:
    """Content-derived idempotency key for one upsert batch.

    md5 over the sorted row keys: the SAME rows always yield the SAME
    key, across client retries AND across Spark task re-attempts (a
    re-run partition re-forms identical batches from identical rows).
    A server that upserts by ``batch_id`` (or per-doc primary key —
    the rows carry their ids) therefore converges to exactly-once
    EFFECT even under at-least-once delivery — the posture the
    reference leaves implicit in LangChain ``add_documents`` ids.

    Rows without any id column fall back to hashing the FULL sorted
    row content — otherwise every id-less batch would collapse to the
    same key and a batch_id-deduping server would keep only the first
    such batch ever sent."""
    import hashlib
    import json

    def row_key(d: dict) -> str:
        for k in ("doc_id", "chunk_id", "vec_id"):
            if d.get(k) is not None:
                return str(d[k])
        return json.dumps(d, sort_keys=True, default=str)

    keys = sorted(row_key(d) for d in batch)
    return hashlib.md5(("|".join(keys)).encode("utf-8")).hexdigest()


def _send_with_retry(
    client: "ServiceClient",
    batch: list[dict],
    max_retries: int,
    backoff_s: float,
    sleep: Callable[[float], None],
) -> None:
    """Bounded exponential-backoff retry around one index() call.

    The batch is re-sent verbatim with the same ``batch_id``, so a
    duplicate delivery after a mid-flight failure is idempotent
    server-side. After ``max_retries`` failures the error propagates —
    Spark then fails/retries the TASK, which re-sends the partition's
    batches with the same ids (safe for the same reason)."""
    bid = _stable_batch_id(batch)
    attempt = 0
    while True:
        try:
            client.index(batch, batch_id=bid)
            return
        except Exception:
            attempt += 1
            if attempt > max_retries:
                raise
            sleep(backoff_s * (2 ** (attempt - 1)))


def _upsert_partition(
    rows: Iterator,
    cols: list[str],
    factory: ClientFactory,
    batch_size: int,
    max_retries: int,
    backoff_s: float,
    sleep: Callable[[float], None],
) -> None:
    client = factory()
    batch: list[dict] = []
    try:
        for row in rows:
            batch.append(dict(zip(cols, row)))
            if len(batch) >= batch_size:
                _send_with_retry(client, batch, max_retries, backoff_s, sleep)
                batch = []
        if batch:
            _send_with_retry(client, batch, max_retries, backoff_s, sleep)
    finally:
        client.close()


class ServiceVectorStore:
    """Remote-service sink shape: one client per executor partition,
    bounded batches (the library-default batching of ``add_documents``
    made explicit, ingestion-pipeline.py:349), bounded exponential-
    backoff retries per batch, and content-stable batch ids so retries
    and Spark task re-attempts are idempotent (mirrors the reference's
    ``request_timeout=30`` resilience posture,
    ingestion-pipeline-elastic.py:348-355). ``sleep`` is injectable so
    tests exercise the backoff schedule without wall-clock waits."""

    def __init__(
        self,
        factory: ClientFactory,
        batch_size: int = 500,
        max_retries: int = 3,
        backoff_s: float = 0.5,
        sleep: Callable[[float], None] | None = None,
    ):
        import time

        self.factory, self.batch_size = factory, batch_size
        self.max_retries, self.backoff_s = max_retries, backoff_s
        self.sleep = sleep if sleep is not None else time.sleep

    def upsert(self, df: DataFrame) -> None:
        cols = df.columns
        factory, batch_size = self.factory, self.batch_size
        max_retries, backoff_s, sleep = self.max_retries, self.backoff_s, self.sleep
        df.foreachPartition(
            lambda rows: _upsert_partition(
                rows, cols, factory, batch_size, max_retries, backoff_s, sleep
            )
        )


class FileBackedFakeClient:
    """Test double for the service client: append-only JSONL per
    process — lets tests observe batch sizes and totals without a
    network service."""

    def __init__(self, out_dir: str):
        import uuid

        self.path = os.path.join(out_dir, f"upserts-{uuid.uuid4().hex}.jsonl")
        self._fh = open(self.path, "a", encoding="utf-8")

    def index(self, batch: list[dict], batch_id: str | None = None) -> None:
        self._fh.write(json.dumps({"n": len(batch), "batch_id": batch_id}) + "\n")
        for doc in batch:
            self._fh.write(json.dumps({"id": doc.get("doc_id", doc.get("chunk_id"))}) + "\n")

    def close(self) -> None:
        self._fh.close()


class FlakyFakeClient(FileBackedFakeClient):
    """Fault-injecting test double: fails the first ``fail_first``
    index() attempts per batch_id (tracked in a shared directory so
    the count survives client re-creation across retries/tasks)."""

    def __init__(self, out_dir: str, fail_first: int = 2):
        super().__init__(out_dir)
        self.fail_dir = os.path.join(out_dir, "failures")
        os.makedirs(self.fail_dir, exist_ok=True)
        self.fail_first = fail_first

    def index(self, batch: list[dict], batch_id: str | None = None) -> None:
        marker = os.path.join(self.fail_dir, f"{batch_id}.attempts")
        attempts = 0
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as fh:
                attempts = int(fh.read().strip() or 0)
        if attempts < self.fail_first:
            with open(marker, "w", encoding="utf-8") as fh:
                fh.write(str(attempts + 1))
            raise ConnectionError(f"injected transient failure #{attempts + 1}")
        super().index(batch, batch_id=batch_id)


class WeaviateIndexClient:
    """Thin adapter mapping the ``ServiceClient`` protocol onto a
    weaviate-client v4 connection (the live form of the reference's
    LangChain ``add_documents``, ingestion-pipeline.py:341-349).

    The raw client is INJECTED — ``weaviate_client_factory`` builds
    it when the library is importable — so the mapping itself is
    contract-testable with a stub. Idempotency: the object uuid is
    uuid5 of the doc's ``id_field``, so a retried batch (same
    content, same ids) overwrites instead of duplicating — exactly
    the contract ``_send_with_retry`` relies on. The vector column is
    split out of the properties into the object vector.

    ``data_object_cls`` is the weaviate v4 ``DataObject`` class
    (injected by ``weaviate_client_factory``): insert_many treats a
    BARE dict as just the properties (auto-generating a random uuid
    and ignoring the vector), so the uuid/vector MUST travel in a
    DataObject — a None here (stub/test mode) falls back to the
    kwargs-shaped dicts the contract tests inspect."""

    def __init__(
        self,
        raw,
        collection: str,
        id_field: str = "chunk_id",
        vector_field: str | None = "embedding",
        data_object_cls=None,
    ):
        self.raw, self.collection = raw, collection
        self.id_field, self.vector_field = id_field, vector_field
        self.data_object_cls = data_object_cls

    def index(self, batch: list[dict], batch_id: str | None = None) -> None:
        import uuid

        objects = []
        for doc in batch:
            props = {
                k: v for k, v in doc.items() if k != self.vector_field
            }
            kwargs = {
                "uuid": str(
                    uuid.uuid5(uuid.NAMESPACE_URL, str(doc[self.id_field]))
                ),
                "properties": props,
            }
            if self.vector_field is not None and self.vector_field in doc:
                kwargs["vector"] = doc[self.vector_field]
            objects.append(
                self.data_object_cls(**kwargs) if self.data_object_cls else kwargs
            )
        self.raw.collections.get(self.collection).data.insert_many(objects)

    def close(self) -> None:
        self.raw.close()


class ElasticIndexClient:
    """Thin adapter mapping ``ServiceClient`` onto an Elasticsearch
    bulk call (ingestion-pipeline-elastic.py:348-355). ``_id`` is the
    doc's ``id_field`` (kept in the document body too, so ``_source``
    consumers still see it), so re-delivered batches upsert in place
    — the idempotent-retry contract.

    ES returns HTTP 200 for a bulk request even when individual items
    fail (mapping conflict, hot-shard rejection) — failures only
    appear in the response's ``errors``/``items`` fields, so the
    adapter must inspect them and RAISE, otherwise
    ``_send_with_retry`` sees success and the documents are silently
    lost."""

    def __init__(self, raw, index_name: str, id_field: str = "chunk_id"):
        self.raw, self.index_name, self.id_field = raw, index_name, id_field

    def index(self, batch: list[dict], batch_id: str | None = None) -> None:
        operations: list[dict] = []
        for doc in batch:
            operations.append(
                {"index": {"_index": self.index_name, "_id": str(doc[self.id_field])}}
            )
            operations.append(dict(doc))
        resp = self.raw.bulk(operations=operations)
        if resp is None:
            return
        # strict: an unreadable response is NOT success — treating it
        # as such would re-open the silent-loss mode this check closes
        try:
            has_errors = bool(resp["errors"])
        except Exception as e:
            raise ConnectionError(
                f"unparseable bulk response ({type(resp).__name__}) "
                f"for batch_id={batch_id}: {e}"
            ) from e
        if has_errors:
            try:
                items = resp["items"]
            except Exception:
                items = []
            failed = [
                item
                for item in items
                if any("error" in (v or {}) for v in item.values())
            ]
            raise ConnectionError(
                f"bulk index reported {len(failed)} failed items "
                f"(batch_id={batch_id}): {failed[:3]}"
            )

    def close(self) -> None:
        self.raw.close()


def weaviate_client_factory(
    collection: str,
    id_field: str = "chunk_id",
    vector_field: str | None = "embedding",
    **connect_kwargs,
) -> ClientFactory:
    """ClientFactory for a live Weaviate sink (optional dependency:
    the library isn't vendored; importing happens executor-side at
    first use and fails with a clear message when absent).
    ``connect_kwargs`` go to ``weaviate.connect_to_custom``."""

    def make() -> ServiceClient:
        try:
            import weaviate  # type: ignore[import-not-found]
            from weaviate.classes.data import (  # type: ignore[import-not-found]
                DataObject,
            )
        except ImportError as e:  # pragma: no cover - exercised via message test
            raise ImportError(
                "weaviate-client v4+ is not installed (the v4 DataObject "
                "API is required); the live Weaviate sink needs it "
                "(pip install weaviate-client). For tests use "
                "FileBackedFakeClient."
            ) from e
        raw = weaviate.connect_to_custom(**connect_kwargs)
        return WeaviateIndexClient(
            raw, collection, id_field, vector_field, data_object_cls=DataObject
        )

    return make


class StdlibWeaviateTransport:
    """Zero-dependency Weaviate wire transport: speaks the public v1
    REST batch protocol (POST ``/v1/batch/objects``,
    ``application/json``) over stdlib urllib, duck-typing the v4
    raw-client surface ``WeaviateIndexClient`` drives
    (``collections.get(name).data.insert_many(objects)`` + ``close()``)
    — the Weaviate twin of ``StdlibESTransport``. The adapter's
    uuid5-idempotency and retry/error contract is exercised over a
    REAL socket in tests, and a container without weaviate-client can
    still reach a Weaviate-wire-compatible endpoint (the live form of
    the reference's ``add_documents``, ingestion-pipeline.py:341-349).

    Objects arrive as the adapter's kwargs-shaped dicts
    (``data_object_cls=None`` mode: ``{"uuid", "properties",
    "vector"?}``) and map onto the REST body as
    ``{"class": <collection>, "id": <uuid>, "properties": {...},
    "vector": [...]}``.

    Failure surface, strict like the ES adapter: HTTP ≥400 raises
    (urllib's HTTPError → ``_send_with_retry`` retries); HTTP 200 with
    any per-object ``result.status == "FAILED"`` / ``result.errors``
    raises too — Weaviate reports partial failures per-object inside
    a 200 body, so swallowing them would silently lose documents; an
    unparseable body is NOT success for the same reason."""

    def __init__(self, base_url: str, timeout_s: float = 30.0):
        self.base_url = base_url.rstrip("/")
        self.timeout_s = timeout_s
        self.collections = _WeaviateRestCollections(self)

    def _batch_insert(self, collection: str, objects: list[dict]) -> None:
        import urllib.request

        body_objs = []
        for kw in objects:
            obj = {
                "class": collection,
                "id": kw["uuid"],
                "properties": kw["properties"],
            }
            if kw.get("vector") is not None:
                obj["vector"] = [float(x) for x in kw["vector"]]
            body_objs.append(obj)
        req = urllib.request.Request(
            self.base_url + "/v1/batch/objects",
            data=json.dumps({"objects": body_objs}).encode("utf-8"),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            raw = resp.read().decode("utf-8")
        try:
            results = json.loads(raw)
            if not isinstance(results, list):
                raise ValueError(f"expected a per-object result list, got {type(results).__name__}")
        except Exception as e:
            raise ConnectionError(
                f"unparseable /v1/batch/objects response for class={collection}: {e}"
            ) from e
        failed = [
            r
            for r in results
            if isinstance(r, dict)
            and (
                (r.get("result") or {}).get("status") == "FAILED"
                or (r.get("result") or {}).get("errors")
            )
        ]
        if failed:
            raise ConnectionError(
                f"batch insert reported {len(failed)} failed objects "
                f"(class={collection}): {failed[:3]}"
            )

    def close(self) -> None:
        pass


class _WeaviateRestCollections:
    """``raw.collections`` shim over the REST transport."""

    def __init__(self, transport: StdlibWeaviateTransport):
        self._transport = transport

    def get(self, name: str) -> "_WeaviateRestCollectionHandle":
        return _WeaviateRestCollectionHandle(self._transport, name)


class _WeaviateRestCollectionHandle:
    """``raw.collections.get(name)`` shim: exposes ``.data``."""

    def __init__(self, transport: StdlibWeaviateTransport, name: str):
        self.data = _WeaviateRestDataOps(transport, name)


class _WeaviateRestDataOps:
    """``raw.collections.get(name).data`` shim: ``insert_many``."""

    def __init__(self, transport: StdlibWeaviateTransport, name: str):
        self._transport, self._name = transport, name

    def insert_many(self, objects: list[dict]) -> None:
        self._transport._batch_insert(self._name, objects)


def weaviate_http_factory(
    base_url: str,
    collection: str,
    id_field: str = "chunk_id",
    vector_field: str | None = "embedding",
    timeout_s: float = 30.0,
) -> ClientFactory:
    """ClientFactory for a Weaviate-wire-compatible endpoint over the
    stdlib transport (no weaviate-client package needed). Same
    adapter, same uuid5-idempotency and strict-error contract as
    ``weaviate_client_factory`` — only the transport differs
    (``data_object_cls=None``: objects travel as kwargs dicts the
    transport maps onto the REST body)."""

    def make() -> ServiceClient:
        return WeaviateIndexClient(
            StdlibWeaviateTransport(base_url, timeout_s),
            collection,
            id_field,
            vector_field,
            data_object_cls=None,
        )

    return make


class StdlibESTransport:
    """Zero-dependency Elasticsearch wire transport: speaks the bulk
    NDJSON protocol (POST ``/_bulk``, ``application/x-ndjson``) over
    stdlib urllib. Duck-types the one method ``ElasticIndexClient``
    uses (``bulk(operations=...)`` returning the parsed JSON body), so
    the adapter's retry/error handling can be exercised over a REAL
    socket in tests — and a container without the elasticsearch
    package can still reach an ES-wire-compatible endpoint.

    HTTP ≥400 raises (urllib's HTTPError), which ``_send_with_retry``
    treats as a transient failure — the 5xx path of the reference's
    ``request_timeout=30`` posture (ingestion-pipeline-elastic.py:348)."""

    def __init__(self, base_url: str, timeout_s: float = 30.0):
        self.base_url = base_url.rstrip("/")
        self.timeout_s = timeout_s

    def bulk(self, operations: list[dict]) -> dict:
        import urllib.request

        body = "\n".join(json.dumps(op) for op in operations) + "\n"
        req = urllib.request.Request(
            self.base_url + "/_bulk",
            data=body.encode("utf-8"),
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            return json.loads(resp.read().decode("utf-8"))

    def close(self) -> None:
        pass


def elastic_http_factory(
    base_url: str, index_name: str, id_field: str = "chunk_id", timeout_s: float = 30.0
) -> ClientFactory:
    """ClientFactory for an ES-wire-compatible endpoint over the
    stdlib transport (no elasticsearch package needed). Same adapter,
    same idempotency/error contract as ``elastic_client_factory`` —
    only the transport differs."""

    def make() -> ServiceClient:
        return ElasticIndexClient(
            StdlibESTransport(base_url, timeout_s), index_name, id_field
        )

    return make


def elastic_client_factory(
    index_name: str, id_field: str = "chunk_id", **client_kwargs
) -> ClientFactory:
    """ClientFactory for a live Elasticsearch sink (optional
    dependency). ``client_kwargs`` go to ``Elasticsearch(...)`` —
    pass ``request_timeout=30`` to mirror the reference's posture
    (ingestion-pipeline-elastic.py:348)."""

    def make() -> ServiceClient:
        try:
            from elasticsearch import Elasticsearch  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - exercised via message test
            raise ImportError(
                "elasticsearch is not installed; the live ES sink needs it "
                "(pip install elasticsearch). For tests use "
                "FileBackedFakeClient."
            ) from e
        raw = Elasticsearch(**client_kwargs)
        return ElasticIndexClient(raw, index_name, id_field)

    return make


def compact_collections(
    store: ParquetVectorStore, target_files: int = 1, collections: list[str] | None = None
) -> dict[str, int]:
    """Small-files compaction: rewrite each collection partition into
    ``target_files`` files (streaming sinks and incremental appends
    accumulate per-batch files; parquet scan efficiency degrades with
    file count). Per-collection dynamic-partition overwrite keeps the
    operation collection-atomic. Returns files-before per collection.
    At 100 TB: run per-partition on a schedule, sized by bytes not
    file count (coalesce(bytes / 512MB))."""
    import os

    before: dict[str, int] = {}
    names = collections or store.list_collections()
    store.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for name in names:
        part_dir = store._partition(name)
        before[name] = len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
        if before[name] <= target_files:
            continue
        df = store.read_collection(name)
        (
            df.coalesce(target_files)
            .write.mode("overwrite")
            .partitionBy(store.key)
            .parquet(store.path)
        )
    return before
