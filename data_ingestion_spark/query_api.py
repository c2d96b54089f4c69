"""Query-side facade: the reference's inspection/search/RAG API.

Mirrors the utility surface of
``ingestion-pipeline-website-local.py`` one-for-one, so a user of the
reference can switch call-by-call (SURVEY.md §3.3):

| reference (Q)                  | here                          |
|--------------------------------|-------------------------------|
| list_collections   Q:74-92     | EngineQuery.list_collections  |
| get_record_count   Q:94-118    | EngineQuery.get_record_count  |
| get_top_records    Q:32-71     | EngineQuery.get_top_records   |
| get_sample_records Q:203-230   | EngineQuery.get_sample_records|
| delete_index       Q:119-136   | EngineQuery.delete_index      |
| search_weaviate    Q:167-176   | EngineQuery.search_by_vector  |
| search_weaviate_query Q:143-164| EngineQuery.similarity_search |
| rag_query          Q:178-200   | EngineQuery.rag_query         |

Where the reference round-trips GraphQL to Weaviate and len()s the
response client-side, counts here are sums of the collection's parquet
footer row counts (no Spark job), and a search is one Spark job: the
query is embedded on the driver, only the collection's partition is
read, and top-k is TakeOrderedAndProject. The store is the partitioned
table from sources/sinks.py.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.embedding import embed_text
from .functions.similarity import cosine
from .sources.sinks import ParquetVectorStore


class EngineQuery:
    """Query interface over an ingested vector store."""

    def __init__(
        self,
        spark: SparkSession,
        store: ParquetVectorStore,
        embed_dim: int = 8,
        id_cols: tuple[str, ...] = ("doc_id", "url", "section_idx", "chunk_idx"),
    ):
        self.spark = spark
        self.store = store
        self.embed_dim = embed_dim
        #: candidate tiebreak/identity columns; whichever exist in the
        #: ingested schema are used (product-doc and website pipelines
        #: key chunks differently)
        self.id_cols = id_cols

    def _ids(self, df) -> list[str]:
        return [c for c in self.id_cols if c in df.columns]

    def _require(self, index_name: str) -> None:
        """Weaviate/ES error on a missing class/index; mirror that
        instead of silently returning an empty scan."""
        cols = self.store.list_collections()
        if index_name not in cols:
            raise KeyError(
                f"collection {index_name!r} does not exist; available: {cols}"
            )

    # ---- catalog / inspection --------------------------------------
    def list_collections(self) -> list[str]:
        """Q:74-92 — collection names from partition metadata (no scan)."""
        return self.store.list_collections()

    def get_record_count(self, index_name: str) -> int:
        """Q:94-118 — the reference fetches every record and len()s it;
        here the partition's parquet footers are summed (no Spark job)."""
        self._require(index_name)
        return self.store.count_collection(index_name)

    def get_top_records(self, index_name: str, limit: int = 10) -> DataFrame:
        """Q:32-71 — first ``limit`` records by chunk order."""
        self._require(index_name)
        chunks = self.store.read_collection(index_name)
        return chunks.orderBy(*self._ids(chunks)).limit(limit)

    def get_sample_records(self, index_name: str, limit: int = 10) -> DataFrame:
        """Q:203-230 — deterministic sample (seeded hash order, not
        storage order, so samples are stable across runs)."""
        self._require(index_name)
        chunks = self.store.read_collection(index_name)
        return chunks.orderBy(F.xxhash64(*self._ids(chunks))).limit(limit)

    def delete_index(self, index_name: str) -> None:
        """Q:119-136 — drop the collection partition."""
        self.store.delete_collection(index_name)

    # ---- search / RAG ----------------------------------------------
    def search_by_vector(
        self, index_name: str, vector: list[float], k: int = 5
    ) -> DataFrame:
        """Q:167-176 — near_vector top-k (k=5 default per Q:174). The
        query vector is one array<double> literal."""
        self._require(index_name)
        chunks = self.store.read_collection(index_name)
        qv = F.lit(np.asarray(vector, dtype=np.float64))
        scored = chunks.withColumn(
            "score", F.round(cosine(F.col("embedding"), qv), 6)
        )
        ids = self._ids(chunks)
        return (
            scored.orderBy(F.col("score").desc(), *ids)
            .limit(k)
            .select(*ids, "chunk_text", "score")
        )

    def similarity_search(self, index_name: str, query: str, k: int = 5) -> DataFrame:
        """Q:143-164 — embed the query text, then vector top-k. The
        driver-side ``embed_text`` equals the documents' SQL embedding
        bit for bit (T7 ≡ T6), so the search is one Spark job."""
        return self.search_by_vector(index_name, embed_text(query, self.embed_dim), k)

    def rag_context(self, index_name: str, query: str, k: int = 5) -> str:
        """Q:192-198 — top-k retrieval concatenated into the prompt
        context block."""
        rows = self.similarity_search(index_name, query, k).collect()
        return "\n\n".join(r.chunk_text for r in rows)

    def rag_query(
        self,
        index_name: str,
        query: str,
        llm: Callable[[str], str] | None = None,
        k: int = 5,
    ) -> str:
        """Q:178-200 — retrieve + generate. The LLM is an injected
        callable (the reference calls VLLMOpenAI, Q:183-188 — an
        external service, out of engine scope)."""
        context = self.rag_context(index_name, query, k)
        prompt = (
            "Answer based on the context below.\n\n"
            f"Context:\n{context}\n\nQuestion: {query}\nAnswer:"
        )
        if llm is None:
            return prompt  # prompt assembly is the engine's contract
        return llm(prompt)


class StdlibLLMTransport:
    """Zero-dependency client for an OpenAI-style ``POST
    /v1/completions`` endpoint — the exact wire shape the reference's
    ``VLLMOpenAI.invoke`` speaks (query-service Q:183-188: vLLM
    serving `mistralai/Mistral-7B-Instruct` behind the OpenAI API).
    A plain ``Callable[[str], str]``, so it plugs straight into
    ``rag_query(llm=...)``; same zero-dep real-socket-testable
    narrowing the sinks (r07/r08) and the embedding service (r09)
    got — only live auth/model behavior remains environment-gated.

    HTTP 5xx / socket errors retry with linear backoff then raise;
    4xx raises immediately (malformed request never heals)."""

    def __init__(
        self,
        base_url: str,
        model: str = "mistralai/Mistral-7B-Instruct-v0.2",
        max_tokens: int = 512,
        temperature: float = 0.0,
        timeout_s: float = 60.0,
        max_retries: int = 3,
        backoff_s: float = 0.1,
    ):
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.max_tokens = max_tokens
        self.temperature = temperature
        self.timeout_s = timeout_s
        self.max_retries = max_retries
        self.backoff_s = backoff_s

    def __call__(self, prompt: str) -> str:
        from .functions.embedding import _post_json_with_retry

        payload = _post_json_with_retry(
            self.base_url + "/v1/completions",
            {
                "model": self.model,
                "prompt": prompt,
                "max_tokens": self.max_tokens,
                "temperature": self.temperature,
            },
            self.timeout_s,
            self.max_retries,
            self.backoff_s,
        )
        choices = payload.get("choices") or []
        if not choices or "text" not in choices[0]:
            raise RuntimeError(f"malformed completion response: {payload}")
        return choices[0]["text"]
