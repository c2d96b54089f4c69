"""Embedding stage: deterministic stand-in + the real-model plumbing.

The reference embeds chunks with
``HuggingFaceEmbeddings('nomic-ai/nomic-embed-text-v1')`` inside the
vector-store ``add_documents`` call (ingestion-pipeline.py:334-349,
768-dim) — batched, GPU-per-pod. Spark-first mapping:

- ``embed_pandas_udf``: Arrow-vectorized scalar pandas UDF; the model
  is a module-level singleton per executor (loaded once, reused across
  batches) — the only physical decision that matters for throughput
  (SURVEY.md §4.3). The HF model itself isn't installed in this
  container, so the loader is gated: if ``sentence-transformers`` /
  ``transformers`` is importable it is used; otherwise the
  deterministic hash-projection stand-in below runs. The Spark-side
  plumbing (Arrow batches, ArrayType(FloatType) schema, partition
  sizing) is identical either way.
- ``embed_deterministic``: seeded hash-projection embedding — a pure
  function of the text, so similarity results are hash-checkable
  (FIXTURES.md determinism rule 1). Implemented as native SQL
  expressions (no Python) for the tested path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 64  # matches the synthetic embeddings table; nomic is 768


def embed_deterministic(col: Column, dim: int = DEFAULT_DIM, seed: str = "emb") -> Column:
    """Seeded hash-projection embedding, pure SQL.

    Component i = (first-15-hex-digits of md5(seed|i|text) scaled to
    [-1, 1]). Deterministic across engines and runs; cheap enough to
    run at 100 TB (k md5 calls per row, all codegen'd).
    """
    comps = [
        (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|{i}|"), col)), 1, 15), 16, 10)
            .cast("double")
            / F.lit(float(16**15 - 1))
            * F.lit(2.0)
            - F.lit(1.0)
        ).cast("float")
        for i in range(dim)
    ]
    return F.array(*comps)


def embed_text(text: str, dim: int = DEFAULT_DIM, seed: str = "emb") -> list[float]:
    """``embed_deterministic`` of one text, computed on the driver with
    hashlib: the same md5 digits of the UTF-8 bytes, the same double
    arithmetic and the same rounding to float32, so every component
    equals the SQL value bit for bit. A query vector needs no Spark
    plan this way."""
    import hashlib

    scale = float(16**15 - 1)
    comps = [
        int(hashlib.md5(f"{seed}|{i}|{text}".encode("utf-8")).hexdigest()[:15], 16)
        / scale * 2.0 - 1.0
        for i in range(dim)
    ]
    return np.asarray(comps, dtype=np.float32).tolist()


# ------------------------------------------------------- pandas-UDF path

_MODEL = None  # per-executor singleton


def _load_model():
    global _MODEL
    if _MODEL is None:
        try:  # real model if the env has it (not in this container)
            from sentence_transformers import SentenceTransformer

            _MODEL = SentenceTransformer("nomic-ai/nomic-embed-text-v1")
        except Exception:
            _MODEL = "fallback"
    return _MODEL


def _fallback_embed(texts: pd.Series, dim: int) -> np.ndarray:
    """Deterministic fallback: hash-chain digests → uint32 → [-1, 1].

    Per row: ceil(dim/8) blake2b calls and one frombuffer — no RNG
    object construction (a per-row ``default_rng`` costs more than the
    hashing itself and capped the Arrow stage at ~3.5k rows/s)."""
    import hashlib

    n_blocks = (dim * 4 + 31) // 32  # 32-byte digests → 8 float32 each
    out = np.empty((len(texts), dim), dtype=np.float32)
    for r, t in enumerate(texts):
        raw = (t or "").encode()
        buf = b"".join(
            hashlib.blake2b(raw + bytes([k]), digest_size=32).digest()
            for k in range(n_blocks)
        )
        ints = np.frombuffer(buf, dtype=np.uint32)[:dim].astype(np.float64)
        out[r] = (ints / np.float64(2**32 - 1) * 2.0 - 1.0).astype(np.float32)
    return out


def make_embed_udf(dim: int = DEFAULT_DIM):
    """T6: Arrow-batched embedding UDF (iterator form → model loads
    once per executor-python-worker, amortized across all batches)."""

    @pandas_udf(ArrayType(FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = _load_model()
        for texts in batches:
            if model == "fallback":
                mat = _fallback_embed(texts, dim)
            else:
                mat = model.encode(list(texts.fillna("")), batch_size=256)
            yield pd.Series(list(mat))

    return embed


def embed_documents(df: DataFrame, text_col: str, dim: int = DEFAULT_DIM,
                    deterministic: bool = True) -> DataFrame:
    """Attach an ``embedding ARRAY<FLOAT>`` column.

    ``deterministic=True`` (default, test path) uses the pure-SQL
    projection; ``False`` routes through the pandas UDF (real model if
    available, vectorized fallback otherwise).
    """
    if deterministic:
        return df.withColumn("embedding", embed_deterministic(F.col(text_col), dim))
    return df.withColumn("embedding", make_embed_udf(dim)(F.col(text_col)))


# --------------------------------------------- remote-service path (r09)


def _post_json_with_retry(
    url: str,
    body: dict,
    timeout_s: float,
    max_retries: int,
    backoff_s: float,
) -> dict:
    """POST a JSON body, parse a JSON response, with the serving-path
    failure contract shared by the embedding and LLM transports
    (single source of truth — r09 third self-review): HTTP 5xx,
    socket/connect errors, mid-body drops (http.client.HTTPException,
    e.g. IncompleteRead) and truncated-body JSON errors retry with
    linear backoff (no sleep after the final attempt) then raise
    RuntimeError; 4xx raises immediately (a malformed request never
    heals). Distinct from sources/sinks._send_with_retry on purpose:
    sinks retry 4xx (their services report per-item failures in 200s
    and transient 4xxs exist); a serving endpoint's 4xx is a caller
    bug."""
    import http.client
    import json
    import time as _time
    import urllib.error
    import urllib.request

    data = json.dumps(body).encode()
    last: Exception | None = None
    for attempt in range(max_retries):
        req = urllib.request.Request(
            url,
            data=data,
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            if e.code < 500:
                raise
            last = e
        except (
            urllib.error.URLError,
            TimeoutError,
            ConnectionError,
            http.client.HTTPException,  # e.g. IncompleteRead mid-body
            json.JSONDecodeError,  # truncated body after a 200
        ) as e:
            last = e
        if attempt + 1 < max_retries:
            _time.sleep(backoff_s * (attempt + 1))
    raise RuntimeError(f"service at {url} failed after {max_retries} attempts: {last}")


class StdlibEmbeddingTransport:
    """Zero-dependency client for an OpenAI-style ``POST
    /v1/embeddings`` endpoint — the wire shape vLLM / TEI /
    text-embeddings-serving expose, and the production alternative to
    in-process HF when executors have no GPU (the reference's
    ``HuggingFaceEmbeddings(cuda)`` pod, P:334-339, re-expressed as a
    serving call). Same envelope-narrowing move the sinks got in
    r07/r08 (StdlibESTransport / StdlibWeaviateTransport): the full
    request/response/retry behavior is testable over a REAL socket
    with no SDK installed; only live auth/server quirks remain
    environment-gated.

    Contract: ``embed(texts)`` returns one vector per input, in input
    order (the response's ``data[].index`` is re-sorted — services
    may return out of order); requests are split into
    ``batch_size``-text calls; HTTP 5xx / socket errors retry with
    linear backoff up to ``max_retries`` then raise RuntimeError
    (embedding silently dropping rows would corrupt the index);
    4xx raises immediately (a malformed request never heals)."""

    def __init__(
        self,
        base_url: str,
        model: str = "nomic-ai/nomic-embed-text-v1",
        batch_size: int = 256,
        timeout_s: float = 30.0,
        max_retries: int = 3,
        backoff_s: float = 0.1,
    ):
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.batch_size = batch_size
        self.timeout_s = timeout_s
        self.max_retries = max_retries
        self.backoff_s = backoff_s

    def _post_batch(self, texts: list[str]) -> list[list[float]]:
        payload = _post_json_with_retry(
            self.base_url + "/v1/embeddings",
            {"model": self.model, "input": texts},
            self.timeout_s,
            self.max_retries,
            self.backoff_s,
        )
        rows = payload.get("data")
        if not isinstance(rows, list) or any(
            "index" not in r or "embedding" not in r for r in rows
        ):
            # 200 with an error envelope or wrong schema: fail fast
            # WITH context (a bare KeyError names neither service nor
            # payload) — same guard the LLM twin has
            raise RuntimeError(
                f"malformed embedding response from {self.base_url}: "
                f"{str(payload)[:200]}"
            )
        rows = sorted(rows, key=lambda d: d["index"])
        if len(rows) != len(texts):
            raise RuntimeError(
                f"embedding service returned {len(rows)} vectors "
                f"for {len(texts)} inputs"
            )
        return [r["embedding"] for r in rows]

    def embed(self, texts: list[str]) -> list[list[float]]:
        out: list[list[float]] = []
        for i in range(0, len(texts), self.batch_size):
            out.extend(self._post_batch(texts[i : i + self.batch_size]))
        return out


#: per-python-worker transport cache (same singleton pattern as
#: _MODEL): keyed by constructor args so the object — and any future
#: pooled connection state — outlives a single task
_TRANSPORTS: dict[tuple, "StdlibEmbeddingTransport"] = {}


def _worker_transport(base_url: str, **kw) -> "StdlibEmbeddingTransport":
    key = (base_url,) + tuple(sorted(kw.items()))
    t = _TRANSPORTS.get(key)
    if t is None:
        t = _TRANSPORTS[key] = StdlibEmbeddingTransport(base_url, **kw)
    return t


def make_remote_embed_udf(base_url: str, dim: int = DEFAULT_DIM, **transport_kw):
    """T6 over a serving endpoint: iterator pandas UDF with one
    transport per executor-python-worker (module-level cache, the
    _MODEL singleton pattern — the object outlives a task). ``dim``
    is ENFORCED against every returned vector: a serving endpoint
    hosting the wrong model would otherwise silently write
    wrong-width arrays into the index (ArrayType carries no length),
    corrupting every downstream cosine against query-side embeddings
    (r09 third self-review). Arrow plumbing, schema, and batch shape
    are identical to ``make_embed_udf``; only where the flops run
    differs."""

    @pandas_udf(ArrayType(FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        transport = _worker_transport(base_url, **transport_kw)
        for texts in batches:
            vecs = transport.embed([t or "" for t in texts])
            bad = next((v for v in vecs if len(v) != dim), None)
            if bad is not None:
                raise RuntimeError(
                    f"embedding service at {base_url} returned "
                    f"{len(bad)}-dim vectors, expected {dim} — wrong "
                    "model behind the endpoint?"
                )
            yield pd.Series(
                [np.asarray(v, dtype=np.float32) for v in vecs]
            )

    return embed
