"""The benchmark's workloads, output checks and traced layer ledger.

Two closed-loop workloads, one client each, drive the engine's public
functions from outside:

- ``bulk_ingest``: each operation ingests a fresh crawl batch (WARC
  shards → ``website_ingestion_from_warc`` → ``ParquetVectorStore.upsert``
  at the reference's 2048/256 chunking) into an empty store, then sends
  two ``EngineQuery.similarity_search`` calls to collections of that batch.
  HTML cleaning, chunking, embedding and the store write do the work.
- ``serve_topk``: a standing multi-collection store, then a Zipf-skewed
  request stream of ``similarity_search`` plus a small share of
  ``get_record_count`` / ``list_collections``. Ingest layers are idle;
  per-query planning, listing and scan costs dominate.

The traced run (``--trace 1``) runs the same untraced warm-up, then the
layer ledger over a crawl made with the workload's generator settings:
an isolation pass that attributes the fused ingest plan to its layers,
self-dedup, an ingest and searches, the four managed layout builds, the
ANN / IVF-PQ / BM25 probes, and one CDC micro-batch folded into the band
store by the streaming novelty gate. It skips the timed loop, so it
stays well inside a run's time limit.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import sys
import time
import traceback
from statistics import median

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_ingestion_spark.functions import dedup as DD
from data_ingestion_spark.functions import pq as PQ
from data_ingestion_spark.functions import similarity as SIM
from data_ingestion_spark.functions.embedding import embed_deterministic
from data_ingestion_spark.functions.html import clean_html
from data_ingestion_spark.functions.textops import (
    chunk_recursive,
    content_header,
    split_markdown_headers,
)
from data_ingestion_spark.plans.config import IngestionConfig
from data_ingestion_spark.plans.web_ingestion import website_ingestion_from_warc
from data_ingestion_spark.query_api import EngineQuery
from data_ingestion_spark.sources.catalog import read_binary_dir
from data_ingestion_spark.sources.sinks import ParquetVectorStore
from data_ingestion_spark.sources.warc import warc_records, warc_response_docs
from data_ingestion_spark.streaming import pipeline as SP

from . import gen
from .trace import Tracer

K = 5
#: large enough that the first timed ingest runs as fast as later ones
WARMUP_PAGES = 100
#: bulk_ingest: pages per crawl batch, collections per batch, searches
#: after each ingest (enough query samples for a median in one run)
BATCH_PAGES, BATCH_COLLECTIONS, BATCH_SEARCHES = 250, 8, 2
#: serve_topk: the standing store is this many crawls of this size
SERVE_PARTS, SERVE_PAGES, SERVE_COLLECTIONS = 3, 200, 8
#: traced ledger: crawl pages it builds from, and searches it sends
LEDGER_PAGES, LEDGER_SEARCHES = 60, 3
#: traced ledger: pages per kind of change in its one CDC micro-batch
CDC_PAGES = 6
#: compaction bound for the novelty fold: past two live segments it compacts
MAX_SEGMENTS = 2
LEDGER_PROBES = 1
RECALL_QUERIES = 16
#: the traced ledger's crawl per workload: collections and generator tag
LEDGER_CRAWLS = {"bulk_ingest": (BATCH_COLLECTIONS, "b0"), "serve_topk": (SERVE_COLLECTIONS, "serve0")}

#: spans of the layer ledger; every one reports .ms, .jobs, .driver_ms
SPANS = [
    "warc.read", "html.clean", "textops.chunk", "embedding.embed",
    "sinks.upsert", "dedup.cluster",
    "similarity.index_build", "similarity.ann_build", "pq.build", "dedup.band_build",
    "query_api.search", "similarity.ann_probe", "pq.probe", "similarity.bm25_probe",
    "streaming.novelty_fold",
]
BUILD_SPANS = SPANS[6:10]
FOLD_SPANS = SPANS[14:]
#: spans that also report executor CPU and shuffle volume
WORK_SPANS = SPANS[:10] + FOLD_SPANS
#: spans that write store files
WRITE_SPANS = ["sinks.upsert", *BUILD_SPANS, *FOLD_SPANS]
LAYOUTS = ["index", "ann", "pq", "band"]


def _chunk_id():
    """``gen.chunk_id`` as a Spark column."""
    key = F.concat_ws("|", "url", "section_idx", "chunk_idx")
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")


def _terms(text: str) -> list[str]:
    """The BM25 index's tokenizer: lowercase, split on non-alphanumerics."""
    return re.findall(r"[a-z0-9]+", text.lower())


def _collection_of(url_col):
    return F.regexp_extract(url_col, r"example\.com/([^/]+)/", 1)


class Run:
    """One benchmark process: a Spark session, a work directory inside
    the checkout, operation counters and the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        #: enabled by ``traced`` once the warm-up is done
        self.tracer = Tracer(spark, False, f"s{seed}")
        self.attempted = 0
        self.failed = 0
        self.query_ms: list[float] = []
        self.ingest_rates: list[float] = []
        self.layer: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.cfg = IngestionConfig(index_name="bench", md_split_depth=gen.MD_SPLIT_DEPTH)

    # ------------------------------------------------------------ helpers
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn):
        """Run one operation; a raise or a failed check is one failure."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:  # the loop must keep running; failure is counted
            traceback.print_exc(file=sys.stderr)
            ok = False
        if ok is False:
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
        return ok

    def ingest(self, warc_dir: str, store_dir: str) -> None:
        """The reference's website pipeline into a vector store; every
        page's collection comes from its URL."""
        df = website_ingestion_from_warc(self.spark, self.cfg, warc_dir)
        df = df.withColumn("index_name", _collection_of(F.col("url")))
        with self.tracer.span("sinks.upsert", write_roots=(store_dir,)):
            ParquetVectorStore(self.spark, store_dir).upsert(df)

    def search(self, store_dir: str, coll: str, text: str) -> list[tuple[float, tuple]]:
        q = EngineQuery(self.spark, ParquetVectorStore(self.spark, store_dir), embed_dim=gen.EMBED_DIM)
        t0 = time.perf_counter()
        with self.tracer.span("query_api.search"):
            rows = q.similarity_search(coll, text, K).collect()
        self.query_ms.append((time.perf_counter() - t0) * 1000.0)
        return [(r.score, (r.url, r.section_idx, r.chunk_idx)) for r in rows]

    # ------------------------------------------------------------- checks
    @staticmethod
    def oracle(pages: list[gen.Page]) -> dict[str, list[gen.Chunk]]:
        by_coll: dict[str, list[gen.Chunk]] = {}
        for p in pages:
            by_coll.setdefault(p.collection, []).extend(gen.page_chunks(p))
        return by_coll

    @staticmethod
    def search_ok(got, chunks: list[gen.Chunk], text: str) -> bool:
        ids = [(c.url, c.section_idx, c.chunk_idx) for c in chunks]
        vecs = np.stack([gen.embed(c.text) for c in chunks])
        ranked = gen.exact_topk(ids, vecs, gen.embed(text), len(ids))
        return gen.topk_matches(got, ranked, K)

    @staticmethod
    def stored_chunks_ok(store_dir: str, oracle: dict) -> bool:
        """Every stored chunk, read from the store's files, equals the
        pure-Python recomputation, collection by collection."""
        import pyarrow.dataset as ds

        t = ds.dataset(store_dir, format="parquet", partitioning="hive").to_table(
            columns=["index_name", "url", "section_idx", "chunk_idx", "chunk_text"]
        )
        got = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        want = sorted(
            (coll, c.url, c.section_idx, c.chunk_idx, c.text)
            for coll, chunks in oracle.items()
            for c in chunks
        )
        return got == want

    # -------------------------------------------------------------- setup
    def warm_up(self) -> None:
        """One small crawl through ingest and search, untimed: JIT,
        codegen and Python worker start land here, in setup."""
        pages = gen.make_pages(self.seed, WARMUP_PAGES, 2, "warm")
        warc = self.path("warm", "warc")
        gen.write_warc(pages, warc)
        store = self.path("warm", "store")
        self.ingest(warc, store)
        oracle = self.oracle(pages)
        coll = sorted(oracle)[0]
        text = gen.query_text(self.seed, -1)
        self.op("warmup_search", lambda: self.search_ok(self.search(store, coll, text), oracle[coll], text))
        self.query_ms.clear()

    # ---------------------------------------------------------- workloads
    def bulk_ingest(self, deadline_from) -> float:
        self.warm_up()
        t_setup_end = deadline_from()
        end = t_setup_end + self.seconds
        i = 0
        while time.perf_counter() < end:
            tag = f"b{i}"
            pages = gen.make_pages(self.seed, BATCH_PAGES, BATCH_COLLECTIONS, tag)
            warc = self.path(tag, "warc")
            store = self.path(tag, "store")
            gen.write_warc(pages, warc)
            oracle = self.oracle(pages)
            n_chunks = sum(len(v) for v in oracle.values())
            t0 = time.perf_counter()
            ok = self.op("ingest", lambda: self.ingest(warc, store))
            if ok is not False:
                self.ingest_rates.append(n_chunks / (time.perf_counter() - t0))
                self.op("ingest_check", lambda: self.stored_chunks_ok(store, oracle))
                picks = gen.zipf_picks(self.seed, sorted(oracle), BATCH_SEARCHES, tag=tag)
                for n, coll in enumerate(picks):
                    text = gen.query_text(self.seed, i * BATCH_SEARCHES + n)
                    self.op("search", lambda: self.search_ok(self.search(store, coll, text), oracle[coll], text))
            if i > 0:
                shutil.rmtree(self.path(f"b{i - 1}"), ignore_errors=True)
            i += 1
        self.detail["batches"] = i
        return t_setup_end

    def serve_topk(self, deadline_from) -> float:
        """The standing store is ingested as ``SERVE_PARTS`` crawls with
        disjoint collections after the warm-up; each gives an ingest
        rate sample."""
        self.warm_up()
        store = self.path("serve", "store")
        pages: list[gen.Page] = []
        for j in range(SERVE_PARTS):
            part = gen.make_pages(self.seed, SERVE_PAGES, SERVE_COLLECTIONS, f"serve{j}")
            warc = self.path("serve", f"warc{j}")
            gen.write_warc(part, warc)
            n_chunks = sum(len(gen.page_chunks(p)) for p in part)
            t0 = time.perf_counter()
            if self.op("ingest", lambda: self.ingest(warc, store)) is not False:
                self.ingest_rates.append(n_chunks / (time.perf_counter() - t0))
            pages += part
        oracle = self.oracle(pages)
        self.op("ingest_check", lambda: self.stored_chunks_ok(store, oracle))
        colls = sorted(oracle)
        engine = EngineQuery(self.spark, ParquetVectorStore(self.spark, store), embed_dim=gen.EMBED_DIM)
        # one untimed request warms this store's file listing and plan
        self.search(store, colls[0], gen.query_text(self.seed, -2))
        self.query_ms.clear()

        t_setup_end = deadline_from()
        end = t_setup_end + self.seconds
        n = 4096
        picks = gen.zipf_picks(self.seed, colls, n, tag="serve")
        kinds = gen.request_kinds(self.seed, n)
        i = 0
        while time.perf_counter() < end and i < n:
            coll, kind = picks[i], kinds[i]
            if kind == "search":
                text = gen.query_text(self.seed, i)
                self.op("search", lambda: self.search_ok(self.search(store, coll, text), oracle[coll], text))
            elif kind == "count":
                self.op("count", lambda: engine.get_record_count(coll) == len(oracle[coll]))
            else:
                self.op("list", lambda: engine.list_collections() == colls)
            i += 1
        self.detail["requests"] = i
        return t_setup_end

    # --------------------------------------------------------- the ledger
    def traced(self, workload: str, setup_done) -> None:
        """The warm-up untraced, then the ledger over a crawl made with
        the workload's collection count and generator tag."""
        self.warm_up()
        setup_done()
        self.tracer.enabled = True
        colls, tag = LEDGER_CRAWLS[workload]
        self.ledger(gen.make_pages(self.seed, LEDGER_PAGES, colls, tag))
        self.span_metrics()

    def ledger(self, pages: list[gen.Page]) -> None:
        """Every layer once, under spans; fills ``self.layer``."""
        T = self.tracer
        spark = self.spark
        self._t = time.perf_counter()
        warc = self.path("ledger", "warc")
        gen.write_warc(pages, warc)

        # isolation pass: each ingest stage to a noop sink over the
        # previous stage's locally checkpointed output
        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with T.span("warc.read"):
            recs = warc_response_docs(warc_records(read_binary_dir(spark, warc, "*.warc.gz")))
            noop(recs)
        recs = recs.localCheckpoint()
        with T.span("html.clean"):
            docs = clean_html(recs)
            noop(docs)
        docs = docs.localCheckpoint()
        with T.span("textops.chunk"):
            sec = split_markdown_headers(docs, "page_content", max_level=gen.MD_SPLIT_DEPTH).select(
                "url", "title", F.posexplode("sections").alias("section_idx", "section_text")
            )
            chunks = chunk_recursive(
                sec, text_col="section_text", id_cols=("url", "title", "section_idx"),
                size=self.cfg.chunk_size, overlap=self.cfg.chunk_overlap,
            ).withColumn(
                "chunk_text",
                content_header(
                    F.col("title"), F.col("section_idx").cast("string"),
                    F.col("chunk_idx").cast("string"), F.col("chunk_text"),
                ),
            )
            noop(chunks)
        chunks = chunks.localCheckpoint()
        embedded = chunks.withColumn(
            "embedding", embed_deterministic(F.col("chunk_text"), gen.EMBED_DIM)
        )
        with T.span("embedding.embed"):
            noop(embedded)
        ck = embedded.select(
            _chunk_id().alias("vec_id"), "url", "section_idx", "chunk_idx", "chunk_text", "embedding"
        ).localCheckpoint()
        rows = ck.collect()
        id_of = {(r.url, r.section_idx, r.chunk_idx): r.vec_id for r in rows}
        vec_of = {r.vec_id: np.asarray(r.embedding, dtype=np.float32) for r in rows}
        want = sorted((c.url, c.section_idx, c.chunk_idx, c.text) for p in pages for c in gen.page_chunks(p))
        self.op(
            "staged_chunks",
            lambda: sorted((r.url, r.section_idx, r.chunk_idx, r.chunk_text) for r in rows) == want,
        )

        # self-dedup: every planted exact duplicate shares its source's cluster
        def dedup():
            with T.span("dedup.cluster"):
                pairs = DD.minhash_lsh_candidates_fast(ck, "chunk_text", "vec_id")
                cl = {r.doc_id: r.cluster_id for r in DD.dup_clusters_star(pairs).collect()}
            for p in pages:
                if not p.exact_dup:
                    continue
                for c in gen.page_chunks(p):
                    a = id_of[(c.url, c.section_idx, c.chunk_idx)]
                    b = id_of[(p.dup_of, c.section_idx, c.chunk_idx)]
                    if a not in cl or cl.get(a) != cl.get(b):
                        return False
            return True

        self.op("dedup", dedup)
        self._mark("isolation_dedup")

        # the whole fused ingest into a store, then searches on it
        store = self.path("ledger", "store")
        self.ingest(warc, store)
        oracle = self.oracle(pages)
        self.op("ingest_check", lambda: self.stored_chunks_ok(store, oracle))
        picks = gen.zipf_picks(self.seed, sorted(oracle), LEDGER_SEARCHES, tag="ledger")
        for n, coll in enumerate(picks):
            text = gen.query_text(self.seed, -3 - n)
            self.op("search", lambda: self.search_ok(self.search(store, coll, text), oracle[coll], text))
        self._mark("ingest_search")

        roots = {k: self.path("ledger", k) for k in LAYOUTS}
        docs_df = ck.select(F.col("vec_id").alias("doc_id"), F.col("chunk_text").alias("text"))
        vecs_df = ck.select("vec_id", "embedding")
        with T.span("similarity.index_build", write_roots=(roots["index"],)):
            SIM.build_postings_index_versioned(docs_df, roots["index"])
        with T.span("similarity.ann_build", write_roots=(roots["ann"],)):
            SIM.write_ann_store_versioned(vecs_df, roots["ann"], quantized=True)
        with T.span("pq.build", write_roots=(roots["pq"],)):
            PQ.write_ivfpq_store(vecs_df, roots["pq"], n_cells=16, m=8)
        with T.span("dedup.band_build", write_roots=(roots["band"],)):
            DD.write_band_store(docs_df, roots["band"])
        self._mark("builds")

        live = sorted(vec_of)
        self.probes(roots, live, vec_of, {r.vec_id: r.chunk_text for r in rows}, ck)
        self._mark("probes_recall")
        self.novelty(roots["band"], pages, docs_df)
        self._mark("novelty")
        self.detail["ledger_chunks"] = len(live)

    def _mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.detail[f"ledger_{phase}_s"] = round(now - self._t, 3)
        self._t = now

    def probes(self, roots, live, vec_of, text_of, ck) -> None:
        T, spark = self.tracer, self.spark
        rng = random.Random(f"probe|{self.seed}")
        ann = SIM.AnnStore.open(spark, SIM.resolve_version_dir(roots["ann"]))
        ivf = PQ.IvfPqStore(spark, roots["pq"])
        mat = np.stack([vec_of[i] for i in live])
        sample = rng.sample(live, LEDGER_PROBES)
        first = sample[0]
        for qid in sample:
            # a stored vector is its own nearest neighbour (score 1)
            qv = [float(x) for x in vec_of[qid]]
            with T.span("similarity.ann_probe"):
                got = ann.probe_quantized(qv, K).collect()
            self.op("ann_probe", lambda: bool(got) and got[0].score == 1.0)
            with T.span("pq.probe"):
                got = ivf.probe(qv, K).collect()
            self.op("pq_probe", lambda: bool(got) and got[0].score == 1.0)
            if qid != first:
                continue
            # rows each probe re-ranks: those sharing an LSH table bucket,
            # and the ADC shortlist
            cond = SIM.multi_table_sign_condition(
                F.col("embedding"), F.array(*[F.lit(x) for x in qv]), ann.bits, ann.n_tables
            )
            ann_frac = ck.filter(cond).count() / len(live)
            pq_frac = ivf.adc_candidates(qv).count() / len(live)
            # the exact path equals brute_force_topk
            bf = [
                (r.score, r.vec_id)
                for r in SIM.brute_force_topk(ck, F.array(*[F.lit(x) for x in qv]), K).collect()
            ]
            exact = gen.exact_topk(live, mat, vec_of[qid], len(live))
            self.op("brute_force", lambda: gen.topk_matches(bf, exact, K))
        for qid in sample:
            # three words of a stored chunk: every hit must hold one of them
            words = rng.sample(sorted(set(_terms(text_of[qid]))), 3)
            qdf = spark.createDataFrame([(1, " ".join(words))], "query_id int, query_text string")
            with T.span("similarity.bm25_probe"):
                res = SIM.bm25_rank_batch_indexed(spark, qdf, SIM.resolve_version_dir(roots["index"])).collect()
            self.op(
                "bm25_probe",
                lambda: bool(res) and all(
                    set(words) & set(_terms(text_of[r.doc_id])) for r in res
                ),
            )
        self._mark("probes_single")
        self.metric("similarity.ann_probe.cand_frac", ann_frac, "ratio")
        self.metric("pq.probe.cand_frac", pq_frac, "ratio")

        # recall@5 of the approximate paths over a seeded query sample
        qs = rng.sample(live, RECALL_QUERIES)
        qdf = spark.createDataFrame(
            [(n, [float(x) for x in vec_of[q]]) for n, q in enumerate(qs)],
            "query_id int, qvec array<double>",
        )
        truth = {n: {i for _, i in gen.exact_topk(live, mat, vec_of[q], K)} for n, q in enumerate(qs)}
        for name, df in (
            ("similarity.ann_probe.recall_at_5", ann.probe_batch_quantized(qdf, k=K)),
            ("pq.probe.recall_at_5", ivf.probe_batch(qdf, k=K)),
        ):
            hits = sum(1 for r in df.collect() if r[ann.id_col] in truth[r.query_id])
            self.metric(name, hits / (K * len(qs)), "ratio")

    def novelty(self, band_root: str, pages, at_rest) -> None:
        """One CDC micro-batch (new and re-crawled pages plus near copies
        of live ones) through the streaming novelty gate into the band
        store, then its vacuum. The gate must admit exactly what the
        engine's from-corpus ``novelty_gate`` admits against the same
        at-rest set, and no exact copy of an at-rest chunk."""
        spark = self.spark
        (batch,) = gen.make_cdc_batches(self.seed, pages, 1, CDC_PAGES, "ledger")
        offered = [c for p in batch.new + batch.replaced + batch.near_dups for c in gen.page_chunks(p)]
        src, out = self.path("cdc", "src"), self.path("cdc", "novel")
        _drop_batch(src, [gen.chunk_id(c) for c in offered], [c.text for c in offered])
        with self.tracer.span("streaming.novelty_fold", write_roots=(band_root,)):
            SP.run_novelty_stream(
                spark.readStream.schema("doc_id bigint, text string").parquet(src),
                band_root, out, self.path("cdc", "ck"), max_segments=MAX_SEGMENTS,
            ).awaitTermination()
            DD.vacuum_band_store(band_root)
        bout = os.path.join(out, "batch_id=0")
        got = set(pq.read_table(bout, columns=["doc_id"]).column(0).to_pylist()) if os.path.isdir(bout) else set()
        batch_df = spark.createDataFrame(
            [(gen.chunk_id(c), c.text) for c in offered], "doc_id bigint, text string"
        )
        want = {r.doc_id for r in DD.novelty_gate(batch_df, at_rest, "text", "doc_id").collect()}
        live_texts = {r.text for r in at_rest.select("text").collect()}
        copies = {gen.chunk_id(c) for c in offered if c.text in live_texts}
        self.op("novelty_gate", lambda: got == want and not got & copies)
        self.metric("dedup.novelty.admit_ratio", len(got) / max(len(offered), 1), "ratio")

    # ------------------------------------------------------------ results
    def metric(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def span_metrics(self) -> None:
        for name in SPANS:
            spans = self.tracer.by_name(name)
            if not spans:
                continue
            self.metric(f"{name}.ms", median(s.ms for s in spans), "ms")
            self.metric(f"{name}.jobs", median(s.jobs for s in spans), "count")
            self.metric(f"{name}.driver_ms", median(s.driver_ms for s in spans), "ms")
            if name in WORK_SPANS:
                self.metric(f"{name}.cpu_s", median(s.cpu_s for s in spans), "s")
                self.metric(f"{name}.shuffle_mb", median(s.shuffle_mb for s in spans), "MB")
            if name in WRITE_SPANS:
                self.metric(f"{name}.mb_written", median(s.mb_written for s in spans), "MB")
                self.metric(f"{name}.files_written", median(s.files_written for s in spans), "count")
            if name in BUILD_SPANS + FOLD_SPANS:
                self.metric(f"{name}.spill_mb", median(s.spill_mb for s in spans), "MB")
        self.metric("trace.overhead_ms", self.tracer.overhead_ms(), "ms")


def _drop_batch(src_dir: str, doc_ids: list[int], texts: list[str]) -> None:
    """Write one micro-batch as a single parquet file into a stream
    source directory; the rename makes it appear whole."""
    import pyarrow as pa

    table = pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts, pa.string())})
    os.makedirs(src_dir, exist_ok=True)
    dst = os.path.join(src_dir, "batch-0000.parquet")
    pq.write_table(table, dst + ".tmp")
    os.replace(dst + ".tmp", dst)
