"""Query-facade tests: the reference's Q-module surface over the store."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from data_ingestion_spark.plans.ingestion import ingestion_pipeline
from data_ingestion_spark.query_api import EngineQuery
from data_ingestion_spark.sources.sinks import ParquetVectorStore


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qstore"))
    store = ParquetVectorStore(spark, path)
    store.upsert(ingestion_pipeline(spark, SF_SMALL))
    return EngineQuery(spark, store, embed_dim=8)


def test_catalog_surface(engine):
    cols = engine.list_collections()
    assert len(cols) > 50
    n = engine.get_record_count(cols[0])
    assert n > 0
    top = engine.get_top_records(cols[0], limit=3).collect()
    assert 0 < len(top) <= 3
    # sample is deterministic across calls
    s1 = [r.chunk_text for r in engine.get_sample_records(cols[0], 5).collect()]
    s2 = [r.chunk_text for r in engine.get_sample_records(cols[0], 5).collect()]
    assert s1 == s2


def test_similarity_and_rag(engine):
    col = engine.list_collections()[0]
    hits = engine.similarity_search(col, "spark filter join", k=3).collect()
    assert len(hits) == 3
    assert all(-1.0 <= r.score <= 1.0 for r in hits)
    assert hits[0].score >= hits[1].score >= hits[2].score

    # self-retrieval sanity: querying with an ingested chunk's exact
    # text must return that chunk at rank 1 (embedding is a pure
    # function of text)
    probe = hits[0].chunk_text
    again = engine.similarity_search(col, probe, k=1).collect()[0]
    assert again.chunk_text == probe and again.score == 1.0

    ctx = engine.rag_context(col, "spark filter join", k=2)
    assert len(ctx) > 0
    prompt = engine.rag_query(col, "what is spark?")
    assert prompt.startswith("Answer based on the context")
    answer = engine.rag_query(col, "what is spark?", llm=lambda p: f"LLM({len(p)})")
    assert answer.startswith("LLM(")


def _jobs_submitted(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs: the difference of the
    next job id in the status store, so jobs from any thread count."""
    sc = spark.sparkContext._jsc.sc()

    def next_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0

    before = next_id()
    fn()
    return next_id() - before


def test_search_and_count_job_budget(spark, engine):
    """A search is one Spark job (no schema inference, no query-row
    plan); a record count reads parquet footers and submits none."""
    col = engine.list_collections()[0]
    assert _jobs_submitted(spark, lambda: engine.similarity_search(col, "spark join", k=3).collect()) == 1
    assert _jobs_submitted(spark, lambda: engine.get_record_count(col)) == 0


def test_embed_text_equals_sql_embedding(spark):
    """The driver-side query embedding equals the SQL document
    embedding element for element as float32."""
    from data_ingestion_spark.functions.embedding import embed_deterministic, embed_text

    texts = ["spark filter join", "", "café résumé", "日本語の検索", "rocket 🚀 emoji", "x" * 3000]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    for dim in (8, 64):
        rows = df.select("t", embed_deterministic(F.col("t"), dim).alias("e")).collect()
        for r in rows:
            got = np.asarray(embed_text(r.t, dim), dtype=np.float32)
            assert got.tobytes() == np.asarray(r.e, dtype=np.float32).tobytes(), (dim, r.t[:20])


def test_similarity_search_matches_cross_join_plan(spark, engine):
    """Rows and scores equal the plan that embedded the query in SQL
    and cross-joined it onto the whole-root read, bit for bit, including
    an exact stored chunk at score 1.0."""
    from data_ingestion_spark.functions.embedding import embed_deterministic
    from data_ingestion_spark.functions.similarity import cosine

    col = engine.list_collections()[0]
    chunks = spark.read.parquet(engine.store.path).filter(F.col("index_name") == col)
    ids = engine._ids(chunks)

    def reference(query: str, k: int):
        qrow = spark.createDataFrame([(query,)], "q string").select(
            embed_deterministic(F.col("q"), engine.embed_dim).alias("qv")
        )
        return (
            chunks.crossJoin(F.broadcast(qrow))
            .withColumn("score", F.round(cosine(F.col("embedding"), F.col("qv")), 6))
            .orderBy(F.col("score").desc(), *ids)
            .limit(k)
            .select(*ids, "chunk_text", "score")
            .collect()
        )

    stored = engine.get_top_records(col, limit=1).collect()[0].chunk_text
    for query in ["spark filter join", "", "naïve 検索 🚀", stored, "long " * 600]:
        got = engine.similarity_search(col, query, k=5).collect()
        assert got == reference(query, 5), query[:20]
    assert engine.similarity_search(col, stored, k=1).collect()[0].score == 1.0


def test_delete_index(engine):
    col = engine.list_collections()[-1]
    engine.delete_index(col)
    assert col not in engine.list_collections()


def test_search_by_vector(engine):
    col = engine.list_collections()[0]
    hits = engine.search_by_vector(col, [0.1] * 8, k=4).collect()
    assert len(hits) == 4


def test_missing_collection_raises(engine):
    import pytest as _pytest

    with _pytest.raises(KeyError, match="does not exist"):
        engine.get_record_count("no_such_collection")
    with _pytest.raises(KeyError):
        engine.similarity_search("no_such_collection", "q", k=1)


def test_bm25_rank_semantics_and_plan(spark):
    """BM25: a doc saturated with query terms outranks a partial
    match, which outranks a non-match (absent entirely); rare terms
    outweigh common ones; plan is TakeOrderedAndProject over a
    broadcast stats row — no wide exchange."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.similarity import bm25_rank

    rows = [
        (0, "spark vector spark vector index"),      # both terms, twice
        (1, "spark table join group by order"),      # common term only
        (2, "vector index probe recall"),            # rare term only
        (3, "table join group order filter scan"),   # neither
        (4, "spark table scan"),
        (5, "table scan filter"),
        (6, "table scan group"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_rank(df, ["spark", "vector"], topk=7)
    ranked = [r.doc_id for r in out.collect()]
    assert ranked[0] == 0                      # saturated doc first
    assert ranked.index(2) < ranked.index(1)   # rare 'vector' (df=2) beats common 'spark' (df=3)
    assert set(ranked[-3:]) == {3, 5, 6}       # non-matches last (score 0)
    scores = {r.doc_id: r.score for r in out.collect()}
    assert scores[3] == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_bm25_rank_query_normalization(spark):
    """Query terms go through the document tokenizer: 'Spark' matches
    'spark' tokens instead of silently scoring zero, 'u.s.a' splits
    into u/s/a, and duplicate terms after normalization count once."""
    from data_ingestion_spark.functions.similarity import bm25_rank

    rows = [
        (0, "spark vector spark"),
        (1, "u s a travel guide"),
        (2, "nothing relevant here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cased = {r.doc_id: r.score for r in bm25_rank(df, ["Spark"], topk=3).collect()}
    plain = {r.doc_id: r.score for r in bm25_rank(df, ["spark"], topk=3).collect()}
    assert cased == plain and cased[0] > 0.0
    usa = {r.doc_id: r.score for r in bm25_rank(df, ["u.s.a"], topk=3).collect()}
    assert usa[1] > 0.0 and usa[2] == 0.0
    # duplicated-after-normalization terms don't double a doc's score
    dup = {r.doc_id: r.score for r in bm25_rank(df, ["Spark", "spark!"], topk=3).collect()}
    assert dup == plain


def test_bm25_rank_batch_matches_literal_form(spark):
    """The inverted-index batch form must agree with the literal form
    per query: same scores (to the 1e-6 micro grid) and same ranking
    over the docs that match ≥1 term (the batch form omits
    zero-score non-matches by design)."""
    from data_ingestion_spark.functions.similarity import bm25_rank, bm25_rank_batch

    rows = [
        (0, "spark vector spark vector index"),
        (1, "spark table join group by order"),
        (2, "vector index probe recall"),
        (3, "table join group order filter scan"),
        (4, "spark table scan"),
        (5, "table scan filter"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(1, "Spark vector"), (2, "table SCAN")], "query_id int, query_text string"
    )
    got = bm25_rank_batch(qdf, docs, topk=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.doc_id] = (r.score, r.rank)
    for qid, terms in [(1, ["Spark", "vector"]), (2, ["table", "SCAN"])]:
        lit = {r.doc_id: r.score for r in bm25_rank(docs, terms, topk=10).collect()}
        matches = {d: s for d, s in lit.items() if s > 0.0}
        assert set(by_q[qid]) == set(matches)
        for d, s in matches.items():
            assert abs(by_q[qid][d][0] - s) < 2e-6, (qid, d)
        # ranking agrees: order by literal score desc, id asc
        want_order = [d for d, _ in sorted(matches.items(), key=lambda kv: (-kv[1], kv[0]))]
        got_order = [d for d, _ in sorted(by_q[qid].items(), key=lambda kv: kv[1][1])]
        assert got_order == want_order


def test_rrf_fuse_semantics(spark):
    """RRF: a doc in both lists beats single-list docs of comparable
    rank; disjoint ids survive the full outer; k dampens rank gaps."""
    from data_ingestion_spark.functions.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2), (5, 3)], "doc_id long, rank int")
    out = {r.doc_id: r.rrf_score for r in rrf_fuse(a, b, topk=5).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[2] == max(out.values())          # both lists -> top
    assert abs(out[2] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert out[1] == round(1 / 61, 6)           # a-only, rank 1


def test_rrf_fuse_grouped_batch(spark):
    """group_cols: each query fuses independently — a doc in both
    lists for q1 but only one list for q2 scores accordingly, and
    topk cuts per group."""
    from data_ingestion_spark.functions.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)], "query_id int, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 10, 2), (2, 21, 1), (2, 20, 3)], "query_id int, doc_id long, rank int"
    )
    out = rrf_fuse(a, b, topk=2, group_cols=("query_id",)).collect()
    got = {(r.query_id, r.doc_id): r.rrf_score for r in out}
    assert got[(1, 10)] == round(1 / 61 + 1 / 62, 6)   # both lists, q1
    assert got[(1, 11)] == round(1 / 62, 6)            # a-only, q1
    assert got[(2, 20)] == round(1 / 61 + 1 / 63, 6)   # both lists, q2
    assert got[(2, 21)] == round(1 / 61, 6)
    # per-group cut: q2 has exactly 2 rows, none leaked across groups
    assert sum(1 for (q, _) in got if q == 2) == 2
