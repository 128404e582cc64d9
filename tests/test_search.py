"""Search correctness: the 5-doc planted-keyword fixture (the reference's
`experiments/unit_test_precision.py`) plus numpy-oracle agreement of both
physical top-k strategies."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_vector_search_system_spark.functions.hashing import stable_hash64_py
from semantic_vector_search_system_spark.operators.encode import (
    HashingEncoder,
    HashingEncoderFast,
)
from semantic_vector_search_system_spark.operators.search import (
    topk_bruteforce,
    topk_bruteforce_expr,
)

DIM = 128

# Mirrors reference unit_test_precision.py:7-10 — planted unique keywords.
DOCS = [
    ("d1", "alpha beta gamma keyword_3 delta"),
    ("d2", "epsilon zeta eta theta"),
    ("d3", "iota kappa keyword_5 lambda"),
    ("d4", "mu nu xi omicron pi"),
    ("d5", "rho sigma tau upsilon"),
]
QUERIES = [("q1", "keyword_3"), ("q2", "keyword_5 kappa")]
EXPECTED_TOP1 = {"q1": "d1", "q2": "d3"}


@pytest.fixture(scope="module")
def fixture_vecs(spark):
    docs = spark.createDataFrame(DOCS, "id string, text string")
    queries = spark.createDataFrame(QUERIES, "id string, text string")
    enc = HashingEncoder(dim=DIM)
    dvec = enc.encode(docs).select(F.col("id").alias("docid"), "vec")
    qvec = enc.encode(queries).select(F.col("id").alias("qid"), F.col("vec").alias("qvec"))
    return qvec, dvec


def test_planted_keyword_retrieval(spark, fixture_vecs):
    qvec, dvec = fixture_vecs
    top = topk_bruteforce_expr(qvec, dvec, k=3)
    top1 = {r["qid"]: r["docid"] for r in top.filter("rank = 1").collect()}
    assert top1 == EXPECTED_TOP1


def test_physical_strategies_agree(spark, fixture_vecs):
    qvec, dvec = fixture_vecs
    a = topk_bruteforce_expr(qvec, dvec, k=5)
    b = topk_bruteforce(qvec, dvec, k=5)
    ra = sorted((r["qid"], r["docid"], r["rank"]) for r in a.collect())
    rb = sorted((r["qid"], r["docid"], r["rank"]) for r in b.collect())
    assert ra == rb


def test_broadcast_index_mode_matches_distributed(spark, fixture_vecs):
    """The serving-shape path (index collected+broadcast once, each search a
    no-input-scan task) must produce the exact distributed result, in both
    score dtypes, and must refuse to run without a collected index."""
    import pytest

    from semantic_vector_search_system_spark.operators.search import (
        collect_doc_matrix,
        collect_query_matrix,
    )

    qvec, dvec = fixture_vecs
    qm = collect_query_matrix(qvec)
    dm = collect_doc_matrix(dvec)
    a = topk_bruteforce(qvec, dvec, k=4)
    ra = sorted((r["qid"], r["docid"], r["rank"]) for r in a.collect())
    for dt in ("float64", "float32"):
        b = topk_bruteforce(
            qvec, dvec, k=4, precollected=qm, mode="broadcast_index",
            predocs=dm, score_dtype=dt,
        )
        rb = sorted((r["qid"], r["docid"], r["rank"]) for r in b.collect())
        assert ra == rb, dt
    with pytest.raises(ValueError, match="predocs"):
        topk_bruteforce(qvec, dvec, k=4, precollected=qm, mode="broadcast_index")
    with pytest.raises(ValueError, match="max_rows"):
        collect_doc_matrix(dvec, max_rows=2)


def test_float32_scoring_matches_float64_topk(spark, fixture_vecs):
    """float32 scoring (reference-parity arithmetic) must rank the same
    docs as float64 scoring on the fixture corpus."""
    qvec, dvec = fixture_vecs
    a = topk_bruteforce(qvec, dvec, k=4)
    c = topk_bruteforce(qvec, dvec, k=4, score_dtype="float32")
    ra = sorted((r["qid"], r["docid"], r["rank"]) for r in a.collect())
    rc = sorted((r["qid"], r["docid"], r["rank"]) for r in c.collect())
    assert ra == rc


def test_distributed_matches_expr_long_ids_multibatch(spark):
    """The distributed partial top-k merged across many Arrow batches
    (maxRecordsPerBatch=100) equals the declarative form with numeric ids
    and cosine scoring."""
    n = 5000
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    d = emb.select(F.col("vec_id").alias("docid"), F.col("embedding").alias("vec"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        a = topk_bruteforce(q, d, k=7, metric="cosine")
        b = topk_bruteforce_expr(q, d, k=7, metric="cosine")
        ra = sorted((r["qid"], r["docid"], r["rank"]) for r in a.collect())
        rb = sorted((r["qid"], r["docid"], r["rank"]) for r in b.collect())
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert ra == rb


def test_against_numpy_oracle(spark, fixture_vecs):
    """Exact agreement with a numpy re-implementation of the reference's
    offline_search (`auto_run_tests.py:119-145`)."""
    qvec, dvec = fixture_vecs
    drows = sorted(dvec.collect(), key=lambda r: r["docid"])
    qrows = sorted(qvec.collect(), key=lambda r: r["qid"])
    D = np.array([r["vec"] for r in drows], dtype=np.float64)
    ids = [r["docid"] for r in drows]
    expected = {}
    for qr in qrows:
        scores = D @ np.array(qr["qvec"], dtype=np.float64)
        order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))[:3]
        expected[qr["qid"]] = [ids[i] for i in order]
    got = {}
    for r in topk_bruteforce(qvec, dvec, k=3).collect():
        got.setdefault(r["qid"], [None] * 3)[r["rank"] - 1] = r["docid"]
    assert got == expected


def test_hybrid_predicate_filters_before_scoring(spark, fixture_vecs):
    qvec, _ = fixture_vecs
    docs = spark.createDataFrame(
        [(i, t, "sports" if i in ("d1", "d3") else "news") for i, t in DOCS],
        "id string, text string, category string",
    )
    dvec = HashingEncoder(dim=DIM).encode(docs).select(
        F.col("id").alias("docid"), "vec", "category"
    )
    top = topk_bruteforce(
        qvec, dvec, k=5, predicate=F.col("category") == "sports"
    )
    assert set(r["docid"] for r in top.collect()) <= {"d1", "d3"}


def test_hashing_encoder_matches_python_reference(spark):
    """Bucket semantics: stable_hash64(token) % dim counts, L2-normalized."""
    docs = spark.createDataFrame(DOCS, "id string, text string")
    for enc in (HashingEncoder(dim=DIM), HashingEncoderFast(dim=DIM)):
        got = {r["id"]: np.array(r["vec"]) for r in enc.encode(docs).collect()}
        for did, text in DOCS:
            v = np.zeros(DIM)
            for tok in text.split():
                v[stable_hash64_py(tok) % DIM] += 1.0
            v = v / np.linalg.norm(v)
            assert np.allclose(got[did], v, atol=1e-6), did


def test_empty_queries_returns_typed_empty(spark):
    d = spark.createDataFrame([(1, [1.0, 0.0])], "docid long, vec array<float>")
    q = spark.createDataFrame([], "qid long, qvec array<float>")
    out = topk_bruteforce(q, d, k=3)
    assert out.count() == 0
    assert dict(out.dtypes)["qid"] == "bigint"  # not hardcoded string


def test_k_larger_than_corpus(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "docid long, vec array<float>"
    )
    q = spark.createDataFrame([(9, [1.0, 1.0])], "qid long, qvec array<float>")
    rows = topk_bruteforce(q, d, k=10).collect()
    assert len(rows) == 2  # all docs returned, ranks 1..2
    assert sorted(r["rank"] for r in rows) == [1, 2]


def test_empty_docs_empty_result(spark):
    d = spark.createDataFrame([], "docid long, vec array<float>")
    q = spark.createDataFrame([(9, [1.0, 1.0])], "qid long, qvec array<float>")
    assert topk_bruteforce(q, d, k=3).count() == 0


def test_cosine_self_join_empty_relation(spark):
    from semantic_vector_search_system_spark.operators.similarity import cosine_self_join

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_self_join(emb, threshold=0.5).count() == 0


# ---------------------------------------------------------------------------
# JVM bounded-heap top-k Aggregator (jvm/src/TopKAggregator.scala)
# ---------------------------------------------------------------------------


def _heap_spark(spark):
    from semantic_vector_search_system_spark.operators.search import (
        topk_heap_available,
    )

    if not topk_heap_available(spark):
        pytest.skip("sivbp-topk.jar not available in this session")
    return spark


def test_heap_ranker_rejects_non_integral_non_string_ids(spark):
    """A double id would silently fall into the string aggregator where ties
    break lexicographically — must raise instead."""
    from semantic_vector_search_system_spark.operators.search import rank_topk_heap

    scored = spark.range(0, 10).select(
        F.lit(0).alias("qid"),
        F.col("id").cast("double").alias("score"),
        (F.col("id").cast("double") / 2).alias("docid"),
    )
    with pytest.raises(TypeError, match="integral or string"):
        rank_topk_heap(scored, 3, "qid", "docid")


def test_heap_ranker_matches_window_string_ids(spark):
    from semantic_vector_search_system_spark.operators.search import (
        _rank_topk,
        rank_topk_heap,
    )

    _heap_spark(spark)
    scored = spark.range(0, 5000).select(
        (F.col("id") % 13).alias("qid"),
        (F.pmod(F.hash(F.col("id").cast("string")), F.lit(997)) / 10.0).alias("score"),
        F.concat(F.lit("d"), F.col("id")).alias("docid"),
    )
    want = sorted(
        (r["qid"], r["rank"], r["docid"], round(r["score"], 9))
        for r in _rank_topk(scored, 7, "qid", "docid").collect()
    )
    got = sorted(
        (r["qid"], r["rank"], r["docid"], round(r["score"], 9))
        for r in rank_topk_heap(scored, 7, "qid", "docid").collect()
    )
    assert got == want


def test_heap_ranker_matches_window_long_ids_with_score_ties(spark):
    """Numeric tie-break: scores collide (id % 5) so ordering must fall back
    to NUMERIC docid asc — a lexicographic compare would rank 10 before 9."""
    from semantic_vector_search_system_spark.operators.search import (
        _rank_topk,
        rank_topk_heap,
    )

    _heap_spark(spark)
    scored = spark.range(0, 300).select(
        (F.col("id") % 3).alias("qid"),
        (F.col("id") % 5).cast("double").alias("score"),
        F.col("id").alias("docid"),
    )
    want = sorted(
        (r["qid"], r["rank"], r["docid"]) for r in _rank_topk(scored, 9, "qid", "docid").collect()
    )
    got = sorted(
        (r["qid"], r["rank"], r["docid"])
        for r in rank_topk_heap(scored, 9, "qid", "docid").collect()
    )
    assert got == want
    assert dict(rank_topk_heap(scored, 9, "qid", "docid").dtypes)["docid"] == "bigint"


def test_heap_ranker_partial_aggregate_before_shuffle(spark):
    """The point of the Aggregator: plan shows a partial ObjectHashAggregate
    on the map side, so only k rows per (partition, group) cross the
    exchange — the window ranker shuffles every candidate row."""
    from semantic_vector_search_system_spark.operators.search import rank_topk_heap

    _heap_spark(spark)
    scored = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("qid"),
        F.col("id").cast("double").alias("score"),
        F.col("id").alias("docid"),
    )
    out = rank_topk_heap(scored, 5, "qid", "docid")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_sivbp_topk_heap" in plan, plan[:3000]
    assert plan.index("partial_sivbp_topk_heap") > plan.index("Exchange")


def test_topk_bruteforce_heap_ranker_agrees(spark, fixture_vecs):
    _heap_spark(spark)
    qvec, dvec = fixture_vecs
    a = topk_bruteforce(qvec, dvec, k=4)
    b = topk_bruteforce(qvec, dvec, k=4, ranker="heap")
    ra = sorted((r["qid"], r["docid"], r["rank"], round(r["score"], 9)) for r in a.collect())
    rb = sorted((r["qid"], r["docid"], r["rank"], round(r["score"], 9)) for r in b.collect())
    assert ra == rb


@pytest.mark.parametrize(
    "knob, bad",
    [
        ("semdedup.keep", "fa"),
        ("topk_bruteforce.mode", "distributd"),
        ("topk_bruteforce.ranker", "windw"),
        ("ivf_search_partitioned.strategy", "broadcst"),
    ],
)
def test_unknown_knob_value_raises(spark, fixture_vecs, knob, bad):
    """A typo in a physical-face knob raises naming the allowed values
    instead of silently running some other face — including
    ivf_search_partitioned's strategy on the precollected-queries path."""
    from semantic_vector_search_system_spark.operators.similarity import (
        ivf_search_partitioned,
        semdedup,
    )

    qvec, dvec = fixture_vecs
    cents = dvec.selectExpr("docid AS cent_id", "vec AS cvec")
    calls = {
        "semdedup.keep": (
            lambda: semdedup(dvec, cents, id_col="docid", vec_col="vec", keep=bad),
            "far|min_id",
        ),
        "topk_bruteforce.mode": (
            lambda: topk_bruteforce(qvec, dvec, k=2, mode=bad),
            "distributed|broadcast_index",
        ),
        "topk_bruteforce.ranker": (
            lambda: topk_bruteforce(qvec, dvec, k=2, ranker=bad),
            "window|heap",
        ),
        "ivf_search_partitioned.strategy": (
            lambda: ivf_search_partitioned(
                spark, "/nonexistent-index", cents, qvec, strategy=bad,
                precollected_queries=[("q1", [0.0] * DIM)],
            ),
            "auto|broadcast|cogroup",
        ),
    }
    call, allowed = calls[knob]
    with pytest.raises(ValueError, match=re.escape(f"{bad!r} ({allowed})")):
        call()
