"""Exact top-k dense-vector search (SURVEY §2.3 J1, §2.5 W1–W3).

The reference's core operation: every query vector scored against every doc
vector (chunked ``mat.dot(q)`` + bounded heap, `auto_run_tests.py:119-145`),
optionally pre-filtered by a metadata predicate ("hybrid" mode,
`run_experiments.py:171-188`).

Spark-first formulation — two physical strategies for one logical plan:

* :func:`topk_bruteforce_expr` — declarative: ``broadcast(queries)`` cross
  join -> float64 dot product (``zip_with``/``aggregate``) -> per-query
  window top-k. Catalyst picks BroadcastNestedLoopJoin; the window is the
  only shuffle (keyed by qid). This is the oracle-matched reference path.

* :func:`topk_bruteforce` — the throughput path: queries are collected to a
  numpy matrix (queries are small by construction — the reference samples
  <=200), broadcast to executors, and each Arrow batch of doc vectors is
  scored with one BLAS matmul inside ``mapInPandas``; per-partition partial
  top-k (np.argpartition, exactly the reference's chunk-local partial
  selection) keeps shuffle output at ``O(n_partitions * n_queries * k)``
  rows, then a global window finishes the merge. At 100 TB this is a single
  scan stage + a tiny shuffle — the distributed generalization of the
  reference's chunked heap merge.

Determinism: ties broken by ascending doc id (the reference's heap order is
tie-unspecified; we pin it — FIXTURES.md golden expectation #3).
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    cosine_similarity,
    dot_product,
    normalize_rows,
    topn_sel,
)

#: The Scala bounded-heap top-k Aggregator (source: jvm/src/TopKAggregator.scala,
#: rebuild with scripts/build_topk_jar.sh).
TOPK_JAR = Path(__file__).resolve().parents[2] / "jvm" / "sivbp-topk.jar"


def _rank_topk(scored: DataFrame, k: int, qid_col: str, id_col: str) -> DataFrame:
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def register_topk_heap(
    spark: SparkSession, k: int, id_kind: str = "string", name: str | None = None
) -> str:
    """Register the JVM bounded-heap top-k UDAF and return its SQL name.

    Tries direct py4j access first (jar already on the driver classpath); falls
    back to ``ADD JAR`` + reflective invocation through the session's jar
    classloader, which works on a SparkSession launched without any knowledge
    of this package. ``id_kind`` selects the tie-break comparison for the doc
    id argument: ``'string'`` (lexicographic) or ``'long'`` (numeric) —
    matching ``_rank_topk``'s ``F.asc(id_col)`` on the native column type.
    """
    if id_kind not in ("string", "long"):
        raise ValueError(f"id_kind must be 'string' or 'long', got {id_kind!r}")
    method = "register" if id_kind == "string" else "registerLong"
    name = name or f"sivbp_topk_heap_{id_kind}_{k}"
    try:
        getattr(spark._jvm.sivbp.spark.topk.TopK, method)(
            spark._jsparkSession, name, k
        )
        return name
    except Exception as exc:
        # Only a missing class means "jar not on the driver classpath, ship
        # it at runtime below"; anything else (broken jar, Spark-version
        # incompatibility) must surface, not degrade into a silent skip.
        msg = str(exc)
        if not (
            isinstance(exc, (TypeError, AttributeError))
            or "ClassNotFoundException" in msg
            or "NoClassDefFoundError" in msg
            or "does not exist in the JVM" in msg
        ):
            raise
    if not TOPK_JAR.exists():
        raise RuntimeError(
            f"{TOPK_JAR} missing — run scripts/build_topk_jar.sh first"
        )
    spark.sql(f"ADD JAR '{TOPK_JAR}'")
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = spark._jsparkSession.sharedState().jarClassLoader().loadClass(
        "sivbp.spark.topk.TopK$"
    )
    module = cls.getField("MODULE$").get(None)
    ptypes = gw.new_array(jvm.java.lang.Class, 3)
    ptypes[0] = jvm.java.lang.Class.forName("org.apache.spark.sql.SparkSession")
    ptypes[1] = jvm.java.lang.Class.forName("java.lang.String")
    ptypes[2] = jvm.java.lang.Integer.TYPE
    m = cls.getMethod(method, ptypes)
    pargs = gw.new_array(jvm.java.lang.Object, 3)
    pargs[0] = spark._jsparkSession
    pargs[1] = name
    pargs[2] = jvm.java.lang.Integer(k)
    m.invoke(module, pargs)
    return name


def topk_heap_available(spark: SparkSession) -> bool:
    """True when the JVM bounded-heap aggregator can be registered.

    A failed probe is reported (stderr) with the underlying cause so a
    broken jar or Spark-version incompatibility is diagnosable rather than
    surfacing only as silently-skipped tests."""
    import sys

    try:
        register_topk_heap(spark, 1, name="sivbp_topk_heap_probe")
        return True
    except Exception as exc:
        print(
            f"topk_heap_available: registration failed: {type(exc).__name__}: {exc}",
            file=sys.stderr,
        )
        return False


def rank_topk_heap(
    scored: DataFrame, k: int, qid_col: str = "qid", id_col: str = "docid"
) -> DataFrame:
    """ObjectHashAggregate bounded-heap alternative to the window ranker.

    Same output as :func:`_rank_topk` (``qid, id, rank, score`` semantics) but
    physically a two-phase aggregate: per-partition partial top-k heaps before
    the exchange, so only ``k`` rows per (partition, group) cross the shuffle
    instead of every candidate row sorting inside the window operator.

    Trade-off (measured, BENCH_NOTES.md): the typed Aggregator deserializes
    every input row to a case class, so its per-row CPU cost is ~3x the
    codegen'd window sort's — on in-memory shuffle (one machine) the window
    ranker wins despite shuffling everything. Choose ``heap`` only when
    shuffle volume is the bottleneck (network-bound cluster, groups that
    spill); the better fix is usually a partial top-k (mapInPandas
    argpartition, as in :func:`topk_bruteforce`) ahead of either ranker.
    """
    id_type = dict(scored.dtypes)[id_col]
    if id_type in ("bigint", "int", "smallint", "tinyint"):
        id_kind = "long"
    elif id_type == "string":
        id_kind = "string"
    else:
        # A double/decimal/date id would be silently cast into the string
        # aggregator, where score ties break lexicographically ('10' < '9')
        # and diverge from _rank_topk's native F.asc ordering.
        raise TypeError(
            f"rank_topk_heap supports integral or string id columns; "
            f"{id_col!r} is {id_type} — cast it explicitly or use the "
            "window ranker"
        )
    fn = register_topk_heap(scored.sparkSession, k, id_kind=id_kind)
    hits = scored.groupBy(qid_col).agg(
        F.expr(f"{fn}(score, `{id_col}`)").alias("hits")
    )
    return hits.select(qid_col, F.posexplode("hits").alias("pos", "hit")).select(
        qid_col,
        F.col("hit.docid").cast(id_type).alias(id_col),
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("hit.score").alias("score"),
    )


def topk_bruteforce_expr(
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    metric: str = "dot",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "docid",
    vec_col: str = "vec",
    predicate: Column | None = None,
) -> DataFrame:
    """Declarative exact top-k: broadcast cross join + window.

    Returns ``(qid, docid, rank, score)`` with rank 1..k descending by score.
    ``predicate`` is the hybrid-mode metadata filter, applied to the doc side
    *before* scoring so Catalyst pushes it into the scan (SURVEY §2.2 P3).
    """
    doc_side = docs.filter(predicate) if predicate is not None else docs
    score = {
        "dot": dot_product(qvec_col, vec_col),
        "cosine": cosine_similarity(qvec_col, vec_col),
    }[metric]
    scored = (
        F.broadcast(queries.select(qid_col, qvec_col))
        .crossJoin(doc_side.select(id_col, vec_col))
        .withColumn("score", score)
    )
    return _rank_topk(scored, k, qid_col, id_col).select(qid_col, id_col, "rank", "score")


def collect_doc_matrix(
    docs: DataFrame,
    id_col: str = "docid",
    vec_col: str = "vec",
    max_rows: int = 2_000_000,
):
    """Collect a (small) doc-vector relation to ``(ids, D_float32)`` for
    :func:`topk_bruteforce` ``mode='broadcast_index'`` — the in-memory index
    the reference's search loop runs against (its memmap is float32,
    `auto_run_tests.py:119-127`). Guarded: this is ONLY for corpora that fit
    one machine; the distributed scan path is the default beyond that."""
    import numpy as np

    n = docs.count()
    if n > max_rows:
        raise ValueError(
            f"collect_doc_matrix: {n} rows > max_rows={max_rows}; "
            "use the distributed topk_bruteforce path for large corpora"
        )
    rows = docs.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])
    D = np.array([r[1] for r in rows], dtype=np.float32)
    return ids, D


def collect_query_matrix(
    queries: DataFrame,
    metric: str = "dot",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
):
    """Collect the (small) query side to ``(qids, Q)`` once, for reuse across
    search stages (coarse + rerank, or repeated timed runs): each
    :func:`topk_bruteforce` call otherwise pays its own collect job. For
    ``metric='cosine'`` rows are pre-normalized — pass the result only to
    calls with the same metric."""
    import numpy as np

    qrows = queries.select(qid_col, qvec_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    if metric == "cosine" and len(qrows):
        qmat = normalize_rows(qmat)
    return qids, qmat


def _threaded_matmul(D, Q):
    """Chunked ``D @ Q.T`` across a thread pool — BLAS is pinned to one
    thread per task (session.py), so the single-task ``broadcast_index``
    search mode re-parallelizes its one big matmul explicitly. GIL is
    released inside dgemm; chunking rows does not change each row's dot."""
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    nthreads = min(8, _os.cpu_count() or 1)
    if len(D) < 4096 or nthreads == 1:
        return D @ Q.T
    chunks = np.array_split(np.arange(len(D)), nthreads)
    with ThreadPoolExecutor(nthreads) as ex:
        outs = list(ex.map(lambda ix: D[ix] @ Q.T, chunks))
    return np.vstack(outs)


def topk_bruteforce(
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    metric: str = "dot",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "docid",
    vec_col: str = "vec",
    predicate: Column | None = None,
    precollected: tuple | None = None,
    ranker: str = "window",
    mode: str = "distributed",
    score_dtype: str = "float64",
    predocs: tuple | None = None,
) -> DataFrame:
    """BLAS-speed exact top-k: one matmul per Arrow batch + partial top-k.

    Physical shape (reference parity: chunked ``mat.dot(q)`` + argpartition,
    `auto_run_tests.py:123-138` — distributed across executors):

    1. collect query matrix Q (n_q <= a few thousand) -> spark broadcast
       (or reuse ``precollected`` from :func:`collect_query_matrix`)
    2. scan docs; per Arrow batch: ``S = D @ Q.T`` (float64), per-query
       partial top-k via ``np.argpartition`` (extended with every row tying
       the k-th score, so the later merge ranks EXACTLY like the window's
       (score desc, id asc) order even at tie boundaries)
    3. global merge of the ``n_partitions * n_q * k`` survivors —
       ``ranker='window'`` (row_number) or ``ranker='heap'`` (the JVM
       bounded-heap Aggregator, :func:`rank_topk_heap`).

    ``score_dtype='float32'`` scores in single precision — exact parity
    with the reference, whose memmap index is float32 and whose
    ``mat.dot(q)`` therefore runs in float32 (`auto_run_tests.py:123-138`).
    The stored ``array<float>`` column then stacks into the scoring
    matrix with no 2x-width convert-and-copy, and the matmul itself is
    ~2x cheaper. The float64 default is kept for every oracle-checked path
    so scores stay bit-comparable with DuckDB's double arithmetic.

    ``mode`` is ``'distributed'`` (the shape above) or
    ``'broadcast_index'``, the serving shape for indexes that fit in
    executor memory: the doc matrix is collected ONCE
    (:func:`collect_doc_matrix` — the analog of the reference loading its
    memmap index before the query loop, `auto_run_tests.py:119-127`),
    broadcast, and each search call is a single no-input-scan task scoring
    against the in-memory index. Per-call cost is pure search — no doc
    Arrow transfer — matching how the reference (and any vector-serving
    system) amortizes index load across queries. Guarded by
    ``collect_doc_matrix``'s row cap; large corpora use the distributed
    scan mode.
    """
    import numpy as np
    import pandas as pd

    if mode not in ("distributed", "broadcast_index"):
        raise ValueError(
            f"topk_bruteforce: unknown mode {mode!r} (distributed|broadcast_index)"
        )
    if ranker not in ("window", "heap"):
        raise ValueError(f"topk_bruteforce: unknown ranker {ranker!r} (window|heap)")
    np_dt = {"float64": np.float64, "float32": np.float32}[score_dtype]
    doc_side = docs.filter(predicate) if predicate is not None else docs
    qids, qmat = (
        precollected
        if precollected is not None
        else collect_query_matrix(queries, metric, qid_col, qvec_col)
    )
    qmat = qmat.astype(np_dt, copy=False)
    if not qids:
        spark = queries.sparkSession
        qid_t = dict(queries.dtypes)[qid_col]
        id_t = dict(doc_side.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"`{qid_col}` {qid_t}, `{id_col}` {id_t}, rank int, score double"
        )
    sc = docs.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat))

    qid_type = dict(queries.dtypes)[qid_col]
    id_type = dict(doc_side.dtypes)[id_col]
    out_schema = f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, score double"

    use_cosine = metric == "cosine"

    def _score_matrix(pdf: pd.DataFrame):
        # stack, not tolist(): Arrow hands list cells back as ndarrays —
        # per-row memcpy, no python-level element loop (r14, guide §4.2)
        D = np.stack(pdf[vec_col].to_numpy()).astype(np_dt, copy=False)
        if use_cosine:
            D = normalize_rows(D)
        return D @ bq.value[1].T  # (n_docs_batch, n_q)

    def _partial_sel(col: "np.ndarray", kk: int) -> "np.ndarray":
        """Indices of the top-kk scores PLUS every row tying the kk-th score
        — without the tie extension, an equal-score row with a smaller id
        could be dropped here and the merge would diverge from the window's
        (score desc, id asc) order at the boundary."""
        n = len(col)
        if n <= kk:
            return np.arange(n)
        sel = np.argpartition(-col, kk - 1)[:kk]
        ties = np.nonzero(col == col[sel].min())[0]
        return np.unique(np.concatenate([sel, ties]))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, _ = bq.value
        nq = len(q_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            S = _score_matrix(pdf)
            kk = min(k, S.shape[0])
            rows_id, rows_qid, rows_score = [], [], []
            ids = pdf[id_col].to_numpy()
            for j in range(nq):
                sel = _partial_sel(S[:, j], kk)
                rows_id.append(ids[sel])
                rows_qid.append(np.repeat(q_ids[j], len(sel)))
                rows_score.append(S[sel, j])
            yield pd.DataFrame(
                {
                    qid_col: np.concatenate(rows_qid),
                    id_col: np.concatenate(rows_id),
                    "score": np.concatenate(rows_score).astype(np.float64, copy=False),
                }
            )

    if mode == "broadcast_index":
        if predocs is None:
            raise ValueError(
                "mode='broadcast_index' requires predocs=collect_doc_matrix(...)"
            )
        if predicate is not None:
            # The collected index IS the doc side in this mode; a predicate
            # would be silently ignored. Pre-filter the docs relation BEFORE
            # collect_doc_matrix instead.
            raise ValueError(
                "mode='broadcast_index' ignores the docs relation at search "
                "time; apply `predicate` before collect_doc_matrix(...) "
                "instead of passing it here"
            )
        bd = sc.broadcast(predocs)
        ranked_schema = (
            f"`{qid_col}` {qid_type}, `{id_col}` {id_type}, rank int, score double"
        )
        spark = docs.sparkSession

        def search_broadcast(batches) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            q_ids, Q = bq.value
            ids_a, D = bd.value
            D = D.astype(np_dt, copy=False)
            if use_cosine:
                D = normalize_rows(D)
            for _ in batches:  # consume the one dummy input row
                pass
            if D.shape[0] == 0:
                return
            S = _threaded_matmul(D, Q)
            kk = min(k, S.shape[0])
            out = {qid_col: [], id_col: [], "rank": [], "score": []}
            for j in range(len(q_ids)):
                col = S[:, j]
                sel = _partial_sel(col, kk)
                # (score desc, id asc) exactly like the window ranker
                order = sel[topn_sel(col[sel][None, :], ids_a[sel], kk)[0]]
                out[qid_col].append(np.repeat(q_ids[j], len(order)))
                out[id_col].append(ids_a[order])
                out["rank"].append(np.arange(1, len(order) + 1, dtype=np.int32))
                out["score"].append(col[order].astype(np.float64, copy=False))
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})
            )

        return spark.range(0, 1, 1, 1).mapInArrow(
            search_broadcast, schema=ranked_schema
        )

    partial = doc_side.select(id_col, vec_col).mapInPandas(score_batches, schema=out_schema)
    rank = {"window": _rank_topk, "heap": rank_topk_heap}[ranker]
    return rank(partial, k, qid_col, id_col).select(qid_col, id_col, "rank", "score")
