"""Product quantization (PQ) for memory-compressed ANN.

Completes the engine's ANN ladder: brute force (operators/search.py) →
scalar int8 + exact rerank (operators/quantize.py) → IVF partition-pruned
serving (operators/similarity.py) → PQ, which compresses each vector to
``m`` sub-space codeword ids (64-dim float32 = 256 B → 4 B at m=4, K=16:
64x) so a trillion-vector index fits executor memory, at the price of
approximate distances (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search").

Two physical forms per stage (the engine's standard split):

* EXPRESSION form (``pq_codebook_first_k`` / ``pq_encode`` /
  ``pq_adc_topk``): Catalyst expressions with a pinned left-associative
  summation order, bit-identical to the DuckDB oracle (catalog query
  ``ann_pq_topk``) — squared-L2 terms are explicit 16-term sums, the
  cross-subspace ADC sum is DECIMAL(38,12).
* FAST form (``pq_train_codebooks`` / ``pq_encode_fast`` /
  ``pq_adc_topk_fast``): numpy k-means codebooks + Arrow-batched argmin
  encode + LUT scoring — the 100 TB path, parity/recall-tested against
  the expression form and exact brute force.

Scale shape: the codebook is m*K rows (tiny, broadcast); encoding is a
narrow map (no shuffle); ADC serving broadcasts the per-query lookup
table (m*K floats per query) so scoring streams over the code table with
map-side partial top-k — the same no-doc-shuffle contract as the IVF
serving path. Training collects only a bounded sample (k-means needs
density modes, not the corpus).

Reference parity: the reference's ANN surface delegates to HNSW inside
Weaviate (`weaviate/client.py:47-54`); PQ is a beyond-reference operator
from the LLM-pipeline brief.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.quantize import quantize
from ..functions.vectors import normalize_rows, topn_sel


def _sq_l2_expr(vec: Column, cvec: Column, offset: Column, d: int) -> Column:
    """Explicit left-associative squared-L2 over ``d`` elements:
    sum_i (vec[offset+i] - cvec[i])^2 with 1-based element_at — term order
    and association pinned so Spark and DuckDB produce identical doubles."""
    terms = []
    for i in range(1, d + 1):
        diff = F.element_at(vec, (offset + F.lit(i)).cast("int")) - F.element_at(
            cvec, F.lit(i)
        )
        terms.append(diff * diff)
    return reduce(operator.add, terms)


def pq_codebook_first_k(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic codebook ``(sub, code, cvec)``: codeword ``c`` of
    sub-space ``j`` is the j-th slice of the corpus vector with the c-th
    smallest id — zero-cost, fully replayable in SQL (the catalog oracle's
    codebook), and the PQ analog of the IVF bench geometry's
    first-rows-as-centroids default. ``pq_train_codebooks`` is the
    quality path."""
    dim_df = emb.select(F.size(vec_col).alias("_dim")).limit(1)
    d = dim_df.collect()[0]["_dim"] // m  # tiny: one row, schema probe
    w = Window.orderBy(id_col)
    base = (
        emb.orderBy(id_col)
        .limit(k_codes)
        .withColumn("code", F.row_number().over(w) - 1)
    )
    subs = []
    for j in range(m):
        subs.append(
            base.select(
                F.lit(j).alias("sub"),
                "code",
                F.slice(
                    F.col(vec_col).cast("array<double>"), j * d + 1, d
                ).alias("cvec"),
            )
        )
    out = subs[0]
    for s in subs[1:]:
        out = out.unionByName(s)
    return out


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Expression-form PQ encoding ``(id, sub, code)``: broadcast the
    m*K-row codebook, compute every (row, codeword) squared-L2 with the
    pinned expression, keep the argmin per (row, sub) — ties to the
    smallest code. The argmin is a keyed MIN over a (dist, code) struct,
    so the m*K-times-expanded rows collapse map-side (partial
    aggregation) before the one (id, sub)-keyed exchange — no per-row
    window sort, and the expanded relation never shuffles."""
    d = _codebook_dim(codebook)
    dist = _sq_l2_expr(
        F.col("_v"), F.col("cvec"), F.col("sub") * F.lit(d), d
    )
    scored = (
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
        .crossJoin(F.broadcast(codebook))
        .select(id_col, "sub", "code", dist.alias("_dist"))
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(F.min(F.struct("_dist", "code")).alias("_best"))
        .select(id_col, "sub", F.col("_best.code").alias("code"))
    )


def _codebook_dim(codebook: DataFrame) -> int:
    return codebook.select(F.size("cvec").alias("d")).limit(1).collect()[0]["d"]


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id: str = "qid",
) -> DataFrame:
    """Expression-form asymmetric-distance top-k ``(qid, docid, rank,
    adist)``: the per-query lookup table (qid, sub, code, qdist) is the
    query set crossed with the broadcast codebook (m*K rows per query);
    scoring equi-joins the code table against it on (sub, code) — a
    broadcast hash join streaming over the codes — then sums the m
    partial distances in DECIMAL(38,12) per (qid, docid). Approximate
    distance ranks ascending, ties to docid."""
    d = _codebook_dim(codebook)
    qdist = _sq_l2_expr(F.col("_qv"), F.col("cvec"), F.col("sub") * F.lit(d), d)
    lut = (
        queries.select(
            F.col(q_id), F.col(vec_col).cast("array<double>").alias("_qv")
        )
        .crossJoin(F.broadcast(codebook))
        .select(q_id, "sub", "code", qdist.alias("_qd"))
    )
    scored = (
        codes.withColumnRenamed(id_col, "docid")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy(q_id, "docid")
        .agg(
            F.sum(F.col("_qd").cast("decimal(38,12)"))
            .cast("double")
            .alias("adist")
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.asc("adist"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(q_id, "docid", "rank", quantize(F.col("adist"), 4).alias("adist"))
    )


# ---------------------------------------------------------------------------
# FAST form: k-means codebooks + Arrow kernels (the 100 TB path)
# ---------------------------------------------------------------------------

def pq_train_codebooks(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
    sample_rows: int = 20_000,
) -> np.ndarray:
    """Seeded Lloyd k-means per sub-space over a bounded corpus sample;
    returns codebooks of shape ``(m, k_codes, dim/m)``.

    The collect is capped at ``sample_rows`` vectors (k-means estimates
    density modes — a fixed-size sample suffices at any corpus scale; the
    same argument as train_ivf_centroids' sample_fraction). Deterministic:
    seeded init from sample rows, fixed iteration count, numpy float64."""
    frac_df = emb.select(F.count("*").alias("n"))
    n = frac_df.collect()[0]["n"]  # single-row aggregate
    if n > sample_rows:
        sampled = emb.select(vec_col).sample(
            fraction=min(1.0, 1.15 * sample_rows / n), seed=seed
        ).limit(sample_rows)
    else:
        sampled = emb.select(vec_col)
    X = np.asarray(
        [r[0] for r in sampled.collect()], dtype=np.float64
    )  # bounded: <= sample_rows x dim
    return _kmeans_codebooks(X, m, k_codes, seed=seed, max_iter=max_iter)


def _kmeans_codebooks(
    X: np.ndarray, m: int, k_codes: int, *, seed: int, max_iter: int
) -> np.ndarray:
    """Seeded Lloyd k-means per sub-space over an in-memory sample.

    Assignment uses the ``||s||^2``-free identity ``argmin(c^2 - 2 s·c)``
    — O(n*k) memory via one GEMM — NOT the broadcast 3-D difference
    tensor, which at the bench geometry (20k sample, k=256, d=64) would
    allocate a ~2.6 GB float64 temporary per iteration."""
    dim = X.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    if len(X) < k_codes:
        raise ValueError(
            f"k-means needs at least k_codes={k_codes} sample rows, got "
            f"{len(X)} — lower k_codes or raise sample_rows"
        )
    d = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k_codes, d), dtype=np.float64)
    for j in range(m):
        S = X[:, j * d : (j + 1) * d]
        cents = S[rng.choice(len(S), size=k_codes, replace=False)].copy()
        for _ in range(max_iter):
            c2 = (cents ** 2).sum(axis=1)
            assign = (c2[None, :] - 2.0 * (S @ cents.T)).argmin(axis=1)
            for c in range(k_codes):
                mask = assign == c
                if mask.any():
                    cents[c] = S[mask].mean(axis=0)
        books[j] = cents
    return books


def pq_encode_fast(
    emb: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-batched PQ encoding ``(id, codes array<int>)``: per-batch
    blocked argmin against the broadcast numpy codebooks — one narrow
    mapInPandas stage, no shuffle, 4 B/vector output at m=4."""
    import pandas as pd

    m, k_codes, d = codebooks.shape
    books = codebooks  # closure-captured; broadcast with the task binary
    id_type = dict(emb.dtypes)[id_col]

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # r14 (guide §4.5): the codebook norms are batch-invariant —
        # compute once per task, not once per (batch, subspace)
        c2s = [(books[j] ** 2).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            # stack, not list(): Arrow hands list cells back as ndarrays
            X = np.stack(pdf[vec_col].to_numpy()).astype(
                np.float64, copy=False
            )
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * d : (j + 1) * d]
                # ||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2 ; argmin drops ||s||^2
                dots = S @ books[j].T
                codes[:, j] = (c2s[j][None, :] - 2.0 * dots).argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "codes": list(codes)}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, codes array<int>"
    )


def pq_adc_topk_fast(
    q_vecs: np.ndarray,
    q_ids: np.ndarray,
    codes: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-batched ADC serving: per-query LUTs (m x K squared-L2 against
    every codeword — tiny) are numpy-precomputed on the driver, closure-
    broadcast, and each partition scores its code rows by m table lookups
    + a partial top-k; the final merge is one k-row-per-(query,partition)
    shuffle. Doc codes never move; the scan streams."""
    import pandas as pd

    m, k_codes, d = codebooks.shape
    Q = np.asarray(q_vecs, dtype=np.float64)
    luts = np.empty((len(Q), m, k_codes), dtype=np.float64)
    for j in range(m):
        diff = Q[:, None, j * d : (j + 1) * d] - codebooks[j][None, :, :]
        luts[:, j, :] = (diff ** 2).sum(axis=2)
    qids = np.asarray(q_ids)
    id_type = dict(codes.dtypes)[id_col]
    qid_type = "string" if qids.dtype.kind in ("U", "S", "O") else "long"

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(list(pdf["codes"]), dtype=np.int64)  # n x m
            # adist[q, doc] = sum_j luts[q, j, C[doc, j]]
            A = np.zeros((len(qids), len(C)), dtype=np.float64)
            for j in range(m):
                A += luts[:, j, C[:, j]]
            top = min(k, A.shape[1])
            ids = pdf[id_col].values
            # exact-tie rows (all m codes equal) are common at PQ's
            # resolution: per-partition selection must break ties by docid
            # or the k-boundary pick diverges from the (adist, docid)
            # global order the merge window and the oracle use
            sel = topn_sel(-A, ids, top)  # (adist, docid) ascending
            rows = {
                "qid": np.repeat(qids, top),
                "docid": ids[sel].ravel(),
                "adist": np.take_along_axis(A, sel, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    partials = codes.mapInPandas(
        score, schema=f"qid {qid_type}, docid {id_type}, adist double"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("docid"))
    return (
        partials.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "rank", "adist")
    )


# ---------------------------------------------------------------------------
# IVF + PQ (residual-encoded) — the standard billion-scale serving index
# ---------------------------------------------------------------------------

def ivfpq_topk_expr(
    emb: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id: str = "qid",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cvec",
) -> DataFrame:
    """Expression-form IVF+PQ residual ADC, end to end — the fully
    DuckDB-replayable face of :func:`ivfpq_topk` (catalog query
    ``ann_ivfpq_topk``): given pinned centroids, every stage is a
    Catalyst expression with deterministic ties, so an oracle can replay
    assignment, residual codebook construction, encoding AND serving.

    Stages (each mirrors the fast/numpy path's math):

    1. IVF assignment: cosine argmax against the broadcast centroids,
       ties to the smaller cent_id (the ``ivf_topk`` rule).
    2. Residuals ``rv = v - cvec(assigned)`` — classic IVFADC (Jégou et
       al. 2011 §IV): codes quantize the residual, not the raw vector.
    3. Residual codebook: :func:`pq_codebook_first_k` over the residual
       relation (first ``k_codes`` rows by id — the deterministic
       convention of the PQ/IVF catalog geometry; k-means codebooks are
       the quality path, ``ivfpq_train``).
    4. :func:`pq_encode` of the residuals (pinned left-assoc squared-L2,
       keyed min-struct argmin — map-side partials, no window).
    5. Serving: per (query, probed list) residual LUT (nprobe lists by
       the same cosine rule), broadcast-joined on (cent_id, sub, code)
       against the code table, DECIMAL cross-sub-space sum, rank by
       (adist asc, docid asc).

    Scale: the per-doc work is one broadcast join + an m-row DECIMAL
    sum; only (query x probed-list x matched-doc) rows flow — docs in
    unprobed lists are dropped by the equi-join (the partition-pruned
    scan of the fast path expresses the same restriction physically).
    """
    from ..functions.vectors import cosine_similarity

    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    c2 = cents.select(
        F.col(cent_id_col),
        F.col(cent_vec_col).cast("array<double>").alias("_cv"),
    )
    w_a = Window.partitionBy(id_col).orderBy(
        F.desc("sim"), F.asc(cent_id_col)
    )
    asg = (
        e.crossJoin(F.broadcast(c2))
        .withColumn("sim", cosine_similarity("_v", "_cv"))
        .withColumn("_rk", F.row_number().over(w_a))
        .filter(F.col("_rk") == 1)
    )
    resid = asg.select(
        id_col,
        cent_id_col,
        F.zip_with("_v", "_cv", lambda x, y: x - y).alias("rv"),
    )
    cb = pq_codebook_first_k(resid, m=m, k_codes=k_codes, vec_col="rv", id_col=id_col)
    d = _codebook_dim(cb)
    codes = pq_encode(resid, cb, vec_col="rv", id_col=id_col).join(
        resid.select(id_col, cent_id_col), id_col
    )

    q = queries.select(
        F.col(q_id), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    w_q = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(cent_id_col))
    probes = (
        q.crossJoin(F.broadcast(c2))
        .withColumn("sim", cosine_similarity("_qv", "_cv"))
        .withColumn("_rk", F.row_number().over(w_q))
        .filter(F.col("_rk") <= nprobe)
        .select(
            q_id,
            cent_id_col,
            F.zip_with("_qv", "_cv", lambda x, y: x - y).alias("qrv"),
        )
    )
    lut = probes.crossJoin(F.broadcast(cb)).select(
        q_id,
        cent_id_col,
        "sub",
        "code",
        _sq_l2_expr(
            F.col("qrv"), F.col("cvec"), F.col("sub") * F.lit(d), d
        ).alias("_qd"),
    )
    scored = (
        codes.withColumnRenamed(id_col, "docid")
        .join(F.broadcast(lut), [cent_id_col, "sub", "code"])
        .groupBy(q_id, "docid")
        .agg(
            F.sum(F.col("_qd").cast("decimal(38,12)"))
            .cast("double")
            .alias("adist")
        )
    )
    w_r = Window.partitionBy(q_id).orderBy(F.asc("adist"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w_r).cast("int"))
        .filter(F.col("rank") <= k)
        .select(q_id, "docid", "rank", quantize(F.col("adist"), 4).alias("adist"))
    )


def ivfpq_train(
    emb: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    m: int = 8,
    k_codes: int = 256,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
    sample_rows: int = 20_000,
) -> np.ndarray:
    """Train PQ codebooks on RESIDUALS (vec - assigned centroid) over a
    bounded corpus sample — classic IVFADC (Jégou et al. 2011 §IV):
    residuals concentrate around 0 with far less variance than raw
    vectors, so the same code budget quantizes them much more precisely.
    Assignment replays ivf_assign_fast's rule (cosine, ties to the
    smaller cent_id) so trained codebooks match the build-time residuals."""
    n = emb.select(F.count("*").alias("n")).collect()[0]["n"]
    sampled = emb.select(vec_col)
    if n > sample_rows:
        sampled = sampled.sample(
            fraction=min(1.0, 1.15 * sample_rows / n), seed=seed
        ).limit(sample_rows)
    X = np.asarray([r[0] for r in sampled.collect()], dtype=np.float64)
    Cn = normalize_rows(C)
    S = normalize_rows(X) @ Cn.T
    # stable tie-break to the smaller cent_id
    pick = topn_sel(S, np.asarray(cent_ids), 1)[:, 0]
    R = X - C[pick]
    return _kmeans_codebooks(R, m, k_codes, seed=seed, max_iter=max_iter)


def ivfpq_encode(
    emb: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Build the IVFPQ code table ``(id, cent_id, codes)`` in ONE narrow
    Arrow stage: per batch — cosine list assignment against the broadcast
    centroid matrix, residual against the assigned centroid, per-subspace
    argmin encode. 8 B of codes + a list id per vector; written
    ``partitionBy(cent_id)`` the table serves with partition pruning."""
    import pandas as pd

    m, k_codes, d = codebooks.shape
    books = codebooks
    cid_arr = np.asarray(cent_ids)
    Cm = np.asarray(C, dtype=np.float64)
    Cn = normalize_rows(Cm)
    id_type = dict(emb.dtypes)[id_col]

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # r14 (guide §4.5): codebook norms are batch-invariant
        c2s = [(books[j] ** 2).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(
                np.float64, copy=False
            )
            S = normalize_rows(X) @ Cn.T
            pick = topn_sel(S, cid_arr, 1)[:, 0]
            R = X - Cm[pick]
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Rj = R[:, j * d : (j + 1) * d]
                dots = Rj @ books[j].T
                codes[:, j] = (c2s[j][None, :] - 2.0 * dots).argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cent_id": cid_arr[pick],
                    "codes": list(codes),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, cent_id long, codes array<int>"
    )


def ivfpq_topk(
    q_vecs: np.ndarray,
    q_ids: np.ndarray,
    coded: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFPQ ADC serving: per query, probe the ``nprobe`` nearest lists
    (driver-side — the centroid matrix is tiny), push ``cent_id IN
    (probed)`` into the scan (partition pruning on a partitionBy(cent_id)
    table), then score only the rows of lists the query actually probes
    with the per-(query, list) residual lookup table. Per-partition
    top-k with docid tie-break + one bounded window merge.

    Scale: scan cost ~ nprobe/n_lists of the CODE table (which is itself
    256x smaller than the vectors); shuffled rows are the
    O(partitions x queries x k) partial-top-k survivors."""
    import pandas as pd

    m, k_codes, d = codebooks.shape
    Q = np.asarray(q_vecs, dtype=np.float64)
    cid_arr = np.asarray(cent_ids)
    Cm = np.asarray(C, dtype=np.float64)
    Cn = normalize_rows(Cm)
    nprobe = min(nprobe, len(cid_arr))
    # per query: nprobe best lists, ties to smaller cent_id
    sels = topn_sel(normalize_rows(Q) @ Cn.T, cid_arr, nprobe)
    probes = {}
    luts = {}  # (query_index, cent_id) -> (m, k_codes) LUT
    for qi, srt in enumerate(sels):
        probes[qi] = cid_arr[srt]
        for ci in srt:
            r = Q[qi] - Cm[ci]
            lut = np.empty((m, k_codes), dtype=np.float64)
            for j in range(m):
                diff = r[j * d : (j + 1) * d][None, :] - codebooks[j]
                lut[j] = (diff ** 2).sum(axis=1)
            luts[(qi, int(cid_arr[ci]))] = lut
    probed_union = sorted({int(c) for qi in probes for c in probes[qi]})
    by_list: dict[int, list[int]] = {}
    for qi, cl in probes.items():
        for c in cl:
            by_list.setdefault(int(c), []).append(qi)
    qids = np.asarray(q_ids)
    id_type = dict(coded.dtypes)[id_col]
    qid_type = "string" if qids.dtype.kind in ("U", "S", "O") else "long"

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_d, out_a = [], [], []
            for cent, grp in pdf.groupby("cent_id", sort=False):
                qlist = by_list.get(int(cent))
                if not qlist:
                    continue
                Cc = np.asarray(list(grp["codes"]), dtype=np.int64)
                ids = grp[id_col].values
                for qi in qlist:
                    lut = luts[(qi, int(cent))]
                    A = lut[np.arange(Cc.shape[1])[None, :], Cc].sum(axis=1)
                    top = min(k, len(A))
                    sel = topn_sel(-A[None, :], ids, top)[0]  # (adist, id) asc
                    out_q.append(np.repeat(qids[qi], top))
                    out_d.append(ids[sel])
                    out_a.append(A[sel])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "docid": np.concatenate(out_d),
                        "adist": np.concatenate(out_a),
                    }
                )

    partials = (
        coded.filter(F.col("cent_id").isin(probed_union))
        .mapInPandas(
            score, schema=f"qid {qid_type}, docid {id_type}, adist double"
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("docid"))
    return (
        partials.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "rank", "adist")
    )
