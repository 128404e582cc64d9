"""Deterministic distributed Lloyd k-means over embedding relations.

Centroid TRAINING is the one stage of the vector stack whose output was
not oracle-verifiable until now: :func:`similarity.train_ivf_centroids`
wraps Spark ML's k-means||, whose treeAggregate summation order makes the
exact centroid floats partitioning-dependent (fine for recall — pinned
there by measured-recall floors — but unverifiable by a value-hash
oracle). This module is the verifiable counterpart: classic Lloyd
iterations whose every float is bit-reproducible across engines AND
partitionings, so a DuckDB oracle can replay the whole trajectory
(assignment argmin, mean update, empty-cluster carry) iteration by
iteration — the vector-space analog of ``operators/graph.py::pagerank``'s
unrolled-CTE contract.

Determinism (the catalog-oracle house rules):

* squared-L2 distances are explicit LEFT-ASSOCIATIVE per-dimension
  chains ``(v1-c1)^2 + (v2-c2)^2 + ...`` — SQL ``+`` is left-associative
  by grammar and the Spark expression folds with ``functools.reduce``,
  so both engines produce identical doubles (the ``ann_pq_topk``
  precedent, full-dimension here);
* assignment ties break on centroid id (min struct / ROW_NUMBER);
* mean updates sum components in DECIMAL(38,12) (exact under any
  partitioning/AQE re-plan), cast the exact sum to double, perform ONE
  IEEE division by the member count, and round to ``round_digits`` —
  the next iteration's distances start from identical centroid bits;
* init = the ``k`` rows with smallest id (deterministic, no RNG).

Scale: one iteration = one narrow assignment pass (k*dim flops per row;
``strategy="fast"`` runs it as an Arrow kernel with a sequential
per-dimension accumulation that reproduces the expression chain
BITWISE) + one (cent_id, idx)-keyed aggregation whose DECIMAL sum is
algebraic — map-side partial aggregation collapses each partition to at
most k*dim rows before the exchange, so a 10^9-member cluster costs the
reducer O(partitions), not O(members). Centroids (k*dim doubles) are
collected per iteration — the same driver-sized state every k-means
implementation carries (Spark ML treeAggregates it each step); lineage
is truncated per round with ``localCheckpoint``.

At 100 TB you still fit on a sample (density modes need ~10^6 rows, see
``train_ivf_centroids``'s sample_fraction) — but when the full pass is
wanted (e.g. exact cluster populations for SemDeDup budgeting), this is
the shape that survives it.
"""

from __future__ import annotations

import functools
import operator as _op

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.quantize import quantize


def _sq_dist_expr(vec_col: str, cvals: list[float]) -> F.Column:
    """Explicit left-associative squared-L2 chain between an array column
    and a literal centroid — mirrors the oracle's SQL ``+`` chain
    term-for-term so both engines produce identical doubles."""
    terms = []
    for i, c in enumerate(cvals):
        d = F.element_at(F.col(vec_col), i + 1) - F.lit(float(c))
        terms.append(d * d)
    return functools.reduce(_op.add, terms)


def _assign_expr(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Narrow argmin assignment: min over an array of (dist, cent_id)
    structs — ties break on the smaller cent_id, matching the oracle's
    ``ROW_NUMBER() OVER (ORDER BY dist, cent_id)``. Emits both the
    winning ``cent_id`` and its (unrounded) distance ``adist``."""
    structs = [
        F.struct(_sq_dist_expr("v", cv).alias("d"), F.lit(int(cid)).alias("cent_id"))
        for cid, cv in cents
    ]
    tmp = e.withColumn("_a", F.array_min(F.array(*structs)))
    return tmp.select(
        *e.columns,
        F.col("_a.cent_id").alias("cent_id"),
        F.col("_a.d").alias("adist"),
    )


def _assign_fast(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Arrow-kernel assignment, bitwise-identical to :func:`_assign_expr`:
    distances accumulate SEQUENTIALLY over dimensions (``acc += d*d`` per
    dim — IEEE ``0.0 + t1 == t1`` for non-negative t1, so the fold equals
    the expression chain bit-for-bit); ties resolve to the smallest
    cent_id because the centroid matrix is cid-sorted and ``argmin``
    returns the first minimum.

    Output is SKINNY ``(vec_id, cent_id, adist)`` — the vector column is
    NOT passed through (the semdedup transport finding: Arrow re-encode
    of the vec column OUT of Python dominates a fused carry); callers
    that need the vectors join back on vec_id (the measured r7b winner
    over that carry)."""
    import numpy as np
    import pandas as pd

    cents = sorted(cents, key=lambda t: t[0])
    cids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)  # k x dim

    schema = "vec_id long, cent_id int, adist double"

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            acc = np.zeros((len(pdf), len(cids)), dtype=np.float64)
            for j in range(V.shape[1]):
                d = V[:, j : j + 1] - C[None, :, j][0]
                acc += d * d
            pos = np.argmin(acc, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cent_id": cids[pos].astype(np.int32),
                    "adist": acc[np.arange(len(pdf)), pos],
                }
            )

    return e.mapInPandas(fn, schema=schema)


def _dec12_partial_means_fast(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Fused Arrow kernel for one ``strategy="fast"`` Lloyd update (r14,
    guide §2.3/§2.4): assignment AND per-partition DECIMAL(38,12)
    partial mean-sums in ONE narrow pass — ``(cent_id, idx, psum, pn)``,
    at most k*dim rows per partition.  Replaces assign → join-the-
    vectors-back → posexplode (k·dim rows per MEMBER) → wide DECIMAL
    hash-aggregate: nothing corpus-sized is exploded or shuffled, the
    one exchange moves O(partitions · k · dim) partial rows.

    Bitwise contract (the oracle replays this): Spark's
    ``cast(double AS decimal(38,12))`` is BigDecimal.valueOf (shortest
    decimal representation) rounded HALF_UP at 12 places — replayed per
    element as ``Decimal(repr(v)).quantize(1e-12, ROUND_HALF_UP)``,
    vectorized as ``floor(|v|·1e12 + 0.5)`` with a Decimal fixup for the
    rare elements within float error of a .5 boundary (and a wholesale
    per-element Decimal fallback beyond the int64-exact magnitude
    window).  Partial sums are exact python/int64 integers at scale
    1e-12; Spark then decimal-sums the partials — associative and
    exact — so the final cast/divide/quantize sees the identical
    decimal the per-row fold produced.  Non-finite components add 0
    (Spark's cast yields NULL, which SUM skips) while their row still
    counts toward n_members, matching count(*)."""
    import numpy as np
    import pandas as pd

    cents = sorted(cents, key=lambda t: t[0])
    cids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    k, dim = C.shape

    schema = "cent_id int, idx int, psum decimal(38,12), pn long"

    def fn(batches):
        from decimal import ROUND_HALF_UP, Decimal

        TWELVE = Decimal(1).scaleb(-12)

        def exact_q(v: float) -> int:
            # signed exact scaled-integer of Spark's double->dec12 cast
            return int(
                Decimal(repr(float(v)))
                .quantize(TWELVE, rounding=ROUND_HALF_UP)
                .scaleb(12)
            )

        S = [[0] * dim for _ in range(k)]  # python ints: exact, unbounded
        N = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            # assignment: EXACT _assign_fast arithmetic (sequential
            # per-dimension fold; argmin first-min = smallest cent_id)
            acc = np.zeros((len(pdf), k), dtype=np.float64)
            for j in range(V.shape[1]):
                d = V[:, j : j + 1] - C[None, :, j][0]
                acc += d * d
            pos = np.argmin(acc, axis=1)
            N += np.bincount(pos, minlength=k)
            finite = np.isfinite(V)
            all_finite = bool(finite.all())
            maxabs = float(np.abs(V[finite]).max()) if finite.any() else 0.0
            # int64-exact window guard (r14 ADVICE, low): the per-batch
            # SB accumulator wraps silently if rows x per-element scaled
            # magnitude can reach 2^63 — the old code relied on the
            # UNASSERTED 10k Arrow batch default (92k rows at maxabs=100
            # would have corrupted centroid sums with no error).  Route
            # any batch that could overflow through the per-element
            # Decimal/python-int path instead.
            overflow_risk = len(pdf) * (maxabs * 1e12 + 1.0) >= float(2**62)
            if maxabs > 100.0 or overflow_risk:
                # beyond the int64-exact fast window: per-element Decimal
                # (rare — normalized embedding components are <= 1)
                for i in range(len(pdf)):
                    row = S[pos[i]]
                    Vi = V[i]
                    for j in range(dim):
                        v = Vi[j]
                        if np.isfinite(v):
                            row[j] += exact_q(v)
                continue
            if all_finite:
                # fully-finite batch (the normal case): skip the
                # where/signbit masking (r14 ADVICE, low — all_finite was
                # computed but never used)
                A = np.abs(V) * 1e12
            else:
                A = np.abs(np.where(finite, V, 0.0)) * 1e12
            q = np.floor(A + 0.5)
            frac = A - np.floor(A)
            near = np.abs(frac - 0.5) <= (A * 2.0 ** -50 + 1e-9)
            qi = q.astype(np.int64)
            if near.any():
                for i, j in np.argwhere(near):
                    v = V[i, j]
                    if np.isfinite(v):
                        qi[i, j] = abs(exact_q(v))
            neg = np.signbit(V) if all_finite else (np.signbit(V) & finite)
            qi = np.where(neg, -qi, qi)
            SB = np.zeros((k, dim), dtype=np.int64)
            np.add.at(SB, pos, qi)
            for c in range(k):
                sb = SB[c]
                if not sb.any():
                    continue
                rc = S[c]
                for j in range(dim):
                    if sb[j]:
                        rc[j] += int(sb[j])
        if not seen:
            return
        out_c, out_i, out_s, out_n = [], [], [], []
        for c in range(k):
            if N[c] == 0:
                continue
            n_c = int(N[c])
            cid = int(cids[c])
            row = S[c]
            for j in range(dim):
                out_c.append(cid)
                out_i.append(j)
                out_s.append(Decimal(row[j]).scaleb(-12))
                out_n.append(n_c)
        yield pd.DataFrame(
            {"cent_id": out_c, "idx": out_i, "psum": out_s, "pn": out_n}
        )

    return e.select("v").mapInPandas(fn, schema=schema)


def _require_integral_id(df: DataFrame, id_col: str) -> None:
    """The smallest-id init and the smaller-id tie rule need a numeric
    id (a string id would order lexicographically AND fail the long
    cast row-by-row mid-job) — reject up front with a usable message."""
    t = dict(df.dtypes)[id_col]
    if t not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"kmeans id column {id_col!r} must be integral, got {t} — "
            "derive one (e.g. F.substring(id, 2, 18).cast('long')) first"
        )


def _lloyd(
    e: DataFrame,
    k: int,
    n_iter: int,
    strategy: str,
    round_digits: int,
) -> tuple[list[DataFrame], list[tuple[int, list[float]]]]:
    """Run the Lloyd loop over a checkpointed ``(vec_id, v)`` relation;
    return (per-iteration mean relations, final centroids)."""
    init_rows = (
        e.orderBy("vec_id").limit(k).collect()
    )  # k rows, bounded: deterministic smallest-id init (no RNG)
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init_rows)}")
    cents: list[tuple[int, list[float]]] = [
        (int(r["vec_id"]), [float(x) for x in r["v"]]) for r in init_rows
    ]
    outs: list[DataFrame] = []
    for it in range(1, n_iter + 1):
        if strategy == "fast":
            # r14: fused kernel — assignment + exact DECIMAL partials in
            # one narrow pass (no vector rejoin, no k·dim-per-member
            # explode, no corpus-sized aggregation); bitwise-identical
            # final means (see _dec12_partial_means_fast)
            partials = _dec12_partial_means_fast(e, cents)
            means = (
                partials.groupBy("cent_id", "idx")
                .agg(
                    quantize(
                        F.sum("psum").cast("double")
                        / F.sum("pn").cast("double"),
                        round_digits,
                    ).alias("centroid_val"),
                    F.sum("pn").alias("n_members"),
                )
                .localCheckpoint()
            )
            mrows = means.collect()  # bounded: k*dim rows
            by_cid = _fold_mrows(mrows)
            cents = _carry(cents, by_cid)
            outs.append(means.withColumn("iter", F.lit(it)))
            continue
        assigned = _assign_expr(e, cents)
        if "v" not in assigned.columns:  # skinny kernel: join vectors back
            assigned = assigned.join(e, "vec_id")
        means = (
            assigned.select("cent_id", F.posexplode("v").alias("idx", "val"))
            .groupBy("cent_id", "idx")
            .agg(
                # quantize, not F.round (r10 VERDICT #2): the centroid
                # update S/n is the exact-rational .5-boundary class —
                # a cluster of 2^(k+1)·odd members with an odd scaled
                # sum lands EXACTLY where Spark/DuckDB round() disagree.
                quantize(
                    F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                    / F.count("*").cast("double"),
                    round_digits,
                ).alias("centroid_val"),
                F.count("*").alias("n_members"),
            )
            .localCheckpoint()
        )
        mrows = means.collect()  # bounded: k*dim rows (centroid state)
        by_cid = _fold_mrows(mrows)
        cents = _carry(cents, by_cid)
        outs.append(means.withColumn("iter", F.lit(it)))
    return outs, cents


def _fold_mrows(mrows) -> dict[int, list[tuple[int, float]]]:
    by_cid: dict[int, list[tuple[int, float]]] = {}
    for r in mrows:
        by_cid.setdefault(int(r["cent_id"]), []).append(
            (int(r["idx"]), float(r["centroid_val"]))
        )
    return by_cid


def _carry(
    cents: list[tuple[int, list[float]]],
    by_cid: dict[int, list[tuple[int, float]]],
) -> list[tuple[int, list[float]]]:
    nxt: list[tuple[int, list[float]]] = []
    for cid, cv in cents:  # carry empties forward, keep cid order
        if cid in by_cid:
            nxt.append((cid, [v for _, v in sorted(by_cid[cid])]))
        else:
            nxt.append((cid, cv))
    return nxt


def kmeans_lloyd(
    emb: DataFrame,
    k: int,
    n_iter: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "expr",
    round_digits: int = 6,
) -> DataFrame:
    """Run ``n_iter`` deterministic Lloyd iterations; return the full
    centroid TRAJECTORY as a relation ``(iter, cent_id, idx,
    centroid_val, n_members)`` — one row per populated centroid
    dimension per iteration (``iter`` starts at 1; empty clusters emit
    no rows for that iteration and carry their previous centroid
    forward, exactly as the oracle replays it).

    ``strategy``: ``"expr"`` assigns via the Catalyst expression chain
    (the oracle face); ``"fast"`` via the Arrow kernel (bitwise-parity
    tested) — prefer it when k*dim is large enough that codegen'd
    per-row chains dominate.
    """
    if strategy not in ("expr", "fast"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if k < 1 or n_iter < 1:
        raise ValueError("k and n_iter must be >= 1")
    _require_integral_id(emb, id_col)
    e = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).localCheckpoint()
    outs, _ = _lloyd(e, k, n_iter, strategy, round_digits)
    out = functools.reduce(lambda a, b: a.unionByName(b), outs)
    return out.select(
        "iter", F.col("cent_id").cast("int"), F.col("idx").cast("int"),
        "centroid_val", "n_members",
    )


def kmeans_final_centroids(traj: DataFrame) -> DataFrame:
    """Convenience: reshape the last iteration of a :func:`kmeans_lloyd`
    trajectory into the ``(cent_id, cvec)`` relation the IVF/SemDeDup
    operators consume."""
    last = traj.agg(F.max("iter").alias("m"))
    return (
        traj.join(F.broadcast(last), F.col("iter") == F.col("m"))
        .groupBy("cent_id")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "centroid_val"))).alias("s"))
        .select(
            "cent_id",
            F.transform("s", lambda x: x["centroid_val"]).alias("cvec"),
        )
    )


def prototype_sample(
    emb: DataFrame,
    k: int,
    n_iter: int,
    per_cluster: int,
    keep: str = "central",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "fast",
    round_digits: int = 6,
) -> DataFrame:
    """Cluster-balanced prototype/coreset selection (the data-pruning
    shape of Sorscher et al. 2022, "Beyond neural scaling laws"): fit
    deterministic Lloyd centroids, assign every vector, keep the
    ``per_cluster`` members per cluster that are CLOSEST to their
    centroid (``keep="central"`` — prototypical examples, the
    data-scarce regime) or FARTHEST (``keep="far"`` — hard examples,
    the data-rich regime). Returns ``(cent_id, vec_id, rank, dist)``
    with dist = round-6 squared L2 and rank 1 = most kept-worthy
    (ties on vec_id).

    Per-cluster selection runs through the JVM bounded-heap Aggregator
    (``rank_topk_heap``): per-partition partial heaps before the
    exchange, so only ``per_cluster`` rows per (partition, cluster)
    shuffle — a boilerplate mega-cluster costs its reducer O(partitions
    * per_cluster), never O(members). Assignment argmin uses the
    UNROUNDED left-assoc distance (identical to training); the emitted
    dist and the selection order use the round-6 value so the oracle
    replays ranking exactly."""
    if keep not in ("central", "far"):
        raise ValueError(f"unknown keep {keep!r}")
    _require_integral_id(emb, id_col)
    from .search import rank_topk_heap

    e = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).localCheckpoint()
    _, cents = _lloyd(e, k, n_iter, strategy, round_digits)
    assign = _assign_expr if strategy == "expr" else _assign_fast
    r6 = quantize(F.col("adist"), 6)
    scored = assign(e, cents).select(
        "cent_id",
        "vec_id",
        (r6 if keep == "far" else -r6).alias("score"),
    )
    top = rank_topk_heap(scored, per_cluster, qid_col="cent_id", id_col="vec_id")
    dist = F.col("score") if keep == "far" else -F.col("score")
    return top.select("cent_id", "vec_id", "rank", dist.alias("dist"))
