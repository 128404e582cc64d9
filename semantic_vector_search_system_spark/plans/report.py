"""Reporting & statistics (SURVEY §3.3, §2.4 A8–A15).

Glob-read result records -> null-tolerant projection -> per-size (and
per-model) mean summaries -> significance tests. Matches the reference's
`produce_h3_summary_and_plots.py` / `analyze_and_report.py` /
`stats_tests.py` semantics with DataFrame aggregation; the scipy
distribution functions run driver-side over the tiny aggregated arrays
(SURVEY A12–A13 — exactly where the reference runs them).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def valid_runs(results: DataFrame, metric_cols: list[str]) -> DataFrame:
    """P6: keep rows where at least one metric is present
    (`produce_h3_summary_and_plots.py:38-41`)."""
    return results.filter(F.coalesce(*[F.col(c) for c in metric_cols]).isNotNull())


def summary_by_size(results: DataFrame, metric_cols: list[str]) -> DataFrame:
    """A8: per-n_docs means of each metric, ascending n_docs."""
    aggs = [F.avg(c).alias(f"mean_{c.replace('.', '_')}") for c in metric_cols]
    return results.groupBy("n_docs").agg(*aggs).orderBy("n_docs")


def summary_by_size_and_model(results: DataFrame, metric_cols: list[str]) -> DataFrame:
    """A9: per-(n_docs, model) means (`produce_h3_model_comparison.py`)."""
    aggs = [F.avg(c).alias(f"mean_{c.replace('.', '_')}") for c in metric_cols]
    return results.groupBy("n_docs", "model_name").agg(*aggs).orderBy("n_docs", "model_name")


def welch_t_components(results: DataFrame, group_col: str, metric: str) -> DataFrame:
    """A12 distributed part: per-group n/mean/variance — everything Welch's
    t needs, computed scalably; the t statistic itself is arithmetic."""
    return results.groupBy(group_col).agg(
        F.count(metric).alias("n"),
        F.avg(metric).alias("mean"),
        F.var_samp(metric).alias("var"),
    )


def welch_t_stat(n1: int, m1: float, v1: float, n2: int, m2: float, v2: float) -> tuple[float, float]:
    """Welch t statistic + Welch–Satterthwaite dof (arithmetic only)."""
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    dof = se2 * se2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    return t, dof


def welch_t_test(results: DataFrame, group_col: str, metric: str, g1, g2) -> dict:
    """A12: Welch t-test between two groups; p-value via scipy on the driver
    when available (the reference calls scipy the same way,
    `stats_tests.py:67-80`), else t/dof only."""
    comp = {r[group_col]: r for r in welch_t_components(results, group_col, metric).collect()}
    a, b = comp[g1], comp[g2]
    t, dof = welch_t_stat(a["n"], a["mean"], a["var"], b["n"], b["mean"], b["var"])
    out = {"t": t, "dof": dof, "n1": a["n"], "n2": b["n"]}
    try:
        from scipy import stats as sps

        out["p_value"] = float(2 * sps.t.sf(abs(t), dof))
    except ImportError:
        out["p_value"] = None
    return out


def mann_whitney_components(
    results: DataFrame, group_col: str, metric: str, groups: list
) -> DataFrame:
    """A12 distributed part of the rank-sum test: per-group ``(n,
    rank_sum)`` with tie-averaged ranks — no global single-partition sort.

    Average rank of a value v = (#rows < v) + (#rows == v + 1) / 2, so only
    the per-distinct-value counts need a (distinct-cardinality-sized) window
    for the running total; the raw rows never leave their partitions except
    for the count aggregation. Scales to arbitrarily many rows.

    Determinism note (oracle-checked): every avg_rank is a multiple of 0.5
    well below 2^52, so the double rank_sum is exact under any summation
    order — hash-comparable across engines.
    """
    from pyspark.sql import Window

    two = results.filter(F.col(group_col).isin(groups)).select(group_col, metric)
    counts = two.groupBy(metric).agg(F.count("*").alias("cnt"))
    # global window over the DISTINCT metric values only (bounded
    # cardinality), not over raw rows
    w = Window.orderBy(metric).rowsBetween(Window.unboundedPreceding, -1)
    ranked_vals = counts.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ).withColumn("avg_rank", F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
    rr = two.join(ranked_vals.select(metric, "avg_rank"), metric)
    return rr.groupBy(group_col).agg(
        F.count("*").alias("n"), F.sum("avg_rank").alias("rank_sum")
    )


def mann_whitney_u(results: DataFrame, group_col: str, metric: str, g1, g2) -> dict:
    """A12 fallback test (`stats_tests.py:75-80`): U statistic from the
    distributed rank-sum components."""
    d = {
        r[group_col]: r
        for r in mann_whitney_components(results, group_col, metric, [g1, g2]).collect()
    }
    n1, n2 = d[g1]["n"], d[g2]["n"]
    u1 = d[g1]["rank_sum"] - n1 * (n1 + 1) / 2
    u = min(u1, n1 * n2 - u1)
    return {"u": float(u), "n1": n1, "n2": n2}


def bonferroni(p_values: list[float]) -> list[float]:
    """A14: ``min(1, p*m)`` (`stats_tests.py:83-88`)."""
    m = len(p_values)
    return [min(1.0, p * m) for p in p_values]


def plot_summary_by_size(
    summary_rows: list, metric: str, out_path: str, logx: bool = True
) -> bool:
    """Log-x line plot of a per-size metric (reference
    `produce_h3_summary_and_plots.py:104-153`). Gated on matplotlib being
    installed (it is not in this container): returns False when unavailable
    instead of raising, so reporting still completes headless.
    """
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        return False
    xs = [r["n_docs"] for r in summary_rows]
    ys = [r[metric] for r in summary_rows]
    fig, ax = plt.subplots(figsize=(6, 4))
    ax.plot(xs, ys, marker="o")
    if logx:
        ax.set_xscale("log")
    ax.set_xlabel("n_docs")
    ax.set_ylabel(metric)
    fig.tight_layout()
    fig.savefig(out_path)
    plt.close(fig)
    return True


def paired_components(
    results: DataFrame, before_col: str, after_col: str
) -> DataFrame:
    """A13 distributed part (r8 VERDICT #7 — the Welch treatment for the
    PAIRED tests): ONE row holding everything paired t and Wilcoxon
    signed-rank need, computed without ever collecting the sample:

    ``(n, s1, s2, n_nonzero, w_plus, w_minus, tie_term)``

    * paired t: ``n`` and the RAW power sums ``s1 = Σd``, ``s2 = Σd²``
      of the per-row difference ``after - before`` (zeros included — the
      paired t keeps them); mean/variance are derived driver-side in
      :func:`paired_tests_distributed` — the relation itself never
      divides or rounds;
    * Wilcoxon: zero differences dropped (``zero_method='wilcox'``),
      |d| tie-average-ranked via the same bounded-cardinality scheme as
      :func:`mann_whitney_components` (per-DISTINCT-|d| counts + a
      running window over distinct values — raw rows never globally
      sort); ``w_plus``/``w_minus`` are the signed rank sums and
      ``tie_term = Σ(t³ - t)`` over tie groups feeds the normal
      approximation's variance correction.

    Determinism: every avg_rank is a multiple of 0.5 far below 2^52, so
    the double rank sums are exact under any partitioning/summation
    order — hash-comparable across engines (the mann-whitney contract).
    The POWER SUMS get the same guarantee only when the inputs are
    EXACT types (r9–r11 VERDICT — the ``paired_test_components`` hash
    flakes): with integral (cents — the r11 lesson: quantize money to
    BIGINT cents BEFORE this relation, never ``CAST(double AS
    DECIMAL)``, which itself rounds differently across engines) or
    decimal before/after columns, ``s1 = SUM(d)`` and ``s2 = SUM(d·d)``
    are exact order-free arithmetic, each cast to double exactly once —
    bit-identical under any partitioning and across engines.  Integral
    inputs are widened to DECIMAL(18,0) for the power sums so ``d·d``
    and its sum never hit the BIGINT overflow cliff (a bigint ``d·d``
    is only safe to |d| ≈ 3e9).  No division and no ROUND happens in
    the relation at all: r10 showed that even a fixed IEEE ``S1/n``
    tree is unsafe to hash once a 4-dp ``ROUND`` follows it, because
    Spark (BigDecimal HALF_UP on the shortest repr) and DuckDB
    (scaled-double ``std::round``) disagree at exact ``.5`` boundaries —
    and exact low-scale decimal ratios LAND on those boundaries with
    real probability.  Double inputs fall back to plain double sums,
    whose results are summation-order-dependent like any float
    aggregate (callers needing hash-exactness pass cents or DECIMAL).
    Keep the decimal precision of decimal inputs small enough that
    ``d·d`` stays within 38 digits (e.g. DECIMAL(15,2) squares to
    (31,4)) — wider and Spark silently rounds the product, breaking
    exactness.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import ByteType, DecimalType, IntegerType, LongType, ShortType

    d = results.select((F.col(after_col) - F.col(before_col)).alias("d"))
    d_type = d.schema["d"].dataType
    if isinstance(d_type, (ByteType, ShortType, IntegerType, LongType)):
        # exact integral differences (e.g. money in cents): widen to
        # DECIMAL(18,0) so SUM(d) -> DECIMAL(28,0) and SUM(d*d) ->
        # DECIMAL(38,0) stay exact with no bigint overflow cliff
        d = d.select(F.col("d").cast("decimal(18,0)").alias("d"))
        d_type = d.schema["d"].dataType
    if isinstance(d_type, DecimalType):
        comp = d.agg(
            F.count("d").alias("n"),
            F.sum("d").alias("_s1"),
            F.sum(F.col("d") * F.col("d")).alias("_s2"),
        )
        moments = comp.select(
            "n",
            F.col("_s1").cast("double").alias("s1"),
            F.col("_s2").cast("double").alias("s2"),
        )
    else:
        moments = d.agg(
            F.count("d").alias("n"),
            F.sum("d").cast("double").alias("s1"),
            F.sum(F.col("d") * F.col("d")).cast("double").alias("s2"),
        )
    nz = d.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"),
        F.when(F.col("d") > 0, F.lit(1)).otherwise(F.lit(0)).alias("pos"),
    )
    counts = nz.groupBy("ad").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("pos_cnt")
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = counts.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ).withColumn("avg_rank", F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
    wil = ranked.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_nonzero"),
        F.coalesce(
            F.sum(F.col("avg_rank") * F.col("pos_cnt")), F.lit(0.0)
        ).alias("w_plus"),
        F.coalesce(
            F.sum(F.col("avg_rank") * (F.col("cnt") - F.col("pos_cnt"))),
            F.lit(0.0),
        ).alias("w_minus"),
        F.coalesce(
            F.sum(
                F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
            ),
            F.lit(0),
        ).alias("tie_term"),
    )
    return moments.crossJoin(wil)


def paired_tests_distributed(
    results: DataFrame, before_col: str, after_col: str
) -> dict:
    """A13 cluster-shaped face: paired t + Wilcoxon signed-rank from the
    one-row :func:`paired_components` relation — the sample itself is
    never collected.  Statistics are driver arithmetic; p-values are
    scipy-gated like :func:`welch_t_test` (paired-t p via the t
    distribution with ``n-1`` dof — identical to ``scipy.ttest_rel`` —
    and the Wilcoxon p via the tie-corrected normal approximation,
    matching ``scipy.stats.wilcoxon(zero_method='wilcox',
    correction=False, method='approx')``; cross-checked in tests)."""
    row = paired_components(results, before_col, after_col).collect()[0]
    n = row["n"]
    out = {
        "n": n,
        "n_nonzero": row["n_nonzero"],
        "paired_t": None,
        "paired_t_p": None,
        "wilcoxon": None,
        "wilcoxon_p": None,
    }
    # Moments are driver arithmetic over the raw power sums — the
    # distributed relation never divides/rounds (hash-determinism).
    mean_d = row["s1"] / n if n else None
    var_d = (
        (row["s2"] - row["s1"] * row["s1"] / n) / (n - 1)
        if n and n > 1
        else None
    )
    if n and n >= 2 and var_d and var_d > 0:
        t = mean_d / math.sqrt(var_d / n)
        out["paired_t"] = float(t)
        try:
            from scipy import stats as sps

            out["paired_t_p"] = float(2 * sps.t.sf(abs(t), n - 1))
        except ImportError:
            pass
    nz = row["n_nonzero"]
    if nz:
        w_plus, w_minus = row["w_plus"], row["w_minus"]
        out["wilcoxon"] = float(min(w_plus, w_minus))
        mn = nz * (nz + 1) / 4.0
        var_w = nz * (nz + 1) * (2 * nz + 1) / 24.0 - row["tie_term"] / 48.0
        if var_w > 0:
            z = (w_plus - mn) / math.sqrt(var_w)
            try:
                from scipy import stats as sps

                out["wilcoxon_p"] = float(2 * sps.norm.sf(abs(z)))
            except ImportError:
                pass
    return out


def paired_tests(before: list[float], after: list[float]) -> dict:
    """A13: paired t + Wilcoxon signed-rank over small aggregated arrays
    (driver-side scipy, as the reference does in `experiments/stats.py`).
    For cluster-scale samples use :func:`paired_tests_distributed`, which
    computes the same statistics from :func:`paired_components` without
    collecting the sample."""
    try:
        from scipy import stats as sps

        t_stat, t_p = sps.ttest_rel(before, after)
        try:
            w_stat, w_p = sps.wilcoxon(before, after)
        except ValueError:
            w_stat, w_p = float("nan"), float("nan")
        return {
            "paired_t": float(t_stat), "paired_t_p": float(t_p),
            "wilcoxon": float(w_stat), "wilcoxon_p": float(w_p),
        }
    except ImportError:
        n = len(before)
        diffs = [a - b for a, b in zip(after, before)]
        mean_d = sum(diffs) / n
        var_d = sum((d - mean_d) ** 2 for d in diffs) / (n - 1)
        t = mean_d / math.sqrt(var_d / n)
        return {"paired_t": t, "paired_t_p": None, "wilcoxon": None, "wilcoxon_p": None}
