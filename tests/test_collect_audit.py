"""Driver-collect audit (VERDICT r3 "What's wrong" #3).

Every ``.collect()`` in engine source must be individually justified —
either a tiny grouped-aggregate/stats result, an explicitly size-guarded
materialization, or a reference-parity driver loop. This test greps the
package and fails on any NEW collect site, forcing an audit entry here
(with its justification) before it ships. ``toArrow``/``toPandas``
full-relation materializations are held to the same bar.

Keying (r4 ADVICE): entries are ``(file, snippet) -> expected count``, and
the comparison is EXACT in both directions — a new site whose line text
happens to equal an already-allowed snippet (e.g. the generic
``).collect()[0]`` continuation line) changes that snippet's count and
fails the audit; it can no longer hide behind an existing entry.
"""

from __future__ import annotations

import pathlib
import re
from collections import Counter

PKG = pathlib.Path(__file__).resolve().parents[1] / "semantic_vector_search_system_spark"

# file -> {justified collect-site line snippet (stripped): expected count}.
# A snippet change (refactor) OR a new site with identical text must
# re-justify by updating this table.
ALLOWED: dict[str, dict[str, int]] = {
    "__main__.py": {
        # single-row metrics summary / grouped report aggregates (CLI output)
        "row = evaluate_all(ret, qrels, k_values=_ints(args.k)).collect()[0]": 1,
        "rows = [r.asDict() for r in summary_by_size(ok, metric_cols).collect()]": 1,
    },
    "operators/mining.py": {
        # hard_negative_mine pool_extra default: single MAX row
        ".collect()[0]": 1,
    },
    "operators/curation.py": {
        # single-row aggregates: threshold median fit, vocab size, stored
        # meta row — all O(1) rows by construction
        'thr_row = rep.agg(F.expr("percentile(lm_score, 0.5)").alias("m50")).collect()[0]': 1,
        'vs = vocab.collect()[0]["vs"]': 1,
        'vs = int(vocab.collect()[0]["vs"])': 1,
        'meta = spark.read.table(f"{table_prefix}_meta").collect()[0]': 1,
    },
    "operators/lm.py": {
        # bigram_lm_score fast face (r9b): the count relations collect to
        # broadcast dicts — raise-guarded by the max_model_rows count
        # immediately above (cnt1/vocab are <= cnt2 by construction); the
        # same trade as dsir's bucket-bounded _fast_counts collect
        # r14: ONE collect doubles as the size gate (len-checked against
        # max_model_rows immediately after) — the separate count() job
        # the r13 form paid per serving call is gone
        # r15: limit(max_model_rows + 1) bounds the collect itself — an
        # oversized model ships at most one row past the gate, not all
        "c2_rows = cnt2.limit(max_model_rows + 1).collect()": 1,
        'c1 = {r["w1"]: int(r["c1"]) for r in cnt1.collect()}': 1,
        'vs = int(vocab.collect()[0]["vs"])': 1,
    },
    "plans/catalog.py": {
        # stream_curation_funnel batch-boundary probe: single MAX row
        'mtot = docs.agg((F.max("doc_id") + 1).alias("m")).collect()[0]["m"]': 1,
        # ann_index_upsert / stream_index_upsert (r12 ADVICE leak fix):
        # the 8-row per-list aggregate materializes BEFORE the finally
        # block scrubs the temp index files the lazy plan would re-read
        "rows = out.collect()": 2,
    },
    "sources/vectorstores.py": {
        # single aggregate row (count/dim probe before upsert)
        ").collect()[0]": 1,
    },
    "operators/similarity.py": {
        # estimate_selectivity: ONE scalar aggregate row over a seeded
        # sample — the bootstrap selectivity probe for filtered ANN
        # (callers with table stats pass selectivity= directly)
        'row = s.agg(F.count("*").alias("n"), F.sum("_m").alias("m")).collect()[0]': 1,
        # ivf_assignment_quality (r12 drift detector): ONE (mean, count)
        # aggregate row — the per-batch drift statistic
        "row = scored.collect()[0]": 1,
        # raise-guarded by max_rows count immediately above (bounded matmul)
        "rows = emb.select(id_col, vec_col).collect()": 1,
        # tiny centroid relation (n_lists/k rows), collected once and
        # broadcast by _broadcast_centroids — the one site behind the BLAS
        # IVF and SemDeDup assignment kernels (fast + inline-UDF forms)
        "crows = centroids.select(cent_id_col, cent_vec_col).collect()": 1,
        # partition-pruning predicate: bounded by queries x nprobe and the
        # max_probed_lists limit+raise guard
        'q_lists.select("cent_id").distinct().limit(max_probed_lists + 1).collect()': 1,
        # ivf_search_partitioned broadcast strategy: the query relation,
        # limit(max_broadcast_queries + 1)-bounded on the line above each
        # site (auto-detection + explicit-broadcast branches)
        ".collect()": 2,
        # tiny centroid relation for driver-side assignment (n_lists rows;
        # fallback when no precollected_centroids passed)
        'else centroids.select("cent_id", "cvec").collect()': 1,
        # merge="driver" partial top-k merge: bounded at
        # O(scan_batches x queries_probing x k) rows, each batch already
        # top-k-truncated (broadcast strategy caps queries at
        # max_broadcast_queries)
        "prows = partial.collect()": 1,
        # giant-cluster guard census: one row per OVERSIZE cluster
        # (> max_cluster_rows members) — pathological by definition,
        # a handful at most
        'for r in sizes.filter(F.col("_n") > max_cluster_rows).collect()': 1,
    },
    "operators/quantize.py": {
        # single aggregate row (global min/max for the quantization range)
        ").collect()[0]": 1,
    },
    "sources/parquet_index.py": {
        # _max_batch (r12 batch-freshness gate): ONE scalar MAX row over a
        # thin single-column scan — r14: runs at most once per index
        # (legacy/no-sidecar fallback; __meta.json serves every later call)
        'row = stored.agg(F.max("_batch").alias("m")).collect()[0]': 1,
        # upsert pre-pass: ONE aggregate row over the churn-sized updates
        # batch (dup-id gate + optional touched-partition collect_set)
        "dup_row = updates.agg(*aggs).collect()[0]": 1,
    },
    "operators/search.py": {
        # collect_doc_matrix: raise-guarded by max_rows count above
        "rows = docs.select(id_col, vec_col).collect()": 1,
        # collect_query_matrix: query side is small by construction (<=
        # thousands; the reference samples <=200 queries)
        "qrows = queries.select(qid_col, qvec_col).collect()": 1,
    },
    "plans/experiments.py": {
        # config-memoization anti-join result: O(configs), tiny
        "for r in remaining.collect()": 1,
        # single metrics row per experiment
        'ev = evaluate_all(top.select("qid", "docid", "rank"), qrels, k_values=(5, 10, 20)).collect()[0]': 1,
        # explicitly limit()-bounded query sample (reference parity)
        "q_sample = qvec.limit(min(20, cfg.sample_queries)).collect()": 1,
        # per-query latency loop over the bounded sample (reference's own
        # serial timing loop, run_experiments.py)
        "topk_bruteforce(one, dvec_cached, k=1, predicate=predicate).collect()": 1,
        "k: v for k, v in latency_stats(lat_df).collect()[0].asDict().items()": 1,
    },
    "plans/report_artifact.py": {
        "comp_rows = [r.asDict() for r in grouped_components(flat, metrics).collect()]": 1,
    },
    "plans/report.py": {
        # grouped t-test / rank-sum component rows: O(groups), tiny
        "comp = {r[group_col]: r for r in welch_t_components(results, group_col, metric).collect()}": 1,
        "for r in mann_whitney_components(results, group_col, metric, [g1, g2]).collect()": 1,
        # paired-test components: exactly ONE row by construction
        'row = paired_components(results, before_col, after_col).collect()[0]': 1,
    },
    "operators/dedup.py": {
        # strategy probe: limit(threshold+1) + columnar Arrow materialization
        "pairs.select(src_col, dst_col).limit(small_edge_threshold + 1).toArrow()": 1,
    },
    "operators/bpe.py": {
        # the per-merge argmax pair: limit(1), one row per iteration,
        # bounded by n_merges
        ".collect()  # 1 row per merge iteration (bounded by n_merges)": 1,
    },
    "operators/pq.py": {
        # single-row dimension probes (limit(1) aggregates)
        'd = dim_df.collect()[0]["_dim"] // m  # tiny: one row, schema probe': 1,
        'return codebook.select(F.size("cvec").alias("d")).limit(1).collect()[0]["d"]': 1,
        # single-row count aggregate sizing the training sample fraction
        'n = frac_df.collect()[0]["n"]  # single-row aggregate': 1,
        # k-means training sample, limit(sample_rows)-bounded on the lines
        # above (fixed-size sample at any corpus scale)
        "[r[0] for r in sampled.collect()], dtype=np.float64": 1,
        # ivfpq_train: single-row count aggregate + the same bounded
        # residual-training sample
        'n = emb.select(F.count("*").alias("n")).collect()[0]["n"]': 1,
        "X = np.asarray([r[0] for r in sampled.collect()], dtype=np.float64)": 1,
    },
    "functions/ranking.py": {
        # per-physical-partition row counts: O(num_partitions) rows — the
        # driver traffic that REPLACES a single-partition global sort
        'for r in parts.groupBy(_PID).agg(F.count("*").alias("n")).collect()': 1,
    },
    "operators/dsir.py": {
        # corpus feature counts: bucket-bounded (<= n_buckets rows) — the
        # same size as the broadcast the expr face ships the other way
        'rows = parts.groupBy("feat").agg(F.sum("pc").alias("c")).collect()': 1,
        # the stored serving model IS n_buckets rows by construction
        'for r in spark.read.table(f"{table_prefix}_ratios").collect()': 1,
    },
    "operators/clustering.py": {
        # smallest-id init rows: limit(k)-bounded (deterministic no-RNG init)
        "e.orderBy(\"vec_id\").limit(k).collect()": 1,
        # per-iteration centroid state: k*dim rows — the driver-sized state
        # every k-means implementation carries (Spark ML treeAggregates the
        # same matrix to the driver each step)
        "mrows = means.collect()  # bounded: k*dim rows (centroid state)": 1,
        # r14 fused fast-Lloyd branch: the same k*dim centroid state,
        # collected from the partial-sum aggregate instead of the explode
        "mrows = means.collect()  # bounded: k*dim rows": 1,
    },
    "operators/sketch.py": {
        # single scalar aggregate (min theta across sketch rows) deciding
        # the merged sketch's threshold
        'tmin = sketches.agg(F.min("theta").alias("t")).collect()[0]["t"]': 1,
    },
}


def _collect_sites() -> dict[str, Counter]:
    found: dict[str, Counter] = {}
    pat = re.compile(r"\.(collect|toArrow|toPandas)\(\)")
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        for line in py.read_text().splitlines():
            s = line.strip()
            if s.startswith("#"):
                continue
            if pat.search(s):
                found.setdefault(rel, Counter())[s] += 1
    return found


def test_no_unaudited_driver_collects():
    found = {f: dict(c) for f, c in _collect_sites().items()}
    allowed = {f: dict(c) for f, c in ALLOWED.items()}
    # exact two-way equality: extra sites (even text-identical duplicates of
    # an allowed snippet) AND stale entries both fail, with a precise diff
    diffs = []
    for f in sorted(set(found) | set(allowed)):
        got, want = found.get(f, {}), allowed.get(f, {})
        if got != want:
            for snip in sorted(set(got) | set(want)):
                g, w = got.get(snip, 0), want.get(snip, 0)
                if g != w:
                    diffs.append(f"{f}: {snip!r} found x{g}, audited x{w}")
    assert not diffs, (
        "driver-side .collect()/.toArrow()/.toPandas() audit mismatch — new "
        f"sites need a justified entry in {__file__}; removed sites need "
        "their entry dropped:\n" + "\n".join(diffs)
    )
