"""Runs one benchmark workload in this process and writes its result.

Started by ``run.py`` in a fresh process per run, with ``SPARK_GRAFT_CPUS``,
``SPARK_LOCAL_DIRS`` and ``TMPDIR`` already pointing into the run's work
directory.  Usage::

    python3 perfbench/workloads.py --workload eval_pipeline --seed 1 \
        --seconds 6 --trace 0 --workdir <dir> --out <result.json>

The harness times and counts its own calls into the package's modules; with
``--trace 1`` it also records a span around each call, runs each span under
its own Spark job group and switches Spark's event log on.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the package lives at the checkout root

from semantic_vector_search_system_spark.datagen import (  # noqa: E402
    generate_documents,
    generate_queries_and_qrels,
)
from semantic_vector_search_system_spark.operators.encode import HashingEncoderFast  # noqa: E402
from semantic_vector_search_system_spark.operators.metrics import evaluate_all  # noqa: E402
from semantic_vector_search_system_spark.operators.search import (  # noqa: E402
    collect_query_matrix,
    topk_bruteforce,
)
from semantic_vector_search_system_spark.operators.similarity import (  # noqa: E402
    ivf_assign_fast,
    ivf_assign_inline,
    ivf_search_partitioned,
    train_ivf_centroids,
)
from semantic_vector_search_system_spark.session import get_spark  # noqa: E402
from semantic_vector_search_system_spark.sources.parquet_index import (  # noqa: E402
    compact_vector_index,
    read_live_index,
    upsert_vector_index,
    write_vector_index,
)

from stats import RssSampler, ir_metrics, latency_summary, recall_at_k  # noqa: E402
from tracing import LAYER_STATS, Tracer, layer_stats, parse_event_logs  # noqa: E402

# -- Workload geometry.  Every size fits in memory many times over: the
#    largest relation is 5,000 x 512 float32 vectors (10 MB), so all reads
#    come from Spark's cache or the OS page cache.
EVAL_DOCS = 5_000         # eval_pipeline corpus
CHURN_DOCS = 5_000        # index_churn corpus
DIM = 512
K = 10
EVAL_QUERIES = 300        # eval_pipeline query batch
CHECK_QUERIES = 20        # eval_pipeline queries re-ranked in numpy per pass
N_LISTS = 64
NPROBE = 4
TRAIN_FRACTION = 0.02
SERVE_QUERIES = 200       # distinct single queries available to the serve loop
QUERIES_PER_ROUND = 1     # index_churn: served queries after each upsert
RECALL_QUERIES = 200      # index_churn: batch served once for recall@10
#: Set-up repetitions per workload; setup_s is their median.  The first
#: pays the JVM launch and every first-use compile.  index_churn's IVF
#: build costs ~30 s cold and ~10 s warm on a 4-core box, so it sets up
#: twice to keep a run near a minute.
SETUP_REPS = {"eval_pipeline": 3, "index_churn": 2}
#: Timed operations per run, at least.  An untimed operation before them
#: pays the first-use compiles of their code paths.
MIN_OPS = 2
SCORE_TOL_F32 = 1e-5      # float32 scores (exact search) vs numpy float32
SCORE_TOL_F64 = 1e-9      # float64 cosine scores (IVF) vs numpy float64
METRIC_TOL = 1e-12        # evaluate_all vs the Python recomputation

LAYERS = ("session", "datagen", "encode", "parquet_index", "search",
          "similarity", "metrics")

#: Per-layer metrics named by the layer map (name -> unit); the traced run
#: adds LAYER_STATS for every layer and the tracing overhead.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.python_job_floor_ms": "ms",
    "session.python_job_floor_end_ms": "ms",
    "session.numpy_cpu_floor_ms": "ms",
    "session.numpy_cpu_floor_end_ms": "ms",
    "session.peak_rss_mb": "MB",
    "datagen.docs_s": "s",
    "encode.busy_s": "s",
    "encode.rows": "count",
    "parquet_index.write_s": "s",
    "parquet_index.write_bytes": "B",
    "parquet_index.write_files": "count",
    "parquet_index.upsert_s": "s",
    "parquet_index.tombstone_rows": "count",
    "parquet_index.live_files": "count",
    "parquet_index.compact_s": "s",
    "parquet_index.compact_bytes_rewritten": "B",
    "parquet_index.bytes_per_live_vector": "B",
    "search.busy_s": "s",
    "search.pairs_scored": "count",
    "similarity.train_s": "s",
    "similarity.assign_s": "s",
    "similarity.serve_busy_ms": "ms",
    "similarity.spark_jobs_per_query": "count",
    "similarity.spark_tasks_per_query": "count",
    "similarity.rows_read_per_query": "count",
    "similarity.rows_read_per_result": "ratio",
    "metrics.eval_s": "s",
}
for _layer in LAYERS:
    for _stat, _unit in LAYER_STATS:
        LAYER_UNITS.setdefault(f"{_layer}.{_stat}", _unit)
LAYER_UNITS["trace.overhead_pct"] = "%"
LAYER_UNITS["trace.bookkeeping_ms"] = "ms"


class CheckFailed(Exception):
    """An output of the package disagrees with the harness's recomputation."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(os.path.realpath(path)):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def top_k_rows(scores: np.ndarray, ids: np.ndarray, k: int) -> list:
    """(id, score) of the k best rows, score descending then id ascending."""
    kk = min(k, len(scores))
    if kk == 0:
        return []
    cut = np.partition(-scores, kk - 1)[kk - 1]
    cand = np.nonzero(-scores <= cut)[0]
    order = sorted(cand, key=lambda i: (-scores[i], ids[i]))[:kk]
    return [(ids[i], float(scores[i])) for i in order]


def check_ranked(got: list, scores: np.ndarray, ids: np.ndarray,
                 id_pos: dict, k: int, tol: float, what: str) -> None:
    """``got`` [(id, score), ...] must be an exact top-k of ``scores``:
    same length, rank-wise scores within ``tol`` of the reference, every
    returned id carrying its true score, no id twice.  Ties within ``tol``
    may resolve either way; anything else is a wrong result."""
    ref = top_k_rows(scores, ids, k)
    check(len(got) == len(ref), f"{what}: {len(got)} results, expected {len(ref)}")
    check(len({d for d, _ in got}) == len(got), f"{what}: duplicate ids")
    for (gid, gs), (_rid, rs) in zip(got, ref):
        check(abs(gs - rs) <= tol, f"{what}: score {gs} vs exact {rs}")
        pos = id_pos.get(gid)
        check(pos is not None, f"{what}: id {gid} is not a candidate")
        check(abs(scores[pos] - gs) <= tol,
              f"{what}: id {gid} scored {gs}, true score {scores[pos]}")


def normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    return np.divide(m, n, out=np.zeros_like(m), where=n > 0)


def probed_lists(qn: np.ndarray, cids: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """The NPROBE lists a query probes: best cosine, ties by list id."""
    s = cn @ qn
    order = sorted(range(len(cids)), key=lambda i: (-s[i], cids[i]))
    return cids[order[:NPROBE]]


class Run:
    """State of one workload run: the session, timings, counts, checks."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.tracer = Tracer(enabled=bool(args.trace))
        self.work = args.workdir
        self.eventlog = os.path.join(self.work, "eventlog")
        self.spark = None
        self.enc = HashingEncoderFast(dim=DIM)
        self.times: dict[str, list] = {}   # step name -> seconds per call
        self.counts: dict = {}
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.metrics: dict = {}            # e2e values
        self.detail: dict = {}             # per-layer values (name -> value)
        self._wall_end = None

    # -- session --------------------------------------------------------
    def conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            # socket paths are limited to 107 bytes: a path relative to the
            # checkout root (every process's working directory) stays short
            "spark.python.unix.domain.socket.dir": os.path.relpath(self.work),
        }
        if self.tracer.enabled:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        return conf

    def start_session(self, request: str) -> None:
        """Start the session on the first set-up repetition; later ones
        reuse it with every cached relation dropped."""
        if self.spark is not None:
            self.spark.catalog.clearCache()
            return
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark.sparkContext)
        self.record("session.start", time.perf_counter() - t0, request)

    # -- timing ---------------------------------------------------------
    def record(self, step: str, seconds: float, request: str) -> None:
        self.times.setdefault(step, []).append((request, seconds))

    def call(self, step: str, request: str, fn):
        """Time one call into a layer (``step`` = ``<layer>.<call>``)."""
        with self.tracer.span(step, request):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.record(step, dt, request)
        return out, dt

    def step_times(self, step: str, requests=None) -> list[float]:
        return [s for r, s in self.times.get(step, ())
                if requests is None or r in requests]

    def measuring(self, done: int) -> bool:
        """True until ``done`` timed operations number at least MIN_OPS and
        add up to ``--seconds``.  Checks between operations and the untimed
        first operation (``op0``) are not counted; a wall clock bound stops
        a run whose operations keep failing."""
        if self._wall_end is None:
            self._wall_end = time.perf_counter() + 4 * self.args.seconds + 30
        timed = sum(s for r, s in self.times.get("harness.op", ()) if r != "op0")
        return ((done < MIN_OPS or timed < self.args.seconds)
                and time.perf_counter() < self._wall_end)

    def probe_floors(self, suffix: str) -> None:
        """Empty python-stage job and a fixed numpy kernel, means of 2:
        the per-job floor serving pays and the contention record."""
        cpus = self.spark.sparkContext.defaultParallelism
        plan = self.spark.range(0, cpus, 1, cpus).mapInPandas(
            lambda it: (pdf for pdf in it), schema="id long")
        a = np.random.default_rng(7).standard_normal((512, 512))
        job, cpu = [], []
        for _ in range(2):
            _, dt = self.call("session.floor_probe", f"floors{suffix}", lambda: plan.write
                              .format("noop").mode("overwrite").save())
            job.append(dt)
            t0 = time.perf_counter()
            x = a
            for _ in range(8):
                x = a @ a
            cpu.append(time.perf_counter() - t0)
        self.detail[f"session.python_job_floor{suffix}_ms"] = statistics.median(job) * 1e3
        self.detail[f"session.numpy_cpu_floor{suffix}_ms"] = statistics.median(cpu) * 1e3

    def op(self, fn, *args):
        """One timed operation: an exception counts as a failed operation
        and the run goes on; a failed check stops the run."""
        self.attempted += 1
        try:
            return fn(*args)
        except CheckFailed:
            raise
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None


# ---------------------------------------------------------------------------
# eval_pipeline: generate -> encode -> index -> exact search -> evaluate
# ---------------------------------------------------------------------------
def eval_setup(run: Run, rep: int) -> dict:
    req = f"setup{rep}"
    with run.tracer.span("harness.setup", req):
        t0 = time.perf_counter()
        run.start_session(req)
        spark = run.spark

        def gen():
            docs = generate_documents(spark, EVAL_DOCS, seed=run.seed).cache()
            docs.count()
            queries, qrels = generate_queries_and_qrels(docs, EVAL_QUERIES, seed=run.seed)
            qrels = qrels.cache()
            qrel_rows = qrels.collect()
            return docs, queries, qrels, qrel_rows

        (docs, queries, qrels, qrel_rows), _ = run.call("datagen.generate", req, gen)
        qvec = run.enc.encode(queries, text_col="query").select("id", "vec") \
            .withColumnRenamed("id", "qid").withColumnRenamed("vec", "qvec")
        qm, _ = run.call("encode.queries", req, lambda: collect_query_matrix(qvec))
        run.setup_s.append(time.perf_counter() - t0)
    qrel_map: dict = {}
    for r in qrel_rows:
        qrel_map.setdefault(r["qid"], set()).add(r["docid"])
    return {"docs": docs, "qvec": qvec, "qm": qm, "qrels": qrels,
            "qrel_map": qrel_map, "index": os.path.join(run.work, "eval_index"),
            "passes": []}


def eval_pass(run: Run, st: dict, i: int) -> None:
    req = f"op{i}"
    spark = run.spark
    with run.tracer.span("harness.op", req):
        t0 = time.perf_counter()
        run.call("encode.corpus", req, lambda: run.enc.encode(st["docs"])
                 .write.format("noop").mode("overwrite").save())
        run.call("parquet_index.write", req, lambda: write_vector_index(
            run.enc.encode(st["docs"]), st["index"]))
        dvec = spark.read.parquet(st["index"]).select("id", "vec") \
            .withColumnRenamed("id", "docid")
        rows, _ = run.call("search.topk", req, lambda: topk_bruteforce(
            st["qvec"], dvec, k=K, precollected=st["qm"], score_dtype="float32",
        ).collect())
        retr = spark.createDataFrame(
            [(r["qid"], r["docid"], r["rank"]) for r in rows],
            "qid string, docid string, rank int")
        ev, _ = run.call("metrics.evaluate", req,
                         lambda: evaluate_all(retr, st["qrels"]).collect()[0].asDict())
        run.record("harness.op", time.perf_counter() - t0, req)
    st["passes"].append((req, rows, ev))


def eval_check(run: Run, st: dict) -> None:
    """Numpy exact top-10 from the index read back, and P@k/R@k/AP/MAP
    recomputed in Python, against every pass."""
    table = pads.dataset(st["index"], format="parquet").to_table(columns=["id", "vec"])
    ids = np.array(table.column("id").to_pylist(), dtype=object)
    check(len(ids) == EVAL_DOCS and len(set(ids)) == EVAL_DOCS,
          f"index holds {len(ids)} rows / {len(set(ids))} ids, expected {EVAL_DOCS}")
    D = np.asarray(pc.list_flatten(table.column("vec")).to_numpy(), dtype=np.float32)
    D = D.reshape(len(ids), DIM)
    id_pos = {d: i for i, d in enumerate(ids)}
    qids, qmat = st["qm"]
    rng = np.random.default_rng(run.seed)
    sample = sorted(rng.choice(len(qids), size=CHECK_QUERIES, replace=False))
    ref_scores = {qids[j]: (D @ qmat[j].astype(np.float32)).astype(np.float64)
                  for j in sample}
    for req, rows, ev in st["passes"]:
        ranked: dict = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            ranked.setdefault(r["qid"], []).append((r["docid"], r["score"]))
        for q, scores in ref_scores.items():
            check_ranked(ranked.get(q, []), scores, ids, id_pos, K,
                         SCORE_TOL_F32, f"{req} exact top-{K} of {q}")
        mine = ir_metrics({q: [d for d, _ in v] for q, v in ranked.items()},
                          st["qrel_map"])
        for name, val in mine.items():
            check(abs(ev[name] - val) <= METRIC_TOL,
                  f"{req} evaluate_all {name}={ev[name]!r}, recomputed {val!r}")


def run_eval_pipeline(run: Run) -> None:
    for rep in range(1, SETUP_REPS["eval_pipeline"] + 1):
        st = eval_setup(run, rep)
    run.op(eval_pass, run, st, 0)
    run.probe_floors("")
    i = 0
    while run.measuring(i):
        i += 1
        run.op(eval_pass, run, st, i)
    run.probe_floors("_end")
    ops = {req for req, _, _ in st["passes"]} - {"op0"}
    check(bool(ops), "no pipeline pass completed")
    eval_check(run, st)
    ingest = run.step_times("parquet_index.write", ops)
    nbytes, nfiles = dir_stats(st["index"])
    last_ev = st["passes"][-1][2]
    run.metrics.update({
        "op_p50_ms": statistics.median(run.step_times("harness.op", ops)) * 1e3,
        "write_rows_per_s": statistics.median(EVAL_DOCS / s for s in ingest),
        "read_p50_ms": statistics.median(run.step_times("search.topk", ops)) * 1e3,
        "recall_at_10": last_ev["r_at_10"],
        "index_bytes_per_vector": nbytes / EVAL_DOCS,
    })
    run.detail.update({
        "parquet_index.write_bytes": nbytes,
        "parquet_index.write_files": nfiles,
        "parquet_index.bytes_per_live_vector": nbytes / EVAL_DOCS,
        "search.pairs_scored": EVAL_QUERIES * EVAL_DOCS * len(ops),
        "encode.rows": EVAL_QUERIES + 2 * EVAL_DOCS * len(ops),
    })
    run.counts["ops"] = ops


# ---------------------------------------------------------------------------
# index_churn: IVF index under upserts, live serving and compaction
# ---------------------------------------------------------------------------
def churn_setup(run: Run, rep: int) -> dict:
    """Session, corpus and IVF index: 64 k-means lists trained on a 2%
    sample, nearest-list assignment, a cent_id-partitioned write stamped
    ``batch=0``.  The generator feeds the encoder directly (one job); the
    datagen layer on its own is measured by eval_pipeline."""
    from pyspark.sql import functions as F

    req = f"setup{rep}"
    index = os.path.join(run.work, "ivf_index")
    for p in glob.glob(index + "*"):  # the previous repetition's index
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    with run.tracer.span("harness.setup", req):
        t0 = time.perf_counter()
        run.start_session(req)
        spark = run.spark
        docs, _ = run.call("datagen.generate", req, lambda: generate_documents(
            spark, CHURN_DOCS, seed=run.seed))

        def encode():
            dvec = run.enc.encode(docs).select(F.col("id").alias("docid"), "vec").cache()
            dvec.count()
            return dvec

        dvec, _ = run.call("encode.corpus", req, encode)
        cents, _ = run.call("similarity.train", req, lambda: train_ivf_centroids(
            dvec, N_LISTS, vec_col="vec", seed=7, sample_fraction=TRAIN_FRACTION))
        pre_cents, _ = run.call("similarity.centroids", req, lambda: cents.collect())
        dl, _ = run.call("similarity.assign", req, lambda: ivf_assign_fast(
            dvec, cents, id_col="docid", vec_col="vec", nprobe=1).select("docid", "cent_id"))
        run.call("parquet_index.write", req, lambda: write_vector_index(
            dvec.join(dl, "docid"), index, partition_by="cent_id", batch=0))

        def queries():
            q, _ = generate_queries_and_qrels(docs, SERVE_QUERIES + RECALL_QUERIES,
                                              seed=run.seed)
            qv = run.enc.encode(q, text_col="query").select(
                F.col("id").alias("qid"), F.col("vec").alias("qvec"))
            return collect_query_matrix(qv)

        (qids, qmat), _ = run.call("encode.queries", req, queries)
        run.setup_s.append(time.perf_counter() - t0)
    return {"index": index, "dvec": dvec, "cents": cents, "pre_cents": pre_cents,
            "qrows": [(q, v.tolist()) for q, v in zip(qids, qmat)],
            "qschema": spark.createDataFrame([], "qid string, qvec array<double>"),
            "served": [], "next_q": 0, "replaced": 0}


def churn_batches(st: dict) -> None:
    """The churn batch: the ~1% of docs whose id ends in "42", negated
    (even rounds) or restored (odd rounds).  Every row replaces a live one."""
    from pyspark.sql import functions as F

    sel = st["dvec"].filter(F.col("docid").endswith("42"))
    st["orig"] = {r["docid"]: np.asarray(r["vec"]) for r in sel.collect()}
    st["churn_ids"] = sorted(st["orig"])
    st["churn"] = {-1: sel.withColumn("vec", F.transform("vec", lambda c: -c)), 1: sel}


def serve(run: Run, st: dict, req: str, qrows: list, step: str) -> list:
    res, _ = run.call(step, req, lambda: ivf_search_partitioned(
        run.spark, st["index"], st["cents"], st["qschema"], k=K, nprobe=NPROBE,
        precollected_centroids=st["pre_cents"], merge="driver",
        precollected_queries=qrows, live=True,
    ).collect())
    return res


def churn_round(run: Run, st: dict, i: int) -> bool:
    req = f"op{i}"
    sign = 1 if i % 2 else -1   # each round flips the churn rows' vectors
    with run.tracer.span("harness.op", req):
        t0 = time.perf_counter()
        upd, t_assign = run.call("similarity.assign", req, lambda: ivf_assign_inline(
            st["churn"][sign], st["cents"], vec_col="vec"))
        out, t_up = run.call("parquet_index.upsert", req, lambda: upsert_vector_index(
            run.spark, st["index"], upd, id_col="docid", partition_by="cent_id"))
        run.record("harness.write", t_assign + t_up, req)
        for _ in range(QUERIES_PER_ROUND):
            q = st["qrows"][st["next_q"]]
            st["next_q"] += 1
            st["served"].append((req, q, serve(run, st, req, [q], "similarity.serve")))
        run.record("harness.op", time.perf_counter() - t0, req)
    st["replaced"] += out["replaced"]
    st["last_round"] = (req, sign, out)
    return True


class LiveModel:
    """The live index as the harness reads it with pyarrow: every stored
    row minus the tombstoned ``(docid, _batch)`` pairs."""

    def __init__(self, index: str):
        t = pads.dataset(index, format="parquet", partitioning="hive").to_table(
            columns=["docid", "vec", "_batch", "cent_id"])
        docid = np.array(t.column("docid").to_pylist(), dtype=object)
        batch = np.array(t.column("_batch").to_pylist())
        keep = np.ones(len(docid), dtype=bool)
        tomb_dir = index.rstrip("/") + "__tombstones"
        if os.path.isdir(tomb_dir):
            tt = pads.dataset(tomb_dir, format="parquet").to_table(columns=["docid", "_batch"])
            dead = set(zip(tt.column("docid").to_pylist(), tt.column("_batch").to_pylist()))
            keep = np.array([(d, int(b)) not in dead for d, b in zip(docid, batch)])
        vec = np.asarray(pc.list_flatten(t.column("vec")).to_numpy(), dtype=np.float64)
        vec = vec.reshape(len(docid), DIM)
        self.ids = docid[keep]
        self.batch = batch[keep]
        self.cent = np.array(t.column("cent_id").to_pylist())[keep]
        self.vn = normalize(vec[keep])
        self.pos = {d: i for i, d in enumerate(self.ids)}


def check_serves(model: LiveModel, st: dict, served: list) -> dict:
    """Each served result must be the exact top-10 over the live rows of the
    lists the query probed; returns the exact unrestricted top-10 ids."""
    C = np.array([c[1] for c in st["pre_cents"]], dtype=np.float64)
    cids = np.array([c[0] for c in st["pre_cents"]])
    cn = normalize(C)
    exact = {}
    for req, (qid, qv), rows in served:
        qn = normalize(np.asarray(qv, dtype=np.float64))
        scores = model.vn @ qn
        lists = set(probed_lists(qn, cids, cn).tolist())
        mask = np.array([c in lists for c in model.cent])
        sub_ids = model.ids[mask]
        got = [(r["docid"], r["score"]) for r in
               sorted((r for r in rows if r["qid"] == qid), key=lambda r: r["rank"])]
        check_ranked(got, scores[mask], sub_ids,
                     {d: i for i, d in enumerate(sub_ids)}, K, SCORE_TOL_F64,
                     f"{req} IVF top-{K} of {qid}")
        exact[qid] = [d for d, _ in top_k_rows(scores, model.ids, K)]
    return exact


def check_live(run: Run, st: dict, what: str, probe: str | None = None):
    """read_live_index holds exactly CHURN_DOCS distinct live ids, and the
    harness's own read of the files agrees.  With ``probe``, the same job
    also returns that id's live rows as ``(count, _batch, vec)``."""
    from pyspark.sql import functions as F

    is_probe = F.col("docid") == F.lit(probe)
    row = read_live_index(run.spark, st["index"]).agg(
        F.count("*").alias("n"), F.count_distinct("docid").alias("d"),
        F.sum(is_probe.cast("int")).alias("pn"),
        F.max(F.when(is_probe, F.col("_batch"))).alias("pb"),
        F.first(F.when(is_probe, F.col("vec")), ignorenulls=True).alias("pv"),
    ).collect()[0]
    check(row["n"] == CHURN_DOCS and row["d"] == CHURN_DOCS,
          f"{what}: read_live_index has {row['n']} rows / {row['d']} ids, "
          f"expected {CHURN_DOCS}")
    model = LiveModel(st["index"])
    check(len(model.ids) == CHURN_DOCS and len(model.pos) == CHURN_DOCS,
          f"{what}: the index files hold {len(model.ids)} live rows "
          f"/ {len(model.pos)} ids, expected {CHURN_DOCS}")
    return model, (row["pn"], row["pb"], row["pv"])


def check_round(run: Run, st: dict, rng) -> LiveModel:
    """After an upsert: every churn row replaced one live row, N live ids,
    a sampled churned id live once with its new vector and batch (through
    read_live_index and through the files), served results exact."""
    req, sign, out = st["last_round"]
    n = len(st["churn_ids"])
    check(out["upserted"] == n and out["replaced"] == n,
          f"{req}: upsert returned {out}, expected {n} replacements")
    probe = st["churn_ids"][int(rng.integers(n))]
    model, (pn, pb, pv) = check_live(run, st, req, probe)
    check(pn == 1 and pb == out["batch"],
          f"{req}: churned id {probe} live {pn} times at batch {pb}, "
          f"expected once at {out['batch']}")
    check(np.array_equal(np.asarray(pv), sign * st["orig"][probe]),
          f"{req}: churned id {probe} did not come back with its new vector")
    check(int(model.batch[model.pos[probe]]) == out["batch"],
          f"{req}: the files serve a superseded generation of {probe}")
    check_serves(model, st, [s for s in st["served"] if s[0] == req])
    return model


def run_index_churn(run: Run) -> None:
    for rep in range(1, SETUP_REPS["index_churn"] + 1):
        st = churn_setup(run, rep)
    st["built"] = dir_stats(st["index"])
    churn_batches(st)
    rng = np.random.default_rng(run.seed)
    if run.op(churn_round, run, st, 0):
        check_round(run, st, rng)
    run.probe_floors("")
    i = 0
    while run.measuring(i) and st["next_q"] + QUERIES_PER_ROUND <= SERVE_QUERIES:
        i += 1
        model = check_round(run, st, rng) if run.op(churn_round, run, st, i) else None
    run.probe_floors("_end")
    ops = {f"op{j}" for j in range(1, i + 1)}
    check(bool(run.step_times("harness.op", ops)), "no timed churn round completed")

    # one batch of distinct queries over the churned live index: recall@10
    if model is None:  # the last round failed: read the index as it is
        model, _ = check_live(run, st, "after churn")
    batch_q = st["qrows"][SERVE_QUERIES:]
    res = serve(run, st, "recall", batch_q, "similarity.serve_batch")
    by_q: dict = {}
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        by_q.setdefault(r["qid"], []).append(r)
    exact = check_serves(model, st, [("recall", q, by_q.get(q[0], [])) for q in batch_q])
    recall = recall_at_k({q: [r["docid"] for r in v] for q, v in by_q.items()}, exact, K)
    before_bytes, live_files = dir_stats(st["index"])
    tomb_bytes, _ = dir_stats(st["index"] + "__tombstones")

    # maintenance: compaction folds the tombstones into a fresh generation
    compacted = run.op(lambda: run.call("parquet_index.compact", "maint", lambda: (
        compact_vector_index(run.spark, st["index"], id_col="docid", partition_by="cent_id"))))
    check_live(run, st, "after compaction")
    if compacted:
        raw = run.spark.read.parquet(st["index"]).count()
        check(raw == CHURN_DOCS, f"after compaction: {raw} stored rows, expected {CHURN_DOCS}")
    compact_bytes, _ = dir_stats(st["index"])

    write_s = run.step_times("harness.write", ops)
    serve_s = run.step_times("similarity.serve", ops)
    run.metrics.update({
        "op_p50_ms": statistics.median(run.step_times("harness.op", ops)) * 1e3,
        "write_rows_per_s": statistics.median(len(st["churn_ids"]) / s for s in write_s),
        "read_p50_ms": statistics.median(serve_s) * 1e3,
        "recall_at_10": recall,
        "index_bytes_per_vector": compact_bytes / CHURN_DOCS,
    })
    run.detail.update({
        "parquet_index.write_bytes": st["built"][0],
        "parquet_index.write_files": st["built"][1],
        "encode.rows": CHURN_DOCS + SERVE_QUERIES + RECALL_QUERIES,
        "parquet_index.tombstone_rows": st["replaced"],
        "parquet_index.live_files": live_files,
        "parquet_index.compact_bytes_rewritten": compact_bytes,
        "parquet_index.bytes_per_live_vector": (before_bytes + tomb_bytes) / CHURN_DOCS,
    })
    run.counts["ops"] = ops
    run.counts["serve_latency"] = latency_summary(serve_s)


WORKLOADS = {"eval_pipeline": run_eval_pipeline, "index_churn": run_index_churn}


# ---------------------------------------------------------------------------
# result assembly
# ---------------------------------------------------------------------------
def per_layer(run: Run, peak_rss: int) -> dict:
    """The traced run's per-layer figures, over the last set-up repetition
    and everything after it."""
    last = {f"setup{SETUP_REPS[run.args.workload]}"}
    keep = last | {"floors", "floors_end", "recall", "maint"} | set(run.counts.get("ops", ()))
    spans = [s for s in run.tracer.spans if s["request"] in keep]
    groups = parse_event_logs(run.eventlog)
    out = {name: 0 for name in LAYER_UNITS}
    out.update(layer_stats(spans, groups, LAYERS))

    def busy(step, reqs=keep):
        return sum(run.step_times(step, reqs))

    out["session.start_s"] = run.step_times("session.start")[0]
    out["session.peak_rss_mb"] = peak_rss / 2**20
    out["datagen.docs_s"] = busy("datagen.generate", last)
    out["encode.busy_s"] = busy("encode.corpus") + busy("encode.queries")
    out["parquet_index.write_s"] = busy("parquet_index.write")
    out["parquet_index.upsert_s"] = busy("parquet_index.upsert")
    out["parquet_index.compact_s"] = busy("parquet_index.compact")
    out["search.busy_s"] = busy("search.topk")
    out["similarity.train_s"] = busy("similarity.train", last)
    out["similarity.assign_s"] = busy("similarity.assign")
    out["metrics.eval_s"] = busy("metrics.evaluate")
    serve_spans = [s for s in spans if s["name"] == "similarity.serve"]
    if serve_spans:
        n = len(serve_spans)
        out["similarity.serve_busy_ms"] = busy("similarity.serve") * 1e3 / n
        out["similarity.spark_jobs_per_query"] = sum(s.get("spark_jobs", 0) for s in serve_spans) / n
        out["similarity.spark_tasks_per_query"] = sum(s.get("spark_tasks", 0) for s in serve_spans) / n
        rows = sum(groups.get(s["group"], {}).get("records_read", 0) for s in serve_spans) / n
        out["similarity.rows_read_per_query"] = rows
        out["similarity.rows_read_per_result"] = rows / K
    out.update({k: v for k, v in run.detail.items() if k in LAYER_UNITS})
    out["trace.bookkeeping_ms"] = run.tracer.bookkeeping_s * 1e3
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    sampler = RssSampler().start()
    correct, error = True, None
    try:
        WORKLOADS[args.workload](run)
    except CheckFailed as exc:
        correct, error = False, str(exc)
        traceback.print_exc()
    finally:
        if run.spark is not None:
            run.tracer.harvest()
            run.spark.stop()
        peak = sampler.stop()
    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "error": error,
        "attempted": run.attempted, "failed": run.failed,
        "setup_reps_s": run.setup_s,
        "steps": {k: [s for _, s in v] for k, v in run.times.items()},
    }
    if correct:
        run.metrics["setup_s"] = statistics.median(run.setup_s)
        result["e2e"] = run.metrics
        result["serve_latency"] = run.counts.get("serve_latency")
        result["floors"] = {k: v for k, v in run.detail.items() if k.startswith("session.")}
        result["peak_rss_mb"] = peak / 2**20
        if args.trace:
            result["per_layer"] = per_layer(run, peak)
            run.tracer.write(os.path.splitext(args.out)[0] + "-spans.json")
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
