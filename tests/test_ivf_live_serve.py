"""Live IVF serving and upsert without metadata-only Spark jobs.

A live single-query serve over a ``partitionBy(cent_id)`` index opens only
the probed lists' directories (no file-listing job, whatever the list
count) with the schema read from a file footer (no inference job) and,
with ``merge="driver"``, returns a ``LocalTableScan`` whose collect runs no
job.  An upsert opens the index once and runs at most 9 jobs, none wider
than the cores; assigning against a trained codebook runs none.  Results
are checked against a NumPy top-k over the live rows of the probed lists.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

N_LISTS = 40      # > spark.sql.sources.parallelPartitionDiscovery.threshold (32)
N_CENTS = N_LISTS + 2  # lists 40 and 41 are never written: no directory
DIM = 4
K = 5
NPROBE = 2


def _normalize(m):
    m = np.asarray(m, dtype=np.float64)
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    return np.divide(m, n, out=np.zeros_like(m), where=n > 0)


@pytest.fixture(scope="module")
def live_index(spark, tmp_path_factory):
    """A 40-list live index: batch 0 plus one upsert batch that moves and
    re-encodes 8 ids, so the tombstone table exists."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        upsert_vector_index,
        write_vector_index,
    )

    rng = np.random.default_rng(11)
    C = rng.normal(size=(N_CENTS, DIM))
    C[41] = C[40] + 0.001 * rng.normal(size=DIM)  # the two missing lists
    cents = [(i, C[i].tolist()) for i in range(N_CENTS)]
    live = {}
    for i in range(4 * N_LISTS):
        live[f"d{i}"] = (C[i % N_LISTS] + 0.3 * rng.normal(size=DIM), i % N_LISTS)
    path = str(tmp_path_factory.mktemp("live_ivf") / "index")
    write_vector_index(
        spark.createDataFrame(
            [(d, v.tolist(), c) for d, (v, c) in live.items()],
            "docid string, vec array<double>, cent_id int",
        ),
        path, partition_by="cent_id", batch=0,
    )
    moved = {
        f"d{i}": (C[(i + 1) % N_LISTS] + 0.3 * rng.normal(size=DIM), (i + 1) % N_LISTS)
        for i in range(8)
    }
    upsert_vector_index(
        spark, path,
        spark.createDataFrame(
            [(d, v.tolist(), c) for d, (v, c) in moved.items()],
            "docid string, vec array<double>, cent_id int",
        ),
        id_col="docid", partition_by="cent_id",
    )
    live.update(moved)
    assert os.path.isdir(path + "__tombstones")
    return {"path": path, "C": C, "cents": cents, "live": live}


def _probed(C, q):
    sims = _normalize(C) @ _normalize(q)
    return set(np.argsort(-sims, kind="stable")[:NPROBE].tolist())


def _expected(live, lists, q):
    """Exact top-K (score desc, docid asc) over the live rows of ``lists``."""
    qn = _normalize(q)
    cand = [(d, float(_normalize(v) @ qn)) for d, (v, c) in live.items() if c in lists]
    return sorted(cand, key=lambda t: (-t[1], t[0]))[:K]


def _serve(spark, st, q, merge="driver"):
    from semantic_vector_search_system_spark.operators.similarity import (
        ivf_search_partitioned,
    )

    cdf = spark.createDataFrame(st["cents"], "cent_id int, cvec array<double>")
    return ivf_search_partitioned(
        spark, st["path"], cdf,
        spark.createDataFrame([], "qid string, qvec array<double>"),
        k=K, nprobe=NPROBE, precollected_centroids=st["cents"],
        precollected_queries=[("q", list(map(float, q)))], merge=merge, live=True,
    )


def _group_stages(spark, group, fn):
    """Run ``fn`` under a job group; return (result, jobs, [stage numTasks])."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = st.getJobIdsForGroup(group)
    tasks = []
    for j in jobs:
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None:
                tasks.append(info.numTasks)
    return out, jobs, tasks


def _check(rows, expected):
    got = [(r["docid"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == pytest.approx([s for _, s in expected], abs=1e-9)
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, len(expected) + 1)
    )


def test_live_serve_runs_no_listing_job_and_collects_job_free(spark, live_index):
    st = live_index
    q = st["C"][3] + 0.1
    lists = _probed(st["C"], q)
    assert not lists & {40, 41}
    res, jobs, tasks = _group_stages(
        spark, "ivf_live_serve", lambda: _serve(spark, st, q)
    )
    # no listing job (it had one task per list directory, 40) and no
    # schema-inference job (the schema comes from a file footer): the two
    # jobs left are the tombstone broadcast and the 1-2 file pruned scan
    assert jobs and max(tasks) < N_LISTS, tasks
    assert len(jobs) <= 2, (jobs, tasks)
    # the merged result is local rows: no Spark job to collect it
    assert "LocalTableScan" in res._jdf.queryExecution().executedPlan().toString()
    rows, cjobs, _ = _group_stages(spark, "ivf_live_collect", res.collect)
    assert cjobs == []
    _check(rows, _expected(st["live"], lists, q))


def test_pruned_scan_roots_are_the_probed_directories(spark, live_index):
    st = live_index
    q = st["C"][17] - 0.05
    lists = _probed(st["C"], q)
    res = _serve(spark, st, q, merge="window")
    # inputFiles() is every file the scans' file indexes listed, before
    # partition filters: opening the root would list all 40 directories
    listed = {
        os.path.basename(os.path.dirname(f))
        for f in res.inputFiles()
        if "cent_id=" in f
    }
    assert listed == {f"cent_id={c}" for c in lists}, listed
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the cent_id partition filter and the tombstone anti-join both stay
    assert "PartitionFilters: [" in plan and "cent_id" in plan.split(
        "PartitionFilters: ["
    )[1][:200]
    assert "LeftAnti" in plan
    _check(res.collect(), _expected(st["live"], lists, q))


def test_probed_list_without_directory(spark, live_index):
    st = live_index
    q = st["C"][40]
    lists = _probed(st["C"], q)
    assert lists == {40, 41}  # both probed lists were never written
    empty = _serve(spark, st, q)
    assert empty.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == [
        ("qid", "string"), ("docid", "string"), ("rank", "int"), ("score", "double"),
    ]
    # one missing list among the probed ones contributes nothing
    C = st["C"]
    j = int(np.argmax(_normalize(C[:N_LISTS]) @ _normalize(C[40])))
    q2 = _normalize(C[40]) + 1.5 * _normalize(C[j])
    lists2 = _probed(C, q2)
    assert lists2 & {40, 41} and lists2 - {40, 41}, lists2
    _check(_serve(spark, st, q2).collect(), _expected(st["live"], lists2, q2))


def test_upsert_opens_the_index_once(spark, live_index, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    from semantic_vector_search_system_spark.sources.parquet_index import (
        read_live_index,
        upsert_vector_index,
    )

    st = live_index
    path = st["path"]
    opened = []
    orig = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        opened.extend(p for p in paths if os.path.normpath(p) == path)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    # d0 moves back to list 0 — the superseded probe must stay unpruned
    upd = spark.createDataFrame(
        [("d0", st["C"][0].tolist(), 0), ("d1", st["C"][1].tolist(), 1)],
        "docid string, vec array<double>, cent_id int",
    )
    out = upsert_vector_index(spark, path, upd, id_col="docid", partition_by="cent_id")
    assert len(opened) == 1, opened
    assert out["upserted"] == 2 and out["replaced"] == 2
    monkeypatch.undo()
    rows = read_live_index(spark, path).filter("docid in ('d0', 'd1')").collect()
    assert sorted((r["docid"], r["_batch"], r["cent_id"]) for r in rows) == [
        ("d0", out["batch"], 0), ("d1", out["batch"], 1),
    ]
    st["live"].update({"d0": (st["C"][0], 0), "d1": (st["C"][1], 1)})


def test_open_index_schema_matches_spark_inference(spark, live_index):
    from semantic_vector_search_system_spark.sources.parquet_index import (
        _footer_schema,
        _open_index,
    )

    for path in (live_index["path"], live_index["path"] + "__tombstones"):
        assert _footer_schema(path) is not None, path
        assert _open_index(spark, path).schema == spark.read.parquet(path).schema
    assert "cent_id" in _open_index(spark, live_index["path"]).columns
    # the tombstone table is flat: opening it runs no Spark job at all
    _, jobs, _ = _group_stages(
        spark, "open_tombstones",
        lambda: _open_index(spark, live_index["path"] + "__tombstones"),
    )
    assert jobs == []


def test_upsert_job_budget(spark, live_index):
    from semantic_vector_search_system_spark.sources.parquet_index import (
        upsert_vector_index,
    )

    st = live_index
    C = st["C"]
    moved = {f"d{i}": (C[(i + 3) % N_LISTS], (i + 3) % N_LISTS) for i in range(20, 26)}
    upd = spark.createDataFrame(
        [(d, v.tolist(), c) for d, (v, c) in moved.items()],
        "docid string, vec array<double>, cent_id int",
    )
    out, jobs, tasks = _group_stages(
        spark, "ivf_upsert",
        lambda: upsert_vector_index(
            spark, st["path"], upd, id_col="docid", partition_by="cent_id"
        ),
    )
    assert out["upserted"] == 6 and out["replaced"] == 6, out
    # gate (3), listing (1), append (1), keys + tombstone broadcasts (2),
    # probe checkpoint (1), tombstone append (1)
    assert len(jobs) <= 9, (jobs, tasks)
    # the 40-directory listing runs as wide as the cores, not one task
    # per directory
    assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    st["live"].update(moved)
    q = C[23] + 0.05
    lists = _probed(C, q)
    _check(_serve(spark, st, q).collect(), _expected(st["live"], lists, q))


def test_assign_against_trained_codebook_runs_no_job(spark):
    from semantic_vector_search_system_spark.operators.similarity import (
        ivf_assign_inline,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, rng.normal(size=DIM).tolist()) for i in range(64)],
        "vec_id int, embedding array<double>",
    )
    cents = train_ivf_centroids(emb, 4, seed=3, max_iter=3)
    assert "LocalTableScan" in cents._jdf.queryExecution().executedPlan().toString()
    assert [(f.name, f.dataType.simpleString()) for f in cents.schema.fields] == [
        ("cent_id", "int"), ("cvec", "array<double>"),
    ]
    assigned, jobs, _ = _group_stages(
        spark, "ivf_assign_codebook", lambda: ivf_assign_inline(emb, cents)
    )
    assert jobs == []
    rows = assigned.collect()
    C = np.array([r["cvec"] for r in sorted(cents.collect(), key=lambda r: r["cent_id"])])
    for r in rows:
        sims = _normalize(C) @ _normalize(r["embedding"])
        assert r["cent_id"] == int(np.argmax(sims))
