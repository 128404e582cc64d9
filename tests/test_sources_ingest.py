"""Sources/sinks, ingest instrumentation, latency stats, experiments grid."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from semantic_vector_search_system_spark import schemas
from semantic_vector_search_system_spark.operators.encode import HashingEncoder
from semantic_vector_search_system_spark.operators.ingest import (
    foreach_partition_sink,
    ingest_summary_from_batches,
    ingest_to_index,
    per_batch_timings,
)
from semantic_vector_search_system_spark.operators.latency import (
    latency_stats,
    latency_stats_ms,
)
from semantic_vector_search_system_spark.sources.jsonl import (
    read_documents,
    read_qrels,
    read_queries,
    write_qrels_rows_as_map_json,
)
from semantic_vector_search_system_spark.sources.parquet_index import (
    index_stats,
    read_vector_index,
    write_vector_index,
)


def test_jsonl_roundtrip(spark, tmp_path):
    docs_path = tmp_path / "docs.jsonl"
    docs_path.write_text(
        '{"id":"d1","text":"hello world","category":"sports"}\n'
        '{"id":"d2","text":"spark engine","category":"news"}\n'
    )
    docs = read_documents(spark, str(docs_path))
    assert docs.count() == 2
    # names+types pinned (the json reader relaxes nullability)
    assert [(f.name, f.dataType) for f in docs.schema.fields] == [
        (f.name, f.dataType) for f in schemas.DOCUMENT.fields
    ]

    q_path = tmp_path / "queries.jsonl"
    q_path.write_text('{"id":"q1","query":"hello"}\n')
    assert read_queries(spark, str(q_path)).collect()[0]["query"] == "hello"

    qrels_path = tmp_path / "qrels.json"
    qrels_path.write_text('{"q1": ["d1"], "q2": ["d1", "d2"]}')
    qrels = read_qrels(spark, str(qrels_path))
    rows = {(r["qid"], r["docid"]) for r in qrels.collect()}
    assert rows == {("q1", "d1"), ("q2", "d1"), ("q2", "d2")}

    out_path = tmp_path / "qrels_out.json"
    write_qrels_rows_as_map_json(qrels, str(out_path))
    assert json.loads(out_path.read_text()) == {"q1": ["d1"], "q2": ["d1", "d2"]}


def test_vector_index_roundtrip_and_partition_pruning(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", "alpha beta", "sports"), ("d2", "gamma delta", "news")],
        "id string, text string, category string",
    )
    vec = HashingEncoder(dim=16).encode(docs)
    path = str(tmp_path / "index")
    write_vector_index(vec, path, partition_by="category")
    idx = read_vector_index(spark, path)
    assert idx.count() == 2
    stats = index_stats(idx).collect()[0]
    assert stats["n_vectors"] == 2 and stats["dim"] == 16
    # partition pruning: the category filter must prune to one directory
    plan = idx.filter(F.col("category") == "sports")._jdf.queryExecution().executedPlan().toString()
    assert "category=sports" in plan or "PartitionFilters" in plan


def test_ingest_summary_shape(spark, tmp_path):
    docs = spark.createDataFrame([("d%d" % i, "tok a b") for i in range(50)], "id string, text string")
    vec = HashingEncoder(dim=8).encode(docs)
    row = ingest_to_index(vec, str(tmp_path / "ing"), db_name="parquet_index", batch_size=100)
    assert row["total_items"] == 50
    assert row["overall_throughput_vps"] > 0
    assert row["db"] == "parquet_index"


def test_per_batch_timings_counts(spark):
    df = spark.range(1000).select(F.col("id").cast("string").alias("id"))
    batches = per_batch_timings(df, vec_col="id")
    summary = ingest_summary_from_batches(batches).collect()[0]
    assert summary["total_items"] == 1000
    assert summary["overall_throughput_vps"] > 0


def test_foreach_partition_sink(spark, tmp_path):
    # the "DB client" writes upsert batches to files: observable from the
    # driver even though upserts run in executor worker processes
    out_dir = str(tmp_path / "sinkdb")
    import os

    os.makedirs(out_dir, exist_ok=True)

    def make_client():
        import uuid

        return open(os.path.join(out_dir, f"{uuid.uuid4().hex}.txt"), "a")

    def upsert(client, rows):
        for r in rows:
            client.write(r["id"] + "\n")
        client.flush()

    df = spark.createDataFrame([(f"d{i}", "x") for i in range(10)], "id string, text string")
    foreach_partition_sink(df, make_client=make_client, upsert=upsert, batch_size=3)
    seen = set()
    for fname in os.listdir(out_dir):
        with open(os.path.join(out_dir, fname)) as f:
            seen.update(line.strip() for line in f)
    assert seen == {f"d{i}" for i in range(10)}


def test_latency_stats(spark):
    lat = spark.createDataFrame(
        [(f"q{i}", 0.01 * (i + 1)) for i in range(100)], "qid string, latency_s double"
    )
    row = latency_stats(lat).collect()[0]
    assert row["mean_s"] == pytest.approx(0.505)
    assert row["p50_s"] == pytest.approx(0.505)
    assert row["qps"] == pytest.approx(100 / sum(0.01 * (i + 1) for i in range(100)))
    ms = latency_stats_ms(lat).collect()[0]
    assert ms["mean_ms"] == pytest.approx(505.0)


def test_summary_csv_sink_roundtrip(spark, tmp_path):
    from semantic_vector_search_system_spark.sources.jsonl import write_summary_csv

    df = spark.createDataFrame([(10, 0.5), (100, 0.4)], "n_docs long, p double")
    out = str(tmp_path / "summary_csv")
    write_summary_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 2 and set(back.columns) == {"n_docs", "p"}


def test_results_union_by_name(spark, tmp_path):
    # SO2: two result globs concatenated even with differing column order
    a = spark.createDataFrame([(10, 0.5)], "n_docs long, p double")
    b = spark.createDataFrame([(0.4, 100)], "p double, n_docs long")
    u = a.unionByName(b)
    assert u.count() == 2 and {r["n_docs"] for r in u.collect()} == {10, 100}


def test_vector_index_upsert_lifecycle(spark, tmp_path):
    """Mutable-index CRUD: base write -> upsert (replace+insert) ->
    delete -> compact, with live reads correct at every step.

    Reference parity: Weaviate/Pinecone upsert replaces the vector under
    an existing id (`weaviate/client.py:60-79`, `pinecone/client.py:61-90`);
    here the replacement is tombstone-masked generations over append-only
    parquet, folded in by compaction."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        delete_from_vector_index,
        read_live_index,
        upsert_vector_index,
        write_vector_index,
    )

    path = str(tmp_path / "mut_index")
    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], "news") for i in range(10)],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, path, partition_by="category", batch=0)

    # batch 1: replace d0..d2 (new vectors, new category value too),
    # insert d10/d11
    upd = spark.createDataFrame(
        [(f"d{i}", [float(100 + i), 1.0], "sports") for i in (0, 1, 2, 10, 11)],
        "docid string, vec array<float>, category string",
    )
    out = upsert_vector_index(
        spark, path, upd, id_col="docid", batch=1, partition_by="category"
    )
    assert out == {"upserted": 5, "replaced": 3, "batch": 1}

    live = read_live_index(spark, path, id_col="docid")
    assert live.count() == 12  # 10 - 3 + 5
    got = {r["docid"]: r["vec"][0] for r in live.collect()}
    assert got["d0"] == 100.0 and got["d1"] == 101.0  # replaced win
    assert got["d5"] == 5.0  # untouched survive
    assert got["d10"] == 110.0  # inserts present

    # raw index still holds both generations (append-only)
    assert spark.read.parquet(path).count() == 15

    # re-upserting the SAME id again supersedes the batch-1 generation
    upd2 = spark.createDataFrame(
        [("d0", [500.0, 2.0], "news")],
        "docid string, vec array<float>, category string",
    )
    out2 = upsert_vector_index(
        spark, path, upd2, id_col="docid", batch=2, partition_by="category"
    )
    assert out2 == {"upserted": 1, "replaced": 1, "batch": 2}
    live = read_live_index(spark, path, id_col="docid")
    assert live.count() == 12
    assert {r["vec"][0] for r in live.filter(F.col("docid") == "d0").collect()} == {500.0}

    # delete two ids (one with a replaced history, one base-only)
    doomed = spark.createDataFrame([("d0",), ("d5",)], "docid string")
    n = delete_from_vector_index(spark, path, doomed, id_col="docid")
    assert n == 2
    live = read_live_index(spark, path, id_col="docid")
    assert live.count() == 10
    assert live.filter(F.col("docid").isin("d0", "d5")).count() == 0

    # compact folds tombstones: raw row count == live row count afterwards
    res = compact_vector_index(spark, path, id_col="docid", partition_by="category")
    assert res["compacted"] is True and res["dropped"] == 6  # 16 raw - 10 live
    assert spark.read.parquet(path).count() == 10
    live_after = read_live_index(spark, path, id_col="docid")
    assert {r["docid"] for r in live_after.collect()} == (
        {f"d{i}" for i in range(12) if i not in (0, 5)}
    )
    # second compact is a no-op (no tombstone table left)
    assert compact_vector_index(spark, path, id_col="docid") == {
        "compacted": False,
        "dropped": 0,
    }


def test_vector_index_upsert_requires_batch_column(spark, tmp_path):
    from semantic_vector_search_system_spark.sources.parquet_index import (
        upsert_vector_index,
        write_vector_index,
    )

    path = str(tmp_path / "immut_index")
    base = spark.createDataFrame(
        [("d1", [1.0])], "docid string, vec array<float>"
    )
    write_vector_index(base, path)  # no batch stamp -> write-once index
    with pytest.raises(ValueError, match="_batch"):
        upsert_vector_index(
            spark, path, base, id_col="docid", batch=1
        )


def test_vector_index_upsert_superseded_scan_is_thin(spark, tmp_path):
    """The 100 TB property of the mutable index's upsert: finding the
    superseded generations must read ONLY (id, _batch) from the stored
    index — never the vectors.  Frozen as a ReadSchema plan gate on the
    exact relation upsert_vector_index builds."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        read_live_index,
        write_vector_index,
    )

    path = str(tmp_path / "thin_index")
    base = spark.createDataFrame(
        [(f"d{i}", [float(i)] * 64, "news") for i in range(20)],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, path, partition_by="category", batch=0)
    keys = F.broadcast(
        spark.createDataFrame([("d1",), ("d2",)], "docid string").distinct()
    )
    superseded = (
        read_live_index(spark, path, id_col="docid")
        .filter(F.col("_batch") != 1)
        .select("docid", "_batch")
        .join(keys, "docid", "left_semi")
    )
    plan = superseded._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "vec" not in read_schema, read_schema
    assert "docid" in read_schema and "_batch" in read_schema
    # and the candidate probe is a broadcast semi-join: the INDEX side
    # streams into the join with no Exchange between scan and join (the
    # only allowed shuffle is the churn-sized keys-side distinct)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    lines = plan.splitlines()
    scan_i = next(
        i for i, ln in enumerate(lines) if "Scan parquet" in ln
    )
    scan_depth = len(lines[scan_i]) - len(lines[scan_i].lstrip(" +-:"))
    for ln in lines[:scan_i]:
        depth = len(ln) - len(ln.lstrip(" +-:"))
        if depth < scan_depth and "Exchange hashpartitioning" in ln:
            raise AssertionError(
                "index scan sits below a shuffle:\n" + plan[:2000]
            )


def _mini_index(spark, path, n=6):
    from semantic_vector_search_system_spark.sources.parquet_index import (
        write_vector_index,
    )

    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], "news") for i in range(n)],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, path, batch=0)
    return base


def test_upsert_rejects_stale_batch_id(spark, tmp_path):
    """r11 ADVICE: re-upserting under an already-stored batch id would
    leave both generations live permanently (the superseded scan excludes
    the current batch) — must raise, not silently duplicate."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        upsert_vector_index,
    )

    path = str(tmp_path / "stale_batch")
    _mini_index(spark, path)
    upd = spark.createDataFrame(
        [("d0", [9.0, 9.0], "news")],
        "docid string, vec array<float>, category string",
    )
    with pytest.raises(ValueError, match="not fresh"):
        upsert_vector_index(spark, path, upd, id_col="docid", batch=0)
    # auto-assign picks max+1 and reports it
    out = upsert_vector_index(spark, path, upd, id_col="docid", batch=None)
    assert out["batch"] == 1 and out["replaced"] == 1
    out2 = upsert_vector_index(spark, path, upd, id_col="docid")
    assert out2["batch"] == 2


def test_upsert_rejects_duplicate_ids_within_batch(spark, tmp_path):
    """r11 ADVICE: duplicate ids inside ONE updates batch share the same
    _batch and can never supersede each other — both would stay live
    forever, breaking latest-wins.  Must raise."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        upsert_vector_index,
    )

    path = str(tmp_path / "dup_batch")
    _mini_index(spark, path)
    upd = spark.createDataFrame(
        [("d0", [9.0, 9.0], "news"), ("d0", [8.0, 8.0], "news")],
        "docid string, vec array<float>, category string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        upsert_vector_index(spark, path, upd, id_col="docid")


def test_live_read_fails_closed_on_tombstone_corruption(spark, tmp_path):
    """r11 ADVICE (medium): a corrupt/unreadable tombstone table must make
    live reads FAIL, not silently serve deleted/superseded generations —
    the right-to-be-forgotten path may not fail open."""
    import os

    from semantic_vector_search_system_spark.sources.parquet_index import (
        delete_from_vector_index,
        read_live_index,
    )

    path = str(tmp_path / "failclosed")
    _mini_index(spark, path)
    doomed = spark.createDataFrame([("d0",)], "docid string")
    assert delete_from_vector_index(spark, path, doomed, id_col="docid") == 1
    assert read_live_index(spark, path, id_col="docid").count() == 5

    tomb = path + "__tombstones"
    for f in os.listdir(tomb):
        if f.endswith(".parquet"):
            with open(os.path.join(tomb, f), "wb") as fh:
                fh.write(b"this is not parquet")
    spark.catalog.refreshByPath(tomb)
    with pytest.raises(Exception):
        read_live_index(spark, path, id_col="docid").count()


def test_compact_symlink_swap_and_recovery(spark, tmp_path):
    """r11 VERDICT #7: compaction swaps generations behind a symlink
    (readers always resolve a complete tree), keeps the previous
    generation as reader grace, and recover_vector_index repairs every
    crash window deterministically."""
    import os

    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        delete_from_vector_index,
        read_live_index,
        recover_vector_index,
        upsert_vector_index,
    )

    path = str(tmp_path / "swap_index")
    _mini_index(spark, path)
    upd = spark.createDataFrame(
        [("d0", [9.0, 9.0], "news")],
        "docid string, vec array<float>, category string",
    )
    upsert_vector_index(spark, path, upd, id_col="docid")
    delete_from_vector_index(
        spark, path, spark.createDataFrame([("d1",)], "docid string"),
        id_col="docid",
    )
    res = compact_vector_index(spark, path, id_col="docid")
    assert res["compacted"] is True
    # migrated into the symlink layout; legacy tree kept as grace gen
    assert os.path.islink(path)
    gens = [
        n for n in os.listdir(str(tmp_path)) if n.startswith("swap_index__gen")
    ]
    assert len(gens) == 2  # current + previous (grace)
    live = read_live_index(spark, path, id_col="docid")
    assert live.count() == 5
    assert {r["vec"][0] for r in live.filter(F.col("docid") == "d0").collect()} == {9.0}

    # a second compact cycle replaces the link atomically and prunes old gens
    upsert_vector_index(spark, path, upd, id_col="docid")
    compact_vector_index(spark, path, id_col="docid")
    gens2 = sorted(
        n for n in os.listdir(str(tmp_path)) if n.startswith("swap_index__gen")
    )
    assert len(gens2) == 2 and os.path.islink(path)

    # --- crash window 1: staging leftover, index intact -> cleaned ---
    os.makedirs(path + "__staging", exist_ok=True)
    out = recover_vector_index(path)
    assert out["action"] == "cleaned" and not os.path.exists(path + "__staging")

    # --- crash window 2: link missing, swaplink present -> finish swap ---
    current = os.path.realpath(path)
    os.remove(path)
    os.symlink(current, path + "__swaplink")
    out = recover_vector_index(path)
    assert out["action"] == "finished_swap"
    assert os.path.realpath(path) == current
    assert read_live_index(spark, path, id_col="docid").count() == 5

    # --- crash window 3: nothing at path, complete gens exist -> promote ---
    os.remove(path)
    out = recover_vector_index(path)
    assert out["action"] == "promoted_gen"
    assert os.path.realpath(path) == current  # highest complete generation
    assert read_live_index(spark, path, id_col="docid").count() == 5

    # --- nothing recoverable -> loud failure ---
    with pytest.raises(FileNotFoundError):
        recover_vector_index(str(tmp_path / "nonexistent_index"))


def test_compact_via_relative_path_keeps_promoted_generation(
    spark, tmp_path, monkeypatch
):
    """r12 ADVICE (high): the grace-GC used to compare the caller-supplied
    path string against _gen_dirs' ABSOLUTE paths — with a relative index
    path the just-promoted generation never matched the keep-set and was
    rmtree'd right after the symlink swap (compaction "succeeds", index
    is a dangling symlink, recovery resurrects the stale unmasked
    generation).  Everything now normalizes through abspath at entry."""
    import os

    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        delete_from_vector_index,
        read_live_index,
        upsert_vector_index,
    )

    monkeypatch.chdir(tmp_path)
    rel = "rel_index"  # deliberately relative
    _mini_index(spark, str(tmp_path / rel))
    upd = spark.createDataFrame(
        [("d0", [9.0, 9.0], "news")],
        "docid string, vec array<float>, category string",
    )
    upsert_vector_index(spark, rel, upd, id_col="docid")
    delete_from_vector_index(
        spark, rel, spark.createDataFrame([("d1",)], "docid string"),
        id_col="docid",
    )
    res = compact_vector_index(spark, rel, id_col="docid")
    assert res["compacted"] is True
    # the promoted generation must still exist and the link must resolve
    assert os.path.islink(str(tmp_path / rel))
    assert os.path.exists(os.path.realpath(str(tmp_path / rel)))
    live = read_live_index(spark, str(tmp_path / rel), id_col="docid")
    assert live.count() == 5
    assert {r["vec"][0] for r in live.filter(F.col("docid") == "d0").collect()} == {9.0}
    # and a second cycle through the already-symlinked layout also holds
    upsert_vector_index(spark, rel, upd, id_col="docid")
    res2 = compact_vector_index(spark, rel, id_col="docid")
    assert res2["compacted"] is True
    assert read_live_index(spark, rel, id_col="docid").count() == 5


def test_legacy_migration_with_preexisting_gen_dirs(spark, tmp_path):
    """r12 ADVICE (low): migrating a legacy REAL-directory index while
    __gen<N> dirs already exist used to os.rename the legacy tree onto an
    existing non-empty __gen<N-1> (EEXIST/ENOTEMPTY) after staging had
    already been renamed.  The legacy tree now takes the next UNUSED
    generation number and the new tree the one after, so the promote
    completes and recovery ordering (highest complete gen == newest)
    still holds."""
    import os
    import shutil

    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        delete_from_vector_index,
        read_live_index,
    )

    path = str(tmp_path / "legacy_clash")
    _mini_index(spark, path)
    # plant a pre-existing complete generation dir (e.g. from an aborted
    # out-of-band migration) — path itself is still a REAL directory
    shutil.copytree(path, path + "__gen1")
    assert not os.path.islink(path)

    delete_from_vector_index(
        spark, path, spark.createDataFrame([("d1",)], "docid string"),
        id_col="docid",
    )
    res = compact_vector_index(spark, path, id_col="docid")
    assert res["compacted"] is True
    assert os.path.islink(path)
    # new generation got a number above the planted one and is served
    target = os.path.basename(os.path.realpath(path))
    assert target == "legacy_clash__gen3"  # planted=1, legacy tree=2, new=3
    assert read_live_index(spark, path, id_col="docid").count() == 5


def test_compact_rejects_object_store_paths(spark):
    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        recover_vector_index,
    )

    with pytest.raises(NotImplementedError, match="POSIX"):
        compact_vector_index(spark, "s3://bucket/index")
    with pytest.raises(NotImplementedError, match="POSIX"):
        recover_vector_index("hdfs://nn/index")


def _layout_io(layout):
    """(init, read_live, raw_count) for a streaming-upsert index layout
    (r13 VERDICT #6: the streaming face runs over BOTH layouts)."""
    from semantic_vector_search_system_spark.sources.manifest_index import (
        current_gen_dir,
        read_live_manifest_index,
        write_manifest_index,
    )
    from semantic_vector_search_system_spark.sources.parquet_index import (
        read_live_index,
    )

    if layout == "symlink":
        return (
            _mini_index,
            lambda spark, idx: read_live_index(spark, idx, id_col="docid"),
            lambda spark, idx: spark.read.parquet(idx).count(),
        )

    def init(spark, idx, n=6):
        base = spark.createDataFrame(
            [(f"d{i}", [float(i), 0.0], "news") for i in range(n)],
            "docid string, vec array<float>, category string",
        )
        write_manifest_index(base.withColumn("_batch", F.lit(0)), idx)
        return base

    return (
        init,
        lambda spark, idx: read_live_manifest_index(
            spark, idx, id_col="docid"
        ),
        lambda spark, idx: spark.read.parquet(
            current_gen_dir(idx)
        ).count(),
    )


@pytest.mark.parametrize("layout", ["symlink", "manifest"])
def test_streaming_upsert_foreach_batch_and_crash_order(
    spark, tmp_path, layout
):
    """r11 VERDICT #5 + r12 ADVICE (medium) + r13 VERDICT #6 (both index
    layouts): the streaming upsert face must
    (a) produce the same live view as batch upserts, (b) SKIP a
    re-delivered epoch (idempotent marker, committed after the upsert,
    scoped to the CHECKPOINT), and (c) heal a crash that landed the
    upsert but not the marker — the re-run under a fresh generation
    tombstones the half-committed one (at-least-once -> exactly-once on
    the live view)."""
    import json
    import os

    from semantic_vector_search_system_spark.streaming.events import (
        streaming_upsert_foreach_batch,
    )

    init, read_live, raw_count = _layout_io(layout)
    idx = str(tmp_path / "stream_idx")
    init(spark, idx)  # d0..d5, batch 0

    # stream source: two parquet files with DISJOINT id sets
    src = str(tmp_path / "updates")
    os.makedirs(src)
    u0 = spark.createDataFrame(
        [("d0", [90.0, 0.0], "news"), ("d1", [91.0, 0.0], "news")],
        "docid string, vec array<float>, category string",
    )
    u1 = spark.createDataFrame(
        [("d9", [99.0, 0.0], "news")],
        "docid string, vec array<float>, category string",
    )
    for i, u in enumerate((u0, u1)):
        stage = str(tmp_path / f"stage{i}")
        u.coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"u{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    streaming_upsert_foreach_batch(
        stream, idx, id_col="docid", checkpoint=str(tmp_path / "ckpt"),
        layout=layout,
    )
    live = read_live(spark, idx)
    assert live.count() == 7  # 6 base - 2 replaced + 2 new gens + 1 insert
    got = {r["docid"]: r["vec"][0] for r in live.collect()}
    assert got["d0"] == 90.0 and got["d1"] == 91.0 and got["d9"] == 99.0

    # epoch markers committed (one per micro-batch), SCOPED TO THE
    # CHECKPOINT (r12 ADVICE: index-scoped markers aliased epochs across
    # checkpoint identities)
    marker_dir = str(tmp_path / "ckpt" / "__upsert_epochs")
    markers = sorted(os.listdir(marker_dir))
    assert len(markers) == 2
    batches = [
        json.load(open(os.path.join(marker_dir, m)))["batch"]
        for m in markers
    ]
    assert batches == sorted(batches)  # monotonic generations

    # (b) re-delivered epoch is SKIPPED by the marker: drive the handler
    # directly (what foreachBatch re-delivery does after a crash whose
    # upsert AND marker both landed)
    from semantic_vector_search_system_spark.streaming.events import (
        _make_upsert_handler,
    )

    raw_before = raw_count(spark, idx)
    handle = _make_upsert_handler(
        idx, marker_dir, "docid", None, None, layout=layout
    )
    handle(spark.read.parquet(src), 0)  # epoch 0 marker exists -> skip
    handle(spark.read.parquet(src), 1)
    assert raw_count(spark, idx) == raw_before
    # ... and re-running the whole stream on the SAME checkpoint is also
    # a no-op (Spark's own offset log short-circuits before the handler)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    streaming_upsert_foreach_batch(
        stream2, idx, id_col="docid", checkpoint=str(tmp_path / "ckpt"),
        layout=layout,
    )
    assert raw_count(spark, idx) == raw_before

    # (c) crash between upsert and marker: the SAME epoch re-delivers
    # with no marker; the re-run upserts under a fresh generation,
    # tombstoning its half-committed twin — live view unchanged.
    os.remove(os.path.join(marker_dir, markers[1]))
    handle(
        spark.read.parquet(os.path.join(src, "u1.parquet")), 1
    )  # re-delivery of epoch 1
    live2 = read_live(spark, idx)
    assert live2.count() == 7
    got2 = {r["docid"]: r["vec"][0] for r in live2.collect()}
    assert got2 == got  # identical live view after healing


@pytest.mark.parametrize("layout", ["symlink", "manifest"])
def test_streaming_upsert_fresh_checkpoint_does_not_skip(
    spark, tmp_path, layout
):
    """r12 ADVICE (medium) regression: restarting the stream with a FRESH
    checkpointLocation restarts epoch ids at 0; under the old
    index-scoped marker layout the new epoch 0 collided with the old
    stream's marker and was silently dropped as 'already committed' —
    including any NEW data batched into it.  Checkpoint-scoped markers
    must reprocess everything (the upsert's tombstone-heal absorbs the
    duplicates) and land the new rows."""
    import os

    from semantic_vector_search_system_spark.streaming.events import (
        streaming_upsert_foreach_batch,
    )

    init, read_live, _raw = _layout_io(layout)
    idx = str(tmp_path / "fresh_ckpt_idx")
    init(spark, idx)  # d0..d5
    src = str(tmp_path / "updates")
    os.makedirs(src)

    def land(df, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, name)
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (mtime,) * 2)

    land(
        spark.createDataFrame(
            [("d0", [90.0, 0.0], "news")],
            "docid string, vec array<float>, category string",
        ),
        "u0.parquet", 1_700_000_000,
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    streaming_upsert_foreach_batch(
        stream, idx, id_col="docid", checkpoint=str(tmp_path / "ckptA"),
        layout=layout,
    )
    assert read_live(spark, idx).count() == 6

    # new data arrives; the stream is restarted with a FRESH checkpoint,
    # so ALL files (old u0 + new u1) land in the new stream's epoch 0 —
    # exactly the id that already has a marker under the old layout
    land(
        spark.createDataFrame(
            [("d42", [42.0, 0.0], "news")],
            "docid string, vec array<float>, category string",
        ),
        "u1.parquet", 1_700_000_100,
    )
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    streaming_upsert_foreach_batch(
        stream2, idx, id_col="docid", checkpoint=str(tmp_path / "ckptB"),
        layout=layout,
    )
    live = read_live(spark, idx)
    got = {r["docid"]: r["vec"][0] for r in live.collect()}
    assert got["d42"] == 42.0  # the new row LANDED (old layout dropped it)
    assert got["d0"] == 90.0  # the replayed replacement healed, not duped
    assert live.count() == 7


def test_streaming_upsert_version_col_latest_wins(spark, tmp_path):
    """A micro-batch carrying several updates for one id pre-dedups by
    version (latest wins) before the upsert, which rejects same-batch
    duplicates by design."""
    import os

    from semantic_vector_search_system_spark.sources.parquet_index import (
        read_live_index,
    )
    from semantic_vector_search_system_spark.streaming.events import (
        streaming_upsert_foreach_batch,
    )

    idx = str(tmp_path / "ver_idx")
    _mini_index(spark, idx)
    src = str(tmp_path / "updates")
    u = spark.createDataFrame(
        [("d0", [1.0, 0.0], "news", 1), ("d0", [2.0, 0.0], "news", 2)],
        "docid string, vec array<float>, category string, version long",
    )
    stage = str(tmp_path / "stage")
    u.coalesce(1).write.parquet(stage)
    os.makedirs(src)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "u0.parquet"))
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    streaming_upsert_foreach_batch(
        stream,
        idx,
        id_col="docid",
        version_col="version",
        checkpoint=str(tmp_path / "ckpt"),
    )
    live = read_live_index(spark, idx, id_col="docid")
    assert live.count() == 6
    assert {
        r["vec"][0] for r in live.filter(F.col("docid") == "d0").collect()
    } == {2.0}


def test_manifest_index_commit_cas_and_gc(spark, tmp_path):
    """r12 (object-store twin of the symlink generation swap): generations
    are immutable writer-unique gen-<N>-<token> directories, the commit is
    a compare-and-swap of one tiny pointer object, crashes/losers leave
    only unreferenced garbage (no torn state, no recovery step), lost
    races raise, and GC keeps the previous committed generation as reader
    grace."""
    import os

    import pytest

    from semantic_vector_search_system_spark.sources.manifest_index import (
        get_pointer,
        put_pointer,
        read_manifest_index,
        rewrite_manifest_index,
        write_manifest_index,
    )

    def gens():
        return sorted(
            n for n in os.listdir(path) if n.startswith("gen-")
        )

    path = str(tmp_path / "mfidx")
    base = spark.createDataFrame(
        [(i, [float(i)]) for i in range(8)], "docid long, vec array<float>"
    )
    assert write_manifest_index(base, path) == 1
    p1 = get_pointer(path)
    assert p1["gen"] == 1 and p1["prev_dir"] is None
    assert read_manifest_index(spark, path).count() == 8

    # rewrite commit (compaction/retrain shape): CAS 1 -> 2
    out2 = rewrite_manifest_index(spark, path, base.filter("docid < 5"))
    assert out2["gen"] == 2 and get_pointer(path)["gen"] == 2
    assert read_manifest_index(spark, path).count() == 5
    # grace: the gen-1 directory (previous committed) survives
    assert len(gens()) == 2 and any(g.startswith("gen-1-") for g in gens())

    # a third commit GCs gen-1 (out of the grace window)
    out3 = rewrite_manifest_index(spark, path, base.filter("docid < 3"))
    assert out3["gen"] == 3
    assert out3["gc"] and all(g.startswith("gen-1-") for g in out3["gc"])
    assert len(gens()) == 2  # current + previous only

    # lost race: a CAS from a stale base raises instead of clobbering
    with pytest.raises(RuntimeError, match="commit conflict"):
        put_pointer(
            path, {"gen": 99, "dir": "gen-99-x", "prev_dir": None},
            expected_gen=1,
        )
    assert get_pointer(path)["gen"] == 3

    # crashed/losing writer = orphan directory only; readers unaffected;
    # the next successful commit collects it (its number is decided)
    orphan_dir = os.path.join(path, "gen-3-deadbeef")
    base.filter("docid >= 6").write.parquet(orphan_dir)
    assert read_manifest_index(spark, path).count() == 3  # still committed gen-3
    out4 = rewrite_manifest_index(spark, path, base.filter("docid < 5"))
    assert out4["gen"] == 4
    assert "gen-3-deadbeef" in out4["gc"]  # loser collected
    assert read_manifest_index(spark, path).count() == 5
    # an in-flight FUTURE writer's directory is left alone
    future_dir = os.path.join(path, "gen-9-aaaaaaaa")
    os.makedirs(future_dir)
    out5 = rewrite_manifest_index(spark, path, base.filter("docid < 2"))
    assert "gen-9-aaaaaaaa" not in out5["gc"]
    assert os.path.isdir(future_dir)


def test_manifest_lifecycle_parity_with_symlink_layout(spark, tmp_path):
    """r12 VERDICT #6: the SAME CRUD sequence (base write -> upsert
    replace+insert -> delete -> compact) through BOTH commit paths —
    POSIX symlink swap and object-store manifest CAS — must produce
    identical live views at every step."""
    from semantic_vector_search_system_spark.sources.manifest_index import (
        compact_manifest_index,
        delete_from_manifest_index,
        get_pointer,
        read_live_manifest_index,
        upsert_manifest_index,
        write_manifest_index,
    )
    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        delete_from_vector_index,
        read_live_index,
        upsert_vector_index,
        write_vector_index,
    )

    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], "news") for i in range(8)],
        "docid string, vec array<float>, category string",
    )
    upd = spark.createDataFrame(
        [("d0", [90.0, 1.0], "sports"), ("d9", [99.0, 1.0], "sports")],
        "docid string, vec array<float>, category string",
    )
    doomed = spark.createDataFrame([("d1",)], "docid string")

    sym = str(tmp_path / "sym_idx")
    mf = str(tmp_path / "mf_idx")
    write_vector_index(base, sym, batch=0)
    write_manifest_index(base.withColumn("_batch", F.lit(0)), mf)

    def views():
        a = {
            r["docid"]: r["vec"]
            for r in read_live_index(spark, sym, id_col="docid").collect()
        }
        b = {
            r["docid"]: r["vec"]
            for r in read_live_manifest_index(spark, mf, id_col="docid").collect()
        }
        return a, b

    a, b = views()
    assert a == b and len(a) == 8

    o1 = upsert_vector_index(spark, sym, upd, id_col="docid", batch=1)
    o2 = upsert_manifest_index(spark, mf, upd, id_col="docid", batch=1)
    assert (o1["upserted"], o1["replaced"]) == (o2["upserted"], o2["replaced"]) == (2, 1)
    a, b = views()
    assert a == b and a["d0"] == [90.0, 1.0] and "d9" in a

    assert delete_from_vector_index(spark, sym, doomed, id_col="docid") == 1
    assert delete_from_manifest_index(spark, mf, doomed, id_col="docid") == 1
    a, b = views()
    assert a == b and "d1" not in a and len(a) == 8  # 8 - 1 + 1 insert

    r1 = compact_vector_index(spark, sym, id_col="docid")
    r2 = compact_manifest_index(spark, mf, id_col="docid")
    assert r1["compacted"] is True and r2["compacted"] is True
    assert r1["dropped"] == r2["dropped"] == 2  # superseded d0 gen + deleted d1
    assert get_pointer(mf)["gen"] == 2
    a, b = views()
    assert a == b and len(a) == 8
    # both layouts are idempotent no-ops with no tombstones left
    assert compact_vector_index(spark, sym, id_col="docid")["compacted"] is False
    assert compact_manifest_index(spark, mf, id_col="docid")["compacted"] is False


def test_manifest_concurrent_compacts_one_loses_and_is_gcd(spark, tmp_path):
    """r12 VERDICT #6: two writers race the compaction commit — B commits
    first, A's CAS raises (never clobbers), A's orphan generation is
    collected by the next successful commit, and the reader grace
    generation survives throughout."""
    import os

    from semantic_vector_search_system_spark.sources.manifest_index import (
        _new_gen_dir,
        get_pointer,
        put_pointer,
        read_live_manifest_index,
        rewrite_manifest_index,
        write_manifest_index,
    )

    path = str(tmp_path / "race_idx")
    base = spark.createDataFrame(
        [(i, [float(i)], 0) for i in range(10)],
        "docid long, vec array<float>, _batch long",
    )
    write_manifest_index(base, path)

    # both writers read the same base generation
    cur = get_pointer(path)
    assert cur["gen"] == 1

    # writer A prepares its generation (slow writer: written, not committed)
    a_dir = _new_gen_dir(path, cur["gen"] + 1)
    base.filter("docid < 9").write.parquet(a_dir)

    # writer B prepares AND commits first; B's post-commit GC already
    # collects A's directory — gen number 2 is DECIDED the moment B's CAS
    # lands, so A can never win it and its tree is garbage immediately
    out_b = rewrite_manifest_index(spark, path, base.filter("docid < 8"))
    assert out_b["gen"] == 2
    assert os.path.basename(a_dir) in out_b["gc"]
    assert not os.path.isdir(a_dir)

    # writer A's CAS loses loudly (never clobbers the committed pointer)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="commit conflict"):
        put_pointer(
            path,
            {"gen": 2, "dir": os.path.basename(a_dir), "prev_dir": cur["dir"]},
            expected_gen=cur["gen"],
        )
    # committed state untouched; grace (gen-1, previous committed) intact
    assert get_pointer(path)["dir"] == out_b["dir"]
    assert read_live_manifest_index(spark, path, id_col="docid").count() == 8
    assert any(n.startswith("gen-1-") for n in os.listdir(path))

    # the next commit rolls grace forward (gen-2 becomes the grace gen)
    out3 = rewrite_manifest_index(spark, path, base.filter("docid < 5"))
    assert out3["gen"] == 3
    assert any(n.startswith("gen-2-") for n in os.listdir(path))
    assert not any(n.startswith("gen-1-") for n in os.listdir(path))
    assert read_live_manifest_index(spark, path, id_col="docid").count() == 5


def test_put_pointer_cas_is_atomic_under_thread_race(tmp_path):
    """r12 ADVICE (low): the local CAS emulation holds an fcntl lock
    across read-check-then-rename — of N threads racing the same
    expected_gen, EXACTLY one wins and N-1 raise (before the lock, two
    racers could interleave between get_pointer and os.rename and both
    'win')."""
    import threading

    from semantic_vector_search_system_spark.sources.manifest_index import (
        get_pointer,
        put_pointer,
    )

    path = str(tmp_path / "cas_idx")
    put_pointer(path, {"gen": 1, "dir": "gen-1-a", "prev_dir": None}, None)

    wins, losses = [], []
    barrier = threading.Barrier(8)

    def racer(i):
        barrier.wait()
        try:
            put_pointer(
                path,
                {"gen": 2, "dir": f"gen-2-{i}", "prev_dir": "gen-1-a"},
                expected_gen=1,
            )
            wins.append(i)
        except RuntimeError:
            losses.append(i)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1 and len(losses) == 7
    assert get_pointer(path)["dir"] == f"gen-2-{wins[0]}"


def test_upsert_max_batch_sidecar_lifecycle(spark, tmp_path):
    """r13 VERDICT #2: the max-generation probe is a sidecar read, not a
    thin index scan — claimed on write, advanced monotonically on every
    upsert BEFORE the append (a claim-then-crash leaves a harmless id
    gap, never a reusable id), rebuilt once from the thin scan when
    missing (legacy index), and authoritative for the explicit-batch
    freshness gate."""
    import json
    import os

    from semantic_vector_search_system_spark.sources.parquet_index import (
        _meta_path,
        _read_claimed_max_batch,
        upsert_vector_index,
        write_vector_index,
    )

    path = str(tmp_path / "side_idx")
    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], "news") for i in range(6)],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, path, batch=0)
    assert _read_claimed_max_batch(path) == 0

    upd = spark.createDataFrame(
        [("d0", [9.0, 0.0], "news")],
        "docid string, vec array<float>, category string",
    )
    out = upsert_vector_index(spark, path, upd, id_col="docid")
    assert out["batch"] == 1 and _read_claimed_max_batch(path) == 1

    # legacy index (no sidecar): ONE thin-scan fallback, claim persisted
    os.remove(_meta_path(path))
    out2 = upsert_vector_index(spark, path, upd, id_col="docid")
    assert out2["batch"] == 2
    assert _read_claimed_max_batch(path) == 2

    # claim-then-crash: a claimed-but-never-written generation is a GAP,
    # not a reuse — the next auto batch id skips past it
    with open(_meta_path(path), "w") as fh:
        json.dump({"max_batch": 7}, fh)
    out3 = upsert_vector_index(spark, path, upd, id_col="docid")
    assert out3["batch"] == 8
    # and the explicit-batch freshness gate reads the sidecar claim
    with pytest.raises(ValueError, match="not fresh"):
        upsert_vector_index(spark, path, upd, id_col="docid", batch=8)

    # overwrite RESETS the claim (history discarded with the data)
    write_vector_index(base, path, batch=0, mode="overwrite")
    assert _read_claimed_max_batch(path) == 0


def test_upsert_superseded_probe_prunes_to_touched_partitions(
    spark, tmp_path
):
    """The r13 VERDICT #2 scale property, plan-gated: under the
    stable_partitions contract the superseded probe's parquet scan
    carries the touched-partition values as PartitionFilters — the
    upsert job reads only the partition directories the update batch
    names, O(touched), never the whole live index."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        _superseded_probe,
        upsert_vector_index,
        write_vector_index,
    )

    path = str(tmp_path / "pruned_idx")
    cats = ["news", "sports", "science", "arts"]
    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], cats[i % 4]) for i in range(40)],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, path, partition_by="category", batch=0)

    # id->category is stable here (derived from the id), so pruning is
    # sound; the update touches ONLY the "news" partition
    upd = spark.createDataFrame(
        [(f"d{i}", [100.0, 1.0], "news") for i in (0, 4, 8)],
        "docid string, vec array<float>, category string",
    )
    out = upsert_vector_index(
        spark, path, upd, id_col="docid", partition_by="category",
        stable_partitions=True,
    )
    assert out == {"upserted": 3, "replaced": 3, "batch": 1}

    # plan gate on the exact probe relation the upsert builds
    keys = F.broadcast(upd.select("docid").distinct())
    probe = _superseded_probe(
        spark, spark.read.parquet(path), path, keys, 2, "docid", "category",
        ["news"],
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf_line = next(
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    assert "category" in pf_line and "news" in pf_line, pf_line
    # and the probe stays thin: no vector column in the read schema
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "vec" not in read_schema, read_schema


def test_upsert_pruning_unsafe_when_partitions_move(spark, tmp_path):
    """WHY stable_partitions defaults to False (the correctness analysis
    behind r13 VERDICT #2's 'prune when partition_by is set'): with a
    payload-derived partition key an id MOVES partitions between
    generations (an IVF cent_id re-assignment — the bench churn negates
    vectors and nearly every id changes list), the update batch never
    names the old partition, and a pruned probe misses the old
    generation — BOTH generations stay live.  The default full probe
    handles the move correctly."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        read_live_index,
        upsert_vector_index,
        write_vector_index,
    )

    def build(path):
        base = spark.createDataFrame(
            [("d0", [1.0, 0.0], "news"), ("d1", [2.0, 0.0], "sports")],
            "docid string, vec array<float>, category string",
        )
        write_vector_index(base, path, partition_by="category", batch=0)

    # d0 moves news -> sports (category derived from the new payload)
    moved = spark.createDataFrame(
        [("d0", [9.0, 9.0], "sports")],
        "docid string, vec array<float>, category string",
    )

    # default (full probe): the move is caught, one live generation
    safe = str(tmp_path / "safe_idx")
    build(safe)
    out = upsert_vector_index(
        spark, safe, moved, id_col="docid", partition_by="category"
    )
    assert out["replaced"] == 1
    live = read_live_index(spark, safe, id_col="docid")
    assert live.filter(F.col("docid") == "d0").count() == 1

    # stable_partitions=True on a MOVING key: the pruned probe reads only
    # the new partition, misses the old generation, and both stay live —
    # the documented contract violation this test pins
    unsafe = str(tmp_path / "unsafe_idx")
    build(unsafe)
    out2 = upsert_vector_index(
        spark, unsafe, moved, id_col="docid", partition_by="category",
        stable_partitions=True,
    )
    assert out2["replaced"] == 0  # the old generation was NOT found
    live2 = read_live_index(spark, unsafe, id_col="docid")
    assert live2.filter(F.col("docid") == "d0").count() == 2


def test_promote_grace_survives_symlinked_ancestor(spark, tmp_path):
    """r13 ADVICE (low): with a SYMLINKED ANCESTOR directory (macOS /tmp,
    a linked data mount), resolving the index link with realpath also
    resolves the ancestors while _gen_dirs entries preserve them — a
    one-sided comparison never matches the keep-set and the grace-GC
    rmtrees the PREVIOUS generation immediately after the swap, voiding
    the documented one-generation reader grace.  Both sides now
    canonicalize with realpath; the previous generation must survive a
    swap performed through the linked path."""
    import os

    from semantic_vector_search_system_spark.sources.parquet_index import (
        compact_vector_index,
        delete_from_vector_index,
        read_live_index,
        write_vector_index,
    )

    real_base = tmp_path / "real_base"
    real_base.mkdir()
    linked_base = tmp_path / "linked_base"
    os.symlink(str(real_base), str(linked_base))
    idx = str(linked_base / "anc_idx")

    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], "news") for i in range(8)],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, idx, batch=0)

    def gens():
        return sorted(
            n for n in os.listdir(str(real_base))
            if n.startswith("anc_idx__gen")
        )

    # first compact: legacy migration (real dir -> gen1, new tree gen2)
    delete_from_vector_index(
        spark, idx, spark.createDataFrame([("d0",)], "docid string")
    )
    assert compact_vector_index(spark, idx, id_col="docid")["compacted"]
    assert os.path.islink(idx)
    assert gens() == ["anc_idx__gen1", "anc_idx__gen2"]

    # second compact through the SYMLINKED-ancestor path (was_link=True —
    # the code path whose prev_target is obtained by resolving the link):
    # gen2 must survive as reader grace, gen1 must be dropped
    prev_real = os.path.realpath(idx)
    delete_from_vector_index(
        spark, idx, spark.createDataFrame([("d1",)], "docid string")
    )
    assert compact_vector_index(spark, idx, id_col="docid")["compacted"]
    assert gens() == ["anc_idx__gen2", "anc_idx__gen3"]
    assert os.path.isdir(prev_real)  # the grace generation is intact
    assert read_live_index(spark, idx, id_col="docid").count() == 6


def test_upsert_empty_batch_is_noop_with_id_gap(spark, tmp_path):
    """An empty updates batch must not hang the Observation landed-count
    or corrupt state: zero rows land, nothing is superseded, and the
    claimed-then-unused generation id is a harmless gap (the same
    contract as a claim-then-crash)."""
    from semantic_vector_search_system_spark.sources.parquet_index import (
        read_live_index,
        upsert_vector_index,
        write_vector_index,
    )

    path = str(tmp_path / "empty_idx")
    base = spark.createDataFrame(
        [("d0", [1.0, 0.0], "news")],
        "docid string, vec array<float>, category string",
    )
    write_vector_index(base, path, partition_by="category", batch=0)
    empty = spark.createDataFrame(
        [], "docid string, vec array<float>, category string"
    )
    out = upsert_vector_index(
        spark, path, empty, id_col="docid", partition_by="category",
        stable_partitions=True,
    )
    assert out == {"upserted": 0, "replaced": 0, "batch": 1}
    assert read_live_index(spark, path, id_col="docid").count() == 1
    # the burned id is a gap, not a reuse
    upd = spark.createDataFrame(
        [("d0", [2.0, 0.0], "news")],
        "docid string, vec array<float>, category string",
    )
    assert upsert_vector_index(spark, path, upd, id_col="docid")["batch"] == 2


def test_manifest_compact_carries_max_batch_claim(spark, tmp_path):
    """Manifest-layout compaction rewrites into a NEW generation
    directory, which would orphan the per-generation max-batch sidecar —
    compact_manifest_index must carry the claim forward so the first
    post-compaction upsert stays O(1) on the generation probe AND keeps
    the id sequence monotonic across the rewrite."""
    from semantic_vector_search_system_spark.sources.manifest_index import (
        compact_manifest_index,
        current_gen_dir,
        upsert_manifest_index,
        write_manifest_index,
    )
    from semantic_vector_search_system_spark.sources.parquet_index import (
        _read_claimed_max_batch,
    )

    path = str(tmp_path / "mani_claim")
    base = spark.createDataFrame(
        [(f"d{i}", [float(i), 0.0], "news") for i in range(5)],
        "docid string, vec array<float>, category string",
    )
    write_manifest_index(base.withColumn("_batch", F.lit(0)), path)

    upd = spark.createDataFrame(
        [("d0", [9.0, 0.0], "news")],
        "docid string, vec array<float>, category string",
    )
    out = upsert_manifest_index(spark, path, upd, id_col="docid")
    assert out["batch"] == 1  # legacy thin-scan fallback, claim persisted
    assert _read_claimed_max_batch(current_gen_dir(path)) == 1

    res = compact_manifest_index(spark, path, id_col="docid")
    assert res["compacted"] is True
    # claim travelled into the NEW generation's sidecar
    assert _read_claimed_max_batch(current_gen_dir(path)) == 1
    out2 = upsert_manifest_index(spark, path, upd, id_col="docid")
    assert out2["batch"] == 2  # monotonic across the rewrite, no rescan
