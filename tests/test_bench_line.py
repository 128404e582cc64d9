"""Regression tests for the bench metric-line protocol.

The driver captures only the LAST 2000 characters of bench stdout and
parses the last complete JSON line inside that window.  BENCH_r06 was
lost (parsed:null) because the final line grew to 4425 chars — the tail
window then contained no complete line.  These tests pin the fix: every
printed line fits the window with margin, regardless of how verbose
query_meta gets, while full detail still lands in bench_out.json.
"""

import io
import json
from contextlib import redirect_stdout

import bench


DRIVER_TAIL_CHARS = 2000  # measured from BENCH_r{1..6}.json "tail" fields


def _driver_parse(stdout_text: str):
    """Replay the driver's capture: keep the last 2000 chars, parse the
    last complete JSON line found inside that window."""
    tail = stdout_text[-DRIVER_TAIL_CHARS:]
    parsed = None
    for ln in tail.split("\n"):
        ln = ln.strip()
        if not ln:
            continue
        try:
            parsed = json.loads(ln)
        except ValueError:
            continue
    return parsed


def _realistic_state():
    """Timings/meta at least as large as the real r6 run (33 keys, prose
    meta, floors, accuracy sweep) — the shape that overflowed the tail."""
    names = [
        "pricing_summary", "revenue_filter", "revenue_by_nation",
        "top_orders_per_customer", "event_percentiles", "user_running_value",
        "hourly_event_counts", "knn_topk", "knn_topk_heap",
        "retrieval_quality", "token_stats_by_lang", "minhash_signatures",
        "neardup_keep_one", "embedding_neardup_pairs", "sessionization",
        "stream_hourly_counts", "self_retrieval_e2e", "asof_latest_order",
        "asof_grouped_orders", "view_purchase_funnel",
        "training_corpus_selection", "encode_10000_docs",
        "search_100q_10000_docs", "encode_100000_docs",
        "search_100q_100000_docs", "ingest_100000_docs",
        "encode_1000000_docs", "search_100q_1000000_docs",
        "ann_ivf_1q_1000000_docs", "ann_ivf_1q_vec_1000000_docs",
        "dedup_1000000_docs", "incremental_dedup_100k_vs_1m",
        "extra_future_key_1", "extra_future_key_2", "extra_future_key_3",
    ]
    timings = {n: 1.234 for n in names}
    prose = (
        "per-query serving path: query collect + driver assignment + pruned "
        "scan + score + merge (same honest region as r5; merge='driver' "
        "heap-merges the bounded per-batch partials driver-side)"
    )
    query_meta = {
        n: {"repeats": 3, "spread": 0.123, "timed_region": prose,
            "mode": "broadcast_index", "index": "parquet partitionBy, zstd"}
        for n in names
    }
    return timings, query_meta


def test_emit_line_fits_driver_tail(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "FLOORS", {"python_job_floor": 0.302})
    monkeypatch.setattr(
        bench, "ACCURACY",
        {"ann_recall_1m": {"metric": "mean recall@10 vs exact brute force",
                           "n_queries": 20, "n_lists": 64, "k": 10,
                           "nprobe=1": 0.34, "nprobe=2": 0.485,
                           "nprobe=4": 0.715, "nprobe=8": 0.88}},
    )
    timings, query_meta = _realistic_state()
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit(timings, query_meta, 0.1, partial=False)
    assert len(line) <= bench.TAIL_BUDGET <= DRIVER_TAIL_CHARS - 100
    parsed = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed, k
    assert parsed["queries"] == {k: round(v, 3) for k, v in timings.items()}
    # accuracy values survive on the compact line; the repeated "metric"
    # prose is stripped (it stays in bench_out.json)
    assert parsed["accuracy"]["ann_recall_1m"]["nprobe=8"] == 0.88
    assert "metric" not in parsed["accuracy"]["ann_recall_1m"]
    # full detail (query_meta) still reaches bench_out.json
    full = json.load(open(tmp_path / "bench_out.json"))
    assert full["query_meta"] == query_meta
    assert full["accuracy"]["ann_recall_1m"]["nprobe=8"] == 0.88
    assert full["accuracy"]["ann_recall_1m"]["metric"].startswith("mean recall")


def test_driver_tail_replay_parses_final_line(tmp_path, monkeypatch):
    """End-to-end replay of the driver protocol over a whole run's stdout:
    many partial emits followed by the authoritative final line — the tail
    window must yield the final record."""
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "FLOORS", {"python_job_floor": 0.302})
    monkeypatch.setattr(bench, "ACCURACY", {})
    timings, query_meta = _realistic_state()
    buf = io.StringIO()
    with redirect_stdout(buf):
        grown = {}
        for name, t in timings.items():
            grown[name] = t
            bench.emit(grown, query_meta, 0.1, partial=True)
        bench.emit(timings, query_meta, 0.1, partial=False)
    parsed = _driver_parse(buf.getvalue())
    assert parsed is not None, "driver tail window held no complete line"
    assert "partial" not in parsed
    assert set(parsed["queries"]) == set(timings)


def test_emit_drops_optional_payloads_before_overflowing(tmp_path, monkeypatch):
    """Even with pathologically large floors/accuracy, the printed line
    stays under budget by shedding optional fields (never queries)."""
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(
        bench, "FLOORS", {f"floor_{i}": 0.001 for i in range(60)}
    )
    monkeypatch.setattr(
        bench, "ACCURACY",
        {f"acc_{i}": {"metric": "x" * 50, "v": 0.5} for i in range(20)},
    )
    timings, query_meta = _realistic_state()
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit(timings, query_meta, 0.1, partial=False)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(timings)


def test_emit_never_prints_over_budget_even_with_huge_queries(tmp_path, monkeypatch):
    """If the queries dict alone outgrows the window (years of key
    growth), emit sheds precision then the oldest keys — but NEVER
    prints an over-budget line (the r6 parsed:null failure mode)."""
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "FLOORS", {})
    monkeypatch.setattr(bench, "ACCURACY", {})
    timings = {f"some_long_benchmark_key_name_{i:03d}": 1.23456 for i in range(120)}
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit(timings, {}, 0.1, partial=False)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == round(sum(timings.values()), 3)  # all keys summed
    assert parsed["queries_omitted"] + len(parsed["queries"]) == len(timings)
    # the NEWEST keys survive
    assert "some_long_benchmark_key_name_119" in parsed["queries"]
    # full dict still in bench_out.json
    full = json.load(open(tmp_path / "bench_out.json"))
    assert len(full["queries"]) == len(timings)


# --- r9: noise-folding of the authoritative final line (r8 VERDICT #1) ---

import datetime

_NOW = datetime.datetime(2026, 8, 15, 12, 0, tzinfo=datetime.timezone.utc)


def _notes(*entries):
    lines = ["## Auto-mirrored final bench lines", ""]
    for stamp, rec in entries:
        lines.append(f"- {stamp} :: `{json.dumps(rec, separators=(',', ':'))}`")
    return "\n".join(lines) + "\n"


def test_fold_with_mirror_takes_per_key_min_and_flags_noise():
    notes = _notes(
        ("2026-08-15 04:25Z", {"sf": 0.1, "queries": {"dedup": 5.982, "encode": 6.2}}),
        ("2026-08-15 07:29Z", {"sf": 0.1, "queries": {"dedup": 17.226, "encode": 9.135}}),
    )
    timings = {"dedup": 16.9, "encode": 6.1, "brand_new_key": 2.0}
    folded, info, raw, src = bench.fold_with_mirror(
        timings, 0.1, notes, _NOW, cpus=None
    )
    assert folded == {"dedup": 5.982, "encode": 6.1, "brand_new_key": 2.0}
    assert info["runs"] == 2
    # dedup's this-run reading is >1.2x the folded min -> self-identified
    assert info["noisy"] == {"dedup": 16.9}
    assert raw == {"dedup": 16.9}


def test_fold_with_mirror_ignores_stale_and_wrong_sf_lines():
    notes = _notes(
        # stale: prior round, possibly different code
        ("2026-08-10 04:25Z", {"sf": 0.1, "queries": {"dedup": 1.0}}),
        # wrong sf
        ("2026-08-15 08:00Z", {"sf": 0.01, "queries": {"dedup": 0.5}}),
        # future timestamp (clock skew) — never folds
        ("2026-08-16 08:00Z", {"sf": 0.1, "queries": {"dedup": 0.1}}),
    )
    folded, info, raw, src = bench.fold_with_mirror(
        {"dedup": 7.0}, 0.1, notes, _NOW, cpus=None
    )
    assert folded == {"dedup": 7.0}
    assert info is None and raw is None


def test_fold_with_mirror_survives_malformed_entries():
    notes = (
        "- 2026-08-15 04:25Z :: `{broken json`\n"
        "- not a mirror line at all\n"
        + _notes(("2026-08-15 05:00Z", {"sf": 0.1, "queries": {"q": 1.5}}))
    )
    folded, info, raw, src = bench.fold_with_mirror(
        {"q": 2.0}, 0.1, notes, _NOW, cpus=None
    )
    assert folded == {"q": 1.5}
    assert info["runs"] == 1


def test_final_emit_folds_against_recent_mirror(tmp_path, monkeypatch):
    """End-to-end: a CLI-mode final emit reads the notes, folds per-key
    minima into the printed line, and keeps raw readings in bench_out."""
    notes_path = tmp_path / "BENCH_NOTES.md"
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%MZ")
    notes_path.write_text(_notes(
        (stamp, {"sf": 0.1, "head": "abc1234", "cpus": 32,
                 "queries": {"dedup_1000000_docs": 5.982}}),
    ))
    # the fold only borrows lines recorded at this run's core count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "NOTES_PATH", str(notes_path))
    monkeypatch.setattr(bench, "FLOORS", {})
    monkeypatch.setattr(bench, "ACCURACY", {})
    monkeypatch.setattr(bench, "_MIRROR_ENABLED", True)
    monkeypatch.setattr(bench, "_git_head", lambda: "abc1234")
    timings = {"dedup_1000000_docs": 17.226, "other": 1.0}
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit(timings, {}, 0.1, partial=False)
    parsed = json.loads(line)
    assert parsed["queries"]["dedup_1000000_docs"] == 5.982
    assert parsed["queries"]["other"] == 1.0
    assert parsed["value"] == round(5.982 + 1.0, 3)
    assert parsed["xrun"]["noisy"] == {"dedup_1000000_docs": 17.23}
    assert parsed["head"] == "abc1234"
    full = json.load(open(tmp_path / "bench_out.json"))
    assert full["raw_this_run"] == {"dedup_1000000_docs": 17.226}
    # fold-source provenance (r9 VERDICT #7): which line supplied the min
    assert full["fold_source"]["dedup_1000000_docs"] == f"{stamp}@abc1234"
    # the folded line was itself mirrored (idempotent under re-folding)
    assert "17.226" not in notes_path.read_text().splitlines()[-1]


def test_fold_skips_lines_from_other_commits(tmp_path, monkeypatch):
    """r9 ADVICE: a mirrored minimum recorded at a DIFFERENT commit must
    not fold into this run's line — a commit that genuinely slows a query
    would otherwise keep reporting the pre-regression minimum for up to
    36 h, masking real regressions as 'noise'."""
    notes = _notes(
        # old, faster code — must be skipped
        ("2026-08-15 10:00Z", {"sf": 0.1, "head": "old0001",
                               "queries": {"q": 1.0}}),
        # pre-head-field legacy line — also skipped once heads exist
        ("2026-08-15 10:30Z", {"sf": 0.1, "queries": {"q": 1.1}}),
        # same code, quieter box — folds
        ("2026-08-15 11:00Z", {"sf": 0.1, "head": "new0002",
                               "queries": {"q": 4.0}}),
    )
    folded, info, raw, src = bench.fold_with_mirror(
        {"q": 5.0}, 0.1, notes, _NOW, head="new0002", cpus=None
    )
    assert folded == {"q": 4.0}  # NOT the other-commit 1.0
    assert info["runs"] == 1
    assert info["skipped_other_head"] == 2
    assert src == {"q": "2026-08-15 11:00Z@new0002"}
    # head=None (git unavailable) keeps the legacy fold-across-all behavior
    folded2, info2, _, src2 = bench.fold_with_mirror(
        {"q": 5.0}, 0.1, notes, _NOW, head=None, cpus=None
    )
    assert folded2 == {"q": 1.0}
    assert info2["runs"] == 3
    assert src2 == {"q": "2026-08-15 10:00Z@old0001"}


def test_fold_skips_lines_at_other_cpu_counts():
    """r14 VERDICT #1/"Next #2": the driver's 8-core scaling run folded
    every key to same-day 32-core minima because mirror lines were keyed
    on (sf, head) but not core count — the scaling block read all-1.0.
    With the cpus gate an 8-core run folds ONLY against 8-core lines,
    and legacy lines without a cpus stamp never fold into a stamped run."""
    notes = _notes(
        # same head, 32-core quiet minimum — must NOT fold into an 8-core run
        ("2026-08-15 10:00Z", {"sf": 0.1, "head": "h1", "cpus": 32,
                               "queries": {"q": 1.0}}),
        # legacy line without a cpus stamp — also skipped
        ("2026-08-15 10:30Z", {"sf": 0.1, "head": "h1",
                               "queries": {"q": 1.5}}),
        # same head, same core count — folds
        ("2026-08-15 11:00Z", {"sf": 0.1, "head": "h1", "cpus": 8,
                               "queries": {"q": 3.0}}),
    )
    folded, info, raw, src = bench.fold_with_mirror(
        {"q": 5.0}, 0.1, notes, _NOW, head="h1", cpus=8
    )
    assert folded == {"q": 3.0}  # the 8-core line, never the 32-core 1.0
    assert info["runs"] == 1
    assert info["skipped_other_cpus"] == 2
    assert src == {"q": "2026-08-15 11:00Z@h1"}
    # nothing eligible at all -> raw timings survive, skip count reported
    folded2, info2, _, _ = bench.fold_with_mirror(
        {"q": 5.0}, 0.1, notes, _NOW, head="h1", cpus=16
    )
    assert folded2 == {"q": 5.0}
    assert info2["runs"] == 0 and info2["skipped_other_cpus"] == 3


def test_final_emit_stamps_cpus_and_folds_per_cpu(tmp_path, monkeypatch):
    """End-to-end: the CLI-mode emit stamps $SPARK_GRAFT_CPUS into the
    printed and mirrored line and passes it to the fold."""
    notes_path = tmp_path / "BENCH_NOTES.md"
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%MZ")
    notes_path.write_text(_notes(
        (stamp, {"sf": 0.1, "head": "abc1234", "cpus": 32,
                 "queries": {"k": 1.0}}),
        (stamp, {"sf": 0.1, "head": "abc1234", "cpus": 8,
                 "queries": {"k": 4.0}}),
    ))
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "NOTES_PATH", str(notes_path))
    monkeypatch.setattr(bench, "FLOORS", {})
    monkeypatch.setattr(bench, "ACCURACY", {})
    monkeypatch.setattr(bench, "_MIRROR_ENABLED", True)
    monkeypatch.setattr(bench, "_git_head", lambda: "abc1234")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit({"k": 5.0}, {}, 0.1, partial=False)
    parsed = json.loads(line)
    assert parsed["cpus"] == 8
    assert parsed["queries"]["k"] == 4.0  # the 8-core mirror, not 1.0
    mirrored = json.loads(
        notes_path.read_text().splitlines()[-1].split(" :: `", 1)[1][:-1]
    )
    assert mirrored["cpus"] == 8


def test_partial_emits_never_fold(tmp_path, monkeypatch):
    notes_path = tmp_path / "BENCH_NOTES.md"
    notes_path.write_text(_notes(
        (
            datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%MZ"),
            {"sf": 0.1, "queries": {"q": 0.5}},
        )
    ))
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "NOTES_PATH", str(notes_path))
    monkeypatch.setattr(bench, "FLOORS", {})
    monkeypatch.setattr(bench, "ACCURACY", {})
    monkeypatch.setattr(bench, "_MIRROR_ENABLED", True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit({"q": 2.0}, {}, 0.1, partial=True)
    parsed = json.loads(line)
    assert parsed["queries"]["q"] == 2.0  # raw mid-run reading, unfolded


def test_emit_sheds_precision_before_dropping_payloads(tmp_path, monkeypatch):
    """When the line is only slightly over budget, the 3rd decimal of each
    per-query second goes first — accuracy/floors survive if the rounding
    alone brings the line under TAIL_BUDGET."""
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    payload = {
        "floors": {"python_job_floor": 0.326},
        "accuracy": {"ann_recall": {"k": 10, "r": 0.845}},
    }
    monkeypatch.setattr(bench, "FLOORS", payload["floors"])
    monkeypatch.setattr(
        bench, "ACCURACY",
        {"ann_recall": {"metric": "m", "k": 10, "r": 0.845}},
    )

    def line_len(timings, ndec):
        total = sum(timings.values())
        compact = {
            "metric": "headline_queries_total_runtime",
            "value": round(total, 3),
            "unit": "sec",
            # r12: emit also prints the floor-normalized total + anchor
            "value_floor_norm": round(
                total * (bench.REF_FLOOR / payload["floors"]["python_job_floor"]), 3
            ),
            "ref_floor": bench.REF_FLOOR,
            "queries": {k: round(v, ndec) for k, v in timings.items()},
            "sf": 0.1,
            **payload,
        }
        return len(json.dumps(compact, separators=(",", ":")))

    # grow the dict one short key at a time until the 3-decimal line first
    # crosses TAIL_BUDGET; the overshoot (< one key, ~34 chars) is then
    # smaller than the 1-char-per-key rounding saving (~48 keys)
    timings = {}
    i = 0
    while line_len(timings, 3) <= bench.TAIL_BUDGET:
        timings[f"bench_query_key_{i:03d}"] = 1.234
        i += 1
    assert line_len(timings, 2) <= bench.TAIL_BUDGET  # rounding must suffice
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit(timings, {}, 0.1, partial=False)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    # precision shed happened (2 decimals) but every key AND both optional
    # payloads survived
    assert set(parsed["queries"]) == set(timings)
    assert parsed["queries"]["bench_query_key_000"] == 1.23
    assert parsed["accuracy"]["ann_recall"]["r"] == 0.845
    assert parsed["floors"] == {"python_job_floor": 0.326}
    # the full-precision readings are preserved in bench_out.json
    full = json.load(open(tmp_path / "bench_out.json"))
    assert full["queries"]["bench_query_key_000"] == 1.234


def test_fold_noisy_map_caps_at_top_offenders():
    """A fully-contended run flags many keys; the printed xrun carries only
    the NOISY_TOP worst by ratio (plus the total count) so it can never
    crowd other payloads out of the tail window."""
    mirror_q = {f"k{i:02d}": 1.0 for i in range(10)}
    notes = _notes(("2026-08-15 11:00Z", {"sf": 0.1, "queries": mirror_q}))
    # this-run readings: k00 worst (x10), descending to k09 (x1.3)
    timings = {f"k{i:02d}": 10.0 - 0.967 * i for i in range(10)}
    folded, info, raw, src = bench.fold_with_mirror(
        timings, 0.1, notes, _NOW, cpus=None
    )
    assert all(folded[k] == 1.0 for k in mirror_q)
    assert info["noisy_n"] == 10
    assert len(info["noisy"]) == bench.NOISY_TOP
    assert set(info["noisy"]) == {f"k{i:02d}" for i in range(bench.NOISY_TOP)}
    assert len(raw) == 10  # full provenance still lands in bench_out.json


def test_notes_mirror_is_full_fat_even_when_printed_line_sheds(
    tmp_path, monkeypatch
):
    """BENCH_NOTES.md has no tail budget: the mirrored line must keep full
    precision AND the accuracy/floors payloads even when the printed line
    had to shed them (the r9 43-key case)."""
    notes_path = tmp_path / "BENCH_NOTES.md"
    monkeypatch.setattr(bench, "OUT_PATH", str(tmp_path / "bench_out.json"))
    monkeypatch.setattr(bench, "NOTES_PATH", str(notes_path))
    monkeypatch.setattr(bench, "FLOORS", {"python_job_floor": 0.326})
    monkeypatch.setattr(
        bench, "ACCURACY",
        {"ann_recall_1m": {"metric": "m", "k": 10, "nprobe=8": 0.845}},
    )
    monkeypatch.setattr(bench, "_MIRROR_ENABLED", True)
    timings = {f"bench_query_key_name_{i:03d}": 1.234 for i in range(60)}
    buf = io.StringIO()
    with redirect_stdout(buf):
        line = bench.emit(timings, {}, 0.1, partial=False)
    assert len(line) <= bench.TAIL_BUDGET
    printed = json.loads(line)
    assert "accuracy" not in printed  # the 60-key line can't hold it
    mirrored = json.loads(
        notes_path.read_text().splitlines()[-1].split(" :: `", 1)[1][:-1]
    )
    assert mirrored["accuracy"]["ann_recall_1m"]["nprobe=8"] == 0.845
    assert mirrored["floors"] == {"python_job_floor": 0.326}
    assert mirrored["queries"]["bench_query_key_name_000"] == 1.234  # 3 dec


def test_fold_dirty_tree_never_borrows_minima():
    """r10 ADVICE: HEAD stamps the COMMITTED tree but the bench times the
    WORKING tree — a run with uncommitted engine edits (possibly a
    regression) must not fold against clean same-head minima, and two
    dirty runs must not fold with each other (same marker, possibly
    different code)."""
    notes = _notes(
        ("2026-08-15 11:00Z", {"sf": 0.1, "head": "new0002",
                               "queries": {"q": 1.0}}),
        ("2026-08-15 11:30Z", {"sf": 0.1, "head": "new0002-dirty",
                               "queries": {"q": 0.5}}),
    )
    folded, info, raw, src = bench.fold_with_mirror(
        {"q": 5.0}, 0.1, notes, _NOW, head="new0002-dirty", cpus=None
    )
    assert folded == {"q": 5.0}  # borrowed nothing
    assert info is None or info.get("runs", 0) == 0
    # and a clean run ignores mirrored dirty lines
    folded2, _, _, _ = bench.fold_with_mirror(
        {"q": 5.0}, 0.1, notes, _NOW, head="new0002", cpus=None
    )
    assert folded2 == {"q": 1.0}  # the clean line, never the dirty 0.5
