"""Pure helpers of the benchmark: summaries, retrieval metrics, name checks.

Nothing here imports Spark, so the harness tests run in a plain interpreter.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading

#: Metric names as the benchmark definition allows them: a letter or digit,
#: then letters, digits, ``_``, ``.`` and ``-``; at most 64 characters.
_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: Tail percentiles the summaries may report, highest last.
_TAIL_LADDER = (90.0, 99.0, 99.9)


def valid_metric_name(name: str) -> bool:
    return isinstance(name, str) and _NAME_RE.fullmatch(name) is not None


def check_metric_names(names) -> None:
    """Raise ``ValueError`` naming every invalid or repeated metric name."""
    seen, bad = set(), []
    for n in names:
        if not valid_metric_name(n) or n in seen:
            bad.append(n)
        seen.add(n)
    if bad:
        raise ValueError(f"invalid or repeated metric names: {bad!r}")


def nearest_rank(sorted_values: list, pct: float):
    """The ``pct`` percentile by the nearest-rank rule."""
    n = len(sorted_values)
    idx = max(1, math.ceil(pct / 100.0 * n - 1e-9))
    return sorted_values[idx - 1]


def tail_percentile(values) -> tuple[float, float, int] | None:
    """``(pct, value, n)`` for the highest percentile of the ladder that has
    at least ten samples beyond it, or ``None`` when no ladder step does
    (then only the median is reported)."""
    vals = sorted(values)
    n = len(vals)
    best = None
    for pct in _TAIL_LADDER:
        beyond = n - max(1, math.ceil(pct / 100.0 * n - 1e-9))
        if beyond >= 10:
            best = (pct, nearest_rank(vals, pct), n)
    return best


def latency_summary(values_s) -> dict:
    """Median and the tail percentile of a list of seconds, in ms, with the
    sample count stated."""
    out = {"n": len(values_s)}
    if values_s:
        out["p50_ms"] = statistics.median(values_s) * 1e3
        tail = tail_percentile(values_s)
        if tail is not None:
            pct, val, _ = tail
            out[f"p{pct:g}_ms"] = val * 1e3
    return out


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover.  ``spans`` are dicts with ``id``,
    ``parent``, ``start`` and ``end``."""
    children: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def recall_at_k(got: dict, exact: dict, k: int = 10) -> float:
    """Mean over the queries of ``exact`` of |got top-k ∩ exact top-k| /
    |exact top-k|."""
    vals = []
    for q, ref in exact.items():
        ref_k = list(ref)[:k]
        if not ref_k:
            continue
        got_k = set(list(got.get(q, ()))[:k])
        vals.append(len(got_k & set(ref_k)) / len(ref_k))
    return sum(vals) / len(vals) if vals else 0.0


def ir_metrics(ranked: dict, qrels: dict, k_values=(5, 10)) -> dict:
    """P@k, R@k, AP/MAP and MRR recomputed in plain Python.

    ``ranked`` maps a query id to its retrieved doc ids in rank order;
    ``qrels`` maps a query id to its set of relevant doc ids.  Means run
    over the queries present in ``ranked``; precision divides by the number
    retrieved within k, as the engine's ``evaluate_all`` does."""
    per = {f"p_at_{k}": [] for k in k_values}
    per.update({f"r_at_{k}": [] for k in k_values})
    aps, rrs = [], []
    for q, docs in ranked.items():
        rel = qrels.get(q, set())
        for k in k_values:
            top = docs[:k]
            hits = sum(1 for d in top if d in rel)
            per[f"p_at_{k}"].append(hits / len(top) if top else 0.0)
            per[f"r_at_{k}"].append(hits / len(rel) if rel else 0.0)
        hits, terms, first = 0, [], None
        for rank, d in enumerate(docs, start=1):
            if d in rel:
                hits += 1
                terms.append(hits / rank)
                first = rank if first is None else first
        aps.append(sum(terms) / len(terms) if terms else 0.0)
        rrs.append(1.0 / first if first else 0.0)
    n = len(ranked)
    out = {name: (sum(v) / n if n else 0.0) for name, v in per.items()}
    out["map"] = sum(aps) / n if n else 0.0
    out["mrr"] = sum(rrs) / n if n else 0.0
    out["n_queries"] = n
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and every process below it (the
    Python process, its JVM and the JVM's Python workers), from ``/proc``."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed /proc
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    total, stack = 0, [root_pid]
    kids: dict = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background thread that records the peak resident size of this
    process tree; ``stop()`` returns the peak in bytes."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self._peak = max(self._peak, tree_rss_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self._peak
