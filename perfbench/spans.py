"""Outside-in tracing for the traced run.

Spans, with counts as span attributes, are recorded around calls INTO the program's layers by
replacing module attributes with timing wrappers; no program file changes.
The wrappers are installed only when a run is traced, spans stay in memory
and are written to one trace file when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict

from stats import self_time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    # -- wrapping -------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(span, result, args)`` may add attributes to the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, out, args)
                return out

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- output ---------------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.by_name(name)]

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name (span minus its children)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]].append((s["t0"], s["t1"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += self_time((s["t0"], s["t1"]), kids[s["id"]])
        return dict(out)

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(),
                       **(extra or {})}, f)


class _Span:
    __slots__ = ("tracer", "rec")

    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer = tracer
        self.rec = {"id": 0, "parent": 0, "name": name, "t0": 0.0,
                    "t1": 0.0, "thread": threading.get_ident(), **attrs}

    def __enter__(self) -> dict:
        t = self.tracer
        parent = t.current()
        self.rec["id"] = next(t._ids)
        self.rec["parent"] = parent["id"] if parent else 0
        t._stack().append(self.rec)
        self.rec["t0"] = time.time()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["t1"] = time.time()
        t = self.tracer
        t._stack().pop()
        with t._lock:
            t.spans.append(self.rec)


# ---------------------------------------------------------------------------
# the program's layers
# ---------------------------------------------------------------------------

BUILD_STAGES = {
    "_stage_extract_tokenize": "index.extract_tokenize",
    "_stage_postings": "index.postings",
    "_stage_term_stats": "index.term_stats",
    "_commit_manifest": "index.commit",
}


def install_build(tracer: Tracer) -> None:
    """Spans around the IndexBuilder stage calls and the build entry
    points. The stage spans do not overlap, so their sum plus the
    unattributed rest is the build wall."""
    from baram_spark.index import builder as builder_mod
    from baram_spark.index import fs

    cls = builder_mod.IndexBuilder
    for attr, name in BUILD_STAGES.items():
        tracer.wrap(cls, attr, name)
    tracer.wrap(cls, "build", "index.build")
    # build_postings is called from IndexBuilder's shard thread pool
    tracer.wrap(builder_mod, "build_postings", "index.build_postings")
    tracer.wrap(fs, "publish_manifest", "index.publish_manifest")


def build_breakdown(tracer: Tracer, entry: str = "index.build") -> dict:
    """Stage times of the ``entry`` builds: each stage's summed span time,
    the build wall, and the unattributed rest (wall minus the stages)."""
    out = {}
    staged = 0.0
    for name in BUILD_STAGES.values():
        out[f"{name}_s"] = sum(tracer.durations(name))
        staged += out[f"{name}_s"]
    out["index.build_wall_s"] = sum(tracer.durations(entry))
    out["index.unattributed_s"] = out["index.build_wall_s"] - staged
    return out


class _QueryState(threading.local):
    lists: list | None = None


def install_query(tracer: Tracer) -> None:
    """Spans around SearchEngine.search/_open and the block-max scorer,
    and per-query counts of posting lists built and blocks decoded."""
    from baram_spark.query import engine as engine_mod
    from baram_spark.query import wand as wand_mod

    state = _QueryState()
    tp_cls = wand_mod.TermPostings
    orig_init = tp_cls.__init__

    def tp_init(self, *a, **kw):
        orig_init(self, *a, **kw)
        if state.lists is not None:
            state.lists.append(self)

    tracer._undo.append((tp_cls, "__init__", orig_init))
    tp_cls.__init__ = tp_init

    orig_search = engine_mod.SearchEngine.search

    @functools.wraps(orig_search)
    def search(self, *args, **kwargs):
        state.lists = []
        try:
            with tracer.span("query.engine") as sp:
                out = orig_search(self, *args, **kwargs)
            lists = state.lists
            sp["lists"] = len(lists)
            sp["blocks"] = int(sum(t.n_blocks for t in lists))
            sp["decoded"] = int(sum(len(t._block_cache) for t in lists))
            return out
        finally:
            state.lists = None

    tracer._undo.append((engine_mod.SearchEngine, "search", orig_search))
    engine_mod.SearchEngine.search = search
    tracer.wrap(engine_mod.SearchEngine, "_open", "query.open")
    # the engine binds the scorer by name at import
    tracer.wrap(engine_mod, "score_blockmax", "query.score")
    tracer.wrap(engine_mod, "score_exhaustive", "query.score")
    # the block-max scorer's own fallback to exhaustive scoring
    tracer.wrap(wand_mod, "score_exhaustive", "query.score_fallback")
    tracer.wrap(tp_cls, "decode_blocks", "codec.decode_blocks")
    tracer.wrap(engine_mod, "analyze_search", "textproc.analyze_search")


def install_serving(tracer: Tracer) -> None:
    from baram_spark import serving as serving_mod

    def tag_mode(sp, out, args):
        sp["mode"] = out.get("mode") if isinstance(out, dict) else None

    tracer.wrap(serving_mod.ServingContext, "search", "serving.search",
                after=tag_mode)
    tracer.wrap(serving_mod.ServingContext, "__init__", "serving.open")
    tracer.wrap(serving_mod, "highlight", "serving.highlight")


def install_textproc(tracer: Tracer) -> None:
    """In-process extract/analyze calls (the textproc sample)."""
    from baram_spark.textproc import analyzer, extract

    tracer.wrap(extract, "extract_batch", "textproc.extract_batch")
    tracer.wrap(analyzer, "analyze_series", "textproc.analyze_series")


def query_metrics(tracer: Tracer, counted_until: float = float("inf")
                  ) -> dict:
    """engine/score time (p50 and tail), lists per query, the share of
    touched blocks that were decoded and the share of scorer calls that
    took the block-max path, from the query spans. The three counts use
    only the spans that ended by ``counted_until``, so that they cover a
    fixed request set. A metric whose spans are absent (a wrapper that no
    longer intercepts) is left out."""
    from stats import median, tail

    eng = tracer.by_name("query.engine")
    if not eng:
        return {}
    eng_ms = [1000 * (s["t1"] - s["t0"]) for s in eng]
    out = {
        "query.engine_ms.p50": median(eng_ms),
        "query.engine_ms.tail": tail(eng_ms)[1],
    }
    counted = [s for s in eng if s["t1"] <= counted_until]
    if counted:
        out["query.lists_per_query"] = (sum(s["lists"] for s in counted)
                                        / len(counted))
        blocks = sum(s["blocks"] for s in counted)
        if blocks:
            out["query.blocks_decoded_ratio"] = (
                sum(s["decoded"] for s in counted) / blocks)
    calls = tracer.by_name("query.score")
    if calls:
        kids = defaultdict(float)
        for s in calls:
            kids[s["parent"]] += s["t1"] - s["t0"]
        score_ms = [1000 * kids[s["id"]] for s in eng]
        out["query.score_ms.p50"] = median(score_ms)
        out["query.score_ms.tail"] = tail(score_ms)[1]
        n_calls = sum(1 for s in calls if s["t1"] <= counted_until)
        n_fallbacks = sum(1 for s in tracer.by_name("query.score_fallback")
                          if s["t1"] <= counted_until)
        if n_calls:
            out["query.pruned_path_share"] = 1.0 - n_fallbacks / n_calls
    an = tracer.durations("textproc.analyze_search")
    if an:
        out["textproc.analyze_search_us"] = 1e6 * median(an)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Per-stage executor run time, shuffle bytes, spill and failed tasks
    from the event log(s) under ``log_dir``, with each stage's and job's
    submission time."""
    stages: dict[int, dict] = {}
    jobs: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"t": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["t"] = info.get("Submission Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        st["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
    return {"stages": list(stages.values()), "jobs": jobs}


def _new_stage() -> dict:
    return {"t": 0.0, "executor_run_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "failed_tasks": 0}


def attribute(log: dict, windows) -> dict:
    """Sum stage metrics per label. ``windows`` is [(label, t0, t1)]: the
    wall interval of a benchmark span around one call into the program
    (a builder stage, a suite pass). A Spark stage belongs to the call
    that was running when it was submitted, which is the Python call site
    that issued it; the calls of one label never overlap."""
    keys = ("executor_run_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "failed_tasks")
    out: dict = {}
    for label, a, b in windows:
        agg = out.setdefault(label, {"jobs": 0, "stages": 0,
                                     **{k: 0 for k in keys}})
        agg["jobs"] += sum(1 for j in log["jobs"] if a <= j["t"] <= b)
        for st in log["stages"]:
            if a <= st["t"] <= b:
                agg["stages"] += 1
                for k in keys:
                    agg[k] += st[k]
    return out
