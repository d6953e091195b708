"""``serve_mixed``: build an index with embeddings, then drive a serving
node in its own process with an open loop of ``/api/search`` requests.

Set-up materializes the seed's page range as parquet. The measured run
builds a one-shard index with embeddings (bench.py builds 8 shards; see
N_SHARDS), starts the node (its ``ServingContext`` opens are the set-up
figure), replays the 30 extended queries once as a warm-up, then sends
the open-loop ladder: every request is due at a fixed time, is sent by
one of at most CONNECTIONS workers and is timed from when it was due.
Every answer is checked.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

import numpy as np

from stats import max_passing_rate, median, percentile, rung_passes, tail

# Sized so the posting lists span many 128-doc blocks: the block-max
# scorer (wand.score_blockmax) falls back to exhaustive scoring when a
# query's lists have 8 blocks or fewer in all (189 of 197 calls at 2000
# pages over 8 shards), and it prunes in windows of 64 doc-id segments,
# so short lists never skip a block.
N_PAGES = 8000
N_SHARDS = 1  # one primary shard, OpenSearch's default for an index
WARM_PAGES = 500  # the untimed warm-up build's input
PAGE_STRIDE = 100_000  # seed s indexes pages [s * stride, s * stride + N)
NODE_OPENS = 3
CONNECTIONS = 4
LIMIT_MS = 100.0  # tail limit a ladder rung must meet
# the run is void when the generator's p99 lateness exceeds this
MAX_LATE_MS = 25.0
# (rate/s, seconds): the 10/s latency rung, the 30/s rung, then the
# ladder. The 30/s rung, which the end-to-end latencies come from, gets
# what --seconds leaves after the others (None).
LADDER = ((10, 4.0), (30, None), (45, 0.25), (60, 0.25), (80, 0.25),
          (100, 0.25))
# op_tail_ms is this percentile of the 30/s rung: a fixed one with many
# samples beyond it (30 at 300 requests), so a run's tail is an estimate
# and not one or two slow requests. The named search_tail_ms figures keep
# the highest percentile with ten samples beyond it.
OP_TAIL_PCT = 90.0
MODES = (("keyword", 0.5), ("hybrid", 0.3), ("vector", 0.2))
FILTER_SHARE = 0.3
CATEGORIES = ("entertainment", "sports", "card")
HYBRID_BM25_WEIGHT = 0.3  # the node's default fusion weight
# the per-layer metrics a traced run of this workload must produce
LAYERS = (
    "textproc.extract_pages_per_s", "textproc.analyze_tokens_per_s",
    "textproc.analyze_search_us",
    "index.extract_tokenize_s", "index.postings_s", "index.term_stats_s",
    "index.commit_s", "index.unattributed_s", "index.build_wall_s",
    "index.executor_run_s", "index.shuffle_write_bytes", "index.spill_bytes",
    "index.jobs", "index.failed_tasks", "index.bytes_per_posting",
    "query.open_s", "query.engine_ms.p50", "query.engine_ms.tail",
    "query.score_ms.p50", "query.score_ms.tail", "query.lists_per_query",
    "query.blocks_decoded_ratio", "query.pruned_path_share",
    "serving.handler_ms.keyword", "serving.handler_ms.hybrid",
    "serving.handler_ms.vector", "serving.highlight_ms", "serving.http_ms",
    "serving.snapshot_load_s", "serving.p50_ms.r10", "serving.tail_ms.r10",
    "serving.max_qps", "serving.generator_late_ms",
)


def _materialize(start: int, n: int, path: str, parts: int = 8) -> None:
    """Write pages [start, start + n) as ``parts`` parquet files, so the
    build reads as many partitions as bench.py's generated input has.
    Runs in the benchmark process, in a thread beside the Spark start-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from baram_spark.corpus import make_pages_pdf

    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(start, start + n, parts + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        tbl = pa.Table.from_pandas(make_pages_pdf(int(a), int(b)),
                                   preserve_index=False)
        # a UTC-adjusted timestamp reads back as Spark TIMESTAMP
        ts = tbl.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
        tbl = tbl.set_column(tbl.schema.get_field_index("warc_ts"),
                             "warc_ts", ts)
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))


def _draw_requests(rng, n: int) -> list[tuple]:
    """n requests of a fixed composition: the 30 extended queries in turn,
    each cycle shifting which query gets which mode, so the mode shares
    hold per query; every 10 requests carry 3 filters. The seed draws the
    filter values and the order the requests are sent in."""
    from baram_spark.corpus import _PUBLISHERS, make_query_set_extended

    qs = make_query_set_extended()
    slots = [m for m, share in MODES for _ in range(int(round(10 * share)))]
    out = []
    for i in range(n):
        q = qs[i % len(qs)]
        mode = slots[(i // len(qs) + i) % len(slots)]
        kind = (i // 10) % 3 if i % 10 < 10 * FILTER_SHARE else None
        filt: tuple = ()
        if kind == 0:
            filt = (("category", CATEGORIES[int(rng.integers(3))]),)
        elif kind == 1:
            d0 = int(rng.integers(1, 22))
            filt = (("date_from", f"2024-12-{d0:02d}"),
                    ("date_to", f"2024-12-{d0 + int(rng.integers(3, 7)):02d}"))
        elif kind == 2:
            filt = (("publisher",
                     _PUBLISHERS[int(rng.integers(len(_PUBLISHERS)))]),)
        out.append((q["query_text"], mode, q["k"], filt))
    return [out[j] for j in rng.permutation(n)]


class _Meta:
    """Filter attributes of the indexed docs, read from the docs table."""

    def __init__(self, index_dir: str):
        import pyarrow.dataset as ds

        tbl = ds.dataset(f"{index_dir}/docs", format="parquet",
                         partitioning="hive").to_table(
            columns=["doc_id", "category", "publisher", "published_at"])
        self.ids = tbl["doc_id"].to_numpy().astype(np.int64)
        self.cat = np.asarray(tbl["category"].to_pylist(), dtype=object)
        self.pub = np.asarray(tbl["publisher"].to_pylist(), dtype=object)
        self.ts = tbl["published_at"].to_numpy(
            zero_copy_only=False).astype("datetime64[us]")

    def allowed(self, filt: tuple) -> set | None:
        if not filt:
            return None
        f = dict(filt)
        keep = np.ones(self.ids.size, dtype=bool)
        if "category" in f:
            keep &= self.cat == f["category"]
        if "publisher" in f:
            keep &= self.pub == f["publisher"]
        if "date_from" in f:
            lo = np.datetime64(f["date_from"])
            hi = np.datetime64(f["date_to"])
            keep &= ~np.isnat(self.ts) & (self.ts >= lo) & (self.ts <= hi)
        return set(self.ids[keep].tolist())


def _keyword(ranked: dict, q: str, k: int, allowed) -> list:
    """Filter-context top-k: the query's full brute-force ranking with the
    docs outside ``allowed`` dropped."""
    return [h for h in ranked[q] if allowed is None or h[0] in allowed][:k]


def _expected(req, ranked, knn, meta) -> tuple:
    """(kind, answer) for one request: 'rank' answers must match exactly,
    'topk' answers must be a valid top-k of a score map. ``ranked`` maps
    each query text to its full BruteForceIndex ranking."""
    from baram_spark.query.hybrid import hybrid_search
    from oracle import top

    q, mode, k, filt = req
    allowed = meta.allowed(filt)
    if allowed is not None and not allowed:
        raise ValueError(f"filter {filt} selects no document")
    if mode == "keyword":
        return "rank", _keyword(ranked, q, k, allowed)
    cos = knn.scores(q, allowed)
    if mode == "vector":
        return "topk", cos
    fused = hybrid_search(_keyword(ranked, q, k, allowed), top(cos, k),
                          k=10 ** 9, bm25_weight=HYBRID_BM25_WEIGHT,
                          knn_weight=1.0 - HYBRID_BM25_WEIGHT)
    return "topk", dict(fused)


def _url(req) -> str:
    q, mode, k, filt = req
    return "/api/search?" + urlencode({"q": q, "mode": mode, "k": k,
                                       **dict(filt)})


def _get(port: int, url: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _open_loop(port: int, schedule: list[tuple[float, int]], reqs) -> list:
    """Send request reqs[i] at t0 + offset for each (offset, i), from at
    most CONNECTIONS workers; returns per-request [due, enqueued, sent,
    done, status, body] as perf_counter times."""
    recs = [None] * len(schedule)
    q: queue.Queue = queue.Queue()

    def worker():
        while True:
            item = q.get()
            if item is None:
                return
            j, due, enq = item
            sent = time.perf_counter()
            try:
                status, body = _get(port, _url(reqs[schedule[j][1]]))
            except OSError as e:
                status, body = 0, str(e).encode()
            recs[j] = [due, enq, sent, time.perf_counter(), status, body]

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.05
    for j, (off, _) in enumerate(schedule):
        due = t0 + off
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        q.put((j, due, time.perf_counter()))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join(timeout=60)
    return recs


def _hits(body: bytes) -> list:
    return [(int(r["doc_id"]), float(r["score"]))
            for r in json.loads(body)["results"]]


def run(ctx) -> dict:
    from baram_spark.corpus import make_query_set_extended
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.query.bm25 import BruteForceIndex
    from oracle import KnnOracle, same_ranking, same_topk

    tr = ctx.tracer
    phase = {"start": time.time()}
    trace_out = (os.path.join(ctx.work, "node-trace.json")
                 if tr is not None else "-")
    node = ctx.spawn([os.path.join(os.path.dirname(__file__), "server.py"),
                      str(NODE_OPENS), trace_out])
    pages_path = os.path.join(ctx.work, "pages")
    warm_path = os.path.join(ctx.work, "warm-pages")
    start = ctx.seed * PAGE_STRIDE

    def materialize():
        _materialize(start, N_PAGES, pages_path)
        _materialize(start + N_PAGES, WARM_PAGES, warm_path)

    with ThreadPoolExecutor(1) as pool:
        gen = pool.submit(materialize)
        spark = ctx.start_spark("perfbench-serve")
        phase["spark"] = time.time()
        gen.result()
    phase["materialize"] = time.time()
    ctx.warm_workers()

    def build(path: str, out: str, fingerprint: str):
        builder = IndexBuilder(spark, out, n_shards=N_SHARDS,
                               salt_threshold=max(N_PAGES // 8, 1000),
                               shard_concurrency=4, build_embeddings=True)
        builder.build(spark.read.parquet(path), fingerprint=fingerprint,
                      resume=False)
        return builder

    import pyarrow.parquet as pq

    from baram_spark.textproc.extract import doc_id_from_ids, extract_ids

    def keyword_oracle():
        """The indexed docs and each extended query's full brute-force
        ranking over them."""
        pg = pq.read_table(pages_path, columns=["url", "title", "text"])
        docs = [(doc_id_from_ids(*extract_ids(u)), title, text)
                for u, title, text in zip(pg["url"].to_pylist(),
                                          pg["title"].to_pylist(),
                                          pg["text"].to_pylist())
                if text is not None]  # deleted-article pages are not indexed
        bm25 = BruteForceIndex.build(docs)
        return docs, {q["query_text"]: bm25.search(q["query_text"],
                                                   k=len(docs))
                      for q in make_query_set_extended()}

    # A first build in a fresh JVM pays class loading and code generation
    # on top of its work (on a 4-core host, 28 s at this size against
    # 12-15 s for the builds after it), so a small untimed build goes
    # first. The keyword oracle, also untimed, is computed beside it.
    with ThreadPoolExecutor(1) as pool:
        oracle_job = pool.submit(keyword_oracle)
        build(warm_path, os.path.join(ctx.work, "warm-idx"), "warm-up")
        docs, ranked = oracle_job.result()
    phase["warm_build"] = time.time()

    # the node warms its JVM beside the steps above; it must be done
    # before the timed build, which it would otherwise share the cores with
    if not json.loads(node.stdout.readline()).get("warm"):
        raise RuntimeError("serving node did not start")
    phase["node_warm"] = time.time()
    index_dir = os.path.join(ctx.work, "idx")
    if tr is not None:
        from spans import install_build, install_textproc

        install_build(tr)
        install_textproc(tr)
    t_b0 = time.time()
    builder = build(pages_path, index_dir, f"perfbench-{ctx.seed}")
    t_b1 = time.time()
    build_s = t_b1 - t_b0
    phase["build"] = t_b1
    node.stdin.write(index_dir + "\n")
    node.stdin.flush()
    bpp = builder.codec_stats(persist=False)
    # the node serves alone: this process's JVM and Python workers would
    # otherwise share the cores with it. They stop beside the work below.
    stopper = threading.Thread(target=ctx.stop_spark)
    stopper.start()

    # while the node starts: the other oracles, the request schedule and
    # the input checks
    pg = pq.read_table(pages_path, columns=["url", "html", "text"])
    meta = _Meta(index_dir)
    errors = []
    if sorted(meta.ids.tolist()) != sorted(d for d, _, _ in docs):
        errors.append("indexed doc ids differ from the non-deleted pages")
    emb = pq.read_table(f"{index_dir}/embeddings")
    knn = KnnOracle(emb["doc_id"].to_numpy().astype(np.int64),
                    np.asarray(emb["embedding"].to_pylist(), dtype=np.float64))
    info: dict = {"pages": N_PAGES, "docs": len(docs),
                  "build_s": build_s}
    errors += _check_extraction(pg, tr, info)
    n_post = sum(v["n_postings"] for v in bpp.values())
    index_bpp = sum(v["postings_bytes"] + v["skips_bytes"]
                    + v["blockmax_bytes"] for v in bpp.values()) / n_post

    rng = np.random.default_rng(np.random.SeedSequence([ctx.seed, 17]))
    rungs, total = [], 0  # (rate, first request, requests)
    fixed_s = sum(secs for _, secs in LADDER if secs is not None)
    for rate, secs in LADDER:
        if secs is None:
            secs = max(ctx.seconds - fixed_s, 1.0)
        n = max(int(round(rate * secs)), 1)
        rungs.append((rate, total, n))
        total += n
    reqs = [r for _, _, n in rungs for r in _draw_requests(rng, n)]
    warm = [(q["query_text"], "keyword", q["k"], ())
            for q in make_query_set_extended()]
    expected = {}
    for r in set(reqs) | set(warm):
        try:
            expected[r] = _expected(r, ranked, knn, meta)
        except ValueError as e:  # the workload guard: void, not wrong
            errors.append(str(e))

    phase["oracles"] = time.time()
    stopper.join()
    phase["spark_stopped"] = time.time()
    hello = json.loads(node.stdout.readline())
    port = hello["port"]
    phase["node_ready"] = time.time()
    attempted = failed = 0
    for r in warm:  # the 30 extended queries once, rank-checked
        status, body = _get(port, _url(r))
        attempted += 1
        if status != 200 or not same_ranking(_hits(body), expected[r][1]):
            failed += 1
            errors.append(f"warm-up {r[0]!r}: status {status}")

    # the ladder: latency rungs always run; upper rungs while all passed
    recs: list = []
    idx: list = []
    verdicts = []
    for rate, first, n in rungs:
        got = _open_loop(port, [(i / rate, first + i) for i in range(n)],
                         reqs)
        recs += got
        idx += range(first, first + n)
        lat = [1000 * (d - due) for due, _, _, d, st, _ in got]
        rung_end = got[0][0] + n / rate
        backlog = sum(1 for g in got if g[2] > rung_end)
        verdicts.append((rate, rung_passes(lat, backlog, n, LIMIT_MS),
                         lat, backlog))
        if rate == 30:  # the warm-up and the 10/s and 30/s rungs always run
            info["fixed_requests_end"] = time.time()
        if not verdicts[-1][1] and rate >= 30:
            break
    phase["ladder"] = time.time()
    node.stdin.close()
    node.wait(timeout=60)
    phase["node_stopped"] = time.time()

    late = [1000 * (enq - due) for due, enq, *_ in recs]
    late_p99 = percentile(late, 99)
    if late_p99 > MAX_LATE_MS:
        errors.append(f"load generator ran {late_p99:.1f} ms late at p99 "
                      f"(limit {MAX_LATE_MS} ms)")
    attempted += len(recs)
    for rec, i in zip(recs, idx):
        status, body = rec[4], rec[5]
        r = reqs[i]
        ok = status == 200 and r in expected  # else voided by the guard
        if ok:
            kind, want = expected[r]
            hits = _hits(body)
            ok = (same_ranking(hits, want) if kind == "rank"
                  else same_topk(hits, want, r[2]))
        if not ok:
            failed += 1
            errors.append(f"{r[1]} {r[0]!r} k={r[2]} {dict(r[3])}: "
                          f"status {status}")

    by_rate = {v[0]: v for v in verdicts}
    lat10, lat30 = by_rate[10][2], by_rate[30][2]
    p10, t10 = tail(lat10)
    p30, t30 = tail(lat30)
    max_qps = max_passing_rate([(v[0], v[1]) for v in verdicts]) or 0
    opens = hello["open_s"]
    info["node_open_s"] = opens
    e2e = {"setup_s": median(opens),
           "batch_per_s": N_PAGES / build_s,
           "op_ms": median(lat30),
           "op_tail_ms": percentile(lat30, OP_TAIL_PCT)}
    named = {
        "build_docs_per_s": (N_PAGES / build_s, "1/s"),
        "index_bytes_per_posting": (index_bpp, "B"),
        "node_open_s": (median(opens), "s"),
        "search_p50_ms.r10": (median(lat10), "ms"),
        f"search_tail_ms.r10.p{p10:g}_of_{len(lat10)}": (t10, "ms"),
        "search_p50_ms.r30": (median(lat30), "ms"),
        f"search_tail_ms.r30.p{p30:g}_of_{len(lat30)}": (t30, "ms"),
        "search_max_qps": (max_qps, "1/s"),
        "search_error_rate": (failed / attempted, "ratio"),
        "loadgen_late_ms.max": (max(late), "ms"),
        "loadgen_late_ms.p99": (late_p99, "ms"),
    }
    info["phase_end_s"] = {k: v - phase["start"] for k, v in phase.items()}
    info["latency_ms"] = {str(v[0]): v[2] for v in verdicts}
    info.update({"rungs": [(v[0], v[1], len(v[2]), v[3]) for v in verdicts],
                 "tail_percentile": {"r10": p10, "r30": p30}})
    layers = {"index.bytes_per_posting": index_bpp,
              "serving.max_qps": max_qps,
              "serving.p50_ms.r10": median(lat10),
              "serving.tail_ms.r10": t10,
              "serving.generator_late_ms": max(late)}
    if tr is not None:
        layers.update(_layers(ctx, tr, trace_out, (t_b0, t_b1), recs, info))
    return {"correct": not errors, "attempted": attempted, "failed": failed,
            "errors": errors, "e2e": e2e, "layers": layers, "named": named,
            "info": info}


def _check_extraction(pg, tr, info) -> list:
    """In-process extract_batch on the first pages of the seed's range:
    text must be byte-identical to the generator's expected text. In the
    traced run the sample is larger and also gives single-core extract
    and analyze throughput."""
    import pandas as pd

    from baram_spark.textproc import analyzer, extract

    n = 2000 if tr is not None else 500
    html = pd.Series(pg["html"].to_pylist()[:n])
    url = pd.Series(pg["url"].to_pylist()[:n])
    want = pg["text"].to_pylist()[:n]
    t0 = time.perf_counter()
    out = extract.extract_batch(html, url)
    t1 = time.perf_counter()
    n_diff = sum(1 for a, b in zip(out["text"].tolist(), want) if a != b)
    errors = ([f"extracted text differs on {n_diff} of {n} pages"]
              if n_diff else [])
    if tr is not None:
        texts = out["text"].dropna()
        t2 = time.perf_counter()
        toks = analyzer.analyze_series(texts)
        t3 = time.perf_counter()
        info["textproc"] = {"pages": n, "extract_s": t1 - t0,
                            "analyze_s": t3 - t2,
                            "tokens": int(sum(len(t) for t in toks))}
    return errors


def _layers(ctx, tr, trace_out, build_window, recs, info) -> dict:
    from spans import (BUILD_STAGES, Tracer, attribute, build_breakdown,
                       query_metrics, read_event_log)

    out = {}
    tp = info["textproc"]
    out["textproc.extract_pages_per_s"] = tp["pages"] / tp["extract_s"]
    out["textproc.analyze_tokens_per_s"] = tp["tokens"] / tp["analyze_s"]
    out.update(build_breakdown(tr))
    ctx.stop_spark()  # flushes the event log
    windows = [("build", *build_window)] + [
        (sp["name"], sp["t0"], sp["t1"]) for sp in tr.spans
        if sp["name"] in BUILD_STAGES.values()]
    by_call = attribute(read_event_log(ctx.event_dir), windows)
    att = by_call.pop("build")
    for key in ("shuffle_write_bytes", "spill_bytes", "executor_run_s",
                "jobs", "failed_tasks"):
        out[f"index.{key}"] = att[key]
    node = Tracer()
    with open(trace_out) as f:
        node.spans = json.load(f)["spans"]
    # the counts cover the requests every run sends, so they repeat
    # exactly for a seed however far the ladder climbs
    out.update(query_metrics(node, info["fixed_requests_end"]))
    searches = node.by_name("serving.search")
    for mode in ("keyword", "hybrid", "vector"):
        d = [1000 * (s["t1"] - s["t0"]) for s in searches
             if s.get("mode") == mode]
        if d:
            out[f"serving.handler_ms.{mode}"] = median(d)
    hl = {}
    for s in node.by_name("serving.highlight"):
        hl[s["parent"]] = hl.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    if hl:
        out["serving.highlight_ms"] = median(
            [1000 * hl.get(s["id"], 0.0) for s in searches])
    client = [1000 * (done - sent) for _, _, sent, done, *_ in recs]
    out["serving.http_ms"] = median(client) - median(
        [1000 * (s["t1"] - s["t0"]) for s in searches])
    opens = node.durations("serving.open")
    qopen = [s["t1"] - s["t0"] for s in node.by_name("query.open")]
    out["query.open_s"] = median(qopen)
    out["serving.snapshot_load_s"] = median(opens) - median(qopen)
    info["event_log"] = {"build": att, "by_stage_call": by_call}
    info["node_self_time_s"] = node.self_times()
    info["trace_file"] = ctx.write_trace(
        {"node_spans": node.spans, "event_log": info["event_log"]})
    return out
