"""One measured run of one workload, in a fresh process started by
``run.py``. Writes its result as JSON to ``--result``.

Phases of a run, in order:

1. stage the seeded inputs as Parquet (untimed, excluded from set-up);
2. set-up (timed as ``setup_s``): start the Spark session, then build
   the index the workload searches. The first build call of a process
   also pays Python-worker start and JIT warm-up; an untimed small build
   into a throwaway index pays it, so ``index_docs_per_s`` is the rate of
   warm builds: the bootstrap ``build_index`` on ``search_topk``, all
   ``add_documents`` batches on ``search_filtered``;
3. serve the index over HTTP once the oracle's answers, computed by a
   low-priority process started after staging, are ready;
4. the read phases: four closed-loop clients, untimed for a warm-up that
   sends every request of the mix and then timed, then one client;
5. compaction (timed): ``plan_merges`` to fixpoint with every planned
   ``merge_splits`` run, then ``garbage_collect``;
6. correctness checks, outside every timed phase.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import datetime as dt
import itertools
import json
import multiprocessing
import os
import statistics
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import numpy as np

import corpus
import expected

# The seven query shapes of the engine's own micro-benchmark (bench.py).
SHAPES = (
    "word",
    "the",
    "hot word",
    "hot OR word OR one",
    '"of the"',
    "lang:de the",
    "qw_marker_7",
)
MAX_HITS = 10
CLIENTS = 4
AGGS = {
    "langs": {"terms": {"field": "lang", "size": 10}},
    "per_day": {"date_histogram": {"field": "warc_ts", "fixed_interval": "1d"}},
}

# Corpus and index shapes, sized so that a run of either workload fits the
# benchmark's time budget (about a minute, a third of it Spark start and
# JVM warm-up). Each index is 2-3 MB on disk and a run's whole working
# set is a few GB, far below host memory, so every read is served from
# the page cache.
TOPK_DOCS, TOPK_SPLITS = 8_000, 8
FILTERED_BATCHES, FILTERED_BATCH_DOCS = 3, 2_000
WARMUP_BUILD_DOCS = 200  # the untimed first build of a run
# Merge factors that make the policy plan real merges on these small
# indexes (with the default, 10, young splits this few are never merged):
# one merge of all eight splits on search_topk; on search_filtered two
# batches, then their merge with the third, so that two merges are timed.
MERGE_FACTOR = {"search_topk": TOPK_SPLITS, "search_filtered": 2}
FOUR_CLIENT_SHARE = 0.5  # of --seconds; the one-client phase gets the rest
# Untimed seconds of four clients before their timed window: the warm-up.
# Starting at staggered places of the mix, the clients send every request
# of it in this time; they also fall out of step with each other (they
# start together), and the engine warms up under their load.
FOUR_CLIENT_RAMP_S = 4.0
# at least, in whole cycles of the mix: 2 cycles of search_topk's 7 requests
# and of search_filtered's 5
ONE_CLIENT_REQUESTS = 10


def _now() -> float:
    return time.perf_counter()


def jvm_gc_ms(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


class Failures:
    """Counts attempted and failed operations; keeps the first few
    failure messages for the report."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []
        self._lock = threading.Lock()

    def ok(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, msg: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(msg)


# ------------------------------------------------------------- requests
class Request:
    """One REST request of a mix. ``page2`` marks a ``searchAfter``
    request whose cursor is the last hit of the request before it."""

    def __init__(self, shape: str, window=None, aggs=False, page2=False):
        self.shape = shape
        self.window = window
        self.aggs = aggs
        self.page2 = page2

    def params(self, cursor=None) -> dict:
        p = {"query": self.shape, "maxHits": str(MAX_HITS)}
        if self.window is not None:
            p["startTimestamp"], p["endTimestamp"] = map(str, self.window)
        if self.aggs:
            p["aggregations"] = json.dumps(AGGS)
        if cursor is not None:
            p["searchAfter"] = json.dumps(cursor)
        return p

    def key(self):
        return (self.shape, self.window, self.aggs, self.page2)


def topk_mix() -> list[Request]:
    return [Request(s) for s in SHAPES]


def filtered_mix(span: tuple[int, int]) -> list[Request]:
    """Four shapes, each over its own window of 1/8 of the ingested span.
    One adds aggregations, one is followed by its ``searchAfter`` second
    page. With a single slow aggregation request in five, the median falls
    among the plain requests instead of in the gap between the two kinds.

    The windows sit at fixed places of the span, so that every seed keeps
    the same splits: three lie inside one batch's time range (one split
    kept) and the one with a second page straddles the boundary of the
    first two batches (two kept). A window at a seeded place would keep
    one split on some seeds and two on others, and the request cost with
    it. The seed still chooses the pages inside each window."""
    lo, hi = span
    width = (hi - lo) // 8
    mix = []
    for shape, aggs, page2, at in (
        ("word", True, False, 0.5 / FILTERED_BATCHES),
        ("the", False, True, 1.0 / FILTERED_BATCHES),
        ("hot OR word OR one", False, False, 2.5 / FILTERED_BATCHES),
        ("lang:de the", False, False, 1.5 / FILTERED_BATCHES),
    ):
        start = lo + int(at * (hi - lo)) - width // 2
        window = (start, start + width)
        mix.append(Request(shape, window, aggs=aggs))
        if page2:
            mix.append(Request(shape, window, page2=True))
    return mix


class Client:
    def __init__(self, port: int, index_id: str):
        self.base = f"http://127.0.0.1:{port}/api/v1/{index_id}/search?"

    def get(self, params: dict) -> dict:
        url = self.base + urllib.parse.urlencode(params)
        with urllib.request.urlopen(url, timeout=120) as resp:
            return json.loads(resp.read())


def send(client, req, cursor, fails, results, record=None):
    """One request; returns (latency s, the next cursor). A failure counts
    as +inf latency, so it misses any latency limit."""
    t0, w0 = _now(), time.time()
    try:
        body = client.get(req.params(cursor if req.page2 else None))
    except (urllib.error.URLError, OSError, ValueError) as e:
        fails.fail(f"{req.key()}: {type(e).__name__}: {e}")
        return float("inf"), None
    lat = _now() - t0
    fails.ok()
    if record is not None:
        record.append((w0, time.time()))
    if results is not None:
        results.append((req, body))
    hits = body.get("hits") or []
    return lat, (hits[-1]["sort"] if hits and not req.page2 else None)


def run_sequence(client, mix, fails, results, deadline=None, start=0,
                 record=None, whole_cycles=True, min_cycles=1):
    """Send the mix in order (from ``start``, wrapping) until the deadline
    passes, at the end of a full cycle when ``whole_cycles`` and not before
    ``min_cycles`` cycles; once through when no deadline is given. A
    ``searchAfter`` page whose first page failed or was not sent is
    skipped. Returns every request's latency."""
    lat = []
    cursor = None
    n = len(mix)
    for i in itertools.count():
        if i and (
            (deadline is None and i % n == 0)
            or (deadline is not None and _now() >= deadline
                and (not whole_cycles or (i % n == 0 and i >= min_cycles * n)))
        ):
            return lat
        req = mix[(start + i) % n]
        if req.page2 and cursor is None:
            continue
        dt_, cursor = send(client, req, cursor, fails, results, record)
        lat.append(dt_)


def traced_sequence(tracer, client, mix, fails, results, deadline, http, report):
    """The traced run's one-client phase: every request of the mix is sent
    twice in a row, traced and untraced in alternating order, in whole
    cycles until the deadline. Returns the traced latencies; records the
    median traced-minus-untraced difference as the tracing overhead."""
    lat, diffs = [], []
    while True:
        cursor = None
        for i, req in enumerate(mix):
            if req.page2 and cursor is None:
                continue
            pair = {}
            for traced in ((True, False) if i % 2 else (False, True)):
                tracer.enabled = traced
                pair[traced], nxt = send(
                    client, req, cursor, fails, results, http if traced else None
                )
            tracer.enabled = False
            tracer.resolve()
            cursor = nxt
            lat.append(pair[True])
            diffs.append(pair[True] - pair[False])
        if _now() >= deadline:
            report["trace.overhead_ms"] = 1e3 * statistics.median(diffs)
            return lat


def pct(xs, q: float) -> float:
    """Nearest-rank percentile; failures are +inf, so they miss any limit."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


def closed_loop(client, mix, fails, results, clients: int, ramp: float,
                seconds: float) -> tuple[float, list]:
    """``clients`` threads, each sending its next request when the last
    one returned, until ``ramp`` + ``seconds`` have passed. Returns
    requests per second over the last ``seconds``, where a request in
    flight at either edge counts by the share of its duration inside, and
    every request's (start, end) in seconds from the window's opening."""
    deadline = _now() + ramp + seconds
    w0 = time.time() + ramp  # the timed window opens after the ramp
    intervals: list[tuple[float, float]] = []
    errors: list[BaseException] = []

    def worker(c):
        try:
            rec: list = []
            run_sequence(
                client, mix, fails, results, deadline,
                start=c * len(mix) // clients, record=rec, whole_cycles=False,
            )
            intervals.extend(rec)
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    done = sum(
        max(0.0, min(e, w0 + seconds) - max(s, w0)) / (e - s) for s, e in intervals
    )
    return done / seconds, sorted((round(s - w0, 3), round(e - w0, 3)) for s, e in intervals)


# ----------------------------------------------------------- correctness
def ranked(oracle_answers: dict, first_split: list[int]) -> dict:
    """The oracle's per-group hits as one global ranking ``(score,
    split_id, doc_id, key)``, with each group's splits numbered from the
    split id the engine gave that group's first split."""
    out = {}
    for key, (hits, count) in oracle_answers.items():
        rows = [
            (score, first_split[g] + sid, doc, doc_key)
            for score, g, sid, doc, doc_key in hits
        ]
        rows.sort(key=lambda h: (-h[0], h[1], h[2]))
        out[key] = (rows[: expected.DEPTH], count)
    return out


def check_response(req, body, answers, fails, first_pages) -> None:
    """Compare one response with the oracle's answer; record a failure on
    any mismatch."""
    want, count = answers[(req.shape, req.window)]
    want = want[MAX_HITS:] if req.page2 else want[:MAX_HITS]
    got = [(h["sort"][0], h["sort"][1], h["sort"][2], h["key"]) for h in body["hits"]]
    problems = []
    if body["num_hits"] != count:
        problems.append(f"num_hits {body['num_hits']} != {count}")
    if [(float(np.float32(g[0])), *g[1:]) for g in got] != [tuple(w) for w in want]:
        problems.append("top hits differ from the oracle")
    if req.page2:
        first = first_pages.get((req.shape, req.window))
        if first is not None:
            seen = {(h["sort"][1], h["sort"][2]) for h in first["hits"]}
            if seen & {(g[1], g[2]) for g in got}:
                problems.append("searchAfter page overlaps the first page")
            if got and first["hits"]:
                last = first["hits"][-1]["sort"]
                if (-last[0], last[1], last[2]) >= (-got[0][0], got[0][1], got[0][2]):
                    problems.append("searchAfter page does not start after the cursor")
    if req.aggs:
        for name in AGGS:
            b = body.get("aggregations", {}).get(name, {})
            total = sum(x["doc_count"] for x in b.get("buckets", []))
            total += b.get("sum_other_doc_count", 0)
            if total != body["num_hits"]:
                problems.append(f"{name} buckets sum to {total}, not num_hits")
    if problems:
        fails.fail(f"{req.key()}: " + "; ".join(problems))


def check_all(results, answers, fails) -> None:
    first_pages, seen = {}, set()
    for req, body in results:
        if not req.page2:
            first_pages[(req.shape, req.window)] = body
        # identical requests on one index state give identical responses;
        # check each distinct response once
        sig = (req.key(), json.dumps(body.get("hits")), body.get("num_hits"),
               json.dumps(body.get("aggregations"), sort_keys=True))
        if sig not in seen:
            seen.add(sig)
            check_response(req, body, answers, fails, first_pages)


# -------------------------------------------------------------- phases
def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tree_bytes(ms) -> dict:
    return {
        "postings": dir_bytes(ms.postings_dir()),
        "docmap": dir_bytes(ms.docmap_dir()),
        "fastfields": dir_bytes(os.path.join(ms.index_dir, "fastfields")),
        "total": dir_bytes(ms.index_dir),
    }


def _span(tracer, name, jobs=True):
    return tracer.span(name, jobs) if tracer is not None else contextlib.nullcontext()


def compact(spark, index_dir, tracer):
    """Merge policy to fixpoint with every planned merge run, then GC.
    Returns (docs rewritten, seconds, per-layer numbers)."""
    from quickwit_spark.operators.merge import merge_splits
    from quickwit_spark.plans.merge_policy import garbage_collect, plan_merges
    from quickwit_spark.plans.metastore import open_metastore

    ms = open_metastore(index_dir)
    config = ms.config()
    docs = bytes_written = 0
    plan_s, op_s = [], []
    t0 = _now()
    while True:
        t = _now()
        with _span(tracer, "merge_policy.plan", jobs=False):
            published = {s.split_id: s for s in ms.list_published()}
            ops = plan_merges(list(published.values()), config)
        plan_s.append(_now() - t)
        if not ops:
            break
        for op in ops:
            t = _now()
            with _span(tracer, "merge.op"):
                meta = merge_splits(spark, index_dir, op)
            op_s.append(_now() - t)
            docs += sum(published[s].num_docs for s in op)
            bytes_written += sum(
                dir_bytes(os.path.join(index_dir, sub, f"split_id={meta.split_id}"))
                for sub in ("postings", "docmap", "fastfields")
            )
    t = _now()
    with _span(tracer, "merge_policy.gc", jobs=False):
        garbage_collect(index_dir, grace=False)
    gc_s = _now() - t
    elapsed = _now() - t0
    return docs, elapsed, {
        "merge_policy.plan_ms": 1e3 * sum(plan_s),
        "merge_policy.ops": len(op_s),
        "merge.op_s": statistics.median(op_s) if op_s else 0.0,
        "merge.bytes_rewritten_per_doc": bytes_written / max(docs, 1),
        "merge_policy.gc_s": gc_s,
    }


def count_after(spark, index_dir, mix) -> dict:
    """Exact num_hits of every (shape, window) of the mix, from the
    engine's count path, with the counts running concurrently."""
    from quickwit_spark.operators.search import SearchRequest, count_hits

    epoch = dt.datetime(1970, 1, 1)
    keys = sorted({(r.shape, r.window) for r in mix}, key=str)

    def count(key):
        shape, window = key
        kw = {}
        if window is not None:
            kw = {
                "start_ts": epoch + dt.timedelta(seconds=window[0]),
                "end_ts": epoch + dt.timedelta(seconds=window[1]),
            }
        return count_hits(spark, index_dir, SearchRequest(query=shape, **kw))

    with concurrent.futures.ThreadPoolExecutor(CLIENTS) as pool:
        return dict(zip(keys, pool.map(count, keys)))


def install_wrappers(tracer) -> None:
    from quickwit_spark import serve
    from quickwit_spark.operators import aggregations, search
    from quickwit_spark.plans import metastore

    def kept_ratio(rec, args, kwargs, out):
        rec["attrs"]["splits_kept_ratio"] = len(out) / max(len(args[0]), 1)

    tracer.wrap(serve, "search_endpoint", "serve.endpoint")
    tracer.wrap(serve, "search_with_count", "search.topk_count")
    tracer.wrap_lazy(serve, "fetch_docs", "search.fetch")
    tracer.wrap_lazy(search, "search_after_df", "search.search_after")
    tracer.wrap(search, "count_hits", "search.count_hits")
    tracer.wrap(aggregations, "run_aggregations", "aggregations.run")
    tracer.wrap(search.Searcher, "snapshot", "search.snapshot")
    tracer.wrap(search, "parse_query", "parser.parse", jobs=False)
    tracer.wrap(search, "resolve_query", "parser.parse", jobs=False)
    tracer.wrap(search, "prune_splits", "pruning.prune", jobs=False, on_result=kept_ratio)
    tracer.wrap(metastore.Metastore, "state_token", "metastore.state_token", jobs=False)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("search_topk", "search_filtered"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", help="where a traced run writes its spans")
    args = ap.parse_args()
    t_proc = float(os.environ["PERFBENCH_T0"])
    tmp = args.tmp
    topk = args.workload == "search_topk"
    fails = Failures()
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    timeline = report.setdefault("timeline_s", {})

    def mark(phase: str) -> None:
        timeline[phase] = round(time.time() - t_proc, 2)
        print(f"perfbench: {phase} at {timeline[phase]} s", file=sys.stderr, flush=True)

    # ---- 1. inputs -----------------------------------------------------
    t = time.time()
    if topk:
        n = TOPK_DOCS
        table = corpus.pages(args.seed, n, time_ordered=False)
        paths = [corpus.stage(table, os.path.join(tmp, "pages.parquet"))]
    else:
        n = FILTERED_BATCHES * FILTERED_BATCH_DOCS
        table = corpus.pages(args.seed, n, time_ordered=True)
        paths = [
            corpus.stage(
                table.slice(b * FILTERED_BATCH_DOCS, FILTERED_BATCH_DOCS),
                os.path.join(tmp, f"batch{b:03d}.parquet"),
            )
            for b in range(FILTERED_BATCHES)
        ]
    warm_path = corpus.stage(
        table.slice(0, WARMUP_BUILD_DOCS), os.path.join(tmp, "warmup.parquet")
    )
    ts = table.column("warc_ts").cast("int64").to_numpy() // 1_000_000
    span = (int(ts.min()), int(ts.max()) + 1)
    del table, ts
    staging_s = time.time() - t
    mark("staged")
    mix = topk_mix() if topk else filtered_mix(span)
    config_kwargs = {
        "merge_factor": MERGE_FACTOR[args.workload],
        "max_merge_factor": MERGE_FACTOR[args.workload],
    }
    ctx = multiprocessing.get_context("spawn")
    inbox, outbox = ctx.Pipe(duplex=False)
    oracle = ctx.Process(
        target=expected.send_answers,
        args=(outbox, config_kwargs,
              [(p, TOPK_SPLITS if topk else 1) for p in paths],
              sorted({(r.shape, r.window) for r in mix}, key=str)),
    )
    oracle.start()
    outbox.close()
    # the oracle is benchmark code: run.py leaves it out of peak_rss_mb
    with open(os.path.join(tmp, "exclude.pids"), "w") as fh:
        fh.write(str(oracle.pid))

    # ---- 2. set-up: session + the searched index -----------------------
    from quickwit_spark.operators.build import add_documents, build_index
    from quickwit_spark.plans.config import webpages_config
    from quickwit_spark.plans.metastore import open_metastore
    from quickwit_spark.serve import serve
    from quickwit_spark.session import get_spark
    from quickwit_spark.sources.extract import with_extracted_text

    spark = get_spark(
        "perfbench",
        cores=int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    config = webpages_config(**config_kwargs)
    root = os.path.join(tmp, "indexes")
    index_dir = os.path.join(root, "idx")

    def read(path):
        return with_extracted_text(spark.read.parquet(path))

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        install_wrappers(tracer)
    # an untimed small build into a throwaway index pays the first build's
    # JVM and Python-worker warm-up, so the builds of the searched index are
    # timed warm
    warm_dir = os.path.join(tmp, "warmup-index")
    if topk:
        build_index(spark, read(warm_path), warm_dir, config, num_splits=TOPK_SPLITS)
    else:
        open_metastore(warm_dir, config).create(config)
        add_documents(spark, read(warm_path), warm_dir, position="0", num_splits=1)
    if topk:
        t = _now()
        with _span(tracer, "build.index"):
            metas = build_index(spark, read(paths[0]), index_dir, config, num_splits=TOPK_SPLITS)
        build_s = [_now() - t]
        first_split = [0]
        phases = [metas[0].lineage["phase_secs"]]
        index_docs_per_s = n / build_s[0]
    else:
        ms = open_metastore(index_dir, config)
        ms.create(config)
        first_split, phases, build_s = [], [], []
        for b, path in enumerate(paths):
            t = _now()
            with _span(tracer, "build.index"):
                metas = add_documents(spark, read(path), index_dir,
                                      position=f"{b:08d}", num_splits=1)
            build_s.append(_now() - t)
            first_split.append(int(metas[0].split_id))
            phases.append(metas[0].lineage["phase_secs"])
        index_docs_per_s = n / sum(build_s)
    setup_s = time.time() - t_proc - staging_s
    if tracer is not None:
        tracer.enabled = False
    sizes = tree_bytes(open_metastore(index_dir))
    fails.ok(len(build_s))
    mark("index_built")

    # ---- 3. serve --------------------------------------------------------
    srv = serve(spark, root, port=0)
    results: list = []
    try:
        client = Client(srv.server_address[1], "idx")
        answers = ranked(inbox.recv(), first_split)
        oracle.join()

        # ---- 4. warm-up, then timed reads: four clients, then one -----
        # the first search of a process pays the search path's cold start
        # (seconds); alone, not four times over at once
        send(client, mix[0], None, fails, None)
        gc0 = jvm_gc_ms(spark)
        qps4, report["four_client_s"] = closed_loop(
            client, mix, fails, results, CLIENTS, FOUR_CLIENT_RAMP_S,
            args.seconds * FOUR_CLIENT_SHARE,
        )
        gc1 = jvm_gc_ms(spark)
        deadline = _now() + args.seconds * (1 - FOUR_CLIENT_SHARE)
        http: list = []
        if tracer is None:
            lat1 = run_sequence(client, mix, fails, results, deadline=deadline,
                                min_cycles=-(-ONE_CLIENT_REQUESTS // len(mix)))
        else:
            lat1 = traced_sequence(tracer, client, mix, fails, results, deadline, http, report)
        report["jvm_gc_ms"] = {
            "four_client": gc1 - gc0, "one_client": jvm_gc_ms(spark) - gc1,
        }
    finally:
        srv.shutdown()
        srv.server_close()
        oracle.kill()
        oracle.join()
    mark("reads_done")

    # ---- 5. compaction -------------------------------------------------
    if tracer is not None:
        tracer.enabled = True
    merged_docs, merge_s, merge_layers = compact(spark, index_dir, tracer)
    if tracer is not None:
        tracer.resolve()
        tracer.enabled = False
    fails.ok(merge_layers["merge_policy.ops"])
    mark("compacted")

    # ---- 6. correctness ------------------------------------------------
    if merged_docs == 0:
        fails.fail("the merge policy planned no merge")
    for key, count in count_after(spark, index_dir, mix).items():
        if count != answers[key][1]:
            fails.fail(f"{key}: num_hits {count} after compaction, {answers[key][1]} before")
    check_all(results, answers, fails)
    mark("checked")

    metrics = {
        "setup_s": (setup_s, "s"),
        "search_p50_ms": (1e3 * pct(lat1, 0.5), "ms"),
        "search_p90_ms": (1e3 * pct(lat1, 0.9), "ms"),
        "index_docs_per_s": (index_docs_per_s, "docs/s"),
        "merge_docs_per_s": (merged_docs / merge_s, "docs/s"),
        "index_bytes_per_doc": (sizes["total"] / n, "B/doc"),
    }
    report.update(
        search_qps_c4=qps4,
        one_client_ms=[round(1e3 * x, 1) for x in lat1],
        staging_s=staging_s,
        build_s=build_s,
        one_client_requests=len(lat1),
        build_phase_secs=phases,
        index_bytes=sizes,
        merged_docs=merged_docs,
        merge_s=merge_s,
        **merge_layers,
    )
    layers = {}
    if tracer is not None:
        from spans import summarize

        tracer.enabled = True
        layers["extract.docs_per_s"] = (extract_rate(spark, paths, n, tracer), "docs/s")
        tracer.resolve()
        tracer.unpatch()
        summary = summarize(tracer.spans)
        layers.update(per_layer(summary, report, sizes, n, phases, http, tracer.spans))
        layers["search_qps_c4"] = (qps4, "req/s")
        if not topk:
            layers["build.add_documents_s"] = (statistics.median(build_s), "s")
        with open(args.trace_out, "w") as fh:
            json.dump({"summary": summary, "spans": tracer.spans}, fh, default=float)
    result = {
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "failures": fails.messages,
        "metrics": metrics,
        "layers": layers,
        "report": report,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh, default=float)
    return 0


def extract_rate(spark, paths, n, tracer) -> float:
    """Docs/s of html -> text extraction alone, into a no-op sink."""
    from quickwit_spark.sources.extract import with_extracted_text

    t = _now()
    with tracer.span("extract"):
        for path in paths:
            with_extracted_text(spark.read.parquet(path)).write.format("noop").mode(
                "overwrite"
            ).save()
    return n / (_now() - t)


def per_layer(summary, report, sizes, n, phases, http, spans) -> dict:
    """The per-layer metrics as ``{name: (value, unit)}``."""

    def wall(name):
        return summary.get(name, {}).get("wall_ms", 0.0)

    out = {
        "serve.endpoint_ms": (wall("serve.endpoint"), "ms"),
        "parser.parse_ms": (wall("parser.parse"), "ms"),
        "pruning.prune_ms": (wall("pruning.prune"), "ms"),
        "pruning.splits_kept_ratio": (
            summary.get("pruning.prune", {}).get("attrs", {}).get("splits_kept_ratio", 0.0),
            "fraction",
        ),
        "metastore.state_token_ms": (wall("metastore.state_token"), "ms"),
        "search.snapshot_ms": (wall("search.snapshot"), "ms"),
        "search.topk_count_ms": (wall("search.topk_count"), "ms"),
        "search.fetch_ms": (wall("search.fetch"), "ms"),
        "trace.overhead_ms": (report["trace.overhead_ms"], "ms"),
    }
    for name in ("search.search_after", "search.count_hits", "aggregations.run"):
        if name in summary:
            out[f"{name}_ms"] = (wall(name), "ms")
    # client wall minus endpoint wall, over the traced one-client requests
    ends = [(s["start"], s["end"]) for s in spans if s["name"] == "serve.endpoint"]
    gaps = []
    for c0, c1 in http:
        inside = [e1 - e0 for e0, e1 in ends if c0 <= e0 and e1 <= c1]
        if len(inside) == 1:
            gaps.append(1e3 * ((c1 - c0) - inside[0]))
    out["serve.http_ms"] = (statistics.median(gaps), "ms")
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "input_bytes": "B", "shuffle_bytes": "B", "spill_bytes": "B"}
    for name, row in summary.items():
        out[f"self.{name}_ms"] = (row["self_ms"], "ms")
        if row.get("spark", {}).get("jobs"):
            for k, v in row["spark"].items():
                out[f"{name}.spark.{k}"] = (v, units.get(k, "ms"))
    for phase in phases[0]:
        out[f"build.phase.{phase}_s"] = (statistics.median(p[phase] for p in phases), "s")
    for part in ("postings", "docmap", "fastfields"):
        out[f"storage.{part}_bytes_per_doc"] = (sizes[part] / n, "B/doc")
    out["merge_policy.plan_ms"] = (report["merge_policy.plan_ms"], "ms")
    out["merge_policy.ops"] = (report["merge_policy.ops"], "count")
    out["merge.op_s"] = (report["merge.op_s"], "s")
    out["merge.bytes_rewritten_per_doc"] = (report["merge.bytes_rewritten_per_doc"], "B/doc")
    out["merge_policy.gc_s"] = (report["merge_policy.gc_s"], "s")
    return out


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter and JVM shutdown: run.py kills the process tree and
    # deletes the run directory
    os._exit(code)
