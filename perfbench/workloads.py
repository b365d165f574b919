"""The benchmark's workloads, driven only through the library's public
calls: ``load_corpus``, ``IndexBuilder``, ``SearchEngine``,
``SearchService``/``make_server`` and ``StreamingIndexer``.

Each workload function takes a :class:`Run` and fills its metrics.  Set-up
(Spark start, the base build, opening the read side and warm-up) is timed
as ``setup_s``; input generation and output checks are not.  Any wrong
output is recorded in ``run.wrong`` and fails the run.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import signal
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor, wait
from pathlib import Path
from urllib.parse import urlencode

import pandas as pd
import pyarrow.parquet as pq

from gen import Inputs, Query
from spans import ProcSampler, Tracer, descendants, quantile
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode

# Base corpus: 64 chunks of 32 docs, so a query fans out to ~64 chunk
# kernels and the base build is one lineage batch (chunks_per_batch=64).
BASE_DOCS = 2048
CHUNK_DOCS = 32
K = 10

# serve_zipf: open-loop arrivals at fixed rates (requests/s); each step
# lasts its share of --seconds, and latency is timed from each request's
# due time.  The nominal step's p50 is the end-to-end request latency.
# A step meets the limit when its p90 is within LATENCY_LIMIT_S,
# nothing failed, and no request of the step was still outstanding a
# limit after the step ended (no growing backlog).
RATE_LADDER = ((1.0, 0.75), (2.0, 0.25))  # (rate, share of --seconds)
NOMINAL_RATE = 1.0
LATENCY_LIMIT_S = 3.0
QUERY_UNIVERSE = 4096  # distinct queries, larger than the 1024-entry cache
QUERY_ZIPF_S = 1.0
SERVE_CHECKS = 1  # served queries re-run through the REPL path

# ingest_upsert: each wave is 2 chunks of new docs plus 1 chunk of
# re-crawled docs, so every advance() stays chunk-aligned.
WAVE_NEW = 2 * CHUNK_DOCS
WAVE_RECRAWL = CHUNK_DOCS
# the same shapes every wave and seed: one cheap term, one AND, one
# skewed OR (rare + common + IDF-pruned head term)
PROBE_SHAPES = ("term", "and2", "or_skewed")
MAX_WAVES = 8


class Run:
    """State of one benchmark run: paths, Spark session, spans, counts."""

    def __init__(self, root: Path, workload: str, seed: int, seconds: int,
                 traced: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = root / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.index_dir = str(self.work / "index")
        self.event_dir = self.work / "eventlog"
        self.tracer = Tracer(traced)
        self.ncpu = len(os.sched_getaffinity(0))
        self.config = EngineConfig(chunk_docs=CHUNK_DOCS)
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()
        self.wrong: list[str] = []
        self.e2e: dict[str, float] = {}
        self.facts: dict = {}  # per-layer inputs gathered during the run
        self.info: dict = {}  # input properties, printed with the result
        self.spark = None
        self.sampler = ProcSampler()
        self.t_setup_start = 0.0
        self.t_measured = 0.0  # end of set-up: later spans are measured

    # ----- Spark lifetime -----

    def start_spark(self):
        from pyspark.sql import SparkSession

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.root), os.environ.get("PYTHONPATH")) if p
        )
        b = (
            SparkSession.builder.master(f"local[{self.ncpu}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.driver.memory", "3g")
            .config("spark.sql.shuffle.partitions", str(self.ncpu))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", str(tmp))
            # -XX:-UsePerfData: no hsperfdata files in the system temp
            # dir.  -XX:TieredStopAtLevel=1: every run is a fresh JVM that
            # lives about a minute, and C2 compiler threads would compete
            # with the measured work for the 4 cores (C1 only measured
            # ~15-25% shorter runs with the same query latency)
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1",
            )
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
        )
        if self.traced:
            self.event_dir.mkdir(parents=True, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_dir.as_uri())
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark.sparkContext)
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark, close the JVM gateway and wait for every process
        this run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(_alive(p) for p in kids):
            time.sleep(0.1)
        for p in kids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # ended after the check

    # ----- helpers -----

    def tally(self, ok: bool) -> None:
        """Count one attempted operation (client threads call this too)."""
        with self._lock:
            self.attempted += 1
            self.failed += not ok

    def op(self, fn, *args, **kw):
        """Count an operation; an exception marks it failed and re-raises."""
        try:
            out = fn(*args, **kw)
        except Exception:
            self.tally(False)
            raise
        self.tally(True)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.wrong.append(what)

    def write_corpus(self, rows: list[dict], name: str) -> str:
        path = self.work / name
        path.parent.mkdir(parents=True, exist_ok=True)
        pd.DataFrame(rows).to_parquet(path, index=False)
        return str(path)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def parquet_rows(directory: str) -> int:
    """Row count of a parquet table from its file footers (no Spark)."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(directory))


def data_files(directory: str) -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(directory):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out += [
            os.path.join(dirpath, f) for f in files
            if f.endswith(".parquet")
        ]
    return out


def dir_bytes(directory: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(directory)
        for f in files
    )


# ----- shared pieces -----


def base_build(run: Run, inputs: Inputs) -> None:
    """Spark start plus the bulk build ``build_all`` makes, span by span."""
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.sources.corpus import load_corpus

    corpus_path = run.write_corpus(inputs.rows, "corpus/base.parquet")
    run.sampler.start()
    run.t_setup_start = time.perf_counter()
    with run.tracer.span("setup.spark_start"):
        spark = run.start_spark()
    t_build = time.perf_counter()
    with run.tracer.span("sources.load_corpus"):
        corpus = load_corpus(spark, corpus_path)
    builder = IndexBuilder(spark, run.index_dir, run.config)
    with run.tracer.span("build.build_docs"):
        run.op(builder.build_docs, corpus)
    with run.tracer.span("build.build_postings"):
        run.op(builder.build_postings, corpus)
    with run.tracer.span("build.finalize"):
        stats = run.op(builder.finalize)
    run.facts["build_t0"] = t_build
    rows = parquet_rows(os.path.join(run.index_dir, "docs"))
    run.check(
        rows == stats["num_docs"] == len(inputs.rows),
        f"base build: docs rows {rows}, stats num_docs {stats['num_docs']}, "
        f"corpus rows {len(inputs.rows)}",
    )
    run.facts["total_postings"] = int(stats["total_postings"])
    run.facts["postings_bytes"] = dir_bytes(
        os.path.join(run.index_dir, "postings")
    )
    run.facts["index_files"] = len(data_files(run.index_dir))
    run.info.update(
        base_docs=len(inputs.rows), chunk_docs=run.config.chunk_docs,
        base_chunks=-(-len(inputs.rows) // run.config.chunk_docs),
        vocab_strata={
            "head": len(inputs.head), "mid": len(inputs.mid),
            "tail": len(inputs.tail),
        },
    )


def repl_query(run: Run, engine, q: Query, k: int = K) -> tuple[list, float]:
    """The CLI REPL path: ``with_doc_info(search(q, mode)).collect()``
    (``search`` is ``compile`` + ``execute``, split here into spans)."""
    with run.tracer.span("query.request", new_request=True, shape=q.shape) as req:
        with run.tracer.span("query.compile"):
            plan = engine.compile(q.text, q.mode, num_return=k)
        with run.tracer.span("query.execute"):
            ranked = engine.execute([plan])
        with run.tracer.span("query.doc_info"):
            rows = engine.with_doc_info(ranked).collect()
    return sorted(rows, key=lambda r: r.rank), req.dur


def http_search(port: int, q: Query, k: int = K) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(
            "GET",
            "/search?" + urlencode({"q": q.text, "mode": q.mode.name, "k": k}),
        )
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def start_server(service):
    from search_engine_spark.serve import make_server

    httpd = make_server(service)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd, thread


def stop_server(httpd, thread) -> None:
    httpd.shutdown()
    httpd.server_close()
    thread.join(timeout=30)


def _row_key(r) -> tuple:
    return (r.doc_id, r.score, r.rank, r.repo, r.path, r.commit, r.lang)


def _json_key(d: dict) -> tuple:
    return (d["doc_id"], d["score"], d["rank"], d.get("repo"), d.get("path"),
            d.get("commit"), d.get("lang"))


def finish_setup(run: Run) -> None:
    run.t_measured = time.perf_counter()
    run.e2e["setup_s"] = run.t_measured - run.t_setup_start


# ----- serve_zipf -----


def serve_zipf(run: Run) -> None:
    from search_engine_spark.serve import SearchService

    inputs = Inputs(run.seed, BASE_DOCS, run.config)
    warm = inputs.distinct_queries(run.ncpu)
    steps = [(r, run.seconds * share) for r, share in RATE_LADDER]
    n_requests = sum(int(r * d) for r, d in steps)
    log = inputs.zipf_log(
        QUERY_UNIVERSE, n_requests, QUERY_ZIPF_S,
        exclude={(q.text, q.mode) for q in warm},
    )

    base_build(run, inputs)
    with run.tracer.span("query.open"):
        service = run.op(SearchService, run.spark, run.index_dir, run.config)
    if run.traced:
        service.engine.enable_wand_stats()
    httpd, thread = start_server(service)
    port = httpd.server_port
    try:
        # warm-up: one concurrent burst; the first response with hits
        # ends the "time to searchable" interval that began with the build
        fresh_at = []
        lock = threading.Lock()

        def warm_one(q: Query) -> None:
            status, body = _client_request(run, port, q)
            if status == 200 and body["num_results"]:
                with lock:
                    fresh_at.append(time.perf_counter())

        with ThreadPoolExecutor(run.ncpu) as pool:
            for f in [pool.submit(warm_one, q) for q in warm]:
                f.result()
        if not fresh_at:
            raise RuntimeError("no warm-up query returned results")
        run.e2e["freshness_p50_s"] = min(fresh_at) - run.facts["build_t0"]
        finish_setup(run)

        with run.tracer.span("serve.ladder"):
            reqs = open_loop(run, port, steps, log)
    finally:
        stop_server(httpd, thread)

    # outputs: served responses equal the REPL path for the same query
    ok = [r for r in reqs if r["status"] == 200]
    served = {(r["query"].text, r["query"].mode): r for r in ok}
    rnd = random.Random(run.seed)
    for key in rnd.sample(sorted(served, key=str), min(SERVE_CHECKS, len(served))):
        r = served[key]
        rows, _ = run.op(repl_query, run, service.engine, r["query"])
        run.check(
            [_row_key(x) for x in rows]
            == [_json_key(d) for d in r["body"]["results"]],
            f"serve response differs from the REPL path for {key}",
        )

    nominal = [r for r in reqs if r["rate"] == NOMINAL_RATE]
    lat = [r["latency"] for r in nominal]
    run.e2e["request_p50_s"] = quantile(lat, 0.5)
    run.e2e["index_docs_per_s"] = BASE_DOCS / sum(
        s.dur for s in run.tracer.spans
        if s.name in ("build.build_docs", "build.build_postings",
                      "build.finalize")
    )
    run.e2e["index_bytes_per_input_byte"] = (
        dir_bytes(run.index_dir) / inputs.input_bytes()
    )
    seen: set = set()
    repeats = 0
    for q in log:
        repeats += (q.text, q.mode) in seen
        seen.add((q.text, q.mode))
    steps_out = []
    max_rps = 0.0
    for rate, dur in steps:
        rs = [r for r in reqs if r["rate"] == rate]
        p90 = quantile([r["latency"] for r in rs], 0.9)
        step_end = max(r["due"] for r in rs) if rs else 0.0
        backlog = sum(r["done"] > step_end + LATENCY_LIMIT_S for r in rs)
        meets = bool(rs) and p90 <= LATENCY_LIMIT_S and backlog == 0 and all(
            r["status"] == 200 for r in rs
        )
        if meets:
            max_rps = max(max_rps, rate)
        steps_out.append({
            "rate": rate, "requests": len(rs),
            "p50_s": quantile([r["latency"] for r in rs], 0.5),
            "p90_s": p90, "late_after_limit": backlog, "meets_limit": meets,
            "generator_lag_p90_s": quantile([r["lag"] for r in rs], 0.9),
        })
    run.facts.update(
        serve_requests=reqs, serve_steps=steps_out, serve_max_rps=max_rps,
        serve_distinct=len(seen),
        wand=service.engine.wand_stats() if run.traced else None,
    )
    run.info.update(
        requests=len(log), distinct_requests=len(seen),
        repeat_share=repeats / len(log), universe=QUERY_UNIVERSE,
        rate_ladder=[r for r, _ in steps], nominal_rate=NOMINAL_RATE,
        latency_limit_s=LATENCY_LIMIT_S,
        stratum_mix=inputs.stratum_mix(log),
        chunks_per_query_p50=quantile(
            [inputs.chunks_per_query(q) for q in log[:64]], 0.5
        ),
    )


def _client_request(run: Run, port: int, q: Query) -> tuple[int, dict]:
    with run.tracer.span("serve.request", new_request=True, jobs=False,
                  shape=q.shape) as s:
        try:
            status, body = http_search(port, q)
        except OSError as exc:
            status, body = 0, {"error": str(exc)}
    s.attrs.update(status=status, took=body.get("took_sec"))
    run.tally(status == 200)
    return status, body


def open_loop(run: Run, port: int, steps, log: list[Query]) -> list[dict]:
    """Send ``log`` at the ladder's fixed rates from at most ``ncpu``
    client threads; each request is timed from its due time."""
    reqs: list[dict] = []
    lock = threading.Lock()
    outstanding = [0, 0]  # now, max

    def send(q: Query, rate: float, due: float) -> None:
        sent = time.perf_counter()
        with lock:
            outstanding[0] += 1
            outstanding[1] = max(outstanding[1], outstanding[0])
        status, body = _client_request(run, port, q)
        done = time.perf_counter()
        with lock:
            outstanding[0] -= 1
            reqs.append({
                "query": q, "rate": rate, "due": due, "lag": sent - due,
                "done": done, "latency": done - due,
                "status": status, "body": body,
            })

    futures = []
    with ThreadPoolExecutor(run.ncpu) as pool:
        t = time.perf_counter() + 0.05
        i = 0
        for rate, dur in steps:
            for j in range(int(rate * dur)):
                due = t + j / rate
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                futures.append(pool.submit(send, log[i], rate, due))
                i += 1
            t += dur
        wait(futures)
    for f in futures:
        f.result()
    run.facts["max_outstanding"] = outstanding[1]
    return reqs


# ----- ingest_upsert -----


def ingest_upsert(run: Run) -> None:
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.serve import SearchService
    from search_engine_spark.sources.corpus import CORPUS_SCHEMA
    from search_engine_spark.streaming import StreamingIndexer

    inputs = Inputs(run.seed, BASE_DOCS, run.config)
    probes = inputs.distinct_queries(
        len(PROBE_SHAPES) * MAX_WAVES, shapes=PROBE_SHAPES
    )
    waves = [
        inputs.make_wave(w, WAVE_NEW, WAVE_RECRAWL) for w in range(MAX_WAVES)
    ]
    input_bytes = inputs.input_bytes()

    # the reads this workload times come after a wave, which warms the
    # JVM and Python workers, so set-up ends with the base build
    base_build(run, inputs)
    finish_setup(run)

    arrivals = run.work / "arrivals"
    arrivals.mkdir(parents=True)
    indexer = StreamingIndexer(
        run.spark, run.index_dir, str(run.work / "staging"), run.config
    )
    t_window = time.perf_counter()
    n_docs = BASE_DOCS
    wave_rows = 0
    fresh, write_s, probe_lat = [], [], []
    superseded = 0
    for w, wave in enumerate(waves):
        if w and time.perf_counter() - t_window >= run.seconds:
            break
        pd.DataFrame(wave.rows).to_parquet(
            arrivals / f"wave-{w:02d}.parquet", index=False
        )
        input_bytes += inputs.input_bytes(wave.rows)
        wave_rows += len(wave.rows)
        t0 = time.perf_counter()
        with run.tracer.span("streaming.start"):
            run.op(
                indexer.start,
                run.spark.readStream.schema(CORPUS_SCHEMA).parquet(str(arrivals)),
                available_now=True,
            )
        with run.tracer.span("streaming.advance"):
            res = run.op(indexer.advance, upsert=True)
        write_s.append(time.perf_counter() - t0)
        n_docs += len(wave.rows)
        superseded += int(res.get("superseded", 0))
        rows = parquet_rows(os.path.join(run.index_dir, "docs"))
        run.check(
            res["indexed"] == len(wave.rows)
            and rows == res["num_docs"] == n_docs,
            f"wave {w}: indexed {res['indexed']}, docs rows {rows}, "
            f"stats num_docs {res['num_docs']}, expected {n_docs}",
        )
        # a serving process reloads to see the wave: the first marker doc
        # must come back from a freshly opened service
        with run.tracer.span("query.open"):
            service = run.op(
                SearchService, run.spark, run.index_dir, run.config
            )
        httpd, thread = start_server(service)
        try:
            m = wave.markers[0]
            with run.tracer.span("serve.fresh_probe"):
                status, body = _client_request(
                    run, httpd.server_port,
                    Query(m.token, SearchMode.QUERY_EVALUATOR, "marker"),
                )
            fresh.append(time.perf_counter() - t0)
            run.check(
                status == 200 and any(
                    d.get("commit") == m.new_commit and d.get("path") == m.path
                    for d in body.get("results", [])
                ),
                f"wave {w}: marker {m.token} not served after reopen",
            )
        finally:
            stop_server(httpd, thread)
        n_probes = len(PROBE_SHAPES)
        wave_probes = probes[w * n_probes:(w + 1) * n_probes]
        # the reference answers come first, on the service's engine: the
        # batch also runs the REPL path's doc-info code once, so the timed
        # probes below do not pay its first-use cost
        exact = _exhaustive(run, service.engine, wave, wave_probes)
        # the probes run on a newly opened engine, as a REPL opened after
        # the wave would, with none of the service's per-engine caches
        with run.tracer.span("query.open"):
            engine = run.op(SearchEngine, run.spark, run.index_dir, run.config)
        if run.traced:
            engine.enable_wand_stats()
        results = []
        for q in wave_probes:
            rows_q, dt = run.op(repl_query, run, engine, q)
            probe_lat.append(dt)
            results.append((q, rows_q))
        _check_wave(run, wave, w, results, exact)
        if run.traced:
            run.facts.setdefault("wand", []).append(engine.wand_stats())

    run.facts["index_bytes_before_compact"] = dir_bytes(run.index_dir)
    run.facts["index_files"] = len(data_files(run.index_dir))
    if run.traced:
        # compaction is the streaming aftermath; it runs in the traced run
        # only (it would add ~15 s to every timed run), after every
        # end-to-end figure, peak memory included, has been taken
        run.sampler.stop()
        builder = IndexBuilder(run.spark, run.index_dir, run.config)
        with run.tracer.span("build.compact"):
            run.op(builder.compact)
        with run.tracer.span("build.vacuum"):
            run.op(builder.vacuum)

    n_waves = len(write_s)
    run.e2e["index_docs_per_s"] = wave_rows / sum(write_s)
    run.e2e["freshness_p50_s"] = quantile(fresh, 0.5)
    run.e2e["request_p50_s"] = quantile(probe_lat, 0.5)
    run.e2e["index_bytes_per_input_byte"] = (
        run.facts["index_bytes_before_compact"] / input_bytes
    )
    run.facts["superseded"] = superseded
    run.info.update(
        waves=n_waves, wave_docs=WAVE_NEW + WAVE_RECRAWL,
        wave_new=WAVE_NEW, wave_recrawl=WAVE_RECRAWL,
        probes=len(probe_lat),
        stratum_mix=inputs.stratum_mix(probes[: n_waves * len(PROBE_SHAPES)]),
        chunks_per_query_p50=quantile(
            [inputs.chunks_per_query(q) for q in probes[:len(PROBE_SHAPES)]],
            0.5,
        ),
    )


def _exhaustive(run: Run, engine, wave, probes: list[Query]) -> dict:
    """Exhaustive-scoring (``use_wand=False``) answers, with doc info, for
    the wave's markers, its file tokens and the probes, in one batch:
    ``{qid: rows by rank}``, qids in that order."""
    qs = [(m.token, SearchMode.QUERY_EVALUATOR) for m in wave.markers]
    qs += [(m.file_token, SearchMode.QUERY_EVALUATOR) for m in wave.markers]
    qs += [(q.text, q.mode) for q in probes]
    rows = run.op(
        lambda: engine.with_doc_info(
            engine.search_batch(qs, num_return=K, use_wand=False)
        ).collect()
    )
    by_qid: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
        by_qid.setdefault(r.qid, []).append(r)
    return by_qid


def _check_wave(run: Run, wave, w: int, probes: list, exact: dict) -> None:
    """Every re-crawled doc's marker returns its new version; its file
    token (in both versions' titles) returns the new version and not the
    superseded one; every probe's REPL-path rows are rank-identical (doc
    ids, scores, doc info) to exhaustive scoring."""
    n = len(wave.markers)
    for i, m in enumerate(wave.markers):
        new, old = (m.repo, m.path, m.new_commit), (m.repo, m.path, m.old_commit)
        marker_hits = {(r.repo, r.path, r.commit) for r in exact.get(i, [])}
        run.check(new in marker_hits,
                  f"wave {w}: marker {m.token} does not return its doc")
        hits = {(r.repo, r.path, r.commit) for r in exact.get(n + i, [])}
        run.check(new in hits and old not in hits,
                  f"wave {w}: {m.file_token} returns {sorted(hits)}; "
                  f"expected the new version only")
    for j, (q, repl_rows) in enumerate(probes):
        run.check(
            [_row_key(r) for r in repl_rows]
            == [_row_key(r) for r in exact.get(2 * n + j, [])],
            f"wave {w}: REPL-path top-k differs from exhaustive scoring "
            f"for {q.text!r}",
        )


WORKLOADS = {"serve_zipf": serve_zipf, "ingest_upsert": ingest_upsert}
