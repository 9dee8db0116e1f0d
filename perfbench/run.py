"""Search-service benchmark for the danae_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The engine serves the sf0.1 lake kept
in `perfbench/data/sf0.1`; the seed picks the requests. The benchmark
starts one Spark session on all cores through the engine's own session
factory, sets up the workload, then drives `DataLakeEngine` closed-loop
for S seconds and checks every answer against references that do not
use the engine's Spark plans (see oracle.py). Scratch files go under
`.perfbench/` in the checkout. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the run also calls every engine layer
once under spans and reports the per-layer metrics, the tracing
overhead, and writes the spans to `.perfbench/trace-<workload>-<seed>.json`.
The lines above the JSON name each metric of the workload by its
workload-specific name (search_p50_s, keyword_qps, ...), the tail
latency with its sample count, the error rate, the query mix and the
environment.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workloads as wl  # noqa: E402
from spans import SessionMemory, Tracer, process_tree  # noqa: E402

# a byte-for-byte copy of the engine's sf0.1 reference lake (checksums in
# SHA256SUMS): ten tables, ~0.9 M rows, 5000 documents
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
HEAP_MB_MAX = 4096
# the first requests of a fresh JVM are the slowest (JIT, worker start-up):
# after 4 warm-up keyword queries the measured latencies still fell by a
# third across a 15 s run; these warm-ups take most of that, and longer
# ones would not fit a run's time budget
WARMUP = {"dataset_search": 3, "keyword_search": 10}
# concurrent keyword queries advance in lockstep through Spark's FIFO job
# queue, so each wave of them is one latency sample: 2 clients keep the
# concurrency and still give 6-8 waves in a 15 s run
CLIENTS = {"dataset_search": 1, "keyword_search": 2}
STREAM_LEN = 5000
STATE_DIR = ".perfbench"  # everything a run writes, inside the checkout

# the JSON line's metrics; the report lines also print throughput, which
# in a closed loop is the client count over the mean latency: it tells
# nothing the median does not, and one slow request moves it more
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
}

PER_LAYER = {
    "catalog.catalog_datasets_s": "s",
    "profiling.quantile_signatures_s": "s",
    "profiling.temporal_profile_s": "s",
    "profiling.categorical_embeddings_s": "s",
    "profiling.spatial_bboxes_s": "s",
    "profiling.rows_scanned": "count",
    "profiling.stages": "count",
    "profiling.tasks": "count",
    "profiling.failed_tasks": "count",
    "search.knn.content_similarity_s": "s",
    "search.knn.pairs_examined": "count",
    "search.knn.pairs_kept": "count",
    "search.knn.stages": "count",
    "search.knn.tasks": "count",
    "search.matching.matching_s": "s",
    "search.matching.groups": "count",
    "search.matching.edges": "count",
    "search.matching.stages": "count",
    "search.matching.tasks": "count",
    "search.metadata.pairwise_bm25_s": "s",
    "search.metadata.pairwise_stages": "count",
    "search.metadata.bm25_search_s": "s",
    "search.metadata.bm25_stages": "count",
    "search.metadata.bm25_tasks": "count",
    "search.metadata.docs_matched_per_result": "ratio",
    "search.engine.jobs_per_query": "count",
    "search.engine.stages_per_query": "count",
    "search.engine.tasks_per_query": "count",
    "search.engine.failed_tasks": "count",
    "session.jvm_job_ms": "ms",
    "session.python_job_ms": "ms",
    "trace.overhead_s": "s",
}

# workload-specific names of the end-to-end figures, as the report prints them
REPORT_NAMES = {
    "dataset_search": ("search_p50_s", "search_tail_s", "searches_per_s"),
    "keyword_search": ("keyword_p50_s", "keyword_tail_s", "keyword_qps"),
}

SEARCH_COLS = ("q_table", "cand_table", "content_score", "metadata_score", "overall_score", "rank")


# ------------------------------------------------------------- environment


def pin_environment(work: str) -> dict:
    """Spark task slots (half the usable cores), JVM heap (4 GB, or a
    quarter of host memory if less), scratch locations and console
    settings for the Spark session, fixed before pyspark launches its JVM.

    Half the cores, because the JVM's JIT and GC threads, the Python
    workers and this process run beside the task threads. On a shared
    4-core VM, searches with a slot per core drew up to a quarter of the
    CPUs as host steal and ran up to twice as slow as at rest; with 2
    slots, alternated with them in the same stretch, steal stayed under
    8% and latency under 1.6x its rest value. At rest 2 slots are ~10%
    slower per search (2.4-2.6 s against 2.0-2.3 s)."""
    cpus = len(os.sched_getaffinity(0))
    slots = max(1, cpus // 2)
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(HEAP_MB_MAX, mem_mb // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        # the launcher JVM that spark-submit starts before the Spark JVM
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]),
    })
    return {"cpus": cpus, "spark_task_slots": slots, "jvm_heap_mb": heap_mb, "host_mem_mb": mem_mb}


def session_probes(spark) -> dict:
    """Median dispatch latency of a trivial JVM job and of a trivial
    Python-worker job: the host's per-job overhead, which the engine's
    many small stages multiply."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _identity(s):
        return s

    def jvm_job():
        spark.range(1000).count()

    def python_job():
        spark.range(64).repartition(4).select(_identity("id")).count()

    out = {}
    for name, job in (("jvm_job_ms", jvm_job), ("python_job_ms", python_job)):
        job()
        times = []
        for _ in range(3):
            t = time.perf_counter()
            job()
            times.append((time.perf_counter() - t) * 1000)
        out[name] = statistics.median(times)
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's CPUs
    since boot (the `steal` column of /proc/stat, summed over CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- workloads


class DatasetSearch:
    """1 client; each request is a top-k dataset search over a warm index."""

    def __init__(self, engine, con):
        self.engine, self.con = engine, con
        self.ref = None

    @staticmethod
    def stream(seed: int, term_df: Counter) -> list:
        return wl.dataset_requests(seed, STREAM_LEN)

    def send(self, req, tracer=None, rid=None):
        def call():
            df = self.engine.search(
                dataset=req.dataset, k=req.k, w_content=req.w_content,
                w_metadata=req.w_metadata,
                type_weights=dict(req.type_weights) if req.type_weights else None,
            )
            return [tuple(r) for r in df.select(*SEARCH_COLS).collect()]

        if tracer is None:
            return call()
        with tracer.span("search.engine", request=rid):
            return call()

    def check(self, req, answer):
        if self.ref is None:
            self.ref = oracle.DatasetSearchReference(DATA_DIR, self.con)
        return oracle.check_dataset_search(self.ref, req, answer)

    def mix(self, reqs):
        return wl.dataset_mix(reqs)


class KeywordSearch:
    """2 clients; each request is a BM25 keyword query over `documents`."""

    def __init__(self, engine, con):
        self.engine, self.con = engine, con
        self.refs: dict[str, list] = {}

    @staticmethod
    def stream(seed: int, term_df: Counter) -> list:
        return wl.keyword_requests(seed, term_df, STREAM_LEN)

    def send(self, req, tracer=None, rid=None):
        def call():
            return [tuple(r) for r in self.engine.metadata_search(req.query, k=req.k).collect()]

        if tracer is None:
            return call()
        with tracer.span("search.metadata.bm25", request=rid):
            return call()

    def reference(self, req):
        # a top-k is the prefix of the top-max(k): the ranking is by score,
        # then doc_id, and the normalizer is the best score of all matches
        if req.query not in self.refs:
            self.refs[req.query] = oracle.keyword_reference(
                self.con, req.query, max(wl.KEYWORD_KS)
            )
        return self.refs[req.query][:req.k]

    def check(self, req, answer):
        return oracle.check_topk(req.key(), answer, self.reference(req))

    def mix(self, reqs):
        return wl.keyword_mix(reqs, {r.key(): len(self.reference(r)) for r in reqs})


WORKLOADS = {"dataset_search": DatasetSearch, "keyword_search": KeywordSearch}


# ------------------------------------------------------------- closed loop


def closed_loop(work, requests, clients: int, seconds: float, tracer=None) -> tuple[list, float]:
    """`clients` threads each send their next request only after the last
    one answered, until `seconds` have passed. With a tracer, every other
    request of the stream runs traced. Returns ([(request, latency_s, answer, error,
    traced, steal_s)], seconds from start to the last answer), where steal_s
    is the host's CPU steal while the request ran."""
    lock = threading.Lock()
    stream = enumerate(requests)
    results: list = []
    start = time.perf_counter()
    deadline = start + seconds
    last_end = [start]

    def client():
        while time.perf_counter() < deadline:
            with lock:
                rid, req = next(stream, (None, None))
            if req is None:
                return
            traced = tracer is not None and rid % 2 == 0
            s0, t = host_steal_s(), time.perf_counter()
            try:
                answer, error = work.send(req, tracer if traced else None, rid), None
            except Exception as exc:  # a failed request counts, the loop goes on
                answer, error = None, f"{type(exc).__name__}: {exc}"
            end = time.perf_counter()
            steal = host_steal_s() - s0
            with lock:
                results.append((req, end - t, answer, error, traced, steal))
                last_end[0] = max(last_end[0], end)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return results, last_end[0] - start


def tail(latencies: list[float]) -> tuple[float | None, int | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; (None, None) with ten samples or fewer."""
    n = len(latencies)
    if n <= 10:
        return None, None
    return sorted(latencies)[n - 11], int(100 * (n - 10) / n)


# -------------------------------------------------------------- layer sweep


def layer_sweep(spark, engine, seed, tracer, counts, term_df, con) -> tuple[dict, dict]:
    """Call each layer's public function once under a span, materialize
    its output, and derive the per-layer metrics from the spans. Runs
    before the session's first search: the profiling spans build the
    engine's signature index, then one untimed search fills the rest of
    the engine's caches, so the search layers are timed warm. Returns
    (metrics, rows of the catalog and of the four signature indexes)."""
    from danae_spark.catalog import catalog_datasets
    from danae_spark.profiling import profiler, tfidf
    from danae_spark.search import knn, matching, metadata

    def timed(name, fn):
        with tracer.span(name) as rec:
            rows = fn().collect()
        return [tuple(r) for r in rows], rec

    m: dict[str, float] = {}
    built: dict[str, list] = {}
    built["catalog"], rec = timed(
        "catalog.catalog_datasets", lambda: catalog_datasets(spark, DATA_DIR)
    )
    m["catalog.catalog_datasets_s"] = rec["end"] - rec["start"]

    # the signature index holds one cached frame per column type, each the
    # output of one profiling function; materializing a frame is that
    # function's share of the index build
    index = [frame for frame, _names, _type in knn.typed_signatures(spark, DATA_DIR)]
    prof = [
        ("quantile_signatures", profiler.NUMERIC_PROFILE_TABLES),
        ("temporal_profile", tuple(t for t, _c in profiler.TEMPORAL_COLS)),
        ("categorical_embeddings", tuple(t for t, _c in tfidf.CATEGORICAL_PROFILE_COLS)),
        ("spatial_bboxes", tuple(t for t, _c in profiler.SPATIAL_SIG_TABLES)),
    ]
    recs = []
    for (name, _tables), frame in zip(prof, index):
        built[name], rec = timed(f"profiling.{name}", lambda: frame)
        m[f"profiling.{name}_s"] = rec["end"] - rec["start"]
        recs.append(rec)
    m["profiling.rows_scanned"] = sum(counts[t] for *_x, tables in prof for t in tables)
    for key in ("stages", "tasks", "failed_tasks"):
        m[f"profiling.{key}"] = sum(r[key] for r in recs)

    req = wl.dataset_requests(seed, 1)[0]

    def search():
        return engine.search(
            dataset=req.dataset, k=req.k, w_content=req.w_content, w_metadata=req.w_metadata,
            type_weights=dict(req.type_weights) if req.type_weights else None,
        )

    search().collect()
    sims, rec = timed("search.knn", lambda: knn.content_similarity(spark, DATA_DIR))
    m["search.knn.content_similarity_s"] = rec["end"] - rec["start"]
    m["search.knn.pairs_examined"] = knn.all_pair_distances(spark, DATA_DIR).count()
    m["search.knn.pairs_kept"] = len(sims)
    m["search.knn.stages"], m["search.knn.tasks"] = rec["stages"], rec["tasks"]

    # (q_table, q_column, col_type, cand_table, cand_column, dist, sim, rank)
    edges = [r[:5] + (r[6],) for r in sims]
    sims_df = spark.createDataFrame(
        edges, "q_table string, q_column string, col_type string,"
        " cand_table string, cand_column string, sim double",
    ).coalesce(1).cache()
    sims_df.count()
    _, rec = timed("search.matching", lambda: matching.matching_scores_from_sims(sims_df))
    sims_df.unpersist()
    m["search.matching.matching_s"] = rec["end"] - rec["start"]
    m["search.matching.groups"] = len({(e[0], e[3]) for e in edges})
    m["search.matching.edges"] = len(edges)
    m["search.matching.stages"], m["search.matching.tasks"] = rec["stages"], rec["tasks"]

    fields = spark.createDataFrame(
        [(d, f, text) for d, fs in oracle.catalog_fields(DATA_DIR).items() for f, text in fs.items()],
        "dataset string, field string, field_text string",
    ).coalesce(1)
    _, rec = timed(
        "search.metadata.pairwise",
        lambda: metadata.pairwise_dataset_bm25(fields, boosts=oracle.CATALOG_BOOSTS),
    )
    m["search.metadata.pairwise_bm25_s"] = rec["end"] - rec["start"]
    m["search.metadata.pairwise_stages"] = rec["stages"]

    # one request of each kind: the sweep has to fit in a run's time limit
    # on top of the workload's own set-up and loop
    q = next(r for r in wl.keyword_requests(seed, term_df, 50) if "oov" not in r.term_kinds)
    rows, rec = timed("search.metadata.bm25", lambda: engine.metadata_search(q.query, k=q.k))
    m["search.metadata.bm25_search_s"] = rec["end"] - rec["start"]
    m["search.metadata.bm25_stages"], m["search.metadata.bm25_tasks"] = rec["stages"], rec["tasks"]
    matched = len(oracle.keyword_reference(con, q.query, 10**9))
    m["search.metadata.docs_matched_per_result"] = matched / max(len(rows), 1)

    _, rec = timed("search.engine", search)
    m["search.engine.jobs_per_query"] = rec["jobs"]
    m["search.engine.stages_per_query"] = rec["stages"]
    m["search.engine.tasks_per_query"] = rec["tasks"]
    m["search.engine.failed_tasks"] = rec["failed_tasks"]
    return m, built


# --------------------------------------------------------------------- main


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The benchmark's final stdout line: one JSON object with every
    metric named in `units`."""
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, shut the JVM down and wait for every process the
    session started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclass
class Measured:
    """What one run of a workload produced, before any checking."""

    work: object
    warm: list
    results: list
    elapsed: float
    setup_s: float
    phases: dict
    probes: dict
    java: str
    peak_rss_mb: float
    live_mb: float
    tracer: Tracer | None
    layer: dict | None
    built: dict | None


def measure(args, requests: list, counts: dict, term_df: Counter, con) -> Measured:
    """Start Spark, set up and warm up the workload (a traced run sweeps
    the layers first), run its closed loop, then stop Spark and wait for
    every process it started."""
    from danae_spark.api import DataLakeEngine
    from danae_spark.session import get_spark

    name = args.workload
    spark = mem = tracer = layer = built = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{name}")
        mem = SessionMemory(spark)
        engine = DataLakeEngine(spark, DATA_DIR)
        t_session = time.perf_counter()
        if args.trace:
            tracer = Tracer(spark)
            layer, built = layer_sweep(spark, engine, args.seed, tracer, counts, term_df, con)
        t_sweep = time.perf_counter()
        work = WORKLOADS[name](engine, con)
        n_warm = WARMUP[name]
        warm, _ = closed_loop(work, requests[:n_warm], CLIENTS[name], float("inf"))
        t_warm = time.perf_counter()
        # probed after warm-up: they then measure steady-state dispatch
        probes = session_probes(spark)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        setup_s = time.perf_counter() - t0
        phases = {
            "session_s": t_session - t0,
            "layer_sweep_s": t_sweep - t_session,
            "warmup_s": t_warm - t_sweep,
            "first_request_s": warm[0][1],
            "probes_s": t0 + setup_s - t_warm,
        }
        steal0 = host_steal_s()
        results, elapsed = closed_loop(
            work, requests[n_warm:], CLIENTS[name], args.seconds, tracer
        )
        # share of the machine's CPU time the host withheld during the loop
        probes["host_steal_share"] = (host_steal_s() - steal0) / (os.cpu_count() * elapsed)
    finally:
        if mem is not None:
            mem.close()
        if spark is not None:
            stop_spark(spark, process_tree(os.getpid())[1:])
    return Measured(work, warm, results, elapsed, setup_s, phases, probes, java,
                    mem.peak_rss / 2**20, mem.live / 2**20, tracer, layer, built)


def check(m: Measured, con) -> tuple[list[str], int, int]:
    """(problems, failed measured requests, failed other checks): every
    answer against its reference, and in a traced run the index the
    layer sweep built."""
    problems: list[str] = []

    def bad(result) -> bool:
        req, _lat, answer, error, *_rest = result
        found = [error] if error else m.work.check(req, answer)
        problems.extend(found)
        return bool(found)

    failed = sum(bad(r) for r in m.results)
    other = sum(bad(r) for r in m.warm)
    if m.built is not None:
        refs = oracle.index_reference(con)
        refs["catalog"] = oracle.catalog_reference(DATA_DIR)
        for key, want in refs.items():
            found = oracle.check_rows(key, m.built[key], want)
            problems.extend(found)
            other += bool(found)
    return problems, failed, other


def report(args, m: Measured, env: dict, problems: list[str], failed: int, correct: bool) -> None:
    """Print the report lines, write the spans of a traced run, and print
    the JSON result line last."""
    name = args.workload
    attempted = len(m.results)
    lat = [r[1] for r in m.results if not r[4]]
    p50 = statistics.median(lat)
    tail_v, tail_p = tail(lat)
    metrics = {
        "setup_s": m.setup_s,
        "latency_p50_s": p50,
        "throughput_per_s": attempted / m.elapsed,
    }
    p50_name, tail_name, rate_name = REPORT_NAMES[name]
    print(f"# workload {name}, seed {args.seed}, {CLIENTS[name]} client(s), closed loop, "
          f"{args.seconds:g} s measured, trace {args.trace}")
    print(f"# environment {json.dumps(env, sort_keys=True)}")
    print(f"# query mix {json.dumps(m.work.mix([r[0] for r in m.results]), sort_keys=True)}")
    print(f"# setup phases {json.dumps({k: round(v, 4) for k, v in m.phases.items()})}")
    if m.tracer is None:  # a traced set-up holds the layer sweep
        print(f"setup_s = {m.setup_s:.4f} s")
    print(f"# latencies_s {json.dumps([round(x, 3) for x in lat])}")
    print(f"# host_steal_s {json.dumps([round(r[5], 2) for r in m.results if not r[4]])}")
    print(f"{p50_name} = {p50:.4f} s  (median of {len(lat)} untraced requests)")
    if tail_v is None:
        print(f"{tail_name} = n/a  ({len(lat)} samples: a tail needs more than 10)")
    else:
        print(f"{tail_name} = {tail_v:.4f} s  (p{tail_p} of {len(lat)} samples)")
    print(f"{rate_name} = {metrics['throughput_per_s']:.4f} 1/s")
    print(f"error_rate = {failed / attempted:.4f}  ({failed} of {attempted} requests)")
    print(f"live_mb = {m.live_mb:.1f} MB  (JVM after a full GC + peak RSS of the Python processes)")
    print(f"peak_rss_mb = {m.peak_rss_mb:.1f} MB  (process tree RSS; the JVM part follows its heap cap)")
    for p in problems[:10]:
        print(f"# check failed: {p}")
    if m.tracer is None:
        print(result_line(correct, attempted, failed, metrics, END_TO_END))
        return
    traced = [r[1] for r in m.results if r[4]]
    layer = dict(m.layer)
    layer["session.jvm_job_ms"] = m.probes["jvm_job_ms"]
    layer["session.python_job_ms"] = m.probes["python_job_ms"]
    layer["trace.overhead_s"] = statistics.median(traced) - p50 if traced else 0.0
    for key, value in layer.items():
        print(f"{key} = {value:.6g} {PER_LAYER[key]}")
    path = os.path.join(ROOT, STATE_DIR, f"trace-{name}-{args.seed}.json")
    m.tracer.write(path, {"workload": name, "seed": args.seed, "environment": env,
                          "per_layer": layer, "end_to_end": metrics})
    print(f"# spans written to {os.path.relpath(path, ROOT)}")
    print(result_line(correct, attempted, failed, layer, PER_LAYER))


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import danae_spark.api  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, STATE_DIR)
    work_dir = os.path.join(state, f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        env = pin_environment(work_dir)
        counts = {t: rows for t, _cols, rows in oracle.catalog_reference(DATA_DIR)}
        term_df = wl.corpus_term_counts(DATA_DIR)
        requests = WORKLOADS[args.workload].stream(args.seed, term_df)
        con = oracle.duck_lake(DATA_DIR)
        m = measure(args, requests, counts, term_df, con)
        problems, failed, other_failed = check(m, con)
        import pyspark

        env.update({
            "spark": pyspark.__version__,
            "java": m.java,
            "python": platform.python_version(),
            "session.jvm_job_ms": round(m.probes["jvm_job_ms"], 2),
            "session.python_job_ms": round(m.probes["python_job_ms"], 2),
            "host_steal_share": round(m.probes["host_steal_share"], 4),
            "lake": os.path.relpath(DATA_DIR, ROOT),
            "lake_rows": sum(counts.values()),
        })
        correct = failed == 0 and other_failed == 0
        report(args, m, env, problems, failed, correct)
        return 0 if correct else 1
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
