"""The repository benchmark.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 6 --trace 0

One process drives Spark in local mode on every core of the host
(``local[<nproc>]``), as a closed loop of one client that runs one job at a
time. Inputs come from ``--seed`` (perfbench/corpus.py); outputs are checked
against golden values outside the timed region. The last line on stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it stamps the host, the versions and the
workload-specific figures. perfbench/README.md describes the workloads and
every metric.

Layers are timed from outside, around calls into the program's public
functions, and from Spark's event log; nothing inside the program changes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("extract_mix", "job_resume")
# Sizes are set by the run budget: every run pays SETUPS cold starts (about
# 40 s on 4 cores) before any workload, and one run must stay near a minute.
N_TURNS = {"extract_mix": 60_000, "job_resume": 60_000}
SETUPS = 3  # setup_s is the median of this many cold starts
MIN_PASSES = 3  # extract_mix: ops_per_s is the median over at least this many passes

def now() -> float:
    return time.perf_counter()


# ---------------------------------------------------------------------------
# processes and memory (read from /proc)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled in a background thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until every one of those processes has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = gateway.proc
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = now() + 30
    while any(_alive(p) for p in procs) and now() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ---------------------------------------------------------------------------
# tracing: spans kept in memory, written once at the end
# ---------------------------------------------------------------------------


class Tracer:
    """Spans are flat: none is opened inside another."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.spark = None

    def _describe(self, desc: str | None) -> None:
        if self.enabled and self.spark is not None:
            self.spark.sparkContext.setJobDescription(desc)

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.t0 = now()
                self.record = {"run": tracer.run_id, "name": name, "start": self.t0}
                tracer.spans.append(self.record)
                tracer._describe(name)
                return self

            def __exit__(self, *exc):
                self.seconds = now() - self.t0
                self.record["end"] = self.t0 + self.seconds
                tracer._describe(None)

        return _Span()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CallTimer:
    """Wraps module functions in place, counting calls and summing wall
    time per wrapped name, and restores them on exit."""

    def __init__(self):
        self.calls: dict[str, int] = {}
        self.seconds: dict[str, float] = {}
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, key: str) -> None:
        fn = getattr(owner, attr)
        self.calls.setdefault(key, 0)
        self.seconds.setdefault(key, 0.0)

        def timed(*a, **kw):
            t0 = now()
            try:
                return fn(*a, **kw)
            finally:
                self.calls[key] += 1
                self.seconds[key] += now() - t0

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def first_udf(spark, nproc: int) -> None:
    """The smallest job that needs the Python workers: a few turns per core
    through the extraction UDF into the noop sink."""
    from janet_spark.pipeline import extract_only

    df = spark.range(0, 64 * nproc, numPartitions=nproc).selectExpr(
        "concat('conv-', cast(id % 8 AS string)) AS conv_id",
        "cast(id AS int) AS turn_idx",
        "'user' AS role",
        "concat('  Turn ', cast(id AS string), ' text. ') AS text",
        "'' AS tool",
        "timestamp_seconds(1704067200 + id) AS ts",
    )
    extract_only(df).write.format("noop").mode("overwrite").save()


def start_session(nproc: int, event_dir: str | None):
    """Build a session the program's way and run the first UDF job.
    Returns (spark, build_s, first_udf_s)."""
    from janet_spark.session import build_session

    extra = None
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        }
    t0 = now()
    spark = build_session(master=f"local[{nproc}]", extra_conf=extra)
    t1 = now()
    spark.sparkContext.setLogLevel("ERROR")
    first_udf(spark, nproc)
    return spark, t1 - t0, now() - t1


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _mismatch(a: str, b: str):
    from pyspark.sql import functions as F

    return ~F.col(a).eqNullSafe(F.col(b))


def check_extract(spark, inp: dict) -> int:
    """Turns that are missing, doubled, or whose extracted text or ok flag
    differ from the golden value, or whose conversation's reassembled text
    or turn count differs. The engine's output is collected and compared
    on the driver."""
    import pyarrow.parquet as pq
    from pyspark import StorageLevel

    from janet_spark.pipeline import extract_only
    from janet_spark.reassemble import reassemble_conversations
    from janet_spark.sources import read_transcripts

    out = extract_only(read_transcripts(spark, inp["transcripts"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        got = out.select("conv_id", "turn_idx", "extracted_text", "ok").toPandas()
        got_convs = reassemble_conversations(out).select("conv_id", "conv_text", "n_turns").toPandas()
    finally:
        out.unpersist()
    key = ["conv_id", "turn_idx"]
    turns = pq.read_table(inp["expected"]).to_pandas().merge(
        got, on=key, how="outer", indicator=True
    )
    convs = pq.read_table(inp["convs"]).to_pandas().merge(
        got_convs, on="conv_id", how="outer", indicator=True
    )
    bad_convs = convs["conv_id"][
        (convs["_merge"] != "both")
        | (convs["conv_text"] != convs["exp_conv_text"])
        | (convs["n_turns"] != convs["exp_n_turns"])
    ]
    bad = (
        (turns["_merge"] != "both")
        | turns.duplicated(key, keep=False)
        | (turns["extracted_text"] != turns["exp_text"])
        | (turns["ok"] != turns["exp_ok"])
        | turns["conv_id"].isin(bad_convs)
    )
    return int(bad.sum())


def run_extract_mix(b: Bench) -> None:
    from janet_spark.pipeline import extract_only
    from janet_spark.reassemble import reassemble_conversations
    from janet_spark.sources import read_transcripts

    spark, inp = b.spark, b.inputs
    with b.tracer.span("extract_mix:check"):
        b.failed += check_extract(spark, inp)
    b.attempted += inp["n_turns"]

    def one_pass() -> None:
        reassemble_conversations(
            extract_only(read_transcripts(spark, inp["transcripts"]))
        ).write.format("noop").mode("overwrite").save()

    # the check warms the workers; the first pass after it runs 10-30%
    # slower than the rest, which the median over MIN_PASSES passes leaves out
    passes = []
    t_end = now() + b.seconds
    while len(passes) < MIN_PASSES or now() < t_end:
        with b.tracer.span(f"timed:extract_mix:pass{len(passes)}") as s:
            one_pass()
        passes.append(s.seconds)
    b.timed = passes
    b.ops_per_s = inp["n_turns"] / statistics.median(passes)
    b.named["extract_turns_per_s"] = b.ops_per_s
    b.named["passes"] = len(passes)


def check_job(spark, inp: dict, out_dir: str, rerun: dict) -> int:
    """Committed output against the golden turns, one success lineage row
    per committed bucket, and a rerun that commits nothing. A broken
    lineage or rerun invariant fails every turn of the job."""
    import pyarrow.parquet as pq

    from janet_spark import checkpoint as ckpt
    from janet_spark.pipeline import read_output

    committed = read_output(spark, out_dir).select(
        "conv_id", "turn_idx", "extracted_text", "ok"
    )
    n_committed = committed.count()
    wrong = (
        committed.join(spark.read.parquet(inp["expected"]), ["conv_id", "turn_idx"], "full_outer")
        .filter(_mismatch("extracted_text", "exp_text") | _mismatch("ok", "exp_ok"))
        .count()
    )
    lineage = pq.read_table(ckpt.lineage_dir(out_dir)).to_pandas()
    per_bucket = lineage[lineage["status"] == "success"].groupby("part_bucket").size()
    bucket_dirs = {
        int(n.split("=", 1)[1])
        for n in os.listdir(ckpt.data_dir(out_dir))
        if n.startswith("part_bucket=")
    }
    lineage_ok = set(per_bucket.index) == bucket_dirs and bool((per_bucket == 1).all())
    if not lineage_ok or rerun["buckets_committed"]:
        return inp["n_turns"]
    return min(inp["n_turns"], wrong + abs(n_committed - inp["n_turns"]))


def run_job_resume(b: Bench) -> None:
    from janet_spark.pipeline import N_CHECKPOINT_BUCKETS, run_job
    from janet_spark.sources import read_transcripts

    spark, inp = b.spark, b.inputs
    # run_job's own bucket count and write salt; every bucket holds some of
    # the thousands of conversations, so half the buckets is half the job
    crash_after = N_CHECKPOINT_BUCKETS // 2

    def job(out_dir: str, **kw) -> dict:
        return run_job(spark, read_transcripts(spark, inp["transcripts"]), out_dir, **kw)

    pairs, resumes, reruns = [], [], []
    t_end = now() + b.seconds
    while not pairs or now() < t_end:
        k = len(pairs)
        out_dir = os.path.join(WORK, "job", f"it{k}")
        shutil.rmtree(out_dir, ignore_errors=True)
        with b.tracer.span(f"timed:job_resume:crash{k}") as crash:
            try:
                job(out_dir, fail_after_n_buckets=crash_after)
                raise RuntimeError("the injected crash did not happen")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        with b.tracer.span(f"timed:job_resume:resume{k}") as resume:
            resumed = job(out_dir)
        with b.tracer.span(f"job_resume:rerun{k}") as rr:
            rerun = job(out_dir)
        # the resume run of one iteration: what it commits and what it skips
        b.named["buckets_committed"] = len(resumed["buckets_committed"])
        b.named["buckets_skipped"] = len(resumed["resumed_skipping_buckets"])
        with b.tracer.span(f"job_resume:check{k}"):
            b.failed += check_job(spark, inp, out_dir, rerun)
        b.attempted += inp["n_turns"]
        shutil.rmtree(out_dir, ignore_errors=True)
        pairs.append(crash.seconds + resume.seconds)
        resumes.append(resume.seconds)
        reruns.append(rr.seconds)
    b.timed = pairs
    b.ops_per_s = inp["n_turns"] / statistics.median(pairs)
    b.named["job_turns_per_s"] = b.ops_per_s
    b.named["resume_s"] = statistics.median(resumes)
    b.named["noop_rerun_s"] = statistics.median(reruns)
    b.named["iterations"] = len(pairs)


RUNNERS = {"extract_mix": run_extract_mix, "job_resume": run_job_resume}


# ---------------------------------------------------------------------------
# traced layer probes
# ---------------------------------------------------------------------------


KERNEL_ROWS = 16_384  # turns per kernel-probe subset: one Arrow batch


def kernel_probe(inp: dict) -> dict:
    """In-process ``extract_batch`` throughput on Arrow-sized batches: all
    turns, HTML turns only and plain (non-HTML, non-empty) turns only."""
    import pyarrow.dataset as ds

    from janet_spark.extract.udfs import extract_batch
    from janet_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    pdf = ds.dataset(inp["transcripts"]).head(KERNEL_ROWS * 4).to_pandas()
    text = pdf["text"]
    is_html = text.str.contains("<html", regex=False)
    subsets = {
        "kernel_turns_per_s": pdf,
        "html_turns_per_s": pdf[is_html],
        "plain_turns_per_s": pdf[~is_html & (text.str.strip() != "")],
    }
    out = {}
    for key, frame in subsets.items():
        frame = frame.head(KERNEL_ROWS)
        t0 = now()
        for i in range(0, len(frame), ARROW_MAX_RECORDS_PER_BATCH):
            extract_batch(frame.iloc[i : i + ARROW_MAX_RECORDS_PER_BATCH])
        out[key] = len(frame) / (now() - t0)
    return out


def layer_probes(b: Bench) -> dict:
    """Untimed-for-e2e probes of the scan, extraction stage and reassembly
    on the workload's own input."""
    from pyspark import StorageLevel

    from janet_spark.pipeline import extract_only
    from janet_spark.reassemble import reassemble_conversations
    from janet_spark.sources import read_transcripts

    spark, inp = b.spark, b.inputs
    res = {}
    with b.tracer.span("layer:scan") as s:
        read_transcripts(spark, inp["transcripts"]).write.format("noop").mode("overwrite").save()
    res["sources.scan_s"] = s.seconds
    with b.tracer.span("layer:extract_stage") as s:
        extract_only(read_transcripts(spark, inp["transcripts"])).write.format("noop").mode(
            "overwrite"
        ).save()
    res["pipeline.extract_stage_s"] = s.seconds
    out = extract_only(read_transcripts(spark, inp["transcripts"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        with b.tracer.span("layer:materialize"):
            out.count()
        with b.tracer.span("layer:reassemble") as s:
            reassemble_conversations(out).write.format("noop").mode("overwrite").save()
        res["reassemble.s"] = s.seconds
    finally:
        out.unpersist()
    with b.tracer.span("layer:kernel"):
        for k, v in kernel_probe(inp).items():
            res[f"extract.{k}"] = v
    kernel_s = inp["n_turns"] / res["extract.kernel_turns_per_s"] / b.nproc
    res["arrow.overhead_s"] = res["pipeline.extract_stage_s"] - res["sources.scan_s"] - kernel_s
    return res


# headline registry queries (ROADMAP) whose only input is the documents
# table, which the benchmark can generate from its seed
REGISTRY_QUERIES = (
    "clean_canonicalize",
    "html_strip",
    "token_counts",
    "exact_dedup",
    "minhash_lsh_pairs",
    "doc_fingerprint",
    "match_offsets_sql",
)


def registry_probe(b: Bench) -> tuple[dict[str, float], int]:
    """Run each registry query once, checked against its DuckDB oracle by
    row count and value hash, then once more warm into the noop sink,
    timed. Returns the warm times and the number of failed queries."""
    import duckdb

    import __spark_entry__ as entry
    import corpus

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracles import value_hash

    spark = b.spark
    sf_dir = corpus.materialize_documents(os.path.join(WORK, "inputs"), b.seed)
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    failed = 0
    for name in REGISTRY_QUERIES:
        with b.tracer.span(f"query-check:{name}"):
            got = queries[name](spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        want = con.sql(oracles[name]).df()
        same = len(got) == len(want) and sorted(got.columns) == sorted(want.columns)
        if not (same and value_hash(got) == value_hash(want)):
            failed += 1
    con.close()
    warm = {}
    for name in REGISTRY_QUERIES:
        with b.tracer.span(f"query:{name}") as s:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        warm[name] = s.seconds
    return warm, failed


def install_job_timers(timer: CallTimer) -> None:
    """Time the checkpoint functions run_job looks up at call time, and
    the staged parquet write it issues."""
    from pyspark.sql.readwriter import DataFrameWriter

    from janet_spark import checkpoint as ckpt

    timer.wrap(ckpt, "completed_buckets", "checkpoint.resume_probe")
    timer.wrap(ckpt, "commit_staged", "checkpoint.commit")
    timer.wrap(ckpt, "write_lineage", "checkpoint.lineage_write")
    timer.wrap(DataFrameWriter, "parquet", "pipeline.staged_write")


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args, nproc: int, tracer: Tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.nproc = nproc
        self.tracer = tracer
        self.spark = None
        self.inputs: dict = {}
        self.attempted = 0
        self.failed = 0
        self.ops_per_s = 0.0
        self.timed: list[float] = []
        self.named: dict = {}


def _versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    sha = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        sha = r.stdout.strip() or sha
    return {
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "java": next(
            (ln for ln in java.stderr.splitlines() if not ln.startswith("Picked up")), "?"
        ),
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_sha": sha,
    }


def _prepare_env() -> None:
    """Keep every file the run writes inside the work directory, and let
    the Python workers import the program from the repository root."""
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM ignores TMPDIR: point its temp directory at the work directory
    # and keep its perf-data file out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.chdir(os.path.join(WORK, "cwd"))  # spark-warehouse and the like land here


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "janet_spark", "pipeline.py")):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2

    import corpus  # perfbench/corpus.py, next to this file

    _prepare_env()
    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(bool(args.trace), run_id)
    b = Bench(args, nproc, tracer)
    event_dir = os.path.join(WORK, "events", run_id) if args.trace else None

    with tracer.span("generate") as g:
        b.inputs = corpus.materialize(
            os.path.join(WORK, "inputs"), args.workload, args.seed, N_TURNS[args.workload]
        )
    gen_s = b.inputs["gen_s"]

    builds, firsts = [], []
    for i in range(SETUPS):
        with tracer.span(f"setup{i}"):
            spark, build_s, first_s = start_session(nproc, event_dir)
        builds.append(build_s)
        firsts.append(first_s)
        if i < SETUPS - 1:
            stop_spark(spark)
    b.spark = tracer.spark = spark
    app_id = spark.sparkContext.applicationId
    setup_s = statistics.median(x + y for x, y in zip(builds, firsts))

    timer = CallTimer()
    if args.trace:
        install_job_timers(timer)
    try:
        with RssSampler() as rss:
            RUNNERS[args.workload](b)
        timer.restore()
        if args.trace:
            probes = layer_probes(b)
            query_s, failed_queries = registry_probe(b)
            b.attempted += len(REGISTRY_QUERIES)
            b.failed += failed_queries
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        return 1
    finally:
        timer.restore()
    stop_spark(spark)
    load_after = os.getloadavg()

    peak_rss_mb = rss.peak / 2**20
    named = {
        "setup_s": setup_s,
        "gen_s": gen_s,
        "timed_s": b.timed,
        "failed_ops_ratio": b.failed / b.attempted,
        "peak_rss_mb": peak_rss_mb,
        **b.named,
    }
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "n_turns": b.inputs["n_turns"],
        "named": named,
        **_versions(),
    }
    tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))

    if args.trace:
        from eventlog import app_log, read, summarize

        log = read(app_log(event_dir, app_id))
        # sums over the timed region are reported per pass (extract_mix) or
        # per crash+resume iteration (job_resume), so that a faster program,
        # which fits more passes into --seconds, does not read as more work
        n_timed = len(b.timed)
        spark_layer = {
            k: v if k == "task_skew" else v / n_timed
            for k, v in summarize(log, lambda d: d.startswith("timed:")).items()
        }
        per_iter = {k: v / n_timed for k, v in timer.seconds.items()}
        calls_per_iter = {k: v / n_timed for k, v in timer.calls.items()}
        metrics = {
            "layer.session.build_s": (statistics.median(builds), "s"),
            "layer.session.first_udf_s": (statistics.median(firsts), "s"),
            "layer.sources.scan_s": (probes["sources.scan_s"], "s"),
            "layer.sources.scan_tasks": (
                summarize(log, lambda d: d == "layer:scan")["tasks"],
                "count",
            ),
            "layer.extract.kernel_turns_per_s": (probes["extract.kernel_turns_per_s"], "1/s"),
            "layer.extract.html_turns_per_s": (probes["extract.html_turns_per_s"], "1/s"),
            "layer.extract.plain_turns_per_s": (probes["extract.plain_turns_per_s"], "1/s"),
            "layer.pipeline.extract_stage_s": (probes["pipeline.extract_stage_s"], "s"),
            "layer.arrow.overhead_s": (probes["arrow.overhead_s"], "s"),
            "layer.reassemble.s": (probes["reassemble.s"], "s"),
            "layer.checkpoint.resume_probe_s": (
                per_iter.get("checkpoint.resume_probe", 0.0),
                "s",
            ),
            "layer.checkpoint.commit_s": (per_iter.get("checkpoint.commit", 0.0), "s"),
            "layer.checkpoint.lineage_writes": (
                calls_per_iter.get("checkpoint.lineage_write", 0),
                "count",
            ),
            "layer.checkpoint.lineage_write_s": (
                per_iter.get("checkpoint.lineage_write", 0.0),
                "s",
            ),
            "layer.checkpoint.buckets_committed": (b.named.get("buckets_committed", 0), "count"),
            "layer.checkpoint.buckets_skipped": (b.named.get("buckets_skipped", 0), "count"),
            "layer.pipeline.staged_write_s": (
                per_iter.get("pipeline.staged_write", 0.0),
                "s",
            ),
            "layer.pipeline.noop_rerun_s": (b.named.get("noop_rerun_s", 0.0), "s"),
            "layer.spark.python_boot_s": (spark_layer["python_boot_s"], "s"),
            "layer.spark.python_init_s": (spark_layer["python_init_s"], "s"),
            "layer.spark.python_run_s": (spark_layer["python_run_s"], "s"),
            "layer.spark.python_bytes_sent": (spark_layer["python_bytes_sent"], "B"),
            "layer.spark.python_bytes_returned": (spark_layer["python_bytes_returned"], "B"),
            "layer.spark.shuffle_write_bytes": (spark_layer["shuffle_write_bytes"], "B"),
            "layer.spark.shuffle_fetch_wait_s": (spark_layer["shuffle_fetch_wait_s"], "s"),
            "layer.spark.gc_s": (spark_layer["gc_s"], "s"),
            "layer.spark.spill_bytes": (spark_layer["spill_bytes"], "B"),
            "layer.spark.jobs": (spark_layer["jobs"], "count"),
            "layer.spark.tasks": (spark_layer["tasks"], "count"),
            "layer.spark.task_skew": (spark_layer["task_skew"], "ratio"),
            **{
                f"layer.query.{name}_{key}": (value, unit)
                for name, secs in query_s.items()
                for key, value, unit in (
                    ("s", secs, "s"),
                    *(
                        (k, summarize(log, lambda d, n=name: d == f"query:{n}")[k], "count")
                        for k in ("jobs", "tasks")
                    ),
                )
            },
            "layer.query.suite_s": (sum(query_s.values()), "s"),
            "layer.trace.setup_s": (setup_s, "s"),
            "layer.trace.ops_per_s": (b.ops_per_s, "1/s"),
            "layer.process.peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (b.ops_per_s, "1/s"),
        }
    print(json.dumps(stamp))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
