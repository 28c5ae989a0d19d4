#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload log_store --seed 7 --seconds 15 --trace 0

A run

1. generates (or reuses) the seeded data tier for the workload
   (``tier.py``) and removes the engine's staging for it, so every run
   starts from the same state;
2. sets up: loads the query registry, starts the Spark session and runs
   one warm-up job. A warm workload then makes one untimed pass over its
   queries; ``setup_s`` covers all of this except the output check;
3. times rounds of the workload's queries, one call after another (a
   closed loop with one client; a warm workload shuffles each round by
   the seed, a cold one keeps its pipeline order), until ``--seconds``
   have passed and every query has run at least once. A call is ``fn()``
   plus its execution: into Spark's ``noop`` sink in a warm workload,
   collected to the driver in a cold one;
4. checks the first result of every query, outside all timings: against
   the query's DuckDB oracle, or, for a query without one, against the
   row count the first run on the same tier recorded;
5. prints each metric with its unit and sample count, then one JSON line.

With ``--trace 1`` the run also records spans and reads Spark's status
stores after every timed call (``probe.py``). Its JSON line then carries
the per-layer metrics instead of the end-to-end ones, and spans and
per-call rows go to ``.perfbench_cache/traces/``. End-to-end figures come
from untraced runs.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probe  # noqa: E402
import tier  # noqa: E402

EVENTS = ("events",)
DOCS = ("documents",)

# name -> tier sizes, warm or cold, and {query: the source tables it
# reads}. The tables give the source rows a call consumes, from parquet
# footer counts.
WORKLOADS = {
    # The reference's own use: raw syslog text is parsed, written to the
    # dt-partitioned store and tailed as a stream, and an analyst queries
    # the consolidated store. The reads bypass the shingle code and the
    # Python workers. Warm: an analyst's session reruns its queries.
    "log_store": {
        "events": 100_000,
        "docs": 5_000,
        "warm": True,
        "queries": {
            "scan_text_parse": DOCS,
            "sink_parquet_partitioned": EVENTS,
            "stream_text_tail": DOCS,
            "log_search": DOCS,
            "log_error_rate_hourly": EVENTS,
            "log_top_services": EVENTS,
            "log_burst_detect": EVENTS,
            "log_type_hour_matrix": EVENTS,
            "log_latency_percentiles": EVENTS,
            "log_anomaly_zscore": EVENTS,
            "log_slo_burn": EVENTS,
            "log_entropy_profile": EVENTS,
            "log_rollup_incremental": EVENTS,
            "log_rollup_multires": EVENTS,
            "sessionize": EVENTS,
        },
    },
    # A compute-bound LLM-data pipeline pass over the corpus: the shingle
    # code (functions/text.py) and, through pack_sequences_ffd, the
    # Python/Arrow workers, both of which the log workload bypasses.
    # Cold: a batch pipeline pays its first pass, and each step hands its
    # result on.
    "corpus_dedup": {
        "events": 10_000,
        "docs": 5_000,
        "warm": False,
        "queries": {
            "dedup_exact": DOCS,
            "dedup_near_minhash": DOCS,
            "dedup_simhash": DOCS,
            "dedup_substring_span": DOCS,
            "decontam_ngram_overlap": DOCS,
            "text_tfidf": DOCS,
            "doc_pii_scrub": DOCS,
            "pipeline_corpus_prep": DOCS,
            "pack_sequences_ffd": DOCS,
        },
    },
}

TINY = {"events": 5_000, "docs": 500}  # the self-check's tier
CALL_TIMEOUT_S = 45.0  # a call still running after this is cancelled and fails
HARD_STOP_S = 120.0  # no timed call starts later than this after process start
DRIVER_MEMORY = "3g"
KEEP_TIERS = 8  # generated tiers kept in the cache; older ones are deleted


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="use the self-check's tiny tier")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --- host stamp ---------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def code_sha() -> str:
    """The git commit when there is one, else a content hash of the
    engine's sources (a benchmark checkout need not be a repository)."""
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d, dirs, files in os.walk(os.path.join(ROOT, "linux_logs_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def calib_ms() -> float:
    """A fixed CPU job, one sha256 loop per core over the same bytes. A
    diagnostic only: it tells a slow host window from a slow program."""
    block = bytes(range(256)) * 4096  # 1 MiB; hashlib releases the GIL

    def loop():
        for _ in range(160):
            hashlib.sha256(block).digest()

    threads = [threading.Thread(target=loop) for _ in range(nproc())]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return (time.perf_counter() - t0) * 1e3


def host_sample(stamp: dict, when: str) -> None:
    stamp[f"load1_{when}"] = os.getloadavg()[0]
    stamp[f"calib_{when}_ms"] = calib_ms()


def make_tmp() -> str:
    """A temp directory for this process, after deleting those of
    processes that no longer run."""
    root = os.path.join(tier.CACHE, "tmp")
    os.makedirs(root, exist_ok=True)
    for e in os.scandir(root):
        if not (e.name.isdigit() and os.path.exists(f"/proc/{e.name}")):
            shutil.rmtree(e.path, ignore_errors=True)
    tmp = os.path.join(root, str(os.getpid()))
    os.makedirs(tmp)
    return tmp


# --- Spark session ---------------------------------------------------------------


def warm_up(spark) -> None:
    """bench.py's JVM warm-up: the session's first job. The Python
    workers start on first use, in the workload's own calls."""
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()


def shut_down(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def watchdog(spark):
    """Cancel the running jobs if a call outlives CALL_TIMEOUT_S; the
    call then raises and counts as failed."""
    timer = threading.Timer(CALL_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


# --- the run ---------------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.queries = list(WORKLOADS[args.workload]["queries"])
        sizes = TINY if args.tiny else WORKLOADS[args.workload]
        self.sizes = {"events": sizes["events"], "docs": sizes["docs"]}
        self.spans = probe.Spans(T_START) if args.trace else probe.NoSpans()
        self.excluded_s = 0.0  # time before the first timed call that is not set-up
        self.layers: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.calls: list[dict] = []
        self.result_rows: dict[str, int] = {}
        self.host = {"nproc": nproc(), "mem_total_kib": mem_total_kib()}
        self.path = ""  # the tier
        self.staging = ""
        self.tmp = ""
        self.setup_s = 0.0
        self.warm_pass_ms = 0.0  # warm workloads only; in the trace file
        self.timed_ms = 0.0
        self.store_bytes_per_row = 0.0

    def fail(self, what: str, err: str) -> None:
        self.failures.append(f"{what}: {err}")
        log(f"FAILED {what}: {err}")

    @contextmanager
    def excluded(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    @contextmanager
    def layer(self, name: str):
        t0 = time.perf_counter()
        with self.spans.span(name):
            yield
        self.layers[f"{name}_ms"] = (time.perf_counter() - t0) * 1e3

    # -- stages of a run --

    def prepare(self) -> None:
        """Environment, host stamp and tier; none of it counts as set-up."""
        with self.excluded():
            # Spark's, the JVM's and Python's temp files stay in the checkout.
            self.tmp = make_tmp()
            os.environ["TMPDIR"] = self.tmp
            os.environ["SPARK_LOCAL_DIRS"] = self.tmp
            os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
            os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
            self.host["code_sha"] = code_sha()
            self.path = tier.ensure(self.args.seed, self.sizes["events"], self.sizes["docs"])
            tier.prune(keep=KEEP_TIERS, current=self.path)

    def set_up(self):
        with self.layer("registry.load"):
            from linux_logs_spark import registry

            self.specs = registry.all_queries()
        with self.excluded():
            from linux_logs_spark.operators import scans

            # The engine stages derived datasets under .scratch/<tag>,
            # keyed by the data root; a run must not inherit them.
            self.staging = os.path.join(scans._SCRATCH, scans._scratch_tag(self.path))
            shutil.rmtree(self.staging, ignore_errors=True)
        with self.layer("session.get_spark"):
            from linux_logs_spark.session import get_spark

            spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": self.tmp,
                    # -XX:-UsePerfData: no hsperfdata file under /tmp
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                },
            )
        with self.layer("session.warmup"):
            warm_up(spark)
        return spark

    def check(self, spec, pdf, refs: dict) -> None:
        """Compare one collected result with the query's oracle, or with
        the row count the first run on this tier recorded."""
        from linux_logs_spark import verify

        with self.excluded(), self.spans.span("check", spec.name):
            self.result_rows[spec.name] = len(pdf)
            if spec.oracle is not None:
                try:
                    oracle = verify.run_oracle(spec.oracle, self.path)
                except Exception as e:  # noqa: BLE001 - a broken oracle fails the check
                    problems = [f"oracle {type(e).__name__}: {e}"]
                else:
                    problems = verify.compare_frames(pdf, oracle)
            elif spec.name in refs:
                problems = [] if refs[spec.name] == len(pdf) else [
                    f"rows {len(pdf)}, first run on this tier had {refs[spec.name]}"
                ]
            else:
                refs[spec.name] = len(pdf)
                problems = []
        if problems:
            self.fail(f"check {spec.name}", "; ".join(problems))

    def warm_pass(self, spark, refs: dict) -> None:
        """Each query once, untimed; its collected result is checked."""
        t0 = time.perf_counter()
        excluded0 = self.excluded_s
        with self.spans.span("warm_pass"):
            for name in self.queries:
                spec = self.specs[name]
                self.attempted += 1
                try:
                    with self.spans.span("warm", name), watchdog(spark):
                        pdf = spec.fn(spark, self.path).toPandas()
                except Exception as e:  # noqa: BLE001 - a failed query is a result
                    self.fail(f"warm {name}", f"{type(e).__name__}: {e}")
                    continue
                self.check(spec, pdf, refs)
        check_s = self.excluded_s - excluded0
        self.warm_pass_ms = (time.perf_counter() - t0 - check_s) * 1e3

    def call(self, spark, spec, call_id: str, status, collect: bool):
        """One timed call: fn(), then its execution. Returns the call's
        row and, when ``collect``, its result."""
        spark.sparkContext.setJobGroup(call_id, spec.name)
        mark = status.mark() if status else None
        epoch0 = time.time() * 1e3
        pdf = None
        with self.spans.span("call", call_id), watchdog(spark):
            t0 = time.perf_counter()
            with self.spans.span("build", call_id):
                df = spec.fn(spark, self.path)
            t1 = time.perf_counter()
            with self.spans.span("exec", call_id):
                if collect:
                    pdf = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        row = {
            "call": call_id,
            "query": spec.name,
            "module": spec.fn.__module__.removeprefix("linux_logs_spark.").removeprefix("operators."),
            "wall_ms": (t2 - t0) * 1e3,
            "build_ms": (t1 - t0) * 1e3,
            "exec_ms": (t2 - t1) * 1e3,
        }
        if status:
            c0 = time.perf_counter()
            with self.spans.span("collect", call_id):
                row.update(status.read(mark, epoch0, time.time() * 1e3))
            row["collect_ms"] = (time.perf_counter() - c0) * 1e3
        return row, pdf

    def timed(self, spark, status, refs: dict) -> float:
        """Rounds until the deadline. A warm workload shuffles each round
        by the seed. A cold one keeps its pipeline order, so the same step
        always pays the session's first-use costs, and it checks each
        query's first result, outside the call's wall time."""
        cold = not WORKLOADS[self.args.workload]["warm"]
        rng = random.Random(self.args.seed)
        tried: set[str] = set()
        t0 = time.perf_counter()
        deadline = t0 + self.args.seconds
        rnd = 0
        with self.spans.span("timed"):
            while True:
                order = self.queries[:]
                if not cold:
                    rng.shuffle(order)
                for name in order:
                    now = time.perf_counter()
                    if (now >= deadline and len(tried) == len(self.queries)) or (
                        now - T_START > HARD_STOP_S
                    ):
                        return (now - t0) * 1e3
                    spec = self.specs[name]
                    call_id = f"r{rnd}-{name}"
                    self.attempted += 1
                    tried.add(name)
                    try:
                        row, pdf = self.call(spark, spec, call_id, status, collect=cold)
                    except Exception as e:  # noqa: BLE001 - a failed call is a result
                        self.fail(call_id, f"{type(e).__name__}: {e}")
                        continue
                    row["round"] = rnd
                    self.calls.append(row)
                    if cold and name not in self.result_rows:
                        self.check(spec, pdf, refs)
                rnd += 1

    def execute(self) -> None:
        self.prepare()
        refs_path = os.path.join(self.path, "rows_only.json")
        refs = {}
        if os.path.exists(refs_path):
            with open(refs_path) as fh:
                refs = json.load(fh)
        spark = None
        try:
            with self.spans.span("setup"):
                spark = self.set_up()
                with self.excluded():
                    status = probe.StatusProbe(spark) if self.args.trace else None
                if WORKLOADS[self.args.workload]["warm"]:
                    self.warm_pass(spark, refs)
            self.setup_s = time.perf_counter() - T_START - self.excluded_s
            host_sample(self.host, "before")
            self.timed_ms = self.timed(spark, status, refs)
            host_sample(self.host, "after")
            self.store_bytes_per_row = store_bytes_per_row(self.staging)
        finally:
            if spark is not None:
                shut_down(spark)
            for d in (self.staging, self.tmp):
                if d:
                    shutil.rmtree(d, ignore_errors=True)
        with open(refs_path, "w") as fh:
            json.dump(refs, fh, indent=1, sort_keys=True)


def store_bytes_per_row(staging: str) -> float:
    """Bytes on disk per row of the dt-partitioned store that
    sink_parquet_partitioned writes, or 0 when the run wrote none."""
    import pyarrow.parquet as pq

    store = os.path.join(staging, "events_by_day")
    size = rows = 0
    for d, _, files in os.walk(store):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return size / rows if rows else 0.0


# --- metrics ---------------------------------------------------------------------


def per_query(run: Run) -> dict[str, list[float]]:
    by_query: dict[str, list[float]] = {}
    for c in run.calls:
        by_query.setdefault(c["query"], []).append(c["wall_ms"])
    return by_query


def end_to_end(run: Run) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, sample count)."""
    from linux_logs_spark.catalog import table_row_count

    by_query = per_query(run)
    n = len(run.calls)
    medians = [statistics.median(v) for v in by_query.values()]
    tables = WORKLOADS[run.args.workload]["queries"]
    rows = sum(table_row_count(run.path, t) for q in by_query for t in tables[q])
    return {
        "setup_s": (run.setup_s, "s", 1),
        # Per-query medians first: a plain median over calls of a dozen
        # different queries jumps from one query's time to another's.
        "call_gmean_ms": (statistics.geometric_mean(medians) if medians else 0.0, "ms", n),
        # source rows of one round over the sum of per-query median walls
        "rows_per_s": (rows / (sum(medians) / 1e3) if medians else 0.0, "rows/s", n),
    }


def per_layer(run: Run) -> dict[str, tuple[float, str, int]]:
    calls = run.calls
    n = len(calls)

    def total(key: str) -> float:
        return sum(c[key] for c in calls)

    wall = total("wall_ms")
    result_rows = sum(run.result_rows.get(c["query"], 0) for c in calls)
    out = {k: (v, "ms", 1) for k, v in run.layers.items()}
    out.update({
        "ops.build_ms": (total("build_ms"), "ms", n),
        "ops.exec_ms": (total("exec_ms"), "ms", n),
        "spark.jobs": (total("jobs"), "count", n),
        "spark.stages": (total("stages"), "count", n),
        "spark.tasks": (total("numTasks"), "count", n),
        "spark.driver_ms": (wall - total("stage_cover_ms"), "ms", n),
        "spark.task_run_ms": (total("executorRunTime"), "ms", n),
        "spark.task_cpu_ms": (total("executorCpuTime") / 1e6, "ms", n),
        "spark.gc_ms": (total("jvmGcTime"), "ms", n),
        "spark.shuffle_write_bytes": (total("shuffleWriteBytes"), "bytes", n),
        "spark.shuffle_read_bytes": (total("shuffleReadBytes"), "bytes", n),
        "spark.spill_bytes": (total("diskBytesSpilled"), "bytes", n),
        "spark.busy_frac": (total("executorRunTime") / (run.host["nproc"] * wall) if wall else 0.0, "ratio", n),
        "spark.input_records": (total("inputRecords"), "count", n),
        "spark.input_bytes": (total("inputBytes"), "bytes", n),
        "spark.rows_scanned_per_result_row": (
            total("inputRecords") / result_rows if result_rows else 0.0, "ratio", n
        ),
        "spark.output_records": (total("outputRecords"), "count", n),
        "spark.output_bytes": (total("outputBytes"), "bytes", n),
        "python.arrow_bytes": (total("python_sent_bytes") + total("python_returned_bytes"), "bytes", n),
        "streaming.batches": (total("stream_batches"), "count", n),
        "streaming.input_rows": (total("stream_input_rows"), "count", n),
        "store.bytes_per_row": (run.store_bytes_per_row, "B/row", 1),
        "trace.collect_ms": (total("collect_ms"), "ms", n),
        "host.calib_before_ms": (run.host["calib_before_ms"], "ms", 1),
        "host.calib_after_ms": (run.host["calib_after_ms"], "ms", 1),
        "host.load1_before": (run.host["load1_before"], "load", 1),
        "host.load1_after": (run.host["load1_after"], "load", 1),
    })
    return out


def write_trace(run: Run, metrics: dict) -> str:
    modules: dict[str, dict] = {}
    for c in run.calls:
        m = modules.setdefault(c["module"], {"calls": 0, "build_ms": 0.0, "exec_ms": 0.0})
        m["calls"] += 1
        m["build_ms"] += c["build_ms"]
        m["exec_ms"] += c["exec_ms"]
    batch_ms = [b for c in run.calls for b in c.get("stream_batch_ms", [])]
    python = {k: sum(c.get(k, 0.0) for c in run.calls) for k in probe.PYTHON_METRICS.values()}
    blob = {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "seconds": run.args.seconds,
        "sizes": run.sizes,
        "host": run.host,
        "timed_ms": run.timed_ms,
        "warm_pass_ms": run.warm_pass_ms,
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()},
        "per_module": modules,
        "python": python,
        "streaming": {
            "batches": len(batch_ms),
            "batch_p50_ms": statistics.median(batch_ms) if batch_ms else None,
        },
        "failures": run.failures,
        "calls": run.calls,
        "spans": run.spans.rows,
    }
    out_dir = os.path.join(tier.CACHE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{run.args.workload}_s{run.args.seed}.json")
    with open(out, "w") as fh:
        json.dump(blob, fh, indent=1)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "linux_logs_spark")):
        log(f"no linux_logs_spark package in {ROOT}: run from a full checkout")
        return 2
    run = Run(args)
    try:
        run.execute()
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    e2e = end_to_end(run)
    layers = per_layer(run) if args.trace else {}
    print(f"workload {args.workload} seed={args.seed} trace={args.trace} "
          f"events={run.sizes['events']} docs={run.sizes['docs']} "
          f"timed_s={run.timed_ms / 1e3:.3f}")
    print("host " + " ".join(f"{k}={v}" for k, v in run.host.items()))
    walls = [c["wall_ms"] for c in run.calls]
    for q, w in sorted(per_query(run).items()):
        print(f"query {q} median_ms={statistics.median(w)} n={len(w)}")
    if walls:
        print(f"calls p50_ms={statistics.median(walls)} max_ms={max(walls)} n={len(walls)}")
    for k, (v, u, n) in {**e2e, **layers}.items():
        print(f"metric {k} {v} {u} n={n}")
    failed = len(run.failures)
    print(f"metric failed_frac {failed / max(run.attempted, 1)} ratio n={run.attempted}")
    if args.trace:
        log(f"trace written to {write_trace(run, {**e2e, **layers})}")
    shown = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
