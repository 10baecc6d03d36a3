#!/usr/bin/env python3
"""spark-graft benchmark: one run of one workload, end to end or traced.

    python3 perfbench/run.py --workload payment_stream --seed 1 --seconds 22 --trace 0

Run it from the repository root. Nothing is compiled: the run imports the
package from the checkout, makes its inputs from ``--seed``, sets up Spark on
``local[N]`` with N half the cores, checks outputs on an untimed pass,
measures for ``--seconds`` and prints, as the last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics below; with ``--trace 1`` they are
the per-layer metrics. The line before it records the run's basis (cores,
master, partitions, host steal). Everything the run writes goes under
``.perfbench_work/`` in the checkout and is removed at the end.

Workloads (queries, rates and sizing probes are in ``workloads.json``):

- ``payment_stream``: the paper's pipeline live and open loop. The rate
  source offers a fixed rate, rows round-trip through the JSON wire format,
  go through ``payment_query_stream`` and a noop sink on a processing-time
  trigger. A micro-batch is one operation.
- ``fleet_light``: one client runs cheap registered queries one after
  another with noop writes, as ``bench.py`` does. A query is one operation.

Every end-to-end metric is defined on both workloads:

- ``setup_s``: JVM, session, package ship, registry import and warm-up.
- ``mix_s``: busy seconds per warm pass; a fleet pass runs each query once
  (the sum of the queries' medians), a stream pass is one trigger interval.
- ``query_p50_s``: median wall time per operation (fleet: build, plan and
  execute a query, over the queries' medians; stream: a micro-batch's
  ``triggerExecution``).
- ``batch_latency_p50_s``: median time to execute one batch (fleet: a
  query's noop write, over the queries' medians; stream: a micro-batch's
  ``triggerExecution``).
- ``stream_rows_per_s``: source rows per busy second of micro-batches. The
  live stream counts rows from the rate source's offsets; the fleet reports
  the median over the micro-batches of the streams its queries drain.
- ``result_lag_p50_s``: median of the wall time at which a result is out
  minus the time its newest input was due. Stream: batch end minus the
  due time of the newest row the cumulative output covers. Fleet: a query's
  input is all due when it is called, so the lag is its wall time.
- ``peak_rss_mb``: peak resident memory of this process and its children.

A run has 8-12 operations to time, so a p90 rests on one sample beyond it
and is no metric; the basis line records it with that count.

Failed operations over attempted ones (``failed_frac``) are the
``failed``/``attempted`` fields: exceptions, output mismatches and
micro-batches that end with a growing backlog. ``correct`` is false when an
output was wrong or missing. In the traced run, a layer the workload does
not run reports 0; so does the stream's tracing overhead, because no traced
call runs inside its measured window.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import threading
import time
import urllib.request
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import Tracer, install  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as _fh:
    CONFIG = json.load(_fh)
WORKLOADS = ("payment_stream", "fleet_light")
DEADLINE_S = 170
DRIVER_MEMORY = CONFIG["basis"]["driver_memory"]
STATE_OPS = ("symmetricHashJoin", "stateStoreSave")
PHASES = ("queryPlanning", "addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch")

END_TO_END = {
    "setup_s": "s",
    "mix_s": "s",
    "query_p50_s": "s",
    "stream_rows_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "result_lag_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.apply_session_conf_s": "s",
    "session.import_queries_s": "s",
    "session.warm_up_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.scan_memo_hit_ratio": "ratio",
    "queries.build_self_s": "s",
    "queries.eager_jobs": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "stream.queryPlanning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "exec.failed_tasks": "count",
    "streaming.run_available_now_s": "s",
    "streaming.foreach_batch_s": "s",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.getBatch_ms": "ms",
    "stream.busy_frac": "ratio",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    **{
        f"state.{op}.{m}": u
        for op in STATE_OPS
        for m, u in (("rows_total", "count"), ("commit_ms", "ms"))
    },
    "source.rows": "count",
    "source.backlog_rows": "count",
    "host.steal_pct": "%",
    "host.cpus": "count",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}
# exec.* sums that the stream reports per micro-batch
STAGE_SUMS = (
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.executor_cpu_s",
    "exec.gc_s",
    "exec.failed_tasks",
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- run scaffolding


class Run:
    """What one run owns: its work directory, Spark and the JVM process,
    the memory sampler, the basis record and the operation counts."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.traced = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        # Half the cores run tasks; the rest keep the JIT and GC threads,
        # the Python driver and the host's steal from stalling a task slot.
        self.slots = max(1, self.cpus // 2)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{self.workload}-{os.getpid()}")
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0  # failed operations whose output was wrong or missing
        self.steal = 0.0
        self.spark = None
        self.listener = None
        self.jvm = None
        self.peak_rss = 0
        self._sampling = True
        self._t_start = time.perf_counter()
        self.basis = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.traced),
            "nproc": self.cpus,
            "task_slots": self.slots,
            "master": f"local[{self.slots}]",
            "driver_memory": DRIVER_MEMORY,
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        elapsed = round(time.perf_counter() - self._t_start, 2)
        self.basis.setdefault("timeline_s", {})[phase] = elapsed

    def prepare(self) -> None:
        base = os.path.dirname(self.work)
        for entry in os.listdir(base) if os.path.isdir(base) else ():
            stale = os.path.join(base, entry)
            # the work directory of a run that was killed
            if os.path.isdir(stale) and not os.path.exists(f"/proc/{entry.rsplit('-', 1)[-1]}"):
                shutil.rmtree(stale, ignore_errors=True)
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "checkpoints", "fixtures", "replay"):
            os.makedirs(self.path(sub))
        # the JVM and Spark's Python workers inherit these
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        import tempfile

        tempfile.tempdir = None
        threading.Thread(target=self._sample_rss, daemon=True).start()
        watchdog = threading.Timer(DEADLINE_S, self._deadline)
        watchdog.daemon = True
        watchdog.start()

    def _deadline(self) -> None:
        log(f"run passed its {DEADLINE_S} s deadline; aborting")
        self._stop_jvm()
        os._exit(3)

    def _sample_rss(self) -> None:
        me = os.getpid()
        while self._sampling:
            total, parts = tree_rss_bytes(me, self.jvm.pid if self.jvm else None)
            if total > self.peak_rss:
                self.peak_rss = total
                self.basis["peak_rss_parts_mb"] = parts
            time.sleep(1.0)  # the scan holds the GIL; keep it rare

    def setup(self) -> float:
        """JVM start, session, package ship, registry import and a warm-up
        job, each a span; returns their total."""
        t0 = time.perf_counter()
        tr = self.tracer
        with tr.span("session.get_spark"):
            from ibis_flink_example_spark.session import apply_session_conf, get_spark

            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.slots}]",
                shuffle_partitions=self.slots,
                extra_conf={
                    "spark.driver.memory": DRIVER_MEMORY,
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                        f"-Djava.io.tmpdir={self.path('tmp')}"
                    ),
                    "spark.local.dir": self.path("local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        from pyspark import SparkContext

        self.jvm = getattr(SparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("ERROR")
        with tr.span("session.apply_session_conf"):
            apply_session_conf(self.spark)
        with tr.span("session.import_queries"):
            import ibis_flink_example_spark.queries  # noqa: F401
        with tr.span("session.warm_up"):
            self.spark.range(0, 1 << 16, 1, self.slots).selectExpr("sum(id)").collect()
        setup_s = time.perf_counter() - t0
        self.listener = make_listener(self.spark)
        self.basis["state_partitions"] = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return setup_s

    def teardown(self) -> None:
        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
            except Exception as exc:  # the JVM is stopped below either way
                log(f"stopping Spark failed: {exc!r}")
        self._stop_jvm()
        self._sampling = False

    def _stop_jvm(self) -> None:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            try:
                SparkContext._gateway.shutdown()
            except Exception:
                pass
        proc = self.jvm
        if proc is None:
            return
        try:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


def tree_rss_bytes(root_pid: int, jvm_pid: int | None) -> tuple[int, list]:
    """Resident bytes of this process, the JVM and the Python workers below
    them, and the [command, MB] of the largest. Other descendants are
    skipped: a process the JVM forks shows the JVM's own pages until it
    execs, so counting it would count the JVM twice."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                comm, rest = fh.read().split(" (", 1)[1].rsplit(") ", 1)
        except (OSError, ValueError):
            continue
        fields = rest.split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        procs[int(entry)] = (comm, int(fields[21]) * page)
    total, todo, parts = 0, [root_pid], []
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        comm, size = procs.get(pid, ("", 0))
        if pid in (root_pid, jvm_pid) or _is_python(pid):
            total += size
            parts.append((size, comm))
    return total, [[comm, round(size / 2**20)] for size, comm in sorted(parts, reverse=True)[:3]]


def _is_python(pid: int) -> bool:
    try:
        return "python" in os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids`` so far. Host steal is not
    charged to a process, so the CPU a window used shows whether the
    program or the host moved its wall times."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(") ", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def proc_stat_cpu() -> str:
    with open("/proc/stat") as fh:
        return fh.readline()


class Rest:
    """The driver UI's REST API on localhost, for job and stage metrics."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.get("/jobs") if t0 <= rest_time(j.get("submissionTime")) < t1]

    def stages(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for s in self.get("/stages?withSummaries=true&quantiles=0.5,1.0"):
            if s.get("status") in ("COMPLETE", "FAILED"):
                out.setdefault(s["stageId"], s)
        return out


def rest_time(s: str | None) -> float:
    """Epoch seconds of a REST timestamp such as 2026-01-02T03:04:05.678GMT."""
    if not s:
        return 0.0
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def progress_time(s: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-02T03:04:05.678Z."""
    return datetime.strptime(s.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def batch_end(p: dict) -> float:
    return progress_time(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3


def make_listener(spark):
    """A Python StreamingQueryListener that keeps every progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self.lock:
                self.events.append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def between(self, t0: float, t1: float = float("inf")) -> list[dict]:
            with self.lock:
                return [p for p in self.events if t0 <= progress_time(p["timestamp"]) < t1]

        def of_query(self, query_id: str) -> list[dict]:
            with self.lock:
                mine = [p for p in self.events if p["id"] == query_id]
            return sorted(mine, key=lambda p: p["batchId"])

    listener = Progress()
    spark.streams.addListener(listener)
    # Listeners are per session, and the package runs stateful queries on
    # conf-isolated clones (``spark.newSession()``); follow every clone.
    from pyspark.sql import SparkSession

    new_session = SparkSession.newSession

    def new_session_with_listener(self):
        clone = new_session(self)
        clone.streams.addListener(listener)
        return clone

    SparkSession.newSession = new_session_with_listener
    return listener


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sum REST stage metrics into the ``exec.*`` layer."""
    tot = dict.fromkeys(STAGE_SUMS, 0.0)
    tot["exec.stages"] = len(stages)
    skew_max = skew_med = 0.0
    for s in stages:
        tot["exec.tasks"] += s.get("numTasks", 0)
        tot["exec.shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        tot["exec.shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["exec.spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        tot["exec.executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        tot["exec.gc_s"] += s.get("jvmGcTime", 0) / 1e3
        tot["exec.failed_tasks"] += s.get("numFailedTasks", 0)
        run_time = (s.get("taskMetricsDistributions") or {}).get("executorRunTime") or []
        if s.get("numTasks", 0) >= 2 and len(run_time) == 2:
            skew_med += run_time[0]
            skew_max += run_time[1]
    # slowest over median task time, summed over stages: 1.0 is perfectly even
    tot["exec.task_skew"] = skew_max / skew_med if skew_med else 1.0
    return tot


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch means of the progress phases and state-operator metrics."""
    n = max(1, len(progress))
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    out: dict[str, float] = {
        f"stream.{phase}_ms": sum(p["durationMs"].get(phase, 0) for p in progress) / n
        for phase in PHASES
    }
    for name, key in (
        ("rows_total", "numRowsTotal"),
        ("rows_updated", "numRowsUpdated"),
        ("memory_bytes", "memoryUsedBytes"),
        ("commit_ms", "commitTimeMs"),
        ("updates_ms", "allUpdatesTimeMs"),
        ("removals_ms", "allRemovalsTimeMs"),
    ):
        out[f"state.{name}"] = sum(o.get(key, 0) for o in ops) / n
    out["state.rows_dropped_by_watermark"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    for op in STATE_OPS:
        mine = [o for o in ops if o.get("operatorName") == op]
        out[f"state.{op}.rows_total"] = sum(o.get("numRowsTotal", 0) for o in mine) / n
        out[f"state.{op}.commit_ms"] = sum(o.get("commitTimeMs", 0) for o in mine) / n
    out["streaming.batches"] = len(progress)
    return out


def p50_p90(samples: list[float]) -> tuple[float, float]:
    return stats.percentile(samples, 50), stats.percentile(samples, 90)


# ---------------------------------------------------------------- payment_stream


def write_replay(run: Run, n_rows: int = 240) -> str:
    """Seeded bounded replay input in the reference JSON wire format: one
    file of payment rows, then one file with a sentinel row an hour later
    that moves the watermark past every real row (the drain's final
    no-data batch then emits them). Returns the data file."""
    rng = random.Random(run.seed)
    ts = 1_700_000_000_000 + rng.randint(0, 10**6)
    rows = []
    for i in range(n_rows):
        ts += rng.randint(50, 2500)
        rows.append(
            {
                "createTime": _wire_time(ts),
                "orderId": 1_700_000_000 + i,
                "payAmount": round(rng.uniform(0, 100000), 2),
                "payPlatform": 0 if rng.random() < 0.9 else 1,
                "provinceId": rng.randint(0, 6),
            }
        )
    sentinel = {
        "createTime": _wire_time(ts + 3_600_000),
        "orderId": 1,
        "payAmount": 0.0,
        "payPlatform": 0,
        "provinceId": 0,
    }
    now = time.time()
    paths = [run.path("replay", "00.jsonl"), run.path("replay", "01.jsonl")]
    # one file per micro-batch; the file source orders files by mtime
    for i, (path, chunk) in enumerate(zip(paths, (rows, [sentinel]))):
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in chunk))
        os.utime(path, (now - 60 + 2 * i, now - 60 + 2 * i))
    return paths[0]


def _wire_time(ms: int) -> str:
    from datetime import timezone

    t = datetime.fromtimestamp(ms / 1000.0, timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]


def replay_check(run: Run) -> list[str]:
    """Run the stream's code path on the seeded bounded replay and compare
    it with ``payment_query_batch`` on the same rows, decoded the same way."""
    from pyspark.sql import functions as F

    from ibis_flink_example_spark.schema import PAYMENT_MSG_SCHEMA
    from ibis_flink_example_spark.sources.kafka import decode_json_value, encode_json_value
    from ibis_flink_example_spark.streaming import runtime
    from ibis_flink_example_spark.streaming.pipeline import payment_query_batch, payment_query_stream

    spark = run.spark
    data_file = write_replay(run)
    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(run.path("replay", "*.jsonl"))
        .select(F.col("value").cast("binary").alias("value"))
    )
    streamed = runtime.run_available_now(
        encode_json_value(payment_query_stream(decode_json_value(raw, PAYMENT_MSG_SCHEMA))),
        output_mode="append",
        checkpoint=run.path("checkpoints", "replay"),
    )
    got = sorted(
        (v["province_id"], v["pay_amount"])
        for v in (json.loads(r.value) for r in streamed.collect())
    )
    batch_raw = spark.read.text(data_file).select(F.col("value").cast("binary").alias("value"))
    want = sorted(
        (r.province_id, r.pay_amount)
        for r in payment_query_batch(decode_json_value(batch_raw, PAYMENT_MSG_SCHEMA)).collect()
    )
    if not want or len(got) != len(want):
        return [f"replay emitted {len(got)} rows where the batch query has {len(want)}"]
    bad = sum(1 for a, b in zip(got, want) if a != b)
    return [f"replay differs from the batch query in {bad} of {len(want)} rows"] if bad else []


def run_payment_stream(run: Run) -> dict[str, float]:
    from ibis_flink_example_spark.schema import PAYMENT_MSG_SCHEMA
    from ibis_flink_example_spark.sources.kafka import decode_json_value, encode_json_value
    from ibis_flink_example_spark.sources.rate import payment_rate_source
    from ibis_flink_example_spark.streaming.pipeline import payment_query_stream

    cfg = CONFIG["payment_stream"]
    rate, trigger = cfg["rows_per_second"], cfg["trigger_seconds"]
    spark = run.spark
    if run.traced:
        install(run.tracer)
    wire = decode_json_value(encode_json_value(payment_rate_source(spark, rate)), PAYMENT_MSG_SCHEMA)
    q = (
        encode_json_value(payment_query_stream(wire))
        .writeStream.format("noop")
        .outputMode("append")
        .trigger(processingTime=f"{trigger} seconds")
        .option("checkpointLocation", run.path("checkpoints", "live"))
        .queryName("payment_stream")
        .start()
    )
    started = time.time()

    # The untimed replay check runs while the live stream fills its
    # watermark: its first output needs the 15 s delay plus a trigger.
    run.attempted += 1
    try:
        problems = replay_check(run)
    except Exception as exc:
        problems = [f"replay raised {exc!r}"[:300]]
    if problems:
        run.failed += 1
        run.wrong += 1
        log(f"payment_stream replay check: {problems}")

    run.mark("checked")
    # skip the batch that catches up after the check, so the window starts clean
    window_start = max(time.time() + trigger, started + cfg["pre_roll_seconds"])
    time.sleep(max(0.0, window_start - time.time()))
    stat0 = proc_stat_cpu()
    c0 = cpu_s([os.getpid(), run.jvm.pid])
    time.sleep(run.seconds)
    window_end = time.time()
    run.basis["window_cpu_s"] = round(cpu_s([os.getpid(), run.jvm.pid]) - c0, 2)
    run.steal = stats.steal_pct(stat0, proc_stat_cpu())
    # let the batch that started inside the window finish before stopping
    while q.status["isTriggerActive"] and time.time() < window_end + 2 * trigger:
        time.sleep(0.1)
    error = q.exception()
    q.stop()
    time.sleep(0.5)  # let the listener bus deliver the last progress
    if error is not None:
        raise RuntimeError(f"the live stream failed: {error}")

    mine = run.listener.of_query(str(q.id))
    data = [p for p in mine if p["numInputRows"] > 0]
    if not data:
        raise RuntimeError("the live stream produced no batch with input")
    t0_ms = round(progress_time(data[0]["eventTime"]["min"]) * 1000)
    # Correctness: after every batch the cumulative output is exactly the
    # source rows due before that batch's watermark.
    cumulative = mismatches = 0
    for p in mine:
        cumulative += p["sink"].get("numOutputRows", 0)
        wm = p.get("eventTime", {}).get("watermark")
        if wm:
            want = stats.rows_due_before(round(progress_time(wm) * 1000), t0_ms, rate)
            mismatches += cumulative != want
    lags_all = stats.result_lags(
        [(batch_end(p), p["sink"].get("numOutputRows", 0)) for p in mine], t0_ms / 1000, rate
    )
    in_window = [window_start <= progress_time(p["timestamp"]) < window_end for p in mine]
    window = [p for p, w in zip(mine, in_window) if w]
    lags = [lag for lag, w in zip(lags_all, in_window) if w and lag is not None]
    if not window or not lags:
        raise RuntimeError("no micro-batch with output inside the measured window")
    # A batch that overruns its trigger is slow, not failed: the next one
    # reads what piled up, and batch time barely grows with batch size. A
    # window batch fails when the backlog grows: it ends with more than two
    # triggers' worth of due rows unread beyond what the first window batch
    # left.
    backlog = [
        stats.backlog_rows(
            round(batch_end(p) * 1000), t0_ms, rate, stats.source_rows(mine[: i + 1], rate)
        )
        for i, p in enumerate(mine)
    ]
    backlog_window = [b for b, w in zip(backlog, in_window) if w]
    behind = sum(1 for b in backlog_window if b > backlog_window[0] + 2 * trigger * rate)
    run.attempted += len(window)
    run.failed += behind + mismatches
    run.wrong += mismatches
    if behind or mismatches:
        log(f"payment_stream: {behind} batches fell behind, {mismatches} count mismatches")

    lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in window]
    busy = sum(lat)
    rows = stats.source_rows(window, rate)
    lat50, lat90 = p50_p90(lat)
    lag50, lag90 = p50_p90(lags)
    run.basis.update(
        rows_per_second=rate,
        trigger_seconds=trigger,
        window_batches=len(window),
        window_offsets=[[p["sources"][0].get("startOffset"), p["sources"][0].get("endOffset")] for p in window],
        batch_p90_s=[round(lat90, 3), stats.beyond(lat, lat90)],
        lag_p90_s=[round(lag90, 3), stats.beyond(lags, lag90)],
        batch_s=[round(x, 3) for x in lat],
        backlog_rows=backlog_window,
    )
    e2e = {
        "mix_s": busy / len(window),
        "query_p50_s": lat50,
        "stream_rows_per_s": rows / busy,
        "batch_latency_p50_s": lat50,
        "result_lag_p50_s": lag50,
    }
    if not run.traced:
        return e2e

    n = len(window)
    layers = stream_layers(window)
    rest = Rest(spark)
    jobs = rest.jobs_between(window_start, window_end)
    stages = rest.stages()
    layers.update(stage_totals([stages[s] for j in jobs for s in j.get("stageIds", []) if s in stages]))
    for k in STAGE_SUMS:
        layers[k] /= n
    layers.update(
        {
            "exec.s": sum(p["durationMs"].get("addBatch", 0) for p in window) / 1e3 / n,
            "exec.jobs": len(jobs) / n,
            "streaming.jobs_per_batch": len(jobs) / n,
            "stream.busy_frac": busy / (window_end - window_start),
            "source.rows": rows,
            "source.backlog_rows": backlog_window[-1],
            "streaming.run_available_now_s": run.tracer.self_seconds().get(
                "streaming.run_available_now", 0.0
            ),
        }
    )
    return {**e2e, **layers}


# ---------------------------------------------------------------- fleet_light


def run_fleet(run: Run) -> dict[str, float]:
    from ibis_flink_example_spark.queries import QUERIES

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import oracle

    names = list(CONFIG[run.workload]["queries"])
    sf = run.path("fixtures")
    rng = random.Random(run.seed)
    if run.traced:
        install(run.tracer)
        run.tracer.enabled = False

    # untimed checking pass, cold: every query against its DuckDB oracle
    for name in rng.sample(names, len(names)):
        run.attempted += 1
        try:
            problems = oracle.check_query(run.spark, name, sf)
        except Exception as exc:
            problems = [f"raised {exc!r}"[:300]]
        if problems:
            run.failed += 1
            run.wrong += 1
            log(f"{name}: {problems}")
    run.mark("checked")

    # Whole passes while the next one would end mostly inside the time
    # budget, at least three (two in the traced run, whose passes run every
    # query twice). The JVM is still warming up, so each pass runs 5-10%
    # faster than the one before; a query's median over the passes leaves
    # out the slow first one.
    passes: list[dict] = []
    t_begin = time.perf_counter()
    stat0 = proc_stat_cpu()
    c0 = cpu_s([os.getpid(), run.jvm.pid])
    min_passes = 2 if run.traced else 3
    while len(passes) < min_passes or (
        time.perf_counter() - t_begin + passes[-1]["wall_s"] / 2 < run.seconds
    ):
        passes.append(fleet_pass(run, QUERIES, rng.sample(names, len(names)), sf, len(passes)))
    run.steal = stats.steal_pct(stat0, proc_stat_cpu())
    run.basis["pass_cpu_s"] = round((cpu_s([os.getpid(), run.jvm.pid]) - c0) / len(passes), 2)
    run.basis.update(passes=len(passes), pass_s=[round(p["wall_s"], 3) for p in passes])
    if run.traced:
        return fleet_layers(run, passes)

    # Percentiles are taken over each query's median across the passes, and a warm pass is the sum of those medians: a percentile or
    # a sum of the raw samples also reports which query happened to be slow
    # once, and spreads more from run to run.
    query_s = per_query_medians(passes, "query_s")
    exec_s = per_query_medians(passes, "exec_s")
    progress = [b for p in passes for b in p["progress"]]
    batch_rates = [
        b.get("numInputRows", 0) * 1e3 / b["durationMs"]["triggerExecution"]
        for b in progress
        if b["durationMs"].get("triggerExecution")
    ]
    if not query_s or not batch_rates:
        raise RuntimeError("no successful query or micro-batch to measure")
    q50, q90 = p50_p90(query_s)
    e50, e90 = p50_p90(exec_s)
    run.basis.update(
        query_p90_s=[round(q90, 3), stats.beyond(query_s, q90)],
        batch_p90_s=[round(e90, 3), stats.beyond(exec_s, e90)],
        pass_query_s=[{n: round(t, 3) for n, t in sorted(p["query_s"].items())} for p in passes],
        micro_batches=len(progress),
    )
    return {
        "mix_s": sum(query_s),
        "query_p50_s": q50,
        "stream_rows_per_s": stats.median(batch_rates),
        "batch_latency_p50_s": e50,
        "result_lag_p50_s": q50,
    }



def per_query_medians(passes: list[dict], key: str) -> list[float]:
    names = {n for p in passes for n in p[key]}
    return [stats.median([p[key][n] for p in passes if n in p[key]]) for n in sorted(names)]


def run_query(run: Run, QUERIES, name: str, sf: str, traced: bool) -> dict | None:
    """Build ``name`` (``QUERIES[name]``), force its physical plan when
    traced, and write it to the noop sink. Returns its seconds, wall-clock
    start, end of build and end, and plan exchanges; None if it raised."""
    tr = run.tracer
    tr.enabled = traced
    run.attempted += 1
    exchanges = 0
    w0 = time.time()
    t0 = time.perf_counter()
    try:
        with tr.span("queries.build", name):
            df = QUERIES[name](run.spark, sf)
        w1 = time.time()
        if traced:
            with tr.span("plan", name):
                plan = df._jdf.queryExecution().executedPlan().toString()
            exchanges = sum(
                1 for line in plan.splitlines() if "Exchange" in line and "ReusedExchange" not in line
            )
        t_exec = time.perf_counter()
        with tr.span("exec", name):
            df.write.format("noop").mode("overwrite").save()
    except Exception as exc:
        run.failed += 1
        run.wrong += 1
        log(f"{name} failed: {exc!r}"[:300])
        return None
    finally:
        tr.enabled = False
    t_end = time.perf_counter()
    return {
        "s": t_end - t0,
        "exec_s": t_end - t_exec,
        "w0": w0,
        "w1": w1,
        "w_end": time.time(),
        "exchanges": exchanges,
    }


def fleet_pass(run: Run, QUERIES, order: list[str], sf: str, index: int) -> dict:
    """One pass over the mix. In the traced run each query runs twice back
    to back, untraced and traced, in an order that alternates, so the pair
    gives the tracing overhead at equal warmth."""
    w_pass = time.time()
    t_pass = time.perf_counter()
    query_s: dict[str, float] = {}
    exec_s: dict[str, float] = {}
    traced_runs: dict[str, dict] = {}
    for i, name in enumerate(order):
        modes = ((i + index) % 2 == 1, (i + index) % 2 == 0) if run.traced else (False,)
        for traced in modes:
            result = run_query(run, QUERIES, name, sf, traced)
            if result is None:
                continue
            if traced:
                traced_runs[name] = result
            else:
                query_s[name] = result["s"]
                exec_s[name] = result["exec_s"]
    wall = time.perf_counter() - t_pass
    time.sleep(0.5)  # let the listener bus and the UI status store catch up
    return {
        "w_pass": w_pass,
        "wall_s": wall,
        "query_s": query_s,
        "exec_s": exec_s,
        "traced_runs": traced_runs,
        "progress": run.listener.between(w_pass, time.time()),
    }


def within(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(t0 <= t < t1 for t0, t1 in windows)


def fleet_layers(run: Run, passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics per pass, from the traced executions only."""
    tr = run.tracer
    rest = Rest(run.spark)
    stages = rest.stages()
    jobs = rest.jobs_between(passes[0]["w_pass"], time.time())
    per_pass = []
    for p in passes:
        traced = p["traced_runs"]
        windows = [(r["w0"], r["w_end"]) for r in traced.values()]
        progress = [b for b in p["progress"] if within(progress_time(b["timestamp"]), windows)]
        spans = [s for s in tr.spans if within(s["wall"], windows)]
        self_t = tr.self_seconds(spans)
        layers = stream_layers(progress)
        busy = sum(b["durationMs"].get("triggerExecution", 0) for b in progress) / 1e3
        layers.update(
            {
                "stream.busy_frac": busy / sum(r["s"] for r in traced.values()),
                "source.rows": sum(b.get("numInputRows", 0) for b in progress),
                "queries.build_self_s": self_t.get("queries.build", 0.0),
                "catalog.load_table_s": self_t.get("catalog.load_table", 0.0),
                "catalog.load_table_calls": sum(1 for s in spans if s["name"] == "catalog.load_table"),
                "plan.s": self_t.get("plan", 0.0),
                "plan.exchanges": sum(r["exchanges"] for r in traced.values()),
                "exec.s": self_t.get("exec", 0.0),
                "streaming.run_available_now_s": self_t.get("streaming.run_available_now", 0.0),
                "streaming.foreach_batch_s": self_t.get("streaming.foreach_batch", 0.0)
                + self_t.get("streaming.foreach_batch_start", 0.0),
            }
        )
        # each traced execution against its untraced twin in the same pass
        pairs = [(r["s"], p["query_s"][n]) for n, r in traced.items() if n in p["query_s"]]
        layers["trace.overhead_s"] = sum(t - u for t, u in pairs)
        layers["trace.overhead_frac"] = layers["trace.overhead_s"] / sum(u for _, u in pairs)
        run_ids = {b["runId"] for b in progress}
        n_jobs = eager = stream_jobs = 0
        job_stages = []
        for j in jobs:
            t = rest_time(j.get("submissionTime"))
            for r in traced.values():
                if r["w0"] <= t < r["w_end"]:
                    n_jobs += 1
                    eager += t < r["w1"]
                    stream_jobs += j.get("jobGroup") in run_ids
                    job_stages += [stages[s] for s in j.get("stageIds", []) if s in stages]
        layers.update(stage_totals(job_stages))
        layers["exec.jobs"] = n_jobs
        layers["queries.eager_jobs"] = eager
        layers["streaming.jobs_per_batch"] = stream_jobs / len(progress) if progress else 0.0
        per_pass.append(layers)
    out = {k: sum(d[k] for d in per_pass) / len(per_pass) for k in per_pass[0]}
    out["catalog.scan_memo_hit_ratio"] = tr.scan_repeats / tr.scan_calls if tr.scan_calls else 0.0
    return out


# ---------------------------------------------------------------- main


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="spark-graft benchmark: one run of one workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ibis_flink_example_spark", "queries.py")):
        log(f"the spark-graft package is not under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    run.prepare()
    try:
        if args.workload == "fleet_light":
            from fixtures import write_fixtures

            run.basis["fixture_rows"] = sum(write_fixtures(run.path("fixtures"), args.seed).values())
            run.mark("fixtures")
        setup_s = run.setup()
        run.mark("setup")
        if args.workload == "payment_stream":
            measured = run_payment_stream(run)
        else:
            measured = run_fleet(run)
        run.mark("measured")
    except Exception as exc:
        log(f"run failed: {exc!r}")
        return 1
    finally:
        run.teardown()
        shutil.rmtree(run.work, ignore_errors=True)
    run.mark("teardown")

    spans = run.tracer.self_seconds()
    measured.update(
        {
            "setup_s": setup_s,
            "peak_rss_mb": run.peak_rss / 2**20,
            "host.steal_pct": run.steal,
            "host.cpus": run.cpus,
            **{
                f"session.{name}_s": spans.get(f"session.{name}", 0.0)
                for name in ("get_spark", "apply_session_conf", "import_queries", "warm_up")
            },
        }
    )
    run.basis["steal_pct"] = round(run.steal, 3)
    if run.traced:
        # the spans, written out once the run is over
        spans_file = os.path.join(os.path.dirname(run.work), f"spans-{run.workload}-{run.seed}.json")
        with open(spans_file, "w") as fh:
            json.dump(run.tracer.spans, fh)
        run.basis["spans_file"] = os.path.relpath(spans_file, ROOT)
    wanted = PER_LAYER if run.traced else END_TO_END
    print("basis " + json.dumps(run.basis, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": run.wrong == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": float(measured.get(k, 0.0)), "unit": u} for k, u in wanted.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
