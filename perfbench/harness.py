"""Shared measuring code: the tail rule, the /proc process-tree probe (CPU
and memory of the JVM, the Python driver and its workers), the Spark
status-store reader, the host-band marker, and one run's window of ops."""

from __future__ import annotations

import collections
import gc
import json
import math
import os
import signal
import statistics
import subprocess
import threading
import time

from .metrics import STAGE_FIELDS

CLK_TCK = os.sysconf("SC_CLK_TCK")
DRIVER_MEM = "2g"  # the driver heap, initial and maximum
PROBE_INTERVAL_S = 0.25  # memory sampling period of TreeProbe
CALIB_ROWS = 16_000_000  # rows of the host-band calibration fold
CALIB_REPS = 3
TAIL_BEYOND = 2  # ops slower than the one op_tail_s reports
HEAP_CHECKPOINTS = 4  # live-heap readings in the window, evenly spaced


# -- statistics --------------------------------------------------------------

def tail(values: list[float]) -> dict:
    """The latency with ``TAIL_BEYOND`` samples beyond it: with ``n``
    sorted samples, the ``n - 3``-th (0-based), percentile ``100 (n - 2) /
    n``. A window holds a fixed number of ops, so every commit compares the
    same rank of the same count."""
    xs = sorted(values)
    n = len(xs)
    rank = n - TAIL_BEYOND
    return {"value": xs[rank - 1], "percentile": round(100.0 * rank / n, 2),
            "n": n, "beyond": TAIL_BEYOND}


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# -- /proc process tree ------------------------------------------------------

def _read_stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / CLK_TCK
    return int(f[1]), comm, cpu


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident memory with each shared
    page split among its sharers, so forked Python workers and the JVM
    are not counted twice for the pages they share."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_snapshot(root: int | None = None) -> dict[int, tuple[int, str, float]]:
    """Every live process descending from ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[0], []).append(pid)
    keep, frontier = {root}, [root]
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in keep:
                keep.add(c)
                frontier.append(c)
    return {pid: procs[pid] for pid in keep if pid in procs}


def _below(snap: dict, top: int) -> set[int]:
    out, frontier = set(), [top]
    while frontier:
        p = frontier.pop()
        for pid, st in snap.items():
            if st[0] == p and pid not in out:
                out.add(pid)
                frontier.append(pid)
    return out


class TreeProbe:
    """CPU seconds of the process tree, and the peak of the memory it holds
    outside the JVM heap, sampled every ``PROBE_INTERVAL_S`` by a thread:
    the PSS of the Python processes plus the JVM's PSS less its committed
    heap. The heap is fixed and touched at start, so all of it is resident
    whatever the program does; :class:`Bench` reads its live part instead."""

    def __init__(self):
        self.peak = 0
        self.peak_by_name: collections.Counter = collections.Counter()  # MB per command
        self.jvm_pid: int | None = None
        self.heap_committed = 0  # bytes, subtracted from the JVM's PSS
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> tuple[float, float]:
        """(whole tree, Python workers below the JVM) CPU seconds."""
        snap = tree_snapshot()
        workers = ({p for p in _below(snap, self.jvm_pid)
                    if snap[p][1].startswith("python")}
                   if self.jvm_pid is not None else set())
        return (sum(s[2] for s in snap.values()),
                sum(snap[p][2] for p in workers))

    def outside_heap(self) -> tuple[int, collections.Counter]:
        """Bytes held outside the JVM heap now, in total and in MB by command."""
        snap = tree_snapshot()
        # Only the JVM and the Python processes: a helper the JVM spawns
        # (Hadoop's shell calls) shares the JVM's memory until it execs,
        # and its PSS would count that memory a second time.
        pss = {p: _pss(p) for p, st in snap.items()
               if st[1] == "java" or st[1].startswith("python")}
        if self.jvm_pid in pss:
            pss[self.jvm_pid] = max(0, pss[self.jvm_pid] - self.heap_committed)
        by_name: collections.Counter = collections.Counter()
        for p, v in pss.items():
            by_name[snap[p][1]] += v / 2**20
        return sum(pss.values()), by_name

    def _loop(self) -> None:
        while not self._stop.wait(PROBE_INTERVAL_S):
            total, by_name = self.outside_heap()
            if total > self.peak:
                self.peak, self.peak_by_name = total, by_name

    def start(self) -> None:
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal; guest time is
    # already inside user/nice
    return f[7], sum(f[:8])


# -- Spark status store ------------------------------------------------------

class Engine:
    """Reads Spark's status store. Stage and job ids only grow, so the
    stages of one op are the ids handed out between two marks; they are
    read right after the op, before the store can evict them."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self._core = sc._jsc.sc()
        self._dag = self._core.dagScheduler()
        self._store = self._core.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._jvm = jvm

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def _totals(self, stage_ids, jobs: int) -> dict[str, float]:
        lst = self._jvm.java.util.ArrayList()
        for sid in stage_ids:
            try:
                lst.add(self._store.lastStageAttempt(sid))
            except Exception:  # noqa: BLE001 — a stage id that never ran
                continue
        stages = json.loads(self._mapper.writeValueAsString(lst))
        out = {"spark.jobs": float(jobs), "spark.stages": float(len(stages))}
        for _, name, _ in STAGE_FIELDS:
            out[name] = 0.0
        for st in stages:
            for field, name, scale in STAGE_FIELDS:
                out[name] += (st.get(field) or 0) * scale
        return out

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Engine totals of every job started since ``mark``."""
        self._core.listenerBus().waitUntilEmpty()
        j1, s1 = self.mark()
        return self._totals(range(mark[1], s1), j1 - mark[0])

    def group(self, group: str) -> dict[str, float]:
        """Engine totals of the jobs run under one job group."""
        self._core.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = sorted({s for j in jobs
                            if (info := tracker.getJobInfo(j)) is not None
                            for s in info.stageIds})
        return self._totals(stage_ids, len(jobs))

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}


def calibrate(spark) -> float:
    """The host-band probe: median wall time of a JVM-only integer fold
    (no I/O, no shuffle, no Python workers)."""
    out = []
    for _ in range(CALIB_REPS):
        t = time.perf_counter()
        spark.range(0, CALIB_ROWS, 1, 4).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s").collect()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


# -- Spark session -------------------------------------------------------------

def session_env(work: str, repo: str) -> None:
    """Process environment for the session: local[nproc], a fixed driver
    heap, every scratch directory inside the work dir, and an import path
    that lets Python workers import the package from any directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["B2BQS_DRIVER_MEM"] = DRIVER_MEM
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM: temp files in the work dir, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # A fixed, pre-touched heap: with a growing one the memory peak of
    # identical runs swung by up to 1.5 GB, set by when G1 grew the heap or
    # first touched its regions
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch\" "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    paths = [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))


def redirect_program_scratch(work: str) -> None:
    """Point the package's two scratch roots into the work dir, so a run
    writes nothing outside its checkout."""
    from bucket_to_bigquery_spark import scratch, streaming

    scratch._ROOT = os.path.join(work, "b2bqs", "v3")
    streaming._CKPT_ROOT = os.path.join(work, "b2bqs", "ckpt")


def _alive(pid: int) -> bool:
    """Running or sleeping; an exited process left unreaped is not."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (EOF on its stdin), and wait until every
    process below this one, the JVM's Python workers included, is gone."""
    from pyspark import SparkContext

    descendants = set(tree_snapshot()) - {os.getpid()}
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 15
        while descendants and time.monotonic() < deadline:
            descendants = {p for p in descendants if _alive(p)}
            time.sleep(0.1)
        for p in descendants:
            try:
                os.kill(p, signal.SIGKILL)  # still running after 15 s
            except ProcessLookupError:
                pass


# -- one run -------------------------------------------------------------------

class Op:
    """What one op did: its latency, units, and the engine and process
    totals read right after it."""

    __slots__ = ("index", "traced", "latency", "units", "cpu_s", "worker_cpu_s",
                 "engine", "leaked_rdds", "error")

    def __init__(self, index: int, traced: bool):
        self.index, self.traced = index, traced
        self.latency = self.units = self.cpu_s = self.worker_cpu_s = 0.0
        self.engine: dict[str, float] = {}
        self.leaked_rdds = 0
        self.error: str | None = None


class Bench:
    """One run. A workload generates its inputs, then calls
    :meth:`start_session`, :meth:`warm_up` and :meth:`measure` with its op,
    and checks the outputs the op kept once the window has closed.

    ``op(i, traced)`` runs op ``i`` and returns the units it completed; an
    exception fails the op. In a traced run every odd op is traced and
    every even one is not; the untraced ones give the tracing overhead."""

    MIN_OPS = 11  # so the tail has at least eight ops below it

    def __init__(self, work: str, seed: int, seconds: int, trace: bool):
        from .trace import Tracer

        self.work = work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tracer = Tracer(enabled=trace)
        self.probe = TreeProbe()
        self.spark = None
        self.engine: Engine | None = None
        self.ops: list[Op] = []
        self.heap_live: list[int] = []  # bytes, at the window's checkpoints
        self.failures: list[str] = []
        self.extra_attempted = self.extra_failed = 0  # checks that are not ops
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        # beside the metrics, folded into none of them: whether the window
        # started on the plateau and how fast the host was around it
        self.host_band: dict = {}
        self._t_session = None

    def n_ops(self, nominal_op_s: float) -> int:
        """The window's op count: ``seconds`` over the workload's nominal op
        time, and at least MIN_OPS. It depends only on the arguments, so
        every commit times the same ops and compares the same tail rank."""
        return max(self.MIN_OPS, round(self.seconds / nominal_op_s))

    # -- set-up --------------------------------------------------------------

    def start_session(self, app: str):
        """Start Spark; ``setup_s`` is timed from here to the window."""
        from bucket_to_bigquery_spark.session import get_spark
        from pyspark import SparkContext

        self._t_session = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app)
        self.layer["session.start_s"] = time.perf_counter() - self._t_session
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = Engine(self.spark)
        self.tracer.bind(self.spark, self.engine)
        proc = getattr(SparkContext._gateway, "proc", None)
        self.probe.jvm_pid = proc.pid if proc is not None else None
        self.layer["session.shuffle_partitions"] = float(
            self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.cores = self.spark.sparkContext.defaultParallelism
        return self.spark

    def warm_up(self, op, n: int, prepare=None) -> None:
        """``n`` untimed ops, the same as the timed ones, until the JVM's
        JIT has flattened; their latencies go into the host-band marker.
        Warm-up ops are numbered -n .. -1."""
        warm = self.host_band.setdefault("warmup_s", [])
        for i in range(-n, 0):
            if prepare is not None:
                prepare(i)
            with self.tracer.op(f"warm-{-i}", traced=False):
                t = time.perf_counter()
                op(i, False)
                warm.append(time.perf_counter() - t)

    # -- the window ----------------------------------------------------------

    def _heap(self):
        """The JVM's heap MemoryUsage (used, committed) right after a full GC."""
        self.spark._jvm.System.gc()
        return (self.spark._jvm.java.lang.management.ManagementFactory
                .getMemoryMXBean().getHeapMemoryUsage())

    def measure(self, op, nominal_op_s: float, prepare=None) -> None:
        """Run :meth:`n_ops` ops. ``prepare(i)``, if given, runs before op
        ``i``, outside its time. The live heap is read after a full GC at
        the window's start and at HEAP_CHECKPOINTS points in it, between
        ops and outside their time."""
        n = self.n_ops(nominal_op_s)
        checkpoints = {round(k * n / HEAP_CHECKPOINTS) - 1
                       for k in range(1, HEAP_CHECKPOINTS + 1)}
        self.detail["setup_s"] = time.perf_counter() - self._t_session
        heap = self._heap()
        gc.collect()
        self.heap_live.append(heap.getUsed())
        self.probe.heap_committed = heap.getCommitted()
        calibrate(self.spark)  # compiles the fold: its first readings are cold
        self.host_band["calib_before_s"] = calibrate(self.spark)
        steal0 = cpu_ticks()
        self.probe.start()
        t0 = time.perf_counter()
        for i in range(n):
            if prepare is not None:
                prepare(i)
            self.ops.append(self._one(op, i))
            if i in checkpoints:
                self.heap_live.append(self._heap().getUsed())
        self.detail["window_s"] = time.perf_counter() - t0
        self.probe.stop()
        steal1 = cpu_ticks()
        ticks = steal1[1] - steal0[1]
        self.host_band["steal_frac"] = (steal1[0] - steal0[0]) / ticks if ticks else 0.0
        self.host_band["calib_after_s"] = calibrate(self.spark)
        self.detail["memory_mb"] = {
            "heap_live": [x / 2**20 for x in self.heap_live],
            "outside_heap_peak": self.probe.peak / 2**20,
            "outside_heap_peak_by_command": dict(self.probe.peak_by_name),
        }

    def _one(self, op, i: int) -> Op:
        rec = Op(i, self.trace and i % 2 == 1)
        before = self.engine.persistent_rdds() if rec.traced else set()
        mark = self.engine.mark()
        cpu0 = self.probe.cpu()
        with self.tracer.op(f"op-{i}", rec.traced):
            t = time.perf_counter()
            try:
                rec.units = float(op(i, rec.traced))
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                rec.error = f"op {i}: {type(e).__name__}: {e}"
                self.failures.append(rec.error)
            rec.latency = time.perf_counter() - t
        cpu1 = self.probe.cpu()
        rec.cpu_s, rec.worker_cpu_s = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        rec.engine = self.engine.since(mark)
        if rec.traced:
            rec.leaked_rdds = len(self.engine.persistent_rdds() - before)
        return rec

    def fail_op(self, i: int, why: str) -> None:
        """A failed output check of op ``i`` fails that op."""
        if self.ops[i].error is None:
            self.ops[i].error = why
        self.failures.append(why)

    def check(self, ok: bool, why: str) -> None:
        """An output check that is not about one op: attempted once."""
        self.extra_attempted += 1
        if not ok:
            self.extra_failed += 1
            self.failures.append(why)

    # -- results -------------------------------------------------------------

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.extra_attempted

    @property
    def failed(self) -> int:
        return sum(r.error is not None for r in self.ops) + self.extra_failed

    def end_to_end(self) -> dict[str, float]:
        """The end-to-end metrics, over the window's untraced ops."""
        ops = [r for r in self.ops if not r.traced]
        lat = [r.latency for r in ops]
        t = tail(lat)
        self.detail["op_tail"] = {k: v for k, v in t.items() if k != "value"}
        n = len(ops)
        return {
            "setup_s": self.detail["setup_s"],
            "op_p50_s": statistics.median(lat),
            "op_tail_s": t["value"],
            "units_per_s": sum(r.units for r in ops) / sum(lat),
            "cpu_s_per_op": sum(r.cpu_s for r in ops) / n,
            # what the program holds: its live heap plus everything outside
            # the heap, not the pre-touched heap's resident pages
            "peak_rss_mb": (max(self.heap_live) + self.probe.peak) / 2**20,
            "read_mb_per_op": sum(r.engine["spark.input_mb"] for r in ops) / n,
        }

    def engine_layers(self) -> None:
        """Spark engine and Python-worker metrics: medians over the traced
        ops; the tracing overhead from the traced and untraced medians."""
        traced = [r for r in self.ops if r.traced]
        for name in ("spark.jobs", "spark.stages") + tuple(
                dict.fromkeys(n for _, n, _ in STAGE_FIELDS)):
            self.layer[name] = median_or_zero(r.engine[name] for r in traced)
        self.layer["spark.executor_busy_frac"] = median_or_zero(
            r.engine["spark.executor_run_s"] / (r.latency * self.cores) for r in traced)
        self.layer["spark.leaked_rdds"] = float(sum(r.leaked_rdds for r in traced))
        self.layer["python.worker_cpu_s"] = median_or_zero(r.worker_cpu_s for r in traced)
        plain = [r.latency for r in self.ops if not r.traced]
        if traced and plain:
            self.layer["trace.overhead_frac"] = (
                statistics.median(r.latency for r in traced) / statistics.median(plain) - 1)
