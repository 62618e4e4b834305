"""Shared plumbing for the benchmark workloads: the Spark session, the
closed-loop op recorder, peak RSS, the host-capacity canary and small
statistics helpers.

Every workload is a closed loop with one client: the next op starts only
after the previous one returned, and load is generated single-threaded
from this process.
"""

from __future__ import annotations

import concurrent.futures
import gc
import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    """One timed op of a workload's closed loop."""

    kind: str
    start: float  # perf_counter seconds
    end: float
    start_ms: int  # epoch ms, the clock Spark's event log uses
    end_ms: int
    cpu_start: float = 0.0  # cpu_seconds() at start and end
    cpu_end: float = 0.0
    jit_start: dict = field(default_factory=dict)  # jit_seconds() at start and end
    jit_end: dict = field(default_factory=dict)
    ok: bool = True
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        """CPU seconds the process tree spent in the op, less the JIT
        compiler threads' share: compiling hot code is the JVM warming up,
        and how much of it falls into an op varied from run to run by more
        than the op's own work. A compiler thread that exited during the op
        is not subtracted."""
        jit = sum(v - self.jit_start.get(k, 0.0) for k, v in self.jit_end.items())
        return self.cpu_end - self.cpu_start - jit


class Recorder:
    """Closed-loop op log plus the run's pass/fail tally.

    ``op(kind)`` is a context manager timing one op; the body may set
    ``op.ok = False`` or raise, and either counts the op as failed. Correctness checks that run outside any
    timed op are recorded with :meth:`check`."""

    def __init__(self, tracer=None) -> None:
        self.ops: list[Op] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = tracer

    def op(self, kind: str, **info):
        return _OpScope(self, kind, info)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:500])

    def of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]


class _OpScope:
    def __init__(self, rec: Recorder, kind: str, info: dict) -> None:
        self.rec = rec
        self.op = Op(kind, 0.0, 0.0, 0, 0, info=info)

    def __enter__(self) -> Op:
        if self.rec.tracer is not None:
            self.rec.tracer.op_index = len(self.rec.ops)
        self.op.jit_start = jit_seconds()
        self.op.cpu_start = cpu_seconds()
        self.op.start_ms = int(time.time() * 1000)
        self.op.start = time.perf_counter()
        return self.op

    def __exit__(self, exc_type, exc, tb) -> bool:
        self.op.end = time.perf_counter()
        self.op.end_ms = int(time.time() * 1000)
        self.op.cpu_end = cpu_seconds()
        self.op.jit_end = jit_seconds()
        if self.rec.tracer is not None:
            self.rec.tracer.op_index = None
        self.rec.ops.append(self.op)
        if exc is not None:
            self.op.ok = False
            self.op.info["error"] = f"{exc_type.__name__}: {exc}"[:500]
        self.rec.check(f"{self.op.kind}#{len(self.rec.ops) - 1}", self.op.ok, self.op.info.get("error", ""))
        # an op that raised is counted, not propagated: the loop goes on
        return exc is not None and isinstance(exc, Exception)


def _proc_stat(path: str) -> list[str]:
    """The fields of a ``/proc`` stat file after the command name."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants() -> list[int]:
    """This process and every live descendant: the Spark JVM and its
    Python workers."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_proc_stat(f"/proc/{d}/stat")[1])
            except OSError:
                continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _ticks(fields: list[str], children: bool) -> int:
    # utime, stime and, for a process, the reaped children's cutime, cstime
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def cpu_seconds() -> float:
    """CPU time (user + system, including reaped children) of this process
    and every live descendant. On a shared host, time other tenants steal
    from this process's CPUs shows in wall time but not here."""
    total = 0
    for pid in _descendants():
        try:
            total += _ticks(_proc_stat(f"/proc/{pid}/stat"), children=True)
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def jit_seconds() -> dict[tuple[int, int], float]:
    """CPU seconds of each live JIT compiler thread (HotSpot's ``C1``/``C2
    CompilerThread``) in this process tree, by (pid, tid)."""
    out = {}
    for pid in _descendants():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
                out[(pid, int(tid))] = _ticks(
                    _proc_stat(f"/proc/{pid}/task/{tid}/stat"), children=False
                ) / os.sysconf("SC_CLK_TCK")
            except OSError:
                continue
    return out


def start_spark(work_dir: str, cpus: int, event_log_dir: str | None = None):
    """The engine's session factory, with every scratch path pointed into
    ``work_dir`` so a run writes nothing outside its checkout.

    The Spark driver heap is 2 GB, not ``get_spark``'s 8 GB default (sized for
    sf0.1): a run holds well under 1 GB, and with an 8 GB ceiling the
    query workload's retained heap after a full collection varied between
    487 and 844 MB from seed to seed, against a 9% spread at 2 GB."""
    from incremental_dagster_delta_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", cpus=cpus, driver_memory="2g", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    gateway JVM otherwise exits only after this process does."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def _status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus the Spark JVM it
    launched (``VmHWM`` from ``/proc``; psutil is not available)."""
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    kb = _status_kb("self", "VmHWM:") + (_status_kb(jvm.pid, "VmHWM:") if jvm is not None else 0)
    return kb / 1024.0


def retained_mb(spark) -> float:
    """Memory the engine still holds once the run is over: the JVM's live
    heap after a full collection plus its non-heap use (metaspace, code
    cache), plus this Python process's resident set. Unlike peak RSS it
    does not depend on when the collector chose to grow the heap."""
    gc.collect()  # release py4j proxies, and with them the JVM objects they pin
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + _status_kb("self", "VmRSS:") / 1024.0


def capacity_canary(threads_list: tuple[int, ...]) -> dict[str, float]:
    """sha256 GB/s at each thread count; hashlib releases the GIL, so
    the curve shows how many cores the host really gives this process."""
    blob = b"\xab" * (8 << 20)

    def one(n_iter: int) -> None:
        for _ in range(n_iter):
            hashlib.sha256(blob).digest()

    out: dict[str, float] = {}
    for threads in threads_list:
        n_iter = 4
        with concurrent.futures.ThreadPoolExecutor(threads) as ex:
            t0 = time.perf_counter()
            list(ex.map(one, [n_iter] * threads))
            dt = time.perf_counter() - t0
        out[f"t{threads}"] = threads * n_iter * len(blob) / dt / 1e9
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def mid_mean(values) -> float:
    """Mean of the middle half of ``values`` (all of them when fewer than
    four): robust to a stray slow sample like a median, but finer than
    the 10 ms tick of the CPU clock."""
    values = sorted(values)
    k = len(values) // 4
    return statistics.fmean(values[k : len(values) - k]) if values else float("nan")


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs; 0.0 when xs do not vary."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    if var == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var
