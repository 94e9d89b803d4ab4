"""Shared plumbing for the benchmark: run context, spans, statistics,
process-tree memory, and the Spark session lifecycle.

Nothing here imports pyspark at module level: ``run.py`` points Spark's
scratch directories into the checkout before the JVM starts."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field


def process_start_monotonic() -> float:
    """This process's start time on the ``time.monotonic()`` clock.

    /proc/self/stat field 22 is the start time in clock ticks since boot;
    on Linux ``time.monotonic()`` is CLOCK_MONOTONIC, also seconds since
    boot (suspend aside), so the two compare directly."""
    with open("/proc/self/stat") as f:
        # the command name (field 2) may contain spaces; fields after ')'
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[19])  # field 22 overall, 20th after the name
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent. Disabled, ``span`` is a
    no-op context so the untraced code path does no bookkeeping."""

    def __init__(self, enabled: bool, t0: float) -> None:
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self.t0,
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self.t0

    def overhead_s(self, n_spans: int, trials: int = 20_000) -> float:
        """What ``n_spans`` spans cost the traced code: one span's enter and
        exit, timed over ``trials`` spans of a scratch tracer."""
        scratch = Tracer(True, self.t0)
        t0 = time.perf_counter()
        for _ in range(trials):
            with scratch.span("x"):
                pass
        return (time.perf_counter() - t0) / trials * n_spans

    def write(self, path: str, run_id: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": run_id, "spans": self.spans}, f)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def noop_write(df) -> None:
    """Force a plan without collecting it (a ``count()`` would let column
    pruning drop unused columns, and the UDFs that compute them)."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Outcome:
    """Operations attempted and failed (raised or failed a check)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


@dataclass
class Ctx:
    work: str  # scratch + cache root inside the checkout
    workload: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    t_start: float  # process start, monotonic clock
    tracer: Tracer = None  # type: ignore[assignment]
    outcome: Outcome = field(default_factory=Outcome)
    excluded_s: float = 0.0  # input generation time, kept out of setup_s

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace, self.t_start)

    @property
    def cache(self) -> str:
        return os.path.join(self.work, "cache")

    @property
    def run_dir(self) -> str:
        return os.path.join(self.work, f"run-{os.getpid()}")

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def setup_done(self) -> float:
        """setup_s: process start to now, minus input generation."""
        return time.monotonic() - self.t_start - self.excluded_s


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# memory: VmHWM of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``, whichever of its threads forked them."""
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident set of the JVM plus the Python workers it forks.

    A background thread samples the process tree every ``interval`` s. The
    JVM contributes its own high-water mark (VmHWM). The workers contribute
    the largest sum, over samples, of the VmHWM of the workers alive at that
    sample, so a worker that exits and is replaced is not counted twice."""

    def __init__(self, jvm_pid: int, interval: float = 0.25) -> None:
        self.jvm_pid = jvm_pid
        self.jvm_kb = 0
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def sample(self) -> None:
        self.jvm_kb = max(self.jvm_kb, _vm_hwm_kb(self.jvm_pid))
        total, todo = 0, _children(self.jvm_pid)
        while todo:
            pid = todo.pop()
            total += _vm_hwm_kb(pid)
            todo.extend(_children(pid))
        self.workers_kb = max(self.workers_kb, total)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def mb(self) -> float:
        self.sample()
        return (self.jvm_kb + self.workers_kb) / 1024.0


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------


def start_spark(ctx: Ctx):
    """Stock ``get_spark`` at local[cpus]; returns the session, its memory
    sampler and the ``get_spark`` wall."""
    from gtfsrt2lc_spark.session import get_spark

    t = time.monotonic()
    with ctx.tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{ctx.workload}",
            master=f"local[{ctx.cpus}]",
            shuffle_partitions=ctx.cpus,
        )
    get_spark_s = time.monotonic() - t
    from pyspark import SparkContext

    rss = PeakRss(SparkContext._gateway.proc.pid)
    return spark, rss, get_spark_s


def stop_spark(spark, rss: PeakRss) -> None:
    """Stop the memory sampler, the session, then the JVM, and wait for the
    JVM to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    rss.close()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    try:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
