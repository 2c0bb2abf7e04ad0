"""Shared pieces of the sharing-plane benchmark: order statistics, the
host probe, memory readings, the Spark session and the closed-loop op
runner. Imports nothing from the program under test at module level, so
the self-tests run without Spark."""

from __future__ import annotations

import gc
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
# whole cycles before measuring: the first pass of a kind runs 20-40%
# slower than the second, later passes only a little faster
WARM_PASSES = 2


class CheckError(AssertionError):
    """An op returned a wrong answer."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckError(what)


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs)


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default
    method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def mean_of_kind_medians(samples: dict) -> float:
    """Mean over kinds of each kind's median: the time one request of
    each kind takes. A median pooled over kinds whose latencies differ
    10-500x flips between kinds from run to run; this does not."""
    return statistics.fmean(median(v) for v in samples.values())


def iqr_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


# ------------------------------------------------------------------- host

def probe_once_ms(n: int = 60_000) -> float:
    """A fixed pure-Python loop: reads the host's current CPU speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


class HostProbe:
    """Times the probe loop while the program is idle: before the run,
    between op rounds and after. Explains a drifted run; never used to
    normalize a metric (normalizing measured worse)."""

    def __init__(self):
        self.samples: list[float] = []
        self.loads: list[float] = []

    def sample(self) -> None:
        self.samples.append(min(probe_once_ms() for _ in range(3)))
        self.loads.append(os.getloadavg()[0])

    def summary(self) -> dict:
        s = self.samples or [probe_once_ms()]
        return {
            "host.probe_ms": median(s),
            "host.probe_spread": max(s) / min(s),
            "host.loadavg": statistics.fmean(self.loads or
                                             [os.getloadavg()[0]]),
        }


# ----------------------------------------------------------------- memory

def mem_mb(spark) -> float:
    """Driver memory: this Python process's peak resident size (Linux
    ``ru_maxrss``, KiB) plus the JVM's live heap. The live heap follows
    what the program keeps (caches, broadcasts, checkpointed blocks); the
    JVM's resident size and peak used heap follow GC sizing instead. Read
    after the warm-up, a fixed amount of work, not after the timed loop,
    whose op count follows the host's speed."""
    gc.collect()  # drops Python proxies, so the JVM can free their objects
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = spark._jvm
    # Spark's cleaner frees blocks of collected objects on its own thread:
    # the live heap settled within 1 MB after three or four collections
    # half a second apart, while the first one read up to 60% higher
    for _ in range(4):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()
    log(f"memory: Python peak {py_kb / 1024.0:.1f} MB, "
        f"JVM live heap {heap / 2**20:.1f} MB")
    return py_kb / 1024.0 + heap / 2**20


# ------------------------------------------------------------ environment

def make_workdir(workload: str) -> str:
    """A scratch directory inside the checkout; removed by the caller."""
    wd = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(os.path.join(wd, "tmp"))
    return wd


def start_spark(workdir: str, cpus: int):
    """``local[cpus]`` with the heap fixed at ``DRIVER_MEM`` (``-Xmx``
    through ``SPARK_GRAFT_DRIVER_MEM``, and ``-Xms``) and every temp path
    inside the work directory, so a run writes only inside its checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    from delta_sharing_spark import get_spark

    spark = get_spark(
        app_name="sharebench", cpus=cpus,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # the heap starts at its cap (committed, not touched): a
            # heap that grows through the warm-up, and shrinks again at
            # mem_mb's full collections, left ops 16% slower in the first
            # measured cycle than in the run's median, 8% with this
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it:
    the gateway JVM exits when its standard input closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------------- ops

class Op:
    """One op of the seeded cycle: ``fn(*args)`` performs the call into the
    program and checks its answer, raising CheckError when wrong."""

    __slots__ = ("kind", "cls", "fn", "args")

    def __init__(self, kind: str, cls: str, fn, args: tuple = ()):
        self.kind, self.cls, self.fn, self.args = kind, cls, fn, args

    def __repr__(self):
        return f"Op({self.kind}, {self.args!r})"


def seeded_cycle(ops_by_kind: dict, reps: dict, seed: int) -> list:
    """One cycle: each kind's op instances (``reps[kind]`` of them, drawn
    in order from its seeded literal list) interleaved round-robin in a
    seeded kind order, so kinds are spread evenly over the run."""
    rng = random.Random(seed)
    order = sorted(ops_by_kind)
    rng.shuffle(order)
    queues = {k: list(ops_by_kind[k][:reps.get(k, 1)]) for k in order}
    cycle = []
    while any(queues.values()):
        for k in order:
            if queues[k]:
                cycle.append(queues[k].pop(0))
    return cycle


class Runner:
    """Closed loop, one client: the next op starts when the previous one
    returns. Failed and wrong ops count against the attempted total."""

    def __init__(self, cycle: list, probe: HostProbe, tracer=None):
        self.cycle = cycle
        self.probe = probe
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op: Op) -> "float | None":
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.begin_op(op.kind)
        t0 = time.perf_counter()
        ok = True
        try:
            op.fn(*op.args)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            ok = False
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(
                    f"{op.kind}{op.args!r}: {type(exc).__name__}: {exc}\n"
                    + traceback.format_exc(limit=4))
        dt = (time.perf_counter() - t0) * 1e3
        if self.tracer is not None:
            self.tracer.end_op(op.kind, t0, dt)
        return dt if ok else None

    def _pass(self, samples: dict, deadline: "float | None" = None) -> bool:
        for op in self.cycle:
            if deadline is not None and time.perf_counter() >= deadline:
                return False
            dt = self.run_op(op)
            if dt is not None:
                samples.setdefault(op.kind, []).append(dt)
        return True

    def warm_up(self) -> None:
        """Run ``WARM_PASSES`` whole cycles. A fixed count keeps set-up
        time comparable between runs."""
        for n in range(1, WARM_PASSES + 1):
            cur: dict = {}
            self._pass(cur)
            self.probe.sample()
            log(f"warm-up pass {n}: " + " ".join(
                f"{k}={median(v):.0f}" for k, v in sorted(cur.items())))

    def run_once(self) -> dict:
        samples: dict = {}
        self._pass(samples)
        return samples

    def measure(self, seconds: float) -> dict:
        """Repeat the cycle for ``seconds``; host probe between cycles. A
        tracer traces every other cycle."""
        samples: dict = {}
        deadline = time.perf_counter() + seconds
        n = 0
        while True:
            if self.tracer is not None:
                self.tracer.set_cycle(n)
            if not self._pass(samples, deadline):
                break
            self.probe.sample()
            n += 1
        self.probe.sample()
        return samples


def log(msg: str) -> None:
    """A diagnostic line on standard error."""
    print(f"# {msg}", file=sys.stderr, flush=True)
