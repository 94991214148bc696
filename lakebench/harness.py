"""Shared measurement protocol: sandboxed session, timed operation
records, percentiles, the CPU anchor and the resource probes.

Nothing here imports the engine at module load: ``run.py`` checks that
the package is importable first, so a directory holding only the
benchmark fails fast with a clear message.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

#: the driver-commit gate the engine applies to every TxnTable commit
GATE_CONF = "spark.interop.datalake.driverCommit.maxBytes"
GATE_DEFAULT = 32 * 1024 * 1024

#: how many times set-up runs per process; ``setup_s`` is the median
SETUP_REPEATS = 3


class TooFewSamples(ValueError):
    """A percentile was asked for with fewer than ten samples beyond it."""


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, nearest rank) of ``values``.

    Refuses when fewer than ten samples lie beyond the requested rank,
    because such a tail is one or two outliers, not a percentile."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < 10:
        raise TooFewSamples(
            f"p{q:g} of {n} samples leaves {n - rank} beyond it (need 10)"
        )
    return xs[rank - 1]


def highest_supported_percentile(n: int, wanted=(99, 95, 90, 75)) -> int | None:
    """The highest of ``wanted`` that ``percentile`` accepts for n samples."""
    for q in wanted:
        if n - max(1, math.ceil(q / 100.0 * n)) >= 10:
            return q
    return None


def latency_summary(values) -> dict:
    """Median, the highest supported tail percentile, and the count."""
    out = {"n": len(values)}
    if values:
        out["p50_s"] = statistics.median(values)
        q = highest_supported_percentile(len(values))
        if q is not None:
            out[f"p{q}_s"] = percentile(values, q)
    return out


def cpu_anchor(rounds: int = 3) -> float:
    """Median seconds for a fixed sha256 chain: a pure-CPU yardstick.

    Run before and after each workload; a host steal burst shows as a
    slower anchor, and every operation record carries its monotonic
    start so the burst can be placed in time."""
    buf = b"lakebench-anchor" * 4096
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = buf
        for _ in range(2000):
            h = hashlib.sha256(h).digest() + buf
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def rss_breakdown_mb(spark) -> tuple[float, float]:
    """Peak resident set (VmHWM) of this process and of the JVM."""
    return _vm_hwm_kb(os.getpid()) / 1024.0, _vm_hwm_kb(jvm_pid(spark)) / 1024.0


def dir_bytes(root: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


_HZ = os.sysconf("SC_CLK_TCK")


def vm_steal() -> float:
    """CPU seconds the hypervisor has given this machine's CPUs to
    others so far, summed over the CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


#: processes whose CPU time ``proc_cpu`` counts: this one, and the JVM
#: once ``watch_jvm`` has found it
_CPU_PIDS = [os.getpid()]


def watch_jvm(spark) -> None:
    """Count the JVM behind ``spark`` in ``proc_cpu`` from now on."""
    pid = jvm_pid(spark)
    if pid not in _CPU_PIDS:
        _CPU_PIDS.append(pid)


def proc_cpu() -> float:
    """CPU seconds (user + system) used so far by this process and the
    JVM, with their exited children (the JVM's Python workers); not
    what anything else on the machine uses."""
    total = 0
    for pid in _CPU_PIDS:
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])
    return total / _HZ


def vm_cpus() -> int:
    with open("/proc/stat") as f:
        return sum(1 for line in f if line[:3] == "cpu" and line[3].isdigit())


@dataclass
class OpRecord:
    """One timed call into the engine, as the client saw it."""

    op: str
    layer: str
    start_s: float  # monotonic, relative to the run's origin
    wall_s: float
    ok: bool
    cpu_s: float = 0.0  # CPU the benchmark's processes used during the call
    steal_s: float = 0.0  # machine CPU stolen during the call
    info: dict = field(default_factory=dict)


class Run:
    """Operation records for one measured phase of a workload.

    ``call`` times one engine call and the check of its result; a
    raised exception or a failed check marks the record failed. With a
    tracer, the call is also a span of the named layer."""

    def __init__(self, origin: float, tracer=None, observer=None):
        self.origin = origin
        self.tracer = tracer
        #: called after each call, outside the timed region
        self.observer = observer
        self.records: list[OpRecord] = []

    def call(self, op: str, layer: str, fn, check=None, expect=None, info=None):
        """Run ``fn()``; the timed region ends when it returns.

        ``expect``: an exception type the call must raise (a seeded
        invalid input). ``check(result)`` returns True when the result
        is right; it runs after the timed region. Returns the result
        (or the expected exception)."""
        info = dict(info or {})
        span = self.tracer.open(op, layer) if self.tracer else None
        cpu0, steal0 = proc_cpu(), vm_steal()
        t0 = time.perf_counter()
        result, raised = None, None
        try:
            result = fn()
        except Exception as e:  # recorded as a failed operation
            raised = e
        wall = time.perf_counter() - t0
        cpu1, steal1 = proc_cpu(), vm_steal()
        if span is not None:
            self.tracer.close(span)
        if self.observer is not None:
            self.observer()
        if expect is not None:
            ok = isinstance(raised, expect)
            result = raised
        elif raised is not None:
            ok = False
            info["error"] = f"{type(raised).__name__}: {str(raised)[:1000]}"
        else:
            ok = True
        if ok and check is not None:
            try:
                ok = bool(check(result))
            except Exception as e:  # a check that cannot run is a failure
                ok = False
                info["check_error"] = f"{type(e).__name__}: {str(e)[:1000]}"
            if not ok:
                info.setdefault("check", "wrong result")
        self.records.append(
            OpRecord(op, layer, t0 - self.origin, wall, ok, cpu1 - cpu0, steal1 - steal0, info)
        )
        return result

    def span(self, name: str, layer: str):
        """A nested span inside the current operation (traced runs only)."""
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def walls(self, pred=lambda r: True) -> list[float]:
        return [r.wall_s for r in self.records if pred(r)]

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)


def work_dir(name: str) -> Path:
    """A fresh per-process scratch directory inside the checkout."""
    d = Path.cwd() / ".lakebench" / f"{name}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def sandbox_env(work: Path) -> None:
    """Point every temp location the Python side uses into ``work``.
    Must run before the JVM is launched."""
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()


def session_conf(work: Path) -> dict:
    tmp = work / "tmp"
    return {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads stage data back from the status store;
        # keep every stage of a run (the same in both modes)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build_session(work: Path, lake_root: Path):
    """A DatalakeSession over ``lake_root`` with the engine's defaults on
    ``local[<cores>]``. The first call launches the JVM and the
    SparkContext; later calls reuse them."""
    from interop_datalake_spark.session import DatalakeSession

    return DatalakeSession.build(
        lake_root=str(lake_root),
        master=f"local[{cores()}]",
        app_name="lakebench",
        conf=session_conf(work),
    )


def gate_side(spark, df) -> str:
    """Which side of the driver-commit gate a commit frame falls on,
    from the same leaf-size estimate ``lake.txn`` uses."""
    from interop_datalake_spark.lake.txn import _plan_size_estimate

    max_bytes = int(spark.conf.get(GATE_CONF, str(GATE_DEFAULT)))
    est = _plan_size_estimate(df)
    if est is not None and max_bytes > 0 and est <= max_bytes:
        return "driver"
    return "distributed" if est is not None else "distributed_unknown_size"


def fresh_lake(work: Path, name: str = "lake") -> Path:
    lake = work / name
    shutil.rmtree(lake, ignore_errors=True)
    lake.mkdir()
    return lake


def setup_repeated(setup_once, work: Path, repeats: int = SETUP_REPEATS):
    """Start the engine (JVM, SparkContext), then run the workload's
    set-up ``repeats`` times, each over an empty lake, keeping the last.

    One set-up is: build the session, ``setup_once(session)`` (seeding
    and warmup). It returns ``(state, {"seed": s, "warmup": s})``.
    Returns (session, state, engine_start_s, set-up times, phase times).
    Engine start is not part of any set-up; the first set-up runs on a
    cold JVM and is one of the samples."""
    t0 = time.perf_counter()
    spark = build_session(work, fresh_lake(work)).spark
    engine_s = time.perf_counter() - t0
    watch_jvm(spark)
    state = None
    totals, phases = [], {"build": [], "seed": [], "warmup": []}
    for _ in range(repeats):
        lake = fresh_lake(work)
        t0 = time.perf_counter()
        session = build_session(work, lake)
        t_build = time.perf_counter() - t0
        state, ph = setup_once(session)
        totals.append(time.perf_counter() - t0)
        phases["build"].append(t_build)
        phases["seed"].append(ph["seed"])
        phases["warmup"].append(ph["warmup"])
    return session, state, engine_s, totals, phases


def _children(pid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.parent.name))
    return out


def shutdown_spark(timeout: float = 60.0) -> None:
    """Stop the SparkContext and the JVM, and wait until the JVM and
    the Python workers it started have exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    workers = _children(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while workers and time.time() < deadline:
        workers = [w for w in workers if Path(f"/proc/{w}").exists()]
        if workers:
            time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None
