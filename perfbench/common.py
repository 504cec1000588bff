"""Shared pieces of the benchmark: the work directory, the span recorder,
percentiles, peak-RSS probes and the host record.

Everything the benchmark writes lives under `.perfbench_work/` at the root
of the checkout it runs from.
"""

from __future__ import annotations

import json
import math
import os
import platform
import statistics
import sys
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# CPU width the committed baseline was measured at.  A host with fewer
# usable CPUs cannot reproduce it, so the benchmark refuses to report.
BASELINE_CPUS = 4


def work_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_record(n: int, since: tuple[int, int]) -> dict:
    """The host, and the share of its CPU time stolen by the hypervisor
    since `since` (a `cpu_jiffies()` reading)."""
    steal, total = cpu_jiffies()
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {
        "cpus": os.cpu_count(),
        "N": n,
        "load_1min": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": spark_version,
        "baseline_cpus": BASELINE_CPUS,
        "steal_frac": (steal - since[0]) / max(1, total - since[1]),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


# ---------------------------------------------------------- host control

# Seconds `host_control_s` reads on the 4-CPU virtual machine the baseline
# was taken on when it is not contended.  Time metrics are reported scaled
# to this speed (see `at_reference_speed`).
CONTROL_REF_S = 0.42

_CONTROL_TEXT = (
    "<nav><a href='/x'>Home</a></nav><p>the quick brown fox jumps over the lazy "
    "dog spark query plan shuffle partition executor worker stage</p>\n\n"
) * 40


def control_rounds(rounds: int) -> list[float]:
    """A fixed CPU-bound task in the style of the kernel (regex passes and
    string scans over markup), independent of the program's code; the
    seconds each of `rounds` repetitions took."""
    import re

    tag, ws = re.compile(r"<[^>]*>"), re.compile(r"\s+")
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        n = 0
        for _ in range(1500):
            text = tag.sub("", _CONTROL_TEXT)
            n += len(ws.sub(" ", text)) + text.count("the")
        times.append(time.perf_counter() - t0)
    return times


def host_control_s(n: int, rounds: int = 3) -> float:
    """Seconds the control task takes with one copy in each of n
    processes at once: the slowest copy, median over rounds."""
    import subprocess

    code = (
        "import json; from perfbench.common import control_rounds; "
        f"print(json.dumps(control_rounds({rounds})))"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], cwd=ROOT, stdout=subprocess.PIPE,
            env=dict(os.environ, PYTHONPATH=ROOT), text=True,
        )
        for _ in range(n)
    ]
    per_proc = [json.loads(p.communicate()[0]) for p in procs]
    return median([max(r) for r in zip(*per_proc)])


def at_reference_speed(e2e: dict, control_s: float) -> dict:
    """Scale the time metrics of one run to the host speed of
    CONTROL_REF_S.  The control runs the same fixed task in every run, so
    a run on a contended host, where the control is slower, is scaled back
    by the same factor; the program's own speed changes are untouched."""
    f = control_s / CONTROL_REF_S
    out = dict(e2e)
    out["turns_per_s"] = e2e["turns_per_s"] * f
    for name in ("latency_p50_ms", "setup_s"):
        out[name] = e2e[name] / f
    return out


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON
    at the end of a traced run.  Spans are recorded around calls into the
    program's modules from the benchmark's own code."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span_cost_s(self, n: int = 5000) -> float:
        """Measured cost of recording one span."""
        probe = type(self)(self.run_id)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


class NullTracer(Tracer):
    """Tracing off: a span still times its block (the caller needs the
    duration) but nothing is kept."""

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"start": time.perf_counter(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


# ------------------------------------------------------------ processes


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    parents = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def vm_hwm_mb(pid: int) -> float | None:
    """Peak resident set (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def python_worker_peak_rss_mb(root_pid: int) -> float:
    """Largest VmHWM over the Python processes below `root_pid` (the Spark
    Python workers, when called from the process that started Spark)."""
    peaks = []
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            hwm = vm_hwm_mb(pid)
            if hwm is not None:
                peaks.append(hwm)
    return max(peaks) if peaks else 0.0


def wait_descendants_gone(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has ended, killing what
    is left at the deadline."""
    import signal

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
