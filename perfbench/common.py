"""Benchmark plumbing with no Spark in it: spans, statistics, host facts and
the process-tree RSS sampler.

Kept free of pyspark imports so the unit tests in ``perfbench/tests`` run
without a JVM.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import platform
import statistics
import subprocess
import threading
import time
import uuid
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded around
    calls into a layer's public functions. ``patch`` swaps a module or class
    attribute for a recording wrapper and ``restore`` puts every original
    back; nothing in the program's source is edited."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.counts[name] = self.counts.get(name, 0) + 1
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration of ``span`` minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    s, e = span["start"], span["end"]
    kids = [(max(c["start"], s), min(c["end"], e))
            for c in spans if c["parent"] == span["id"]]
    return (e - s) - _union_length([k for k in kids if k[1] > k[0]])


def layer_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: total wall, total self time and call count."""
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        row = out.setdefault(sp["name"], {"total_s": 0.0, "self_s": 0.0, "calls": 0})
        row["total_s"] += sp["end"] - sp["start"]
        row["self_s"] += self_time(sp, spans)
        row["calls"] += 1
    return out


def reconcile(root: dict, spans: list[dict]) -> dict[str, float]:
    """Wall of ``root`` against the blocking layer spans directly under it:
    ``unexplained_s`` is the wall no child span covers."""
    wall = root["end"] - root["start"]
    unexplained = self_time(root, spans)
    return {"wall_s": wall, "covered_s": wall - unexplained,
            "unexplained_s": unexplained,
            "unexplained_share": unexplained / wall if wall > 0 else 0.0}


# ---------------------------------------------------------------- stats


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def core_pair(nproc: int) -> tuple[int, int]:
    """The N -> 4N pair that fits the host: (max(1, nproc // 4), nproc)."""
    return max(1, nproc // 4), nproc


def scaling_eff(rate_hi: float, rate_lo: float, cores_hi: int, cores_lo: int) -> float:
    """Throughput ratio between the two parallelism levels divided by the
    core ratio: 1.0 is linear scaling."""
    return (rate_hi / rate_lo) / (cores_hi / cores_lo)


# ---------------------------------------------------------------- host


def _cmd_version(args: list[str]) -> str:
    try:
        out = subprocess.run(args, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout + out.stderr).strip().splitlines()
    return text[0] if text else "unknown"


def host_facts() -> dict:
    cpu = "unknown"
    with contextlib.suppress(OSError):
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    ram_gb = 0.0
    with contextlib.suppress(OSError):
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                ram_gb = round(int(line.split()[1]) / 1024 / 1024, 1)
    import pyarrow  # noqa: PLC0415
    import pyspark  # noqa: PLC0415

    return {
        "nproc": os.cpu_count(),
        "cpu_model": cpu,
        "ram_gb": ram_gb,
        "python": platform.python_version(),
        "java": _cmd_version(["java", "-XX:-UsePerfData", "-version"]),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def process_start_offset() -> float:
    """Seconds since this process started, from /proc (so set-up time can be
    counted from process start, interpreter imports included)."""
    try:
        fields = Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()
        started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
        uptime = float(Path("/proc/uptime").read_text().split()[0])
        return max(0.0, uptime - started)
    except (OSError, ValueError, IndexError):
        return 0.0


# ---------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants_rss_bytes(root_pid: int) -> int:
    """Summed resident memory of every descendant of ``root_pid`` (the JVM
    and the Python workers it forks), excluding ``root_pid`` itself."""
    kids = _children_map()
    todo, total, page = list(kids.get(root_pid, [])), 0, os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def descendants_cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of every descendant of ``root_pid``, with
    the reaped children each one has accumulated."""
    kids = _children_map()
    todo, ticks = list(kids.get(root_pid, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread sampling descendants' summed RSS; ``peak_mb`` is the
    highest sample between start and stop."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, descendants_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
