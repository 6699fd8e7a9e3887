"""Measurement helpers that observe the system from outside: a host
fingerprint, a /proc process-tree sampler, an in-memory span tracer and a
poller for the checkpointed run's on-disk commit records."""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _calibration_ms(rounds: int = 5, n: int = 200_000) -> float:
    """Median time of a fixed pure-Python loop: a co-tenant slowing the
    host shows here even when the hypervisor reports no steal."""
    times = []
    for _ in range(rounds):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i
        times.append((time.perf_counter() - t) * 1000)
    return sorted(times)[rounds // 2]


def host_fingerprint() -> dict:
    """1-minute loadavg, the aggregate /proc/stat CPU tick counters and a
    CPU calibration loop, so a noisy co-tenant window is visible in the
    output."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg_1m": load1, "steal_ticks": ticks[7], "total_ticks": sum(ticks),
            "calibration_ms": _calibration_ms()}


def steal_share(start: dict, end: dict) -> float:
    total = end["total_ticks"] - start["total_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, state) for every
    process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3): ppid is field 4, utime..cstime 14..17
        cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK
        table[int(name)] = (int(fields[1]), cpu, fields[0])
    return table


def descendants(root: int, table=None) -> list[int]:
    """``root`` and every process below it (this process -> JVM -> Python workers)."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def live_descendants(root: int) -> list[int]:
    """Processes below ``root`` that have not exited (zombies excluded)."""
    table = _proc_table()
    return [p for p in descendants(root, table)[1:] if table[p][2] != "Z"]


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class TreeSampler:
    """One thread that samples the summed RSS of this process's tree
    every ``interval`` seconds; CPU time comes from snapshots at start and
    stop. CPU includes reaped children (cutime/cstime), so Python workers
    that exit mid-window are still counted."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu_seconds(self) -> float:
        table = _proc_table()
        return sum(table[p][1] for p in descendants(self.root, table) if p in table)

    def _sample(self) -> None:
        rss = sum(_rss_mb(p) for p in descendants(self.root))
        self.peak_rss_mb = max(self.peak_rss_mb, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self.cpu_start = self.cpu_seconds()
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        self.cpu_used = self.cpu_seconds() - self.cpu_start
        return False


class Tracer:
    """Spans kept in memory, all sharing one run id, written out by
    ``dump``. Disabled tracers record nothing, so untraced timings pay only
    a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"run_id": self.run_id, "id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:  # deleted while walking
                pass
    return total


class CheckpointPoller:
    """Watches one checkpointed output directory from outside: when the
    staging commit marker appears (and how big staging is then), and when
    each bucket lands in the manifest's ``done`` list."""

    def __init__(self, out_dir: str, interval: float = 0.01):
        self.out_dir = out_dir
        self.interval = interval
        self.staging_s: float | None = None
        self.staging_bytes = 0
        self.done_at: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        now = time.perf_counter() - self.t0
        if self.staging_s is None and os.path.exists(self._marker):
            self.staging_s = now
            self.staging_bytes = dir_bytes(os.path.dirname(self._marker))
        try:
            with open(self._manifest) as fh:
                done = len(json.load(fh)["done"])
        except (OSError, ValueError):  # not written yet
            return
        self.done_at.extend([now] * (done - len(self.done_at)))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._poll()

    def __enter__(self):
        self._marker = os.path.join(self.out_dir, "_staging", "_staging_commit.json")
        self._manifest = os.path.join(self.out_dir, "_sanitize_manifest.json")
        self.t0 = time.perf_counter()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._poll()  # the last commit may land after the final sleep
        return False

    def bucket_gaps(self) -> list[float]:
        """Time each bucket took, from the staging commit (or the previous
        bucket's commit) to its own manifest commit."""
        start = self.staging_s or 0.0
        marks = [start] + self.done_at
        return [b - a for a, b in zip(marks, marks[1:])]
