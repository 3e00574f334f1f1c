"""Pinned environment, host record, and process samplers.

The sampled machine load (loadavg, steal, cores busy outside this run) is
recorded as context only: the benchmark never waits on it or gates on it.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(root: str, run_dir: str, driver_mem_mb: int) -> dict[str, str]:
    """Set (and return) the environment variables the program reads, so a
    run does not depend on the caller's shell. PYTHONPATH reaches the
    Python workers the JVM spawns, which import the program by name. The
    program's JVM options variable is cleared, so its own defaults apply."""
    mem = min(driver_mem_mb, int(mem_total_mb() * 0.5))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "MS_DRIVER_MEM": f"{mem}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM (the launcher too) would otherwise write its temp files
        # and /tmp/hsperfdata_* outside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.pop("MS_DRIVER_JAVA_OPTS", None)
    os.environ.update(pinned)
    return pinned


def _cmd_version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unavailable: {e}"
    lines = [ln for ln in (out.stdout + out.stderr).splitlines()
             if ln.strip() and not ln.startswith("Picked up")]
    return lines[0] if lines else ""


def host_record() -> dict:
    import pyspark
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "cpu_model": _cpu_model(),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": _cmd_version(["java", "-version"]),
    }


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.machine()


def _cpu_ticks() -> tuple[int, int, int]:
    """(total, idle + iowait, steal) jiffies of the machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[3] + vals[4], vals[7]


def _process_tree(root_pid: int) -> list[tuple[int, int, int]]:
    """(pid, ppid, cpu ticks) of root_pid and every descendant."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    keep, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in procs.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return [(pid, procs[pid][0], procs[pid][1]) for pid in keep if pid in procs]


def tree_ticks() -> dict[int, int]:
    """CPU ticks (user + system) of this process and every descendant: the
    driver, its JVM with all its threads, and the Python workers."""
    return {pid: ticks for pid, _, ticks in _process_tree(os.getpid())}


def cpu_s_since(start: dict[int, int]) -> float:
    """CPU seconds the process tree used since ``start`` (a ``tree_ticks``
    snapshot). The host's steal time is not in a process's ticks, so this
    moves far less than wall time when other tenants slow the machine down;
    a process that exits in between loses its ticks."""
    return sum(t - start.get(pid, 0) for pid, t in tree_ticks().items()) / TICK


def _mem_kb(path: str, field: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Sampler:
    """Background sampler of the program's memory and of machine load.

    Memory: the JVM's peak resident set (VmHWM) plus the current
    proportional set size (PSS) of every process below it (the Python
    daemon and the workers it forks; PSS splits their shared pages instead
    of counting them once per fork). The peak is the highest level held by
    two consecutive samples, so a reading caught mid-fork does not count. Load: machine steal share and the cores busy outside this
    benchmark's own process tree, over the sampler's lifetime.
    """

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak_kb = 0
        self.peak_parts = (0, 0)
        self._last = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._t0 = time.monotonic()
        self._cpu0 = _cpu_ticks()
        # cpu ticks last seen per process of this run's tree; processes that
        # exit before the end keep their last reading
        self._ticks0 = {pid: t for pid, _, t in _process_tree(os.getpid())}
        self._ticks = dict(self._ticks0)
        self._load = [os.getloadavg()[0]]

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def _sample(self) -> None:
        tree = _process_tree(os.getpid())
        for pid, _, ticks in tree:
            self._ticks[pid] = ticks
        if self.jvm_pid is None:
            return
        below = {self.jvm_pid}
        for pid, ppid, _ in sorted(tree):
            if ppid in below:
                below.add(pid)
        jvm = _mem_kb(f"/proc/{self.jvm_pid}/status", "VmHWM:")
        workers = sum(_mem_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
                      for pid in below - {self.jvm_pid})
        held = min((jvm, workers), self._last, key=sum)
        if sum(held) > self.peak_kb:
            self.peak_kb, self.peak_parts = sum(held), held
        self._last = (jvm, workers)

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self.interval):
            self._sample()
            n += 1
            if n % 25 == 0:
                self._load.append(os.getloadavg()[0])

    def stop(self) -> dict:
        """Stop sampling; call before the program's processes are stopped."""
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)
        wall = max(time.monotonic() - self._t0, 1e-9)
        total, idle, steal = (b - a for a, b in zip(self._cpu0, _cpu_ticks()))
        total = max(total, 1)
        busy_cores = (total - idle - steal) / total * nproc()
        own = sum(t - self._ticks0.get(pid, 0) for pid, t in self._ticks.items())
        return {
            "peak_rss_mb": self.peak_kb / 1024.0,
            "peak_jvm_mb": self.peak_parts[0] / 1024.0,
            "peak_workers_mb": self.peak_parts[1] / 1024.0,
            "loadavg_1m": sorted(self._load)[len(self._load) // 2],
            "steal_share": steal / total,
            "external_cores": max(busy_cores - own / TICK / wall, 0.0),
        }
