"""Facts about the machine the benchmark runs on, the Spark session sized
from them, and a sampler of the process tree's resident memory.

Sizing rules: ``local[N]`` with N the usable cores (or fewer, on request),
shuffle partitions = N, driver heap = an eighth of physical RAM, fixed at
start (``-Xms`` = ``-Xmx``): the inputs are megabytes, and a heap left to
grow makes peak memory depend on when the collector happens to run.  Asking
for more cores than the process may use is an error, never a silent share.
"""

from __future__ import annotations

import os
import platform
import select
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unavailable"
    # skip notices such as "Picked up JAVA_TOOL_OPTIONS: ..."
    lines = [l for l in (out.stderr + out.stdout).splitlines() if " version " in l]
    return lines[0].strip() if lines else "unavailable"


def _commit(root: str) -> str:
    """The commit under test: git's HEAD when the tree is a checkout, else
    the content hash of the library sources (a plain source tree has no
    git metadata)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(root, "hg64spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return "src-" + h.hexdigest()[:12]


@dataclass
class Box:
    cores: int
    usable_cores: int
    mem_total_mb: int
    driver_mem_mb: int
    shuffle_partitions: int
    facts: dict = field(default_factory=dict)


def size_box(root: str, cores: int | None) -> Box:
    """Size the run to this machine.  Raises ``SystemExit`` when more cores
    are requested than the process may run on."""
    avail = usable_cores()
    want = avail if cores is None else cores
    if want < 1 or want > avail:
        raise SystemExit(
            f"perfbench: {want} cores requested but only {avail} are usable here; "
            "refusing to oversubscribe"
        )
    mem = mem_total_mb()
    facts = {
        "cores": want,
        "usable_cores": avail,
        "ram_mb": mem,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "commit": _commit(root),
    }
    return Box(want, avail, mem, max(1024, mem // 8), want, facts)


def add_spark_facts(box: Box) -> None:
    import pyspark

    box.facts["pyspark"] = pyspark.__version__
    box.facts["java"] = _java_version()


def start_session(box: Box, work_dir: str, app: str):
    """A ``local[N]`` session whose scratch files stay under ``work_dir``."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{box.cores}]")
        .appName(app)
        .config("spark.driver.memory", f"{box.driver_mem_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Xms{box.driver_mem_mb}m")
        .config("spark.sql.shuffle.partitions", str(box.shuffle_partitions))
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process it started (the Python worker daemons) have ended."""
    from pyspark import SparkContext

    started = _descendants(os.getpid()) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin reaches end of file
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    _wait_gone(started)


def _wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill those still alive after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rfind(b")") + 2 : stat.rfind(b")") + 3] == b"Z"


def _descendants(root_pid: int) -> set[int]:
    """``root_pid`` and every process below it, from ``/proc``."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        rest = stat[stat.rfind(b")") + 2 :].split()
        parents[int(name)] = int(rest[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _tree_pss_bytes(root_pid: int, skip: int | None = None) -> int:
    """Proportional set size summed over the tree (``skip`` left out):
    resident pages, with a page shared by k processes (forked Python workers
    share most of theirs) counted 1/k in each, so the sum counts it once."""
    total = 0
    for pid in _descendants(root_pid) - {skip}:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants (the JVM, Python workers, set-up children) every
    ``interval`` seconds and keeps the peak.  ``psutil`` is not assumed;
    ``/proc`` is read.  The sampling runs in a child process, so that
    scanning ``/proc`` takes no time from the interpreter that times the
    operations; the child is left out of the sum."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0

    def __enter__(self) -> "RssSampler":
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.box", "--sample-pss", str(os.getpid()), str(self.interval)],
            cwd=root,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        return self

    def __exit__(self, *exc) -> None:
        # end of file on its standard input stops the sampler
        out, _ = self._proc.communicate(input="", timeout=60)
        self.peak = max(int(out.split()[-1]), _tree_pss_bytes(os.getpid()))


def _sample_pss(pid: int, interval: float) -> None:
    me = os.getpid()
    peak = 0
    while True:
        peak = max(peak, _tree_pss_bytes(pid, skip=me))
        if select.select([sys.stdin], [], [], interval)[0]:
            break
    print(peak)


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--sample-pss":
        _sample_pss(int(sys.argv[2]), float(sys.argv[3]))
    else:
        raise SystemExit("usage: python -m perfbench.box --sample-pss <pid> <interval_s>")
