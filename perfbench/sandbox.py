"""Process hygiene for one benchmark run.

* ``Scratch`` owns a per-process directory under ``.perfbench_tmp/`` at
  the checkout root.  Spark's local dirs, the JVM and Python temp dirs,
  the SQL warehouse and every tile directory live there, and the whole
  tree is removed when the run ends.
* ``RssSampler`` samples the resident memory of this process and all of
  its descendants (the JVM, Python workers) from ``/proc`` and keeps
  the peak of the sum.
* ``stop_spark`` stops the session, closes the JVM gateway and waits
  until every child process has exited.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")
HEAP = "2g"                 # the Spark JVM's maximum heap


class Scratch:
    def __init__(self, root: str):
        self.base = os.path.join(root, ".perfbench_tmp")
        self.path = os.path.join(self.base, str(os.getpid()))
        os.makedirs(self.path, exist_ok=True)

    def dir(self, name: str) -> str:
        d = os.path.join(self.path, name)
        os.makedirs(d, exist_ok=True)
        return d

    def configure_spark_env(self, cores: int) -> None:
        """Point every temp/output location of this process, the JVM and
        the Python workers into the scratch tree (set before the
        SparkSession starts)."""
        tmp = self.dir("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.dir("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        os.environ["SPARK_DRIVER_MEM"] = HEAP
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        # local mode: Spark and its UI (read by tracing) listen on
        # loopback only
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
        # no /tmp/hsperfdata_* from the launcher or the Spark JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        java_opts = " ".join([
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={self.dir('derby')}",
        ])
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={self.dir('warehouse')}",
            f"--driver-java-options '{java_opts}'",
            "pyspark-shell",
        ])

    def cleanup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.base)          # only when no other run uses it
        except OSError:
            pass


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by the live descendants
    of *pid*: the JVM and the Python workers, not this process."""
    ticks = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(b")") + 2:].split()
        ticks += int(f[11]) + int(f[12])
    return ticks / CLK_TCK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * PAGE_BYTES
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me] + descendants(me))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM it runs in, then wait for every
    process the session started (JVM, Python worker daemon and
    workers) to end; stragglers past the timeout are killed."""
    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)
