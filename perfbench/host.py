"""Host fit, the Spark session's lifecycle, resource sampling and the
run manifest.

The session is sized from what this process may use (CPU affinity and
``MemTotal``) and handed to ``plans.session.get_spark`` explicitly, so the
library's 48 GB default heap never applies here.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
from pathlib import Path


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of host memory, between 1 and 4 GB: the benchmark's
    inputs are small, and other tenants share the host."""
    gb = mem_total_kb() / (1024 * 1024)
    return f"{max(1, min(4, int(gb / 4)))}g"


def confine(run_dir: Path, event_log: Path | None = None) -> Path:
    """Point every temporary and scratch directory of this process, the
    JVM it launches and that JVM's Python workers into ``run_dir``, and
    switch Spark's event log on into ``event_log`` if given: uncompressed
    (Spark 4 defaults to zstd, which needs a Python module not every image
    has) and non-rolling (one file per application). Call before the
    first Spark session starts; returns the temp dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log.as_uri(),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    # every JVM (launcher and driver) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return tmp


class Session:
    """A Spark session sized to the host, shut down together with its JVM."""

    def __init__(self, app: str, tmp: Path):
        self.app, self.tmp = app, tmp
        self.cores, self.heap = cores(), driver_heap()
        self.spark = None

    def start(self):
        from npm_extraction_server_spark.plans.session import get_spark

        self.spark = get_spark(app=self.app, master=f"local[{self.cores}]",
                               driver_mem=self.heap,
                               java_opts=f"-Djava.io.tmpdir={self.tmp}")
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _tree_stats(root_pid: int) -> tuple[int, float]:
    """RSS (kB) and CPU time (s) of ``root_pid`` and all its descendants.
    CPU time counts each live process's own time plus the time of the
    children it has reaped, so workers that exited still count."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                resident = int(fh.read().split()[1])
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        stats[int(entry)] = (resident * page_kb, sum(int(f) for f in fields[11:15]))
    rss = ticks = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        r, t = stats.get(pid, (0, 0))
        rss, ticks = rss + r, ticks + t
        stack.extend(children.get(pid, []))
    return rss, ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and everything it started."""
    return _tree_stats(os.getpid())[1]


class RssSampler:
    """Background sampler of the process tree's peak RSS (driver Python,
    the JVM and its Python workers)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_stats(pid)[0])
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _git_sha(repo: Path) -> str | None:
    if not (repo / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(repo), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def source_sha256(repo: Path, extra: tuple[str, ...] = ()) -> str:
    """Content hash of the package under test and of the ``extra`` files
    and directories (checkouts need not be git repositories)."""
    import hashlib

    files = set((repo / "npm_extraction_server_spark").rglob("*.py"))
    for name in extra:
        path = repo / name
        files |= set(path.rglob("*.py")) if path.is_dir() else {path}
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.relative_to(repo).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


_CONFS = [
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
]


def session_confs(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {"spark_version": spark.version, **{k: conf.get(k, None) for k in _CONFS}}


def manifest(repo: Path, confs: dict, seed: int, workload: str, steal: dict) -> dict:
    """Which code, host and configuration produced a result."""
    import pandas
    import pyarrow
    import pyspark

    return {
        "git_sha": _git_sha(repo),
        "source_sha256": source_sha256(repo),
        "workload": workload,
        "seed": seed,
        "cores": cores(),
        "mem_total_kb": mem_total_kb(),
        "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "pandas": pandas.__version__},
        "confs": confs,
        "steal": steal,
    }
