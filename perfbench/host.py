"""Host-side helpers: the Spark session the benchmark owns, the
co-tenant window probe, and the process-tree peak-RSS sampler."""

from __future__ import annotations

import os
import threading
import time

#: driver heap for local mode; the session factory's default (48g) does
#: not fit a 15 GB host
DRIVER_MEM = "1g"
STOP_WAIT_S = 60.0        # how long to wait for the JVM to exit
PROBE_BURN_N = 8_000_000  # loop count of the window probe's 1-core burn
RSS_INTERVAL_S = 0.5      # RSS sampling period


def start_session(root: str, work: str, cores: int, trace: bool = False):
    """SparkSession on ``local[cores]`` whose Python workers can import
    the repository from any working directory, with every scratch file
    (shuffle spill, JVM temp, warehouse) inside ``work``."""
    os.environ["SLING_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no JVM perf-data files under /tmp, from the launcher or the driver
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from sling_spark.session import get_spark

    conf = {
        "spark.executorEnv.PYTHONPATH": root,
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the status tracker forgets jobs beyond these; a traced run
        # launches a few hundred
        conf["spark.ui.retainedJobs"] = "20000"
        conf["spark.ui.retainedStages"] = "50000"
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_WAIT_S)
        except Exception:
            proc.kill()
            proc.wait(timeout=STOP_WAIT_S)


def window_probe() -> dict:
    """Fixed 1-core burn and DRAM copy (``tools/window_sentinel``'s
    probes, at a smaller fixed work): a slow burn or a low copy rate
    marks a run taken while co-tenants were busy."""
    from tools.window_sentinel import _burn, _mem_bw

    t0 = time.perf_counter()
    _burn(PROBE_BURN_N)
    return {"burn_s": round(time.perf_counter() - t0, 4),
            "dram_gbs": _mem_bw(mb=100, reps=3)}


def _rss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of ``root_pid`` and all its descendants."""
    parent: dict[str, str] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[pid] = stat.rsplit(")", 1)[1].split()[1]
    tree, frontier = {str(root_pid)}, [str(root_pid)]
    while frontier:
        cur = frontier.pop()
        for pid, ppid in parent.items():
            if ppid == cur and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(_rss_kb(p) for p in tree) / 1024.0


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb``
    is the largest sum held over two consecutive samples.

    A child the JVM is spawning (``chmod``, ``rm``) shares the JVM's
    address space until it execs, so a sample that catches one counts
    the JVM twice; such a spike never lasts into the next sample."""

    def __init__(self):
        self.peak_mb = 0.0
        self._last_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _sample(self) -> None:
        mb = tree_rss_mb(os.getpid())
        self.peak_mb = max(self.peak_mb, min(mb, self._last_mb))
        self._last_mb = mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
