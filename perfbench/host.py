"""Host sizing, Spark session lifetime and process-tree memory sampling.

Everything a run writes lives under one work directory inside the
checkout: Spark local dirs, the JVM and Python temp dirs, the warehouse
and the tables the workloads build.
"""

from __future__ import annotations

import os
import threading
import time

# an eighth of available memory, clamped: the host is shared, and the
# workloads are sized so that 1 GiB of heap is already enough
HEAP_SHARE = 8
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 2048


def host_cores() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
                break
        else:
            raise RuntimeError("/proc/meminfo has no MemAvailable line")
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, avail_mb // HEAP_SHARE))


def prepare_env(root: str, work: str) -> None:
    """Point every temp/scratch location of this process and its children
    into ``work``; must run before pyspark launches the JVM."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers are forked by the JVM and must import the package
    # from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def start_spark(work: str, cores: int):
    """The package's session factory, sized to this host."""
    from augdiff_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": f"{driver_heap_mb()}m",
            # the heap starts at its floor size: whether and when the
            # collector grows it from the JVM's tiny default start size
            # otherwise swings peak memory by hundreds of MB run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP_MIN_MB}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it (and so for the
    Python workers it forked, which exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def wait_gone(pids, timeout_s: float = 30.0) -> None:
    """Wait until none of ``pids`` is alive (Python workers exit once the
    JVM that forked them has gone)."""
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after {timeout_s}s: {sorted(pids)}")
        time.sleep(0.1)


def warm_python_workers(df) -> None:
    """Start every Python worker (spawn + numpy/pandas import) with a
    no-op Arrow pass, so no timed query pays for it."""

    def noop(it):
        for pdf in it:
            yield pdf.iloc[:0]

    df.mapInPandas(noop, df.schema).count()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we scanned
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_hwm_kb(pid: int) -> dict[int, int]:
    """Peak resident memory (VmHWM) of ``pid`` and each descendant."""
    kids = _children()
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1])
                        break
        except OSError:
            continue  # exited while we scanned
    return out


class RssSampler:
    """Peak memory of the JVM and its Python workers: the sum over every
    process of the tree of its own peak RSS.  The kernel keeps each peak
    (VmHWM), so sampling only has to find the processes."""

    def __init__(self, pid: int, interval_s: float = 0.5):
        self.pid, self.interval_s = pid, interval_s
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self._hwm.values()) / 1024

    @property
    def jvm_peak_mb(self) -> float:
        return self._hwm.get(self.pid, 0) / 1024

    @property
    def pids(self) -> list[int]:
        """Every process of the tree seen while sampling."""
        return list(self._hwm)

    def _sample(self) -> None:
        for p, kb in tree_hwm_kb(self.pid).items():
            self._hwm[p] = max(kb, self._hwm.get(p, 0))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
