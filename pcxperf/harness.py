"""Session, process and measurement plumbing shared by every workload.

The benchmark runs one Spark driver in ``local[cpus]`` mode, pinned to the
cores this process may use (``nproc``), and keeps every file it writes under
a work directory inside the checkout: Spark's local dirs, the JVM and Python
temp dirs, generated inputs and sinks.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import tempfile
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PHYS_PAGES") * PAGE
    return {"cpus": cpus, "mem_gib": round(mem / 2 ** 30, 1)}


def prepare_process(root: str, work: str) -> None:
    """Pin to the allowed cores and point every temp dir into ``work``.

    Must run before pyspark is imported: the gateway launcher creates its
    temp files through ``tempfile`` and the JVM inherits this environment.
    """
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONHASHSEED"] = "0"
    sys.dont_write_bytecode = True


def start_session(work: str, cpus: int, driver_memory: str = "3g"):
    """A ``local[cpus]`` session whose files all stay under ``work``."""
    from powerpoint_context_extractor_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    java_opts = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        "pcxperf", master=f"local[{cpus}]", shuffle_partitions=cpus,
        driver_memory=driver_memory,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        })
    # one scan task per input file of under 1 MiB: many short tasks keep
    # the cores evenly busy when one of them is slowed for a while
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    spark.conf.set("spark.sql.files.openCostInBytes", "16k")
    return spark


def start_session_during(fn, work: str, cpus: int, box: dict) -> None:
    """Start the session in a thread while ``fn`` runs here.

    The session lands in ``box["spark"]`` even when ``fn`` raises, so the
    caller can always stop it. The first job pays the JVM warm-up.
    """
    def start() -> None:
        t = time.perf_counter()
        try:
            box["spark"] = start_session(work, cpus)
            box["spark"].range(1).count()
            log(f"session ready in {time.perf_counter() - t:.2f}s")
        except BaseException as exc:  # re-raised in the calling thread
            box["error"] = exc

    thread = threading.Thread(target=start, name="pcxperf-session")
    thread.start()
    t = time.perf_counter()
    try:
        fn()
        log(f"inputs built in {time.perf_counter() - t:.2f}s")
    finally:
        thread.join()
    if "error" in box:
        raise box["error"]


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list:
    """Every live descendant pid of ``pid`` (default: this process)."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from a thread while ``active`` is set.

    The process tree is listed once a second and the RSS of the listed
    processes read every 0.1 s, which keeps the sampler's share of the
    driver's interpreter lock small."""

    INTERVAL_S = 0.1
    RELIST_EVERY = 10

    def __init__(self) -> None:
        self.active = threading.Event()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="pcxperf-rss")

    def _loop(self) -> None:
        pids: list = []
        tick = 0
        while not self._stop.wait(self.INTERVAL_S):
            if not self.active.is_set():
                continue
            if tick % self.RELIST_EVERY == 0:
                pids = descendants()
            tick += 1
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started (JVM, Python daemon and workers) is gone."""
    from pyspark import SparkContext
    procs = descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=timeout_s)
                except Exception:  # noqa: BLE001 — escalate below
                    proc.kill()
                    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        alive = [p for p in procs if _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes still alive: {alive}")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            stat = f.read()
        return stat[stat.rindex(")") + 2]
    except (OSError, ValueError, IndexError):
        return "Z"


def snapshot_bytes(entry: dict) -> int:
    """Bytes of the data files one snapshot commit lists."""
    return sum(os.path.getsize(p) for p in entry["files"])


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def log(msg: str) -> None:
    print(f"[pcxperf {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)
