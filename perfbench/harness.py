"""Process-level plumbing shared by the workloads: the run directory, the
Spark session (with the JVM's log captured to a file), the closed-loop
operation timer, peak-memory sampling and an orderly shutdown."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

import spans
import sparklog
from checks import Tally

PKG = "com_danliris_service_etl_spark"
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


class MemorySampler:
    """Samples, every ``interval`` s, the resident memory of this process
    and the JVM it launched plus the proportional set size of every deeper
    descendant: the Python workers are forked from one daemon and share
    most of their pages, which plain resident sizes would count per fork.
    (Proportional sizes of the JVM itself are too slow to read this often.)
    The peak counts only samples taken inside `measuring()`, so the
    benchmark's own input generation and output checks, which run in this
    process, stay out of it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._measuring = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()

    @contextlib.contextmanager
    def measuring(self):
        self._measuring = True
        try:
            self.sample()
            yield
        finally:
            self.sample()
            self._measuring = False

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    @staticmethod
    def _tree(root: int) -> list[tuple[int, int]]:
        """(pid, depth below ``root``) of ``root`` and its descendants."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [(root, 0)]
        while todo:
            pid, depth = todo.pop()
            out.append((pid, depth))
            todo.extend((c, depth + 1) for c in children.get(pid, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid, depth in self._tree(os.getpid()):
            self.seen.add(pid)
            path, key = (f"/proc/{pid}/status", "VmRSS:") if depth <= 1 else (f"/proc/{pid}/smaps_rollup", "Pss:")
            try:
                with open(path) as f:
                    for line in f:
                        if line.startswith(key):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        if self._measuring:
            self.peak_kb = max(self.peak_kb, total)

    def wait_for_descendants(self, timeout: float = 60.0) -> None:
        """Wait until every process seen below this one has exited; kill the
        ones still alive at the timeout."""
        others = self.seen - {os.getpid()}
        deadline = time.monotonic() + timeout
        while any(_alive(p) for p in others):
            if time.monotonic() > deadline:
                for pid in others:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, 9)
                return
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Run:
    """One benchmark process: its directories, session, tracer and the
    closed-loop client's operation records."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, traced: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(root, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench", "out")
        self.tracer = spans.Tracer(enabled=traced)
        self.tally = Tally()
        self.ops: list[tuple[str, str, float]] = []  # (pass id, operation, wall s)
        self.pass_walls: list[float] = []
        self.pass_ids: list[str] = []
        self.pass_log_offsets: list[tuple[int, int]] = []  # driver log bytes per pass
        self.spark = None
        self.memory = MemorySampler()

    # -- session ---------------------------------------------------------

    def start_session(self) -> None:
        # Everything the run writes, Spark's scratch space and the JVM's and
        # Python's temporary files included, stays under the checkout.
        tmp = os.path.join(self.work, "tmp")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(tmp)
        os.makedirs(self.out_dir, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # One configuration for every run, whatever the caller's environment
        # holds: local[<usable cpus>] with as many shuffle partitions (the
        # engine's defaults), a 2 GiB driver heap instead of the engine's
        # 8 GiB default, and two malloc arenas for the JVM's native
        # allocations. With the larger heap and one arena per thread the
        # resident size wandered by 10-50% from run to run, so the benchmark
        # measures this smaller-heap configuration, not the deployed one.
        cpus = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_MASTER"] = f"local[{cpus}]"
        os.environ["SPARK_GRAFT_SHUFFLE"] = cpus
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["MALLOC_ARENA_MAX"] = "2"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        from com_danliris_service_etl_spark import session

        if self.traced:
            spans.patch_function(self.tracer, session, "get_session", "session.get_session", [PKG])
        self.memory.start()
        # The JVM inherits file descriptor 2 when it is launched: point it
        # at the driver log for the launch, then give it back to Python.
        saved = os.dup(2)
        with open(self.driver_log, "ab") as log:
            os.dup2(log.fileno(), 2)
        try:
            self.tracer.trace = "setup"
            self.spark = session.get_session(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        finally:
            os.dup2(saved, 2)
            os.close(saved)

    @property
    def driver_log(self) -> str:
        return os.path.join(self.work, "driver.log")

    def driver_log_size(self) -> int:
        try:
            return os.path.getsize(self.driver_log)
        except OSError:
            return 0

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
            self.spark = None
        self.memory.stop()
        self.memory.wait_for_descendants()

    # -- closed-loop client ------------------------------------------------

    def set_op(self, pass_id: str, op: str) -> None:
        self.spark.sparkContext.setJobDescription(sparklog.description(pass_id, op))
        self.tracer.trace = f"{pass_id}:{op}"

    def record_op(self, pass_id: str, op: str, wall: float) -> None:
        self.ops.append((pass_id, op, wall))

    def run_passes(self, run_pass, min_passes: int) -> None:
        """Run ``run_pass(pass_id)`` back to back: at least ``min_passes``,
        and more while another pass of median length still ends within
        ``seconds`` of the first one's start."""
        t0 = time.perf_counter()
        k = 0
        while k < min_passes or (
            time.perf_counter() - t0 + statistics.median(self.pass_walls) <= self.seconds
        ):
            pass_id = f"p{k}"
            log_start = self.driver_log_size()
            wall = run_pass(pass_id)
            self.pass_ids.append(pass_id)
            self.pass_walls.append(wall)
            self.pass_log_offsets.append((log_start, self.driver_log_size()))
            k += 1

    # -- results ---------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        walls = [w for _, _, w in self.ops]
        q = spans.tail_percentile(len(walls))
        print(
            f"[perfbench] {self.workload}: {len(self.pass_walls)} passes, {len(walls)} "
            f"operations, median {spans.percentile(walls, 50):.3f} s, highest percentile "
            f"with 10 beyond: p{q} = {spans.percentile(walls, q):.3f} s",
            file=sys.stderr,
        )
        with open(os.path.join(self.out_dir, f"{self.workload}-seed{self.seed}-ops.json"), "w") as f:
            json.dump({"pass_s": self.pass_walls, "ops": self.ops}, f)
        return {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(self.pass_walls), "s"),
            "peak_rss_mb": (self.memory.peak_kb / 1024.0, "MB"),
        }
