"""What every workload shares: the box-fitted Spark session, timed
operations, peak memory, and the Spark/py4j layer metrics folded from
the traced run's event log.

One ``Harness`` per run. It owns the work directory under the
checkout's ``.perfbench_work/`` (Spark local dirs, warehouse, state
stores, event log, span dump) and the JVM it starts.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import signal
import subprocess
import tempfile
import time

from perfbench import stats
from perfbench.tracing import Py4jCounter, Tracer, codegen_totals, parse_event_log, task_skew

#: set-ups timed per run; ``setup_s`` is their median, so the first
#: one's JVM launch does not decide it alone
SETUP_REPEATS = 5


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)


def box() -> dict:
    """CPUs, RAM and load of the machine this run is on. ``busy`` is
    the share of all CPUs in use over a short sample taken before the
    run starts anything; the load average is kept for reference but
    still carries the previous run's tail when runs go back to back."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    b0, t0 = _cpu_ticks()
    time.sleep(0.5)
    b1, t1 = _cpu_ticks()
    busy = (b1 - b0) / max(t1 - t0, 1)
    return {
        "cpus": cpus,
        "ram_mb": mem_kb // 1024,
        "load1": round(os.getloadavg()[0], 2),
        "busy": round(busy, 3),
        # another job competing for the cores inflates every wall time
        "loaded": busy > 0.25,
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Harness:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.box = box()
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tracer = Tracer(trace)
        self.spark = None
        self.py4j: Py4jCounter | None = None
        #: one record per timed operation (a batch or a compact)
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._codegen0 = (0, 0.0)
        self.codegen = (0, 0.0)

    # -- session ----------------------------------------------------------
    def start_session(self):
        """Start the session, or stop and restart it in the same JVM.
        The driver heap is sized under physical RAM and parallelism is
        pinned to the CPUs this process may use."""
        if self.spark is not None:
            self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = str(self.box["cpus"])
        heap_mb = min(4096, self.box["ram_mb"] // 4)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # py4j's gateway hand-off file and Python workers' spills go here
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the whole heap is committed and touched at JVM start: page
            # faults of a growing heap stay out of the timed region, and
            # the resident set no longer depends on when the collector
            # chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
                f" -Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}"
            ),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        from streaming_examples_spark import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def begin_measure(self) -> None:
        if self.trace:
            self.py4j = Py4jCounter(self.spark)
            self._codegen0 = codegen_totals(self.spark)

    def end_measure(self) -> None:
        if self.trace:
            self.py4j.close()
            n, s = codegen_totals(self.spark)
            self.codegen = (n - self._codegen0[0], s - self._codegen0[1])

    def peak_rss_mb(self) -> float:
        """Driver plus JVM high-water resident set."""
        return vm_hwm_mb("self") + vm_hwm_mb(self._jvm().pid)

    def _jvm(self) -> subprocess.Popen:
        return self.spark.sparkContext._gateway.proc

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = self._jvm()
        self.spark.stop()
        # py4j raises from a half-closed socket here; the JVM still
        # exits on the stdin EOF below
        with contextlib.suppress(Exception):
            SparkContext._gateway.shutdown()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.send_signal(signal.SIGKILL)
            proc.wait(timeout=30)
        self.spark = None

    def cleanup(self) -> None:
        """Drop everything the run wrote except its span dump."""
        for name in os.listdir(self.work):
            if not name.startswith("spans"):
                shutil.rmtree(os.path.join(self.work, name), ignore_errors=True)

    # -- operations ---------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """One timed operation. Its record carries the wall, the py4j
        round trips and (traced) the job group Spark jobs are tagged
        with. An exception inside counts the operation as failed and
        propagates."""
        rec = {"name": name, "index": len(self.ops), **attrs}
        group = f"op-{rec['index']}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, name)
            rec["group"] = group
        calls0 = self.py4j.count if self.py4j else 0
        self.attempted += 1
        t0 = time.time()
        try:
            with self.tracer.span(name, op=True, group=group) as sp:
                rec["span"] = sp
                yield rec
        except BaseException:
            self.failed += 1
            raise
        finally:
            rec["wall_s"] = time.time() - t0
            rec["start"] = t0
            if self.py4j:
                rec["py4j_calls"] = self.py4j.count - calls0
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["jobs"] = list(sc.statusTracker().getJobIdsForGroup(group))
                rec["stages"] = sum(
                    len(info.stageIds)
                    for info in (sc.statusTracker().getJobInfo(j) for j in rec["jobs"])
                    if info is not None
                )
            self.ops.append(rec)

    def check(self, ok: bool, what: str) -> bool:
        """A correctness gate outside the timed region; a failed gate
        counts one more failed operation."""
        if not ok:
            self.failed += 1
            print(f"perfbench: correctness gate failed: {what}", flush=True)
        return ok

    # -- traced Spark layer ---------------------------------------------------
    def event_log_jobs(self) -> dict:
        """Jobs of the final session (the one measured), parsed after
        the session stopped and flushed its log."""
        app_logs = sorted(
            glob.glob(os.path.join(self.work, "eventlog", "*")), key=os.path.getmtime
        )
        if not app_logs:
            raise RuntimeError("traced run wrote no Spark event log")
        log = app_logs[-1]
        # a rolling (v2) log is a directory of events_<n>_<app> parts
        parts = (
            sorted(glob.glob(os.path.join(log, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
            if os.path.isdir(log)
            else [log]
        )
        lines = []
        for part in parts:
            with open(part) as f:
                lines.extend(f)
        return parse_event_log(lines)

    def spark_layer(self, jobs: dict) -> dict:
        """Per-operation Spark and py4j metrics, and job/stage spans
        attached under each operation span."""
        by_group: dict[str, list[dict]] = {}
        for jid, job in sorted(jobs.items()):
            job["id"] = jid
            by_group.setdefault(job["group"], []).append(job)
        n = len(self.ops)
        tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "gap", "run", "sw", "sr", "spill", "gc")}
        skews = []
        for rec in self.ops:
            op_jobs = [j for j in by_group.get(rec["group"], []) if j["end"] is not None]
            sp = rec["span"]
            for job in op_jobs:
                jsp = self.tracer.add(
                    "spark.job", job["start"], job["end"], sp, job=job["id"]
                )
                for sid, st in job["stages"].items():
                    if st["start"] is not None and st["end"] is not None:
                        self.tracer.add(
                            "spark.stage", st["start"], st["end"], jsp,
                            stage=sid, callsite=st["name"], tasks=len(st["tasks"]),
                        )
            tasks = [t for j in op_jobs for st in j["stages"].values() for t in st["tasks"]]
            tot["jobs"] += len(rec["jobs"])
            tot["stages"] += rec["stages"]
            tot["tasks"] += len(tasks)
            tot["gap"] += rec["wall_s"] - stats.covered(
                (max(j["start"], rec["start"]), min(j["end"], rec["start"] + rec["wall_s"]))
                for j in op_jobs
            )
            tot["run"] += sum(t["run_s"] for t in tasks)
            tot["sw"] += sum(t["shuffle_write_bytes"] for t in tasks)
            tot["sr"] += sum(t["shuffle_read_bytes"] for t in tasks)
            tot["spill"] += sum(t["spill_bytes"] for t in tasks)
            tot["gc"] += sum(t["gc_s"] for t in tasks)
            skews.append(task_skew(op_jobs))
        return {
            "spark.jobs_per_op": tot["jobs"] / n,
            "spark.stages_per_op": tot["stages"] / n,
            "spark.tasks_per_op": tot["tasks"] / n,
            "spark.driver_gap_s_per_op": tot["gap"] / n,
            "spark.executor_run_s_per_op": tot["run"] / n,
            "spark.shuffle_write_bytes_per_op": tot["sw"] / n,
            "spark.shuffle_read_bytes_per_op": tot["sr"] / n,
            "spark.spill_bytes_per_op": tot["spill"] / n,
            "spark.gc_s_per_op": tot["gc"] / n,
            "spark.task_skew": stats.median(skews),
            "spark.codegen_compiles": float(self.codegen[0]),
            "spark.codegen_compile_s": self.codegen[1],
            "py4j.calls_per_op": sum(r["py4j_calls"] for r in self.ops) / n,
        }

    def backend_layer(self, n_batches: int, batch_names: set[str]) -> dict:
        """state_backend metrics per batch operation, from the backend
        proxy's spans that sit under batch operations."""
        ids = {r["span"]["id"] for r in self.ops if r["name"] in batch_names}
        under = [
            s for s in self.tracer.spans
            if s["name"].startswith("state_backend.") and s["parent"] in ids
        ]

        def busy(method=None):
            return sum(
                s["end"] - s["start"]
                for s in under
                if method is None or s["name"] == f"state_backend.{method}"
            )

        def calls(method):
            return sum(1 for s in under if s["name"] == f"state_backend.{method}")

        return {
            "state_backend.busy_s_per_batch": busy() / n_batches,
            "state_backend.calls_per_batch": len(under) / n_batches,
            "state_backend.carry_file_calls_per_batch": calls("carry_file") / n_batches,
            "state_backend.publish_file_calls_per_batch": calls("publish_file") / n_batches,
            "state_backend.commit_s_per_batch": busy("commit_pointer") / n_batches,
        }


class StateWalk:
    """Bytes and files of a state store on disk, walked between
    operations (never inside one). A file counts as written by the
    last operation when its inode was not in the previous walk, so a
    hardlink carried into a new version counts as not rewritten."""

    def __init__(self, path: str):
        self.path = path
        self.inodes: set[int] = set()
        self.size_bytes = 0

    def step(self) -> dict:
        seen: set[int] = set()
        written = size = 0
        buckets: set[str] = set()
        for dirpath, _, names in os.walk(self.path):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                size += st.st_size
                seen.add(st.st_ino)
                if st.st_ino not in self.inodes:
                    written += st.st_size
                    parts = [p for p in dirpath.split(os.sep) if p.startswith("_bucket=")]
                    if parts and n.endswith(".parquet"):
                        frame = os.path.basename(os.path.dirname(dirpath))
                        buckets.add(f"{frame}/{parts[-1]}")
        self.inodes = seen
        self.size_bytes = size
        return {"bytes_written": written, "buckets_rewritten": len(buckets)}
