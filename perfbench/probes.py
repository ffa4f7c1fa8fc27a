"""Read-only probes the workloads share: host counters from /proc and
Spark's own status surfaces (the status store, SQL metrics, codegen
metrics).  Nothing here changes the program or its session settings."""

from __future__ import annotations

import os
import statistics

_TCK = os.sysconf("SC_CLK_TCK")


# -- host ----------------------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start / _TCK


class StealSampler:
    """The share of host CPU time the hypervisor stole, from the
    aggregate `cpu` line of /proc/stat, between two calls."""

    def __init__(self) -> None:
        self._last = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return sum(fields), fields[7]

    def share(self) -> float:
        total, steal = self._read()
        d_total, d_steal = total - self._last[0], steal - self._last[1]
        self._last = (total, steal)
        return d_steal / d_total if d_total else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree() -> dict[int, list[str]]:
    """pid -> /proc stat fields for this process and every live
    descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
                children.setdefault(int(st[1]), []).append(int(entry))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def _cpu(st: list[str], reaped: bool = True) -> float:
    # utime, stime, then cutime, cstime of already-reaped children
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TCK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers, including descendants that already exited."""
    return sum(_cpu(st) for st in process_tree().values())


def python_worker_cpu_s() -> float:
    """CPU seconds of `pyspark.daemon` and the workers it forked (live
    ones plus those it reaped)."""
    tree = process_tree()
    total = 0.0
    for pid, st in tree.items():
        if "pyspark.daemon" in _cmdline(pid):
            total += _cpu(st)
            total += sum(
                _cpu(cst, reaped=False)
                for cst in tree.values()
                if int(cst[1]) == pid
            )
    return total


def jvm_pid() -> int | None:
    for pid in process_tree():
        if pid != os.getpid() and "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid):
            return pid
    return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this (driver) process plus the JVM."""
    total = vm_hwm_mb(os.getpid())
    jvm = jvm_pid()
    if jvm is not None:
        total += vm_hwm_mb(jvm)
    return total


# -- Spark session ---------------------------------------------------------


def effective_settings(spark) -> dict[str, str]:
    """Settings the session actually runs with, read back from it."""
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "cores": str(spark.sparkContext.defaultParallelism),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", "unset"),
        "local_dir": conf.get("spark.local.dir", "unset"),
    }


class SparkCounters:
    """Per-layer counters from Spark's status store and codegen metrics.

    Jobs are found by job group: the benchmark sets one around each batch
    pass, and a streaming query runs its micro-batches under its run id.
    """

    STAGE_FIELDS = (
        ("spark.tasks", "numCompleteTasks", 1),
        ("spark.task_s", "executorRunTime", 1e-3),
        ("spark.task_cpu_s", "executorCpuTime", 1e-9),
        ("spark.gc_s", "jvmGcTime", 1e-3),
        ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
        ("spark.spill_bytes", "diskBytesSpilled", 1),
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._seen_jobs: set[int] = set()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def codegen_ms(self) -> float:
        """Summed compile time of generated classes so far.  The
        histogram keeps the last 1028 samples, which covers the
        compilations of one pass of these query sets."""
        return float(sum(self._codegen.getSnapshot().getValues()))

    def jobs(self, groups: list[str]) -> dict[str, float]:
        """Counters over the jobs of `groups` not reported before."""
        self.settle()
        tracker = self._sc.statusTracker()
        out = {"spark.jobs": 0, "spark.stages": 0}
        out.update({name: 0 for name, _, _ in self.STAGE_FIELDS})
        for group in groups:
            for job in tracker.getJobIdsForGroup(group):
                if job in self._seen_jobs:
                    continue
                self._seen_jobs.add(job)
                info = tracker.getJobInfo(job)
                out["spark.jobs"] += 1
                for sid in info.stageIds if info else ():
                    attempts = self._store.stageData(
                        sid, False, None, False, self._no_quantiles
                    )
                    for i in range(attempts.size()):
                        stage = attempts.apply(i)
                        if stage.status().toString() != "COMPLETE":
                            continue  # skipped: its shuffle output was reused
                        out["spark.stages"] += 1
                        for name, field, scale in self.STAGE_FIELDS:
                            out[name] += getattr(stage, field)() * scale
        return out


PYTHON_METRICS = (
    ("operators.python_time_s", ("pythonTotalTime",), 1e-3),
    ("operators.python_boot_s", ("pythonBootTime", "pythonInitTime"), 1e-3),
    ("operators.bytes_to_python", ("pythonDataSent",), 1),
    ("operators.bytes_from_python", ("pythonDataReceived",), 1),
    ("operators.rows_from_python", ("pythonNumRowsReceived",), 1),
)


def python_exec_metrics(df) -> dict[str, float]:
    """Sum the Python exec nodes' SQL metrics over a collected
    DataFrame's final physical plan, through AQE query stages and
    subqueries."""
    out = {name: 0.0 for name, _, _ in PYTHON_METRICS}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            for name, keys, scale in PYTHON_METRICS:
                out[name] += sum(metrics.apply(k).value() for k in keys) * scale
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

