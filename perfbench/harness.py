"""Shared benchmark plumbing: host sizing, the Spark session, timing
statistics, memory readings and the run fingerprint.

Nothing here imports Spark at module import time, so ``run.py`` can
report a missing dependency before any JVM starts.
"""

from __future__ import annotations

import math
import os
import platform
import statistics
import sys
import time
from dataclasses import dataclass, field

#: the percentile reported as ``op_s.tail`` on every workload
TAIL_PCT = 90


@dataclass
class Host:
    cores: int
    ram_gb: float

    @classmethod
    def detect(cls) -> "Host":
        cores = len(os.sched_getaffinity(0))
        ram_kb = 0
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    ram_kb = int(line.split()[1])
                    break
        return cls(cores=cores, ram_gb=ram_kb / 2**20)

    @property
    def slots(self) -> int:
        """Spark's task slots: every core but one, which is left to the
        driver's own threads (the Python driver, Py4J, the JIT compiler
        and the garbage collector). On a virtual machine whose host
        takes CPU time away, a stage with a task on every core waits for
        the task whose core was taken; with a core to spare the kernel
        moves that task instead. On one 4-core VM, a second CPU-bound
        process slowed the cold curation pass by 27% at ``local[4]``
        and by 6% at ``local[3]``, which was as fast as ``local[4]``
        without it."""
        return max(1, self.cores - 1)

    def driver_memory_gb(self) -> int:
        """A quarter of host RAM, between 1 and 4 GB: in local mode the
        driver JVM is also the only executor."""
        return max(1, min(4, int(self.ram_gb // 4)))


@dataclass
class Work:
    """Directories of one benchmark run, all under ``root``."""
    root: str

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def spark_confs(host: Host, work: Work, ui: bool) -> dict[str, str]:
    from spark_expectations_spark.session import scale_confs

    confs = scale_confs("local-dev", total_cores=host.slots)
    tmp = work.path("jvm-tmp", "")
    gb = host.driver_memory_gb()
    confs.update({
        "spark.driver.memory": f"{gb}g",
        "spark.local.dir": work.path("spark-local", ""),
        "spark.sql.warehouse.dir": work.path("warehouse", ""),
        # a heap committed at full size with a fixed young generation
        # touches memory the same way in every run, which keeps the peak
        # resident memory comparable between runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{gb}g -Xmn{gb * 256}m -Djava.io.tmpdir={tmp}"),
        "spark.ui.showConsoleProgress": "false",
    })
    if ui:
        # the traced run reads task metrics from the UI REST API; port 0
        # takes any free port so concurrent runs cannot collide
        confs.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    return confs


def start_session(host: Host, work: Work, ui: bool):
    from pyspark.sql import SparkSession
    from spark_expectations_spark.session import configure

    builder = SparkSession.builder.master(f"local[{host.slots}]").appName(
        "perfbench")
    spark = configure(builder, spark_confs(host, work, ui)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    """Materialize every column of every row without writing."""
    df.write.format("noop").mode("overwrite").save()


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(s)))
    return s[rank - 1]


def timing_stats(samples: list[float]) -> dict:
    n = len(samples)
    return {
        "n": n,
        "p50": statistics.median(samples) if samples else 0.0,
        "tail": percentile(samples, TAIL_PCT) if samples else 0.0,
        "tail_pct": TAIL_PCT,
        "samples": samples,
        "beyond_tail": sum(1 for s in samples
                           if samples and s > percentile(samples, TAIL_PCT)),
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus its live
    Python worker processes."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current()
                  .pid())
    kb = _vm_hwm_kb(jvm_pid) + sum(_vm_hwm_kb(p) for p in _descendants(jvm_pid))
    return kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole machine so far, in jiffies.
    Stolen time is time the hypervisor gave this virtual machine's CPUs
    to someone else; its share over a phase says how much of the phase's
    wall time the host took away."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def git_sha(root: str) -> str:
    """The checked-out commit, read from ``.git`` without running git;
    ``unknown`` outside a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = os.path.join(root, ".git", name)
        if os.path.exists(loose):
            with open(loose) as fh:
                return fh.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def fingerprint(spark, host: Host, seed: int, data: str, root: str) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.driver.memory",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold", "spark.ui.enabled")
    return {
        "cores": host.cores,
        "slots": host.slots,
        "ram_gb": round(host.ram_gb, 1),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "python": platform.python_version(),
        "confs": {k: conf.get(k) for k in keys},
        "git_sha": git_sha(root),
        "seed": seed,
        "testdata": data,
    }


@dataclass
class Outcome:
    """What one measured phase of a workload produced."""
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rows: int = 0
    wall_s: float = 0.0
    #: workload-specific extras (twin timings, generator lateness, ...)
    extra: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Deadline:
    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds

    def left(self) -> float:
        return self.end - time.perf_counter()


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

