"""The Spark engine as the benchmark drives it: one session per run,
isolated under the run's scratch root, and readers for the engine's own
job, stage, stream, memory and CPU-steal records."""

import os
import subprocess
import tempfile
from typing import NamedTuple

import spans as sp

# Retain every job and stage of a run in the status store, so the
# traced passes can be attributed after the fact.
RETAIN = "1000000"
# Driver heap, which on local[n] holds the executors too. With
# session.py's default of 8g the JVM's resident size follows its GC
# timing: ten bootstrap_load runs on a 4-vCPU host read 1.9-3.6 GiB
# peak RSS (quartile spread 0.31 of the median), more whenever the
# host was contended. The benchmark's inputs run with no spill in 1g.
DRIVER_MEM = "1g"


class Staged(NamedTuple):
    """What a workload's fixture staging reports to the set-up: how many
    outputs it checked, the failed checks, and the seconds the checks
    took (which are not set-up time)."""

    checked: int = 0
    errors: tuple = ()
    check_s: float = 0.0


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def isolate(root: str, repo: str) -> None:
    """Point every scratch location the engine and the program use at
    ``root``: Spark local dirs, the Python temp dir (the streaming
    heads' ``mkdtemp``), and the import path of the Python workers.
    The session's own knobs are fixed whatever the caller's
    environment says: ``session.py``'s default master and UI, and a
    driver heap of ``DRIVER_MEM``. Called before the session starts."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    tmp = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the launch starts: no perf-data file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH", "")) if p
    )
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_UI"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def start(root: str, n: int, warehouse: str):
    """A fresh local[n] session as ``session.get_spark`` configures it,
    with its warehouse under ``root``."""
    from gerrydb_etl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=n,
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.local.dir": os.path.join(root, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": RETAIN,
            "spark.ui.retainedStages": RETAIN,
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


# -- the engine's own records ------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(spark) -> list[sp.Job]:
    """Every finished job in the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if sub is None or done is None:
            continue
        stages = j.stageIds()
        out.append(
            sp.Job(
                int(j.jobId()),
                sub,
                done,
                tuple(int(stages.apply(k)) for k in range(stages.size())),
            )
        )
    return out


def read_stages(spark) -> dict[int, dict]:
    """Per stage id, summed over attempts: tasks, failed tasks,
    executor run time, shuffle and spill bytes."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList()
    )
    out: dict[int, dict] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        d = out.setdefault(
            int(s.stageId()),
            {"tasks": 0, "failed_tasks": 0, "task_s": 0.0, "shuffle_b": 0, "spill_b": 0},
        )
        d["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        d["failed_tasks"] += int(s.numFailedTasks())
        d["task_s"] += int(s.executorRunTime()) / 1000.0
        d["shuffle_b"] += int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes())
        d["spill_b"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return out


def peak_rss_mib(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this
    Python process."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stream_listener(spark):
    """Register a StreamingQueryListener that keeps each micro-batch's
    progress durations. Micro-batch jobs run on the stream's own
    thread, so this, not the span intervals, is their record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine, from /proc/stat: the time
    its virtual CPUs waited on the host is noise in every wall time."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
