"""What the benchmark reads back from the running system.

- Process accounting from ``/proc``: CPU of the driver JVM's process tree
  (executor threads run inside it in local mode; Python workers are its
  descendants) plus this process, and peak resident memory.
- Spark's status store (``AppStatusStore``), read through the JVM gateway:
  the jobs carrying a job tag and the task metrics of their stages. It works
  with ``spark.ui.enabled=false`` and needs no REST call.
- SQL metrics of an executed query's final (post-AQE) physical plan: files
  read by scans and the Python-worker metrics of ``Arrow*Python`` nodes.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, own + reaped children CPU seconds) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / _TICK


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid``, its live descendants (their reaped
    children included) and this process."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(children.get(pid, ()))
    own = resource.getrusage(resource.RUSAGE_SELF)
    return total + own.ru_utime + own.ru_stime


def peak_rss_mb(pid: int) -> float:
    """The JVM's VmHWM plus this process's max RSS, in MiB."""
    hwm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024.0


class MissingStage(RuntimeError):
    """A stage of a tagged job is gone from the status store: the retention
    limits were too low, so any total read now would silently undercount."""


STAGE_FIELDS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "fetch_wait_s",
    "spill_bytes",
)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def tagged_totals(spark, tag: str) -> dict[str, float]:
    """Jobs, stages and summed task metrics of every job carrying ``tag``.
    Raises MissingStage if a stage of such a job is no longer recorded."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    job_ids = list(jsc.statusTracker().getJobIdsForTag(tag))
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(job_ids))
    out["stages"] = 0.0
    seen: set[int] = set()
    for job_id in job_ids:
        job = store.job(job_id)
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise MissingStage(
                    f"stage {sid} of job {job_id} (tag {tag}) is missing"
                    " from the status store; raise spark.ui.retainedStages"
                ) from exc
            if str(st.status().toString()) != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


PLAN_FIELDS = ("files_read", "py_run_s", "py_boot_s", "py_init_s", "py_sent", "py_received")
_PY_METRICS = {
    "pythonTotalTime": "py_run_s",
    "pythonBootTime": "py_boot_s",
    "pythonInitTime": "py_init_s",
    "pythonDataSent": "py_sent",
    "pythonDataReceived": "py_received",
}
#: SQLMetric types whose values are times, scaled to seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _metric(node, name: str) -> float:
    """A node's SQL metric (times in seconds); 0 when the node lacks it."""
    opt = node.metrics().get(name)
    if not opt.isDefined():
        return 0.0
    metric = opt.get()
    return metric.value() * _TIME_SCALE.get(metric.metricType(), 1.0)


def plan_totals(jdf) -> dict[str, float]:
    """SQL metrics summed over the final physical plan of an executed
    Dataset: scan ``numFiles`` and the Python-worker metrics."""
    out = dict.fromkeys(PLAN_FIELDS, 0.0)
    todo = [jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        if "Scan" in cls:
            out["files_read"] += _metric(node, "numFiles")
        if "Python" in cls:
            for metric, field in _PY_METRICS.items():
                out[field] += _metric(node, metric)
        todo.extend(_seq(node.children()))
    return out
