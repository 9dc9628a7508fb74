"""Environment pinning and outside-in probes: ``/proc`` memory and the
SparkContext ``statusTracker`` job/stage/task counts.  Nothing here
reaches inside the engine package."""

from __future__ import annotations

import os

# Driver JVM heap: far below the RAM of a shared 4-core/15 GB box (the
# engine's default of 16g is the whole machine there).
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(repo_root: str, work_dir: str) -> None:
    """Fix every environment input the session reads before it starts.

    * ``SPARK_GRAFT_CPUS`` = usable cores (the session defaults to 32);
    * ``SPARK_GRAFT_DRIVER_MEM`` = ``DRIVER_MEM``;
    * ``PYTHONPATH`` leads with the checkout root, so Python workers
      (``mapInPandas``, RDD closures) import the package and this
      benchmark from any working directory;
    * ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir``
      point inside ``work_dir``, so a run writes nowhere else.
    """
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def descendants() -> list[int]:
    """Every live descendant process of this interpreter."""
    found, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(_children(pid))
    return found


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def alive(pid: int) -> bool:
    """True until the process has exited (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def driver_jvm_pids() -> list[int]:
    """Descendant ``java`` processes of this interpreter (the py4j
    gateway JVM is the Spark driver in local mode)."""
    return [p for p in descendants() if _comm(p) == "java"]


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the Python driver plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in driver_jvm_pids())
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from
    ``/proc/stat``; steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) of one job group."""
    st = sc.statusTracker()
    stages: set[int] = set()
    jobs = st.getJobIdsForGroup(group)
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return len(jobs), n_stages, n_tasks
