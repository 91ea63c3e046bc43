"""Process-level plumbing shared by both workloads.

Everything here is about the benchmark's own process: where it may
write (a work directory inside the checkout), how the Spark session is
started and torn down (including the JVM and its Python workers), how
memory is read from ``/proc``, and the host facts every output records.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(REPO_ROOT, ".perfbench_work")
OUT_DIR = os.path.join(REPO_ROOT, ".perfbench_out")
CACHE_DIR = os.path.join(REPO_ROOT, ".perfbench_cache")
ENGINE_DIR = os.path.join(REPO_ROOT, "common_crawl___autumn_2025_spark")
# as the caller set it; prepare_env pins it to nproc
INHERITED_CPUS = os.environ.get("SPARK_GRAFT_CPUS")
# executor-metric polling of traced sessions (JVM heap in use)
HEAP_POLL = "100ms"


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare_env(work: str = WORK_DIR) -> None:
    """Point every temporary path of the driver, the JVM and the
    Python workers into ``work`` and make the engine importable by the
    workers. Must run before the first Spark session starts."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = str(nproc())
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    paths = [REPO_ROOT] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                # zstd is the default codec and ``zstandard`` is not
                # installed, so the parser reads plain JSON lines
                "spark.eventLog.compress": "false",
                "spark.eventLog.logStageExecutorMetrics": "true",
                "spark.executor.metrics.pollingInterval": HEAP_POLL,
            }
        )
    return conf


def start_session(work: str, event_log: bool = False):
    """``session.get_spark`` at ``local[nproc]`` (its warm-up included)."""
    from common_crawl___autumn_2025_spark.session import get_spark

    cores = nproc()
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf=session_conf(work, event_log),
    )


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM launched by PySpark and wait for it. The Python
    worker daemon watches its pipe to the JVM and exits with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    # the Python worker daemon is re-parented once the JVM exits, so
    # the processes to wait for are listed while the tree is intact
    started = descendants()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    _wait_for_exit(started, timeout_s)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _wait_for_exit(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_is_running(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        if _is_running(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _is_running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # reap our own zombies
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> dict[str, float]:
    """VmHWM in MiB of this process and its descendants (the driver,
    the JVM, every live Python worker), summed by command name."""
    out: dict[str, float] = {}
    for p in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + _vm_hwm_kb(p) / 1024.0
    return out


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO_ROOT, capture_output=True,
            text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_info() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_CPUS_inherited": INHERITED_CPUS,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "git_commit": git_commit(),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


def source_hash() -> str:
    """Fingerprint of the engine's and the benchmark's Python sources
    (identifies the code under test where the checkout has no git)."""
    import hashlib

    h = hashlib.blake2b(digest_size=12)
    for top in (ENGINE_DIR, BENCH_DIR, os.path.join(REPO_ROOT, "tools")):
        for base, dirs, names in sorted(os.walk(top)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(base, n)
                    h.update(os.path.relpath(p, REPO_ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files
