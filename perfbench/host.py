"""Process-level plumbing: deployment settings, the worker-import
guard, the run record, memory and teardown.

The session itself is built only by ``tidyvec_spark.session.make_session``
at ``local[nproc]``, so the benchmark measures the configuration the
library ships. The benchmark adds deployment settings only (driver
memory, scratch directories inside the checkout, no UI, and the event
log in the traced run), through a ``spark-defaults.conf`` in its own
``SPARK_CONF_DIR`` — the way a deployment would.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile
import time
from typing import Any, Optional

import pandas as pd

# Settings the benchmark adds on top of the engine's; ``{work}`` is the
# run's scratch directory inside the checkout.
DEPLOY_CONF = {
    "spark.driver.memory": "2g",
    "spark.local.dir": "{work}/local",
    "spark.sql.warehouse.dir": "{work}/warehouse",
    "spark.driver.extraJavaOptions": (
        "-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
    ),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}
TRACE_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": "file://{work}/events",
    # Spark 4 writes zstd-compressed, rolling logs by default
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
_LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""
# conf keys whose values change every launch and say nothing about
# the configuration
_VOLATILE = {
    "spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.app.initial.jar.urls", "spark.submit.pyFiles",
}


class GuardError(RuntimeError):
    """The process would measure other code than the checkout's."""


def prepare_env(root: str, work: str, trace: bool) -> None:
    """Write the deployment conf and point Spark, its Python workers and
    every temp file at the checkout. Must run before the JVM starts."""
    conf = dict(DEPLOY_CONF, **(TRACE_CONF if trace else {}))
    conf = {k: v.format(work=work) for k, v in conf.items()}
    conf_dir = os.path.join(work, "conf")
    for d in ("conf", "local", "tmp", "events", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k} {v}\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(_LOG4J)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # workers import tidyvec_spark and perfbench from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def check_worker_imports(spark, root: str) -> None:
    """Fail fast unless driver and Python workers both import
    ``tidyvec_spark`` (and the benchmark's embedding module) from the
    checkout under test. A missing path would kill every pandas_udf
    path mid-run; a stale install would silently measure other code."""
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    import perfbench.embedfn
    import tidyvec_spark

    want = {
        "tidyvec_spark": os.path.realpath(tidyvec_spark.__file__),
        "perfbench.embedfn": os.path.realpath(perfbench.embedfn.__file__),
    }
    real_root = os.path.realpath(root) + os.sep
    for mod, path in want.items():
        if not path.startswith(real_root):
            raise GuardError(f"driver imports {mod} from {path}, not from {root}")

    @F.pandas_udf("string")
    def where(s: pd.Series) -> pd.Series:
        import os as _os

        import perfbench.embedfn as _e
        import tidyvec_spark as _t

        paths = _os.path.realpath(_t.__file__) + "|" + _os.path.realpath(_e.__file__)
        return pd.Series([paths] * len(s))

    try:
        rows = spark.range(0, 4, 1, 4).select(where("id").alias("p")).distinct().collect()
    except PySparkException as e:
        raise GuardError(f"Python workers cannot import the checkout: {e}") from e
    seen = {r["p"] for r in rows}
    expect = want["tidyvec_spark"] + "|" + want["perfbench.embedfn"]
    if seen != {expect}:
        raise GuardError(f"workers import {sorted(seen)}, driver imports {expect}")


def source_digest(root: str) -> str:
    """sha256 over the library's source files (path + bytes): identifies
    the code under test where no git metadata exists."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "tidyvec_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()


def git_commit(root: str) -> Optional[str]:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def run_record(spark, root: str, seed: int, workload: str, cpus: int) -> dict[str, Any]:
    """Everything needed to tell whether two results are comparable."""
    import pyarrow
    import pyspark

    from tidyvec_spark.session import ENGINE_CONF

    sc = spark.sparkContext
    effective = {
        k: v for k, v in sorted(sc.getConf().getAll()) if k not in _VOLATILE
    }
    for k in ENGINE_CONF:
        effective[k] = spark.conf.get(k)
    diff = {
        k: {"engine": ENGINE_CONF.get(k), "effective": v}
        for k, v in effective.items()
        if ENGINE_CONF.get(k) != v
    }
    return {
        "workload": workload,
        "seed": seed,
        "nproc": cpus,
        "master": sc.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
        "conf": effective,
        "conf_diff_vs_engine": diff,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # and guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings: a high value marks a run slowed by its
    neighbours rather than by the code under test."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid() -> Optional[int]:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Sum of VmHWM over the driver Python, the JVM and its live Python
    workers."""
    pids = [os.getpid()]
    jp = jvm_pid()
    if jp is not None:
        pids += [jp] + descendants(jp)
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then the JVM, and wait until it and every process it
    started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and _state(pid) != "Z":
                if time.monotonic() > deadline:
                    break
                time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"
