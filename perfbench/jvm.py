"""The JVM behind a phase: start a session, read its peak memory, stop it.

Every phase runs in a JVM of its own, so no phase inherits another's
JIT-compiled code or caches.
"""

from __future__ import annotations

import os

from inputs import GENERATOR_PARALLELISM


def start_session(work: str, log_dir: str | None = None):
    """A session from the package's ``get_spark`` that keeps its files under
    ``work``; with ``log_dir``, Spark's event log is written there. It
    launches a JVM when none is running."""
    from supplier_performance_data_pipeline_spark.session import get_spark

    conf = {
        # The generated inputs depend on it (see inputs.GENERATOR_PARALLELISM).
        "spark.default.parallelism": str(GENERATOR_PARALLELISM),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # No hsperfdata file in the system temp directory either. The JIT
        # compiler threads live as long as the JVM, so clock.jit_cpu_s
        # finds them all.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir:
        # one plain JSON-lines file per SparkContext
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{log_dir}"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", extra_conf=conf)


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for {pid}")


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def reset_peak_rss() -> None:
    for pid in ("self", jvm_pid()):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set of this process and of its JVM since the last reset."""
    return _hwm_kb("self") / 1024.0, _hwm_kb(jvm_pid()) / 1024.0


def stop_jvm() -> None:
    """Stop the session, shut the gateway JVM down and wait for it to exit,
    so that the next session starts a fresh JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
