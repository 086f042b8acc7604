"""Process set-up shared by the workloads: sizing, session, hashing."""

from __future__ import annotations

import datetime as dt
import math
import os
import subprocess

import numpy as np
import pandas as pd


def machine_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def machine_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 8.0


def driver_mem() -> str:
    """Driver heap: a quarter of the machine, 2-8 GB (the engine's own
    default of 24g would overcommit a small box)."""
    return f"{int(min(8, max(2, machine_mem_gb() // 4)))}g"


def configure_env(repo: str, work: str, eventlog_dir: str | None) -> None:
    """Environment the Spark driver and its Python workers inherit: the
    repo on PYTHONPATH (workers unpickle kernels by module name), session
    size from the machine, every scratch path under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(machine_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver) keeps its temp and perf
    # files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = []
    if eventlog_dir:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{eventlog_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs) + " pyspark-shell"


def start_session():
    from s3_glue_redshift_guide_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_session(spark):
    """Stop the SparkContext and build a new one in the same JVM."""
    spark.stop()
    return start_session()


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------- result hashing --

def canon_cell(v):
    """Engine-independent cell form: floats bit-exact via repr, temporal
    values in ISO form, sequences element-wise."""
    if v is None or v is pd.NaT or v is pd.NA:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return canon_cell(v.tolist())
    return str(v)


def _canon_column(col: pd.Series) -> pd.Series:
    kind = col.dtype.kind
    if kind in "iub":
        return col.astype("int64")
    if kind == "f":
        return col.astype("float64")
    if kind == "M":  # any resolution -> microseconds since the epoch
        return col.astype("datetime64[us]").astype("int64")
    return col.map(canon_cell).astype(object)


def frame_digest(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash) over columns sorted by name.
    Integer widths and timestamp resolutions are normalised first, so a
    Spark frame and a DuckDB frame holding the same values agree."""
    cols = sorted(df.columns)
    canon = pd.DataFrame({c: _canon_column(df[c]) for c in cols})
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return len(df), f"{','.join(cols)}:{int(rows.sum(dtype=np.uint64)):016x}"
