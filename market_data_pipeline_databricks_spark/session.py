"""SparkSession factory.

Settings are chosen for both local[N] testing and a large multi-executor
cluster: AQE handles runtime re-planning (partition coalescing, skew-join
splitting, dynamic broadcast), Arrow accelerates any pandas-interop
surface, and the session timezone is pinned to UTC so timestamp
semantics are deployment-independent.

The defaults fit the box ``get_spark`` runs on: a local master gets
``local[N]`` and N shuffle partitions, N the CPU count, and the driver
heap is half the memory in ``/proc/meminfo``, at most 16g.
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override them.

Local filesystem. Hadoop's default ``file:`` filesystem writes a
``.crc`` sidecar beside every file and, without Hadoop's native
library, forks ``chmod`` for every file and directory it creates. A
local master instead uses ``jvm/NioLocalFileSystem.java``: Hadoop's raw
local filesystem (no sidecars) setting permissions through java.nio,
for ``FileSystem`` and ``FileContext`` users (streaming checkpoints)
alike. The first session compiles it with ``javac`` against Spark's
jars into a jar cached under ``$XDG_CACHE_HOME`` (default
``~/.cache``), named by the sha256 of the source and the Spark version;
later sessions load the cached jar. Without ``javac`` the session falls
back to Hadoop's ``RawLocalFileSystem``: no sidecars, but still two
``chmod`` forks per file. In place of the sidecars, parquet page
checksums (which Spark writes) are verified on every read; footers are
not covered. Streaming state files keep Spark's own ``<file>.crc``
checksums, which are not Hadoop sidecars. A non-local master keeps its
cluster's filesystem.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import warnings
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for pandas UDF surfaces (documents/embeddings ops).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # 128 MB split target: good parquet scan parallelism at any scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    # the integrity check that remains without .crc sidecars
    "spark.hadoop.parquet.page.verify-checksum.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

#: driver heap cap: the driver does little data work, and a larger G1
#: heap made young collections slower, not fewer
_MAX_DRIVER_MB = 16 * 1024

_MEMINFO = "/proc/meminfo"

_JAVA_SOURCE = Path(__file__).parent / "jvm" / "NioLocalFileSystem.java"
_NIO_FS = "market_data_pipeline_databricks_spark.jvm.NioLocalFileSystem"
_RAW_FS = "org.apache.hadoop.fs.RawLocalFileSystem"
_RAW_AFS = "org.apache.hadoop.fs.local.RawLocalFs"
_FS_IMPL = "spark.hadoop.fs.file.impl"
_AFS_IMPL = "spark.hadoop.fs.AbstractFileSystem.file.impl"
_CLASS_PATH = "spark.driver.extraClassPath"


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of MemTotal capped at
    ``_MAX_DRIVER_MB``; the cap where the memory is unknown."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open(_MEMINFO) as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{_MAX_DRIVER_MB}m"
    return f"{min(_MAX_DRIVER_MB, total_kb // 2048)}m"


def _is_local(master: str) -> bool:
    """One JVM runs driver and tasks, so the driver classpath reaches
    both (``local-cluster`` starts executors of its own)."""
    return re.fullmatch(r"local(\[[^\]]*\])?", master) is not None


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home and os.access(Path(home, "bin", "javac"), os.X_OK):
        return str(Path(home, "bin", "javac"))
    return shutil.which("javac")


def _local_fs_jar() -> str | None:
    """Path of the compiled ``NioLocalFileSystem`` jar, compiled into
    the cache on first use; ``None`` where it cannot be compiled."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    key = hashlib.sha256(_JAVA_SOURCE.read_bytes() + pyspark.__version__.encode())
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    jar = cache / "market_data_pipeline_databricks_spark" / f"nio-local-fs-{key.hexdigest()[:16]}.jar"
    if jar.is_file():
        return str(jar)
    javac = _javac()
    if javac is None:
        return None
    jars = Path(_find_spark_home()) / "jars" / "*"
    try:
        jar.parent.mkdir(parents=True, exist_ok=True)
        # compiled and zipped under a temporary name, renamed into place:
        # a concurrent session never loads a half-written jar
        with tempfile.TemporaryDirectory(dir=jar.parent) as tmp:
            subprocess.run(
                [javac, "--release", "17", "-cp", str(jars), "-d", tmp, str(_JAVA_SOURCE)],
                check=True, capture_output=True, timeout=300)
            part = Path(tmp) / jar.name
            with zipfile.ZipFile(part, "w") as z:
                for cls in sorted(Path(tmp).rglob("*.class")):
                    z.write(cls, cls.relative_to(tmp).as_posix())
            os.replace(part, jar)
    except (OSError, subprocess.SubprocessError) as e:
        warnings.warn(f"NioLocalFileSystem not compiled ({e}); using {_RAW_FS}")
        return None
    return str(jar)


def _session_conf(master: str, jar: str | None, extra_conf: dict[str, str] | None = None
                  ) -> dict[str, str]:
    """The session's settings: defaults sized for this box, the local
    filesystem (``jar``'s, or Hadoop's raw one where ``jar`` is None)
    for a local master, then ``extra_conf``, whose class path is
    merged with the jar."""
    conf = {**_DEFAULTS,
            "spark.sql.shuffle.partitions": _cpus(),
            "spark.driver.memory": _driver_memory()}
    if _is_local(master):
        if jar is None:
            conf.update({_FS_IMPL: _RAW_FS, _AFS_IMPL: _RAW_AFS})
        else:
            conf.update({_FS_IMPL: _NIO_FS, _AFS_IMPL: f"{_NIO_FS}$Fs", _CLASS_PATH: jar})
    caller = dict(extra_conf or {})
    if _CLASS_PATH in conf and caller.get(_CLASS_PATH):
        caller[_CLASS_PATH] = f"{caller[_CLASS_PATH]}{os.pathsep}{conf[_CLASS_PATH]}"
    return {**conf, **caller}


def _loadable(class_name: str) -> bool:
    """Whether a JVM this process already started can load
    ``class_name``: its class path is fixed at launch."""
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return True
    try:
        jvm.java.lang.Class.forName(class_name)
    except Py4JJavaError:
        return False
    return True


def get_spark(
    app_name: str = "market_data_pipeline_databricks_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or
    ``local[<CPU count>]`` without it.
    """
    if master is None:
        master = f"local[{_cpus()}]"
    jar = _local_fs_jar() if _is_local(master) else None
    if jar is not None and not _loadable(_NIO_FS):
        jar = None
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_conf(master, jar, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
