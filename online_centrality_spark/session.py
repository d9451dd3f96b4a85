"""SparkSession factory with the engine's recommended configuration.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), Arrow on
(every Python kernel in this engine is a vectorized pandas UDF), shuffle
partitions sized to the parallelism level rather than the 200 default.
A local session serves ``file:`` paths with ``jvm/NioLocalFileSystem.java``,
which sets permissions without a ``chmod`` process per created path.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS = "online_centrality_spark.jvm.NioLocalFileSystem"


def _local_fs_conf() -> dict[str, str]:
    """Conf that serves ``file:`` paths with ``NioLocalFileSystem``,
    compiled once per version of its source into ``jvm/classes/``.
    Empty when no ``javac`` is found or the build fails: Hadoop's own
    local filesystem then runs, with its ``chmod`` processes."""
    src = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
    with open(src, "rb") as f:
        out = os.path.join(_JVM_DIR, "classes", hashlib.sha1(f.read()).hexdigest()[:12])
    home = os.environ.get("JAVA_HOME")
    javac = os.path.join(home, "bin", "javac") if home else shutil.which("javac")
    if not os.path.isdir(out) and javac and os.path.exists(javac):
        cp = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
        try:
            os.makedirs(os.path.dirname(out), exist_ok=True)
            # removed on the way out unless renamed to ``out``
            with tempfile.TemporaryDirectory(dir=os.path.dirname(out)) as tmp:
                # ~1 s: one jar to index, no annotation processors, C1 only
                subprocess.run(
                    [javac, "-nowarn", "-proc:none", "-J-XX:TieredStopAtLevel=1",
                     "-d", tmp, "-cp", os.pathsep.join(cp), src],
                    check=True, capture_output=True,
                )
                os.rename(tmp, out)  # fails if a concurrent build got there first
        except (OSError, subprocess.CalledProcessError):
            pass
    if not os.path.isdir(out):
        return {}
    return {"spark.driver.extraClassPath": out, "spark.hadoop.fs.file.impl": _LOCAL_FS}


def get_spark(
    app_name: str = "online_centrality_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); ``shuffle_partitions`` defaults to the core count so
    local shuffles don't fan out into hundreds of tiny partitions.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = int(cpus)
        else:
            shuffle_partitions = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = dict(extra_conf or {})
    # a class path counts only for a JVM this call starts; a caller's wins
    if (master.startswith("local") and SparkContext._active_spark_context is None
            and "spark.driver.extraClassPath" not in conf):
        conf = {**_local_fs_conf(), **conf}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
