"""SparkSession factory tuned for this engine.

Local-mode defaults size themselves to the host (cores, RAM); on a real
cluster the same builder runs under spark-submit --py-files with
executor-level parallelism — nothing here is local-only except the
master default, which spark-submit overrides.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# AF_UNIX's sun_path: 108 bytes, the last one the terminating NUL
_UNIX_PATH_MAX = 107


def driver_memory(total_bytes: int | None = None) -> str:
    """A driver heap that fits the host: a fifth of RAM, 1-4 GiB."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total_bytes // (5 * 2**30)))}g"


def unix_socket_conf(sock_dir: str) -> dict[str, str]:
    """Conf that moves the JVM <-> Python traffic (UDF workers,
    ``collect``, accumulators) from loopback TCP onto Unix domain
    sockets in ``sock_dir``. Over TCP every Python task idles ~40 ms on
    the socket (a 1-row ``mapInArrow`` task runs ~50 ms, ~10 ms here).

    Spark names each socket ``<sock_dir>/.<uuid4>.sock``; where that
    path would not fit AF_UNIX's limit, this returns {} and Spark keeps
    its TCP default."""
    sock = os.path.join(sock_dir, f".{'0' * 36}.sock")
    if len(os.fsencode(sock)) > _UNIX_PATH_MAX:
        return {}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": sock_dir,
    }


def get_spark(
    app_name: str = "mapnik_vector_tile_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]`` locally; under spark-submit the
    master from the submit command wins (we never force one if a
    session already exists).
    """
    active = SparkSession.getActiveSession()
    if active is not None and cores is None and extra_conf is None:
        return active

    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        # ~2x cores: enough slots for AQE coalescing, not 200-wide tiny tasks
        shuffle_partitions = max(8, n_cores * 2)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one tile-group's features should fit one Arrow batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = unix_socket_conf(tempfile.gettempdir()) | (extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
