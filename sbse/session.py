"""SparkSession factory tuned for the engine.

Settings chosen for 100 TB-scale behavior (AQE, skew-join handling, Arrow
batches) while remaining correct on local[N]:

- session timezone pinned UTC (event-time determinism; reference stamps
  UTC at ingest, cmd/ingestor/main.go:130),
- AQE on with skew-join splitting (hot `source` values; north_rule),
- Arrow execution on for every pandas UDF exchange,
- Python workers that load the installed, byte-compiled pyspark
  (``sbse.pydaemon``) instead of compiling ``pyspark.zip`` from source in
  every fresh job, which cuts the first Python stage of a cold job by
  ~0.45 s. It is selected only on local-mode sessions in a JVM that
  ``get_spark`` launched itself (not under spark-submit): only there is the
  repository root, exported on ``PYTHONPATH`` below, on the daemon's
  startup path, and anywhere else an unimportable daemon module would fail
  every Python UDF. The daemon moves the zip behind the installed copy
  only when both declare the same ``__version__``. The decision and its
  inputs are recorded in the informational
  ``spark.sbse.pythonWorkerPyspark`` conf entry
  (``"<installed|zip> zip=<version> installed=<version>"``),
- PySpark's per-Column call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
  ``F.*`` call and Column operator makes ~6 py4j round trips to record the
  Python line that built it, which multiplied plan building several times
  over. The cost: a runtime error's "DataFrame query context" no longer
  names the Python line that built the failing expression.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
import uuid
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

from sbse import pydaemon

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    master: str | None = None,
    app_name: str = "sbse",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    # Workers must be able to import sbse for Arrow UDFs shipped by reference.
    pypath = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pypath if pypath else "")
        )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SBSE_DRIVER_MEM", "8g"))
    )
    # Only a JVM launched here (now, or by an earlier call in this process)
    # has the repository root on the Python workers' startup path.
    gateway = SparkContext._gateway
    if gateway is None or getattr(gateway, "_sbse_launched", False):
        for k, v in worker_daemon_conf(master).items():
            b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if gateway is None:
        SparkContext._gateway._sbse_launched = True
    ensure_shipped(spark)
    return spark


def frame_sql(template: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(template, **frames)`` for DataFrame arguments: each
    ``{name}`` in ``template`` reads ``frames[name]`` through a uniquely
    named temporary view, dropped once the statement is analysed. It costs
    two py4j round trips per frame plus one.

    PySpark's own formatter drops its views through ``Catalog.dropTempView``,
    which re-analyses the view's plan (~8 ms a view) and uncaches every
    cached plan with the view's result: a stage built over a persisted
    frame (a tier the caller persisted) would unpersist its input. The
    views here are private, never cached by name, so they are dropped from
    the session catalog directly."""
    spark = next(iter(frames.values())).sparkSession
    names = {k: f"_sbse_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df._jdf.createOrReplaceTempView(names[k])
    try:
        return DataFrame(spark._jsparkSession.sql(template.format(**names)), spark)
    finally:
        catalog = getattr(spark, "_sbse_catalog", None)
        if catalog is None:
            catalog = spark._sbse_catalog = (
                spark._jsparkSession.sessionState().catalog())
        for n in names.values():
            catalog.dropTempView(n)


def worker_daemon_conf(master: str) -> dict[str, str]:
    """Python worker settings for a JVM that ``get_spark`` launched: none
    under spark-submit (``PYSPARK_GATEWAY_PORT``) or off local mode, else
    the decision record, plus the ``sbse.pydaemon`` module when the workers
    would load the installed pyspark through it."""
    local = master == "local" or master.startswith("local[")
    if os.environ.get("PYSPARK_GATEWAY_PORT") or not local:
        return {}
    # the zip Spark puts first on the workers' path (PythonUtils.sparkPythonPath)
    zpath = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    path = ([zpath] if os.path.isfile(zpath) else []) + sys.path
    new, info = pydaemon.worker_path(path)
    conf = {"spark.sbse.pythonWorkerPyspark":
            f"{info['source']} zip={info['zip']} installed={info['installed']}"}
    if new != path:
        conf["spark.python.daemon.module"] = "sbse.pydaemon"
    return conf


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the sbse package to executors (the --py-files story).

    Safe to call on sessions we did not create (e.g. the driver's): zips the
    package once per process and registers it via ``addPyFile`` so Arrow
    UDFs that reference sbse by module resolve on workers. The zip lives in
    a private temporary directory removed at interpreter exit, not right
    after ``addPyFile``: in local mode the file server keeps serving it.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sbse_shipped", False):
        return
    zpath = _package_zip()
    try:
        sc.addPyFile(zpath)
    except Exception:  # pragma: no cover - already added in this session
        pass
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    sc._sbse_shipped = True


@functools.lru_cache(maxsize=None)
def _package_zip() -> str:
    """This process's zip of the sbse package, written on first use."""
    tmp = tempfile.mkdtemp(prefix="sbse_pkg_")
    atexit.register(shutil.rmtree, tmp, True)
    zpath = os.path.join(tmp, "sbse_pkg.zip")
    pkg_dir = os.path.join(_REPO_ROOT, "sbse")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    return zpath
