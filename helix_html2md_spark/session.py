"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon


def _paths(value: str | None) -> list[str]:
    return [os.path.realpath(p) for p in (value or "").split(os.pathsep) if p]


def _workers_import_package(master: str, extra_conf: dict) -> bool:
    """Whether a Python worker can import this package when it starts.

    Workers of every master see ``spark.executorEnv.PYTHONPATH``; workers
    of a ``local``/``local[N]`` master also inherit this process's working
    directory and ``PYTHONPATH`` (they are children of the JVM it
    launched, or of the ``spark-submit`` JVM that launched it).  A package
    loaded from an archive (``--py-files engine.zip``) is never on that
    path: Spark adds such files per task."""
    pkg = os.path.dirname(os.path.abspath(worker_daemon.__file__))
    root = os.path.dirname(pkg)
    if not os.path.isdir(pkg):
        return False
    seen = _paths(extra_conf.get("spark.executorEnv.PYTHONPATH"))
    if master == "local" or master.startswith("local["):
        seen += _paths(os.getcwd()) + _paths(os.environ.get("PYTHONPATH"))
    return os.path.realpath(root) in seen


def build_session(
    app_name: str = "helix-html2md-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create/get a session.

    * Arrow batches are capped at 64 rows because a batch of 1 MB
      documents must fit in the Python worker (SURVEY.md §4.2).  With the
      Arrow row crossing (operators/gate.py::map_rows), 64, 256 and 1024
      rows per batch measured flat on perfbench's ``small_pages``
      (median docs/s 3039 / 2800 / 2952, three runs each, 4-vCPU VM),
      so the cap stays at 64 for that memory bound.
    * AQE on: runtime coalescing + skew-join handling for the battery's
      joins (dedup bucket self-joins, corpus term-keyed joins).
    * Python workers start from :mod:`.worker_daemon`, which imports the
      installed, bytecode-cached pyspark instead of Spark's
      ``pyspark.zip``: on a 4-vCPU VM that cut the first one-row
      ``mapInArrow`` job of a restarted session from 1.75-1.96 s to
      0.54-0.65 s, and the same job on a reused worker from 0.37 s to
      0.20 s (median).  The JVM starts the
      daemon before any task ships ``--py-files``, so the module is set
      only when the package sits on the workers' start-up path (see
      :func:`_workers_import_package`); otherwise, and on any worker
      whose installed pyspark differs from Spark's zip, Spark's own
      daemon and ``sys.path`` are used.
    """
    explicit = master is not None
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and not explicit and (
        master == "local" or master.startswith("local[")
    ):
        # env parallelism applies only when the caller didn't pin a
        # master, and only to single-JVM local[N] masters: a bare
        # startswith("local") also matches 'local-cluster[2,2,1024]'
        # and would silently rewrite a distributed-test master into one
        # JVM (no cross-executor serialization, no real shuffles)
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.session.timeZone", "UTC")
        # pinned: the engine's null/overflow contracts are written and
        # oracled under ANSI semantics (size(NULL) = NULL, overflow
        # raises); a cluster-level ansi.enabled=false override would
        # silently turn null-text token counts into -1
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if _workers_import_package(master, extra_conf or {}):
        b = b.config("spark.python.daemon.module", worker_daemon.__name__)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # deployment knobs the defaults can't know (catalog confs, executor
    # env like PYTHONPATH for multi-JVM masters, memory overrides) —
    # applied LAST so a deployment can override any default above
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    return b.getOrCreate()
