"""SparkSession factory with the engine's recommended conf.

Scale posture: AQE on (runtime re-plan + skew-join backstop), Arrow on
(every Python stage is Arrow-batched), shuffle partitions sized to the
local core count for tests — on a real cluster set
``spark.sql.shuffle.partitions`` ~ 2-3x total cores and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_pkg_zip(dest: str | None = None, force: bool = False) -> str:
    """Zip the ``xcrawl3r_spark`` package for ``spark-submit --py-files``.

    Returns the zip path. Used both by ``ship_package`` (in-process
    addPyFile) and ``tools/make_pyfiles.py`` (cluster submission artifact).
    """
    import tempfile
    import zipfile

    import xcrawl3r_spark

    pkgdir = os.path.dirname(os.path.abspath(xcrawl3r_spark.__file__))
    if not os.path.isdir(pkgdir):
        # imported from a zip (spark-submit --py-files): that zip IS the
        # artifact — reuse it rather than walking a non-filesystem path
        zip_src = pkgdir.rsplit(".zip", 1)[0] + ".zip"
        if os.path.exists(zip_src):
            return zip_src
        raise RuntimeError(
            f"cannot locate package source for zipping: {pkgdir}")
    root = os.path.dirname(pkgdir)
    # the default zip path is keyed by the package's source root: two
    # checkouts (e.g. a git worktree of an old rev for an A/B bench next
    # to the live repo) must not share one zip — the newer-checkout
    # rebuild has a fresh mtime, so the other checkout's staleness check
    # passes and it silently ships the WRONG code to executors (found by
    # the /verify drive: AttributeError on a just-added function).
    import hashlib

    tag = hashlib.md5(root.encode()).hexdigest()[:8]
    zpath = dest or os.path.join(
        tempfile.gettempdir(), f"xcrawl3r_spark_pkg_{tag}.zip")
    # a cached zip is stale the moment any package module is newer than it
    # (a stale zip ships silently and workers ModuleNotFoundError on any
    # module added since — caught by the /verify drive, keep this check)
    latest = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(pkgdir) for f in fs if f.endswith(".py")
    )
    stale = not os.path.exists(zpath) or os.path.getmtime(zpath) < latest
    if force or stale:
        os.makedirs(os.path.dirname(os.path.abspath(zpath)), exist_ok=True)
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _, files in os.walk(pkgdir):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Make ``xcrawl3r_spark`` importable on executor Python workers.

    Driver-side ``sys.path`` does not propagate to workers, so any
    pandas-UDF / mapInPandas stage referencing package modules fails with
    ModuleNotFoundError when the host app runs outside the repo dir (the
    ``spark-submit --py-files`` problem). This zips the package once and
    ``addPyFile``s it — the in-process equivalent of ``--py-files``.
    """
    spark.sparkContext.addPyFile(build_pkg_zip())


def get_spark(
    app: str = "xcrawl3r_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash joins where the per-partition
        # build side fits (guide §3.1/§9): sort-merge pays two sorts the
        # hash join skips; AQE's skew handling still applies. For A/Bs
        # against sort-merge, pass extra_conf=
        # {"spark.sql.join.preferSortMergeJoin": "true"} (applied after).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
