"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same configs translate to a multi-executor
cluster (AQE handles dynamic coalescing / skew joins / broadcast selection at
runtime, so plans written here survive a 100×+ scale-up without re-tuning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-mutable confs we also (re)assert on externally-provided sessions
# (e.g. the correctness driver's session) so plans behave deterministically.
_RUNTIME_CONFS = {
    # Deterministic timestamp rendering regardless of machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # The synthetic events table stores TIMESTAMP(NANOS), which Spark 4
    # rejects natively; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The listing DataSource implements pushFilters (fetch_date partition
    # pruning at the source); Spark 4.1 refuses to use such a reader unless
    # this runtime conf is on.
    "spark.sql.python.filterPushdown.enabled": "true",
    # AQE: runtime re-planning — coalesce post-shuffle partitions, convert
    # sort-merge→broadcast when a side turns out small, split skewed joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

_BUILD_CONFS = {
    # Arrow for pandas UDF / mapInPandas hot paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local default; on a real cluster this is sized ≈ 2-3× total cores and
    # AQE coalesces down. 32 matches the local[32] test harness.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


# Confs that could not be set on an externally-provided session, keyed by
# conf name → error string. Inspected by tests and surfaced via warnings so a
# silent conf failure can't mask a semantic divergence again (the round-1
# TIMESTAMP_NTZ bug shipped precisely because this dict didn't exist).
CONF_FAILURES: dict[str, str] = {}


def configure(spark: SparkSession) -> SparkSession:
    """Assert runtime-settable confs on an existing session (driver-provided),
    once per session: a marker in the session's own SQLConf records that it
    ran, so a caller's later setting (say AQE off) is not reverted by the
    next scan, and a scan costs one conf read instead of six sets. A
    ``newSession()`` has a fresh SQLConf and is configured on first use; a
    clone (a stream's batch session) copies the confs and the marker.

    Failures are recorded in :data:`CONF_FAILURES` and warned once rather than
    swallowed; callers that depend on a conf (e.g. UTC session TZ for
    NTZ-cast identity) can check it, and sources fall back to dtype
    inspection instead of assuming the conf stuck (sources/tables.py)."""
    marker = "spark.fest_vibes.configured"
    if spark.conf.get(marker, None) == "true":
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # startup-only conf on a live session
            if k not in CONF_FAILURES:
                import warnings

                CONF_FAILURES[k] = str(exc)
                warnings.warn(
                    f"could not set {k}={v} on provided SparkSession: {exc}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    spark.conf.set(marker, "true")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's cwd/sys.path (UDF closures may reference package modules,
    which cloudpickle pickles by module reference). Zips the package once per
    session and registers it with addPyFile."""
    sc = getattr(spark, "sparkContext", None)
    if sc is None or getattr(sc, "_fest_vibes_shipped", False):
        return
    try:
        import shutil
        import tempfile
        from pathlib import Path

        pkg_dir = Path(__file__).resolve().parent
        zip_base = Path(tempfile.gettempdir()) / "fest_vibes_ai_etl_spark_pkg"
        zip_path = shutil.make_archive(
            str(zip_base), "zip", root_dir=str(pkg_dir.parent), base_dir=pkg_dir.name
        )
        sc.addPyFile(zip_path)
        sc._fest_vibes_shipped = True
    except Exception:
        pass  # local[*] with repo cwd still works without shipping


def get_spark(app_name: str = "fest-vibes-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in {**_BUILD_CONFS, **_RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
