"""End-to-end pipeline driver + cache sink tests."""

from __future__ import annotations

import json
import tempfile
import uuid
from pathlib import Path

import pytest

from fest_vibes_ai_etl_spark.operators.enrich import EMBED_DIM
from fest_vibes_ai_etl_spark.pipeline import cache_sink, driver
from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_fixture


@pytest.fixture(scope="module")
def result(spark):
    return driver.run_pipeline(
        spark,
        bronze_fixture(spark),
        dates=["2025-03-01", "2025-03-02"],
        ref_date="2025-03-01",
    )


def test_layers_present(result):
    assert set(result) >= {
        "genres", "artists", "venues", "events", "artist_genres",
        "quarantine", "cache_payload",
    }
    assert result["quarantine"].count() == 2


def test_enrichment_applied(result):
    venues = result["venues"].collect()
    assert all(r.latitude is not None and r.longitude is not None for r in venues)
    artists = result["artists"].collect()
    assert all(
        r.description_embedding is not None and len(r.description_embedding) == EMBED_DIM
        for r in artists
    )
    events = result["events"].collect()
    assert all(e.event_text_embedding is not None for e in events)


def test_cache_payload_covers_both_dates(result):
    keys = {r.cache_key for r in result["cache_payload"].collect()}
    assert keys == {"events:2025-03-01", "events:2025-03-02"}


def test_export_to_cache_filesystem_client(spark, result):
    out = Path(tempfile.mkdtemp(prefix="fest_cache_"))

    class FileClient:
        """setex → one file per key (filesystem is the executor-visible
        shared store in tests; Redis pipeline in deployment)."""

        def setex(self, key, ttl, value):
            (out / key.replace(":", "_")).write_text(json.dumps({"ttl": ttl, "doc": value}))

    n = cache_sink.export_to_cache(result["cache_payload"], client_factory=FileClient)
    assert n == 2
    files = sorted(p.name for p in out.glob("events_*"))
    assert files == ["events_2025-03-01", "events_2025-03-02"]
    payload = json.loads((out / "events_2025-03-01").read_text())
    docs = json.loads(payload["doc"])
    assert isinstance(docs, list) and len(docs) == 3
    assert payload["ttl"] == 3600  # today tier
    names = [d["artist_data"]["name"] for d in docs]
    assert names == ["Galactic", "Ellis Marsalis Quartet", "Kermit Ruffins"]  # W1 order


def test_gold_plan_reads_unembedded_silver(result):
    """The cache document carries no embedding, and mapInPandas is opaque
    to column pruning: a gold plan over embedded silver re-runs every
    embedding UDF and drops its output. Gold must read the un-embedded
    silver while the returned silver layers keep their embeddings."""
    plan = result["cache_payload"]._jdf.queryExecution().optimizedPlan().toString()
    assert "_embedding" not in plan
    for layer, col in (
        ("artists", "description_embedding"),
        ("venues", "venue_info_embedding"),
        ("events", "event_text_embedding"),
    ):
        assert col in result[layer].columns, (layer, col)


def test_export_to_cache_evaluates_payload_once(spark, tmp_path):
    """The key count comes from the write itself: the payload plan runs
    once, and the return value is the number of keys the client wrote."""
    from pyspark.sql import functions as F

    rows = [
        ("events:2025-03-01", '{"e":1}', 3600, 1, 1),
        ("events:2025-03-01", '{"e":2}', 3600, 2, 2),
        ("events:2025-03-01", '{"e":3}', 3600, 3, 3),
        ("events:2025-03-02", '{"e":4}', 86400, 1, 4),
        ("events:2025-03-02", '{"e":5}', 86400, 2, 5),
    ]
    base = spark.createDataFrame(
        rows, "cache_key string, payload string, ttl_seconds int, sort_ts long, event_id long"
    )
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(key):
        evaluated.add(1)
        return key

    payload = base.withColumn("cache_key", counted("cache_key"))

    class FileClient:
        """One file per setex call, so the test sees every write."""

        def setex(self, key, ttl, value):
            (tmp_path / f"setex_{uuid.uuid4().hex}").write_text(key)

    n = cache_sink.export_to_cache(payload, client_factory=FileClient)
    assert evaluated.value == len(rows)
    written = sorted(p.read_text() for p in tmp_path.glob("setex_*"))
    assert written == ["events:2025-03-01", "events:2025-03-02"]
    assert n == len(written)
    assert cache_sink.export_to_cache(base.filter("false"), client_factory=FileClient) == 0


# Jobs the daily job submits over bronze_fixture: run_pipeline, the silver
# events write, the gold write and the cache export. 64-65 measured (one
# job more in a fresh session); 106 before gold read the un-embedded silver,
# the bridges stopped joining back to their dims and the fact, and the
# export counted its keys during the write. Reverting only the first adds 5
# jobs, only the second 10.
DAILY_JOB_MAX_JOBS = 68


def test_daily_job_count_ceiling(spark, tmp_path):
    """Job-count ceiling for the daily EventDTO job: a reintroduced second
    pass over the gold plan, embedding UDFs back in the gold plan, or
    bridges joined back to their dims adds jobs and fails here."""
    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.sources.lakehouse import write_partitioned

    sc = spark.sparkContext
    sc.setJobGroup("daily_job", "run_pipeline -> silver/gold writes -> export")
    try:
        layers = driver.run_pipeline(
            spark,
            bronze_fixture(spark),
            dates=["2025-03-01", "2025-03-02"],
            ref_date="2025-03-01",
        )
        write_partitioned(layers["events"], str(tmp_path / "silver_events"), ["event_date"])
        gold = layers["cache_payload"].withColumn(
            "event_date", F.to_date(F.regexp_extract("cache_key", r"events:(.*)$", 1))
        )
        write_partitioned(gold, str(tmp_path / "gold"), ["event_date"])
        keys = cache_sink.export_to_cache(layers["cache_payload"], namespace="daily_job")
    finally:
        sc.setJobGroup("daily_job_done", "after")
    n = len(sc.statusTracker().getJobIdsForGroup("daily_job"))
    assert keys == 2
    assert 0 < n <= DAILY_JOB_MAX_JOBS, f"daily job submitted {n} Spark jobs"


def test_pipeline_persists_into_versioned_table(spark, tmp_path):
    """End-to-end: bronze -> run_pipeline -> versioned fact table. A
    re-run with the same txn id is collapsed (no new version); the stored
    fact equals the computed silver fact."""
    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.pipeline.driver import (
        persist_silver_versioned,
        run_pipeline,
    )
    from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_fixture
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    layers = run_pipeline(
        spark, bronze_fixture(spark), dates=["2025-03-01"], with_embeddings=False
    )
    root = str(tmp_path / "silver")
    v1 = persist_silver_versioned(spark, layers, root, txn=("daily", 1))
    assert v1 == 1
    # double-fired scheduler run: same txn -> no new version
    assert persist_silver_versioned(spark, layers, root, txn=("daily", 1)) == 1
    t = VersionedParquetTable(f"{root}/events", "event_date")
    stored = {
        r.wwoz_event_href
        for r in t.read(spark).select("wwoz_event_href").collect()
    }
    computed = {
        r.wwoz_event_href
        for r in layers["events"].select("wwoz_event_href").collect()
    }
    assert stored == computed and len(stored) > 0
    # event_date round-trips as the hive partition column
    assert t.read(spark).filter(F.col("event_date").isNull()).count() == 0
