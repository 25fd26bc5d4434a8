"""Mirror of the DRIVER's session configuration: the correctness harness
builds its own SparkSession without this repo's confs (no UTC session TZ, no
nanosAsLong, default everything). Round 1 shipped red precisely because the
parity suite only ever ran under the builder's configured session — the
TIMESTAMP_NTZ reads slipped through untested. This module re-runs the
formerly-red query class (every event-time call site) plus one query per
oracle family on a ``newSession()`` with default SQLConf, so a conf-drift
regression fails HERE before it fails at the driver."""

from __future__ import annotations

import pytest

from fest_vibes_ai_etl_spark.plans import catalog

from conftest import SF_DIR
from test_oracle_parity import _rows

# The queries whose plans touch event-time (the round-1 red class), plus a
# spread across oracle families that exercise timestamps, arrays, binary and
# approx aggregates under default confs.
VIRGIN_QUERIES = [
    "events_time_weighted_value",
    "events_transition_matrix",
    "events_funnel_ordered",
    "events_trend_per_user",
    "events_session_window_builtin",
    "events_sessionization",
    "events_hourly_rollup",
    "asof_join_latest_purchase",
    "range_join_error_window",
    "dedup_minhash_lsh",
    # round-4: count-strategy Jaccard verify (map-side combined groupBy)
    "dedup_ngram_jaccard",
    # round-4: grid-bucket haversine join (double trig under default confs)
    "geo_radius_pairs",
    # round-4: real-container synthesis + header parse through mapInPandas
    "multimodal_real_decode_meta",
    # round-4: KMV estimator (portable md5-60 hash + double division)
    "sketch_kmv_daily_users",
    "multimodal_decode_meta",
    "approx_distinct_users",
    "q1_pricing_summary",
    # round-2 event-time additions — every one touches ts under default confs
    "events_max_concurrency",
    "events_attribution_last_touch",
    "events_rfm_segments",
    "events_daily_gapfill",
    "events_user_gap_stats",
    "events_time_to_convert",
    # round-3 additions: newly-oracled / restructured queries whose output
    # depends on conf-sensitive machinery (to_json timestamp rendering, the
    # persisted graph/IVF stores, tie-safe distinct-value windows)
    "pipeline_gold_event_documents",
    "ann_ivf_topk",
    "events_ks_statistic",
    "graph_pagerank_suppliers",
    "text_charlm_scores",
    # round-3 vector-ML family: literal-codebook argmin/argmax, array
    # slices, expr lambdas, Arrow Gram partials — all under default confs
    "pq_codes_stats",
    "quality_classifier_hashed",
    "embedding_covariance_topk",
    # round-3 event-time additions (the conf-sensitive class): date
    # arithmetic + censoring cutoffs must hold under default session TZ
    "events_survival_curve",
    "events_cusum_changepoint",
    "events_psi_value_drift",
]


@pytest.fixture(scope="module")
def virgin(spark):
    """A session with DEFAULT runtime confs (what an external driver hands
    us): same SparkContext, fresh SQLConf — no UTC TZ, no legacy parquet
    flags, default shuffle partitions."""
    return spark.newSession()


@pytest.mark.parametrize("name", [q for q in VIRGIN_QUERIES])
def test_virgin_session_parity(virgin, duck, name):
    spec = catalog.REGISTRY[name]
    if spec.oracle is None:
        pytest.skip(f"{name} has no oracle")
    sdf = spec.fn(virgin, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), name
    assert _rows(spark_cols, spark_rows) == _rows(duck_cols, duck_rows), name


def test_catalog_queries_load_registry():
    catalog.queries()
    assert all(n in catalog.REGISTRY for n in VIRGIN_QUERIES)


def test_configure_runs_once_per_session(spark):
    """``table()`` configures a session once: a conf the caller sets
    afterwards survives the next scan, and a ``newSession()`` (its own
    SQLConf) still gets the package values on its first scan."""
    from fest_vibes_ai_etl_spark.sources.tables import table

    aqe = "spark.sql.adaptive.enabled"
    mine = spark.newSession()
    table(mine, SF_DIR, "region")
    mine.conf.set(aqe, "false")
    table(mine, SF_DIR, "region")
    assert mine.conf.get(aqe) == "false"
    fresh = spark.newSession()
    fresh.conf.set(aqe, "false")
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    table(fresh, SF_DIR, "nation")
    assert fresh.conf.get(aqe) == "true"
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
