"""Shuffle-pruned top-k: the window equals a Python reference ranking,
and Spark's own WindowGroupLimit does the map-side prune."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators.topk import topk_per_group
from fest_vibes_ai_etl_spark.sources import table


def test_pruned_equals_unpruned(spark):
    """The window (pruned map-side by Spark's WindowGroupLimit) returns
    exactly a plain Python per-user ranking: sort by (value desc,
    event_id asc), keep the first 3."""
    ev = table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )
    got = {
        tuple(r)
        for r in topk_per_group(ev, ["user_id"], "value", "event_id", 3).collect()
    }
    by_user: dict = {}
    for r in ev.collect():
        by_user.setdefault(r.user_id, []).append(r)
    want = set()
    for rows in by_user.values():
        ranked = sorted(rows, key=lambda r: (-r.value, r.event_id))
        want |= {
            (r.event_id, r.user_id, r.value, rk)
            for rk, r in enumerate(ranked[:3], start=1)
        }
    assert got == want and len(got) > 0


def test_map_side_prune_reduces_rows(spark):
    """The map-side prune is Spark's own: the optimized plan carries
    WindowGroupLimit below the final filter, and the result holds at
    most k rows per user."""
    ev = (
        table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "value")
        .repartition(8)
    )
    pruned = topk_per_group(ev, ["user_id"], "value", "event_id", 2)
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    assert "WindowGroupLimit" in plan
    n_users = ev.select("user_id").distinct().count()
    assert pruned.count() <= 2 * n_users


def test_default_path_uses_jvm_window_group_limit(spark):
    """The default (no Python prune) plan must carry Spark's own map-side
    WindowGroupLimit and NO Python boundary."""
    ev = table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    plan = (
        topk_per_group(ev, ["user_id"], "value", "event_id", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert "MapInPandas" not in plan
