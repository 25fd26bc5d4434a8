"""Pipeline-semantics queries: merge/upsert engine + the EventDTO gold path.

The merge queries run on the driver tables so they get full DuckDB oracle
coverage; the EventDTO gold query runs on the deterministic bronze fixture
(rows-only check — its semantics are pinned down by tests/test_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import first_wins, merge_coalesce
from ..pipeline import gold, normalize
from ..pipeline.fixtures import bronze_fixture
from ..sources import table
from .catalog import register


def _merge_target(spark, sf_dir):
    """Simulated dim snapshot: every third segment NULLed, balances stale."""
    c = table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("segment"),
        F.round(F.col("c_acctbal"), 2).alias("bal"),
    )


def _merge_source(spark, sf_dir):
    """Fresh feed: odd keys are new rows; balances updated; segment present
    only for every fifth key (nulls must NOT clobber target values)."""
    c = table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_mktsegment")).alias("segment"),
        F.round(F.col("c_acctbal") + 100, 2).alias("bal"),
    )


@register(
    "merge_coalesce_upsert",
    oracle="""
    WITH t AS (
      SELECT c_custkey AS id, c_name AS name,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS segment,
             ROUND(c_acctbal, 2) AS bal
      FROM customer WHERE c_custkey % 2 = 0
    ),
    s AS (
      SELECT c_custkey AS id, c_name AS name,
             CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment END AS segment,
             ROUND(c_acctbal + 100, 2) AS bal
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT COALESCE(s.id, t.id)            AS id,
           ROUND(COALESCE(s.bal, t.bal), 2) AS bal,
           COALESCE(s.name, t.name)        AS name,
           COALESCE(s.segment, t.segment)  AS segment
    FROM t FULL OUTER JOIN s ON t.id = s.id
    """,
    tags=("merge", "upsert"),
)
def merge_coalesce_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upsert engine's core semantics (J2: new-if-not-null-else-keep,
    /root/reference/src/loader/service.py:348-351) as one full-outer merge."""
    t = _merge_target(spark, sf_dir)
    s = _merge_source(spark, sf_dir)
    return merge_coalesce(t, s, keys=["id"])


@register(
    "versioned_time_travel_sql",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice AS v
      FROM orders WHERE o_orderkey <= 2000
    ),
    v2 AS (
      SELECT k, p, CASE WHEN k <= 800 THEN v * 2 ELSE v END AS v FROM base
    )
    SELECT * FROM (
      SELECT 1 AS version, p, COUNT(*) AS n,
             ROUND(SUM(v) + 0.00000001, 2) AS total
      FROM base GROUP BY p
      UNION ALL
      SELECT 2 AS version, p, COUNT(*) AS n,
             ROUND(SUM(v) + 0.00000001, 2) AS total
      FROM v2 GROUP BY p
    ) ORDER BY version, p
    """,
    tags=("lakehouse", "time-travel", "sql"),
)
def versioned_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL time travel through the versioned table's `VERSION AS OF`
    rewrite (sources/merge_store.py `sql`): build a two-version table from
    orders (v1 = base slice, v2 = doubled totals for low keys via an
    overwrite merge), then aggregate BOTH versions in one statement — the
    plain name resolves to the auto-refreshed latest view, `VERSION AS OF 1`
    pins the historical manifest. The oracle replays the merge algebra
    directly on orders, so every byte of the time-travel read path
    (manifest resolution, per-version temp views, the rewrite regex) is
    value-checked. The table itself is staged in a per-run tmpdir: the
    query is hermetic and re-runnable at any SF (2 small merges ≪ the read
    under test). Doubling doubles are exact in IEEE754, so v2's sums match
    the oracle bit-for-bit before rounding."""
    import shutil
    import tempfile

    from ..sources.merge_store import VersionedParquetTable

    orders = table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") <= 2000).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.col("o_totalprice").alias("v"),
    )
    upd = orders.filter(F.col("o_orderkey") <= 800).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        (F.col("o_totalprice") * 2).alias("v"),
    )
    root = tempfile.mkdtemp(prefix="festvibes_vt_tt_")
    try:
        t = VersionedParquetTable(root + "/t", "p")
        t.merge(spark, base, keys=["k"])
        t.register_sql(spark, "vt_tt")  # registered at v1 ...
        t.merge(spark, upd, keys=["k"], overwrite_cols=["v"])
        # ... and the plain name below must still see v2 (auto-refresh)
        out = t.sql(
            spark,
            """
            SELECT * FROM (
              SELECT 1 AS version, p, COUNT(*) AS n,
                     ROUND(SUM(v) + 0.00000001, 2) AS total
              FROM vt_tt VERSION AS OF 1 GROUP BY p
              UNION ALL
              SELECT 2 AS version, p, COUNT(*) AS n,
                     ROUND(SUM(v) + 0.00000001, 2) AS total
              FROM vt_tt GROUP BY p
            ) ORDER BY version, p
            """,
        )
        # the tmpdir must outlive lazy execution: materialize driver-side
        # (tiny: 2 versions × ≤5 priorities) and rebuild a local frame
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "first_wins_latest_scrape",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn = 1
    """,
    tags=("merge", "dedup"),
)
def first_wins_latest_scrape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_wins operator (P12/W3 made deterministic): latest order per
    customer — the same pattern dedups scraped entities by latest scrape."""
    o = table(spark, sf_dir, "orders")
    return first_wins(
        o, keys=["o_custkey"], order_cols=[F.col("o_orderdate").desc(), F.col("o_orderkey")]
    ).select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("orderdate"),
    )


_GOLD_PAYLOADS = [
    # (payload, ttl, sort_ts, event_id) — byte-exact cache documents for the
    # three valid 2025-03-01 fixture events, in performance_time order.
    (
        '{"artist_data":{"name":"Galactic","description":"lorum ipsum",'
        '"genres":["Funk"],"related_artists":[],"wwoz_artist_href":"/artists/202"},'
        "\"venue_data\":{\"name\":\"Tipitina''s Outdoor Stage\",\"thoroughfare\":\"501 Napoleon Ave\","
        '"phone_number":"504-555-0100","locality":"New Orleans","state":"LA",'
        '"postal_code":"70115","full_address":"501 Napoleon Ave, New Orleans, LA 70115",'
        '"is_active":true,"wwoz_venue_href":"/venues/124","latitude":29.9511,'
        '"longitude":-90.0715},"event_data":{"event_date":"2025-03-01",'
        '"wwoz_event_href":"/events/458","description":"funk night","genres":["Funk"]},'
        '"performance_time":"2025-03-01T19:00:00.000Z",'
        '"scrape_time":"2025-02-28T12:00:00.000Z"}',
        3600,
        "2025-03-01 19:00:00",
        1334471606980787506,
    ),
    (
        '{"artist_data":{"name":"Ellis Marsalis Quartet","description":"lorum ipsum",'
        '"genres":["Blues","Jazz","Soul"],"related_artists":["Kermit Ruffins"],'
        '"wwoz_artist_href":"/artists/789"},"venue_data":{"name":"Snug Harbor",'
        '"thoroughfare":"626 Frenchmen St","phone_number":"504-555-0100",'
        '"locality":"New Orleans","state":"LA","postal_code":"70116",'
        '"full_address":"626 Frenchmen St, New Orleans, LA 70116","is_active":true,'
        '"wwoz_venue_href":"/venues/123","latitude":29.9511,"longitude":-90.0715},'
        '"event_data":{"event_date":"2025-03-01","wwoz_event_href":"/events/456",'
        '"description":"evening set (updated)","genres":["Jazz","Soul"]},'
        '"performance_time":"2025-03-01T20:00:00.000Z",'
        '"scrape_time":"2025-02-28T18:00:00.000Z"}',
        3600,
        "2025-03-01 20:00:00",
        -776199073862872697,
    ),
    (
        '{"artist_data":{"name":"Kermit Ruffins","description":"lorum ipsum",'
        '"genres":["Jazz"],"related_artists":[],"wwoz_artist_href":"/artists/101"},'
        '"venue_data":{"name":"Snug Harbor","thoroughfare":"626 Frenchmen St",'
        '"phone_number":"504-555-0100","locality":"New Orleans","state":"LA",'
        '"postal_code":"70116","full_address":"626 Frenchmen St, New Orleans, LA 70116",'
        '"is_active":true,"wwoz_venue_href":"/venues/123","latitude":29.9511,'
        '"longitude":-90.0715},"event_data":{"event_date":"2025-03-01",'
        '"wwoz_event_href":"/events/457","genres":["Jazz"]},'
        '"performance_time":"2025-03-01T21:30:00.000Z",'
        '"scrape_time":"2025-02-28T12:00:00.000Z"}',
        3600,
        "2025-03-01 21:30:00",
        2098145884565310154,
    ),
]


def _gold_oracle() -> str:
    rows = ",\n      ".join(
        f"('events:2025-03-01', '{p}', {ttl}, TIMESTAMP '{ts}', CAST({eid} AS BIGINT))"
        for p, ttl, ts, eid in _GOLD_PAYLOADS
    )
    return f"""
    SELECT * FROM (VALUES
      {rows}
    ) AS t(cache_key, payload, ttl_seconds, sort_ts, event_id)
    ORDER BY sort_ts, event_id
    """


@register(
    "pipeline_gold_event_documents",
    oracle=_gold_oracle(),
    tags=("pipeline", "gold", "flagship"),
    doc="End-to-end EventDTO pipeline on the deterministic bronze fixture: "
    "validate → normalize to silver star schema → §3.4 gold query (4-way "
    "join + collect_lists + TTL) → cache payload. The oracle is a GOLDEN "
    "expectation (the extractor_parse_listing pattern): the bronze fixture "
    "is static, so the exact serialized cache documents — the reference's "
    "actual cache contract, src/cache_manager/service.py:66-113 + "
    "src/shared/utils/helpers.py:17-53 — are pinned byte-for-byte, "
    "including JSON key order, null-field omission, TTL tier, and the "
    "latest-scrape-wins merge of the duplicate /events/456 row. Pipeline "
    "semantics are additionally asserted in tests/test_pipeline.py.",
)
def pipeline_gold_event_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    bronze = bronze_fixture(spark)
    silver = normalize.normalize(bronze)
    g = gold.events_for_dates(silver, ["2025-03-01"], ref_date="2025-03-01")
    return gold.to_cache_payload(g)


_LISTING_HTML = """
<div class="livewire-listing">
  <div class="panel panel-default">
    <h3 class="panel-title"><a href="/venues/123">Snug Harbor</a></h3>
    <div class="panel-body">
      <div class="row"><div class="calendar-info">
        <a href="/events/456">Ellis Marsalis Quartet</a><p>Jazz</p><p>8:00pm</p>
      </div></div>
      <div class="row"><div class="calendar-info">
        <a href="/events/789">Kermit Ruffins</a><p>Jazz, Blues</p><p>10:30pm</p>
      </div></div>
    </div>
  </div>
  <div class="panel panel-default">
    <h3 class="panel-title"><a href="/venues/456">Preservation Hall</a></h3>
    <div class="panel-body">
      <div class="row"><div class="calendar-info">
        <a href="/events/101">Preservation Hall Jazz Band</a><p>Traditional Jazz</p><p>8:00pm</p>
      </div></div>
    </div>
  </div>
</div>
"""


@register(
    "extractor_parse_listing",
    oracle="""
    SELECT * FROM (VALUES
      ('2025-03-01', 'Preservation Hall', '/venues/456',
       'Preservation Hall Jazz Band', '/events/101',
       '["Traditional Jazz"]', '8:00pm'),
      ('2025-03-01', 'Snug Harbor', '/venues/123',
       'Ellis Marsalis Quartet', '/events/456', '["Jazz"]', '8:00pm'),
      ('2025-03-01', 'Snug Harbor', '/venues/123',
       'Kermit Ruffins', '/events/789', '["Jazz","Blues"]', '10:30pm')
    ) AS t(event_date, venue_name, wwoz_venue_href, artist_name,
           wwoz_event_href, genres, time_text)
    ORDER BY wwoz_event_href
    """,
    tags=("extractor", "parse", "udtf"),
    doc="P1-P5/U5: listing-HTML page rows → parsed event rows via "
    "mapInPandas (1 page ⇒ N events), time text extracted F1-style. "
    "The oracle is a GOLDEN expectation, not an independent derivation "
    "(SQL cannot parse HTML): the input page is a static literal, so the "
    "expected rows are pinned verbatim and the driver value-hashes the "
    "parser against them. Parser semantics vs the reference's own fixture "
    "are separately pinned in tests/test_htmlparse.py.",
)
def extractor_parse_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.htmlparse import parse_listing_html

    pages = spark.createDataFrame([(_LISTING_HTML, "2025-03-01")], "html string, d string")
    parsed = parse_listing_html(pages, "html", "d")
    # The driver's rows-only canonicalizer sorts a pandas frame, which dies on
    # raw array cells (unhashable list) — serialize the array column to JSON
    # in the *catalog projection only*; the operator keeps its typed schema.
    return parsed.withColumn("genres", F.to_json("genres")).orderBy("wwoz_event_href")


@register(
    "pipeline_gold_flat",
    oracle="""
    WITH bronze(a_name, a_desc, a_genres, a_href, a_site,
                v_name, v_addr, e_date, e_href, e_desc,
                e_genres, e_related, perf, scrape) AS (VALUES
      ('Ellis Marsalis Quartet', 'lorum ipsum', ['Jazz','Blues'], '/artists/789', NULL,
       'Snug Harbor', '626 Frenchmen St, New Orleans, LA 70116',
       '2025-03-01', '/events/456', 'evening set',
       ['Jazz'], ['Kermit Ruffins'],
       TIMESTAMP '2025-03-01 20:00:00', TIMESTAMP '2025-02-28 12:00:00'),
      ('Kermit Ruffins', 'lorum ipsum', ['Jazz'], '/artists/101', NULL,
       'Snug Harbor', '626 Frenchmen St, New Orleans, LA 70116',
       '2025-03-01', '/events/457', NULL,
       [], [], TIMESTAMP '2025-03-01 21:30:00', TIMESTAMP '2025-02-28 12:00:00'),
      ('Galactic', 'lorum ipsum', ['Funk'], '/artists/202', NULL,
       'Tipitina''s Outdoor Stage', '501 Napoleon Ave, New Orleans, LA 70115',
       '2025-03-01', '/events/458', 'funk night',
       ['Funk'], [], TIMESTAMP '2025-03-01 19:00:00', TIMESTAMP '2025-02-28 12:00:00'),
      ('Ellis Marsalis Quartet', 'lorum ipsum', ['Jazz','Blues','Soul'], '/artists/789', NULL,
       'Snug Harbor', '626 Frenchmen St, New Orleans, LA 70116',
       '2025-03-01', '/events/456', 'evening set (updated)',
       ['Jazz','Soul'], [],
       TIMESTAMP '2025-03-01 20:00:00', TIMESTAMP '2025-02-28 18:00:00'),
      ('', 'lorum ipsum', [], NULL, NULL,
       'Snug Harbor', '626 Frenchmen St, New Orleans, LA 70116',
       '2025-03-01', '/events/900', NULL, [], [],
       TIMESTAMP '2025-03-01 20:00:00', TIMESTAMP '2025-02-28 12:00:00'),
      ('Trombone Shorty', 'lorum ipsum', ['Funk'], NULL, NULL,
       'Snug Harbor', '626 Frenchmen St, New Orleans, LA 70116',
       NULL, '/events/901', NULL, [], [],
       TIMESTAMP '2025-03-01 20:00:00', TIMESTAMP '2025-02-28 12:00:00'),
      ('Rebirth Brass Band', 'lorum ipsum', ['Brass'], '/artists/303', NULL,
       'Maple Leaf Bar', '8316 Oak St, New Orleans, LA 70118',
       '2025-03-02', '/events/459', NULL,
       ['Brass'], [], TIMESTAMP '2025-03-02 22:00:00', TIMESTAMP '2025-02-28 12:00:00')
    ),
    valid AS (
      SELECT * FROM bronze
      WHERE trim(a_name) <> '' AND trim(v_name) <> ''
        AND e_date IS NOT NULL AND trim(e_date) <> ''
    ),
    fact AS (  -- first-wins per event href: latest scrape
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY e_href ORDER BY scrape DESC, perf ASC) AS rn
        FROM valid WHERE e_href IS NOT NULL
      ) WHERE rn = 1 AND e_date = '2025-03-01'
    ),
    artist_win AS (  -- merged artist row: latest scrape wins per name
      SELECT * FROM (
        SELECT trim(a_name) AS name, a_desc, a_href, a_site, scrape,
               ROW_NUMBER() OVER (
                 PARTITION BY trim(a_name) ORDER BY scrape DESC, a_href ASC) AS rn
        FROM valid
      ) WHERE rn = 1
    ),
    a_genres AS (  -- union of genre arrays across ALL valid rows per artist
      SELECT name, string_agg(g, ',' ORDER BY g) AS artist_genres FROM (
        SELECT DISTINCT trim(a_name) AS name, trim(UNNEST(a_genres)) AS g FROM valid
      ) WHERE g <> '' GROUP BY name
    ),
    e_genres AS (  -- per event href; empty event genres inherit artist genres (P5)
      SELECT e_href, string_agg(g, ',' ORDER BY g) AS event_genres FROM (
        SELECT DISTINCT e_href,
               trim(UNNEST(CASE WHEN len(e_genres) > 0 THEN e_genres
                                ELSE a_genres END)) AS g
        FROM valid WHERE e_href IS NOT NULL
      ) WHERE g <> '' GROUP BY e_href
    ),
    related AS (  -- distinct related edges, self-edges removed
      SELECT name, string_agg(r, ',' ORDER BY r) AS related_artists FROM (
        SELECT DISTINCT trim(a_name) AS name, trim(UNNEST(e_related)) AS r FROM valid
      ) WHERE r <> '' AND r <> name GROUP BY name
    )
    SELECT f.e_href AS event_href,
           trim(f.a_name) AS artist_name,
           COALESCE(ag.artist_genres, '') AS artist_genres,
           COALESCE(r.related_artists, '') AS related_artists,
           trim(f.v_name) AS venue_name,
           f.v_addr AS venue_address,
           COALESCE(eg.event_genres, '') AS event_genres,
           f.e_desc AS event_description,
           strftime(f.perf, '%Y-%m-%d %H:%M:%S') AS performance_time,
           CAST(CASE WHEN datediff('day', DATE '2025-03-01', CAST(f.e_date AS DATE)) < 0 THEN 604800
                WHEN datediff('day', DATE '2025-03-01', CAST(f.e_date AS DATE)) = 0 THEN 3600
                WHEN datediff('day', DATE '2025-03-01', CAST(f.e_date AS DATE)) <= 7 THEN 43200
                ELSE 86400 END AS INT) AS ttl_seconds
    FROM fact f
    LEFT JOIN artist_win aw ON aw.name = trim(f.a_name)
    LEFT JOIN a_genres ag ON ag.name = trim(f.a_name)
    LEFT JOIN e_genres eg ON eg.e_href = f.e_href
    LEFT JOIN related r ON r.name = trim(f.a_name)
    ORDER BY event_href
    """,
    tags=("pipeline", "gold", "flagship"),
    doc="The flagship §3.4 pipeline (validate → normalize → gold) with a "
    "FLAT projection so the driver hash-checks it: the oracle re-derives "
    "the same answer from the bronze fixture as a VALUES CTE in pure SQL — "
    "first-wins-by-latest-scrape event identity, merged artist rows, "
    "genre-union bridges with P5 propagation, self-edge-free related "
    "artists, and TTL tiers — independently of the Spark implementation. "
    "The nested-JSON cache payload variant stays rows-only "
    "(pipeline_gold_event_documents); engine-specific surrogate ids are "
    "deliberately excluded from the projection.",
)
def pipeline_gold_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    bronze = bronze_fixture(spark)
    silver = normalize.normalize(bronze)
    g = gold.events_for_dates(silver, ["2025-03-01"], ref_date="2025-03-01")
    return g.select(
        F.col("event_data.wwoz_event_href").alias("event_href"),
        F.col("artist_data.name").alias("artist_name"),
        F.array_join(F.col("artist_data.genres"), ",").alias("artist_genres"),
        F.array_join(F.col("artist_data.related_artists"), ",").alias("related_artists"),
        F.col("venue_data.name").alias("venue_name"),
        F.col("venue_data.full_address").alias("venue_address"),
        F.array_join(F.col("event_data.genres"), ",").alias("event_genres"),
        F.col("event_data.description").alias("event_description"),
        F.date_format("performance_time", "yyyy-MM-dd HH:mm:ss").alias("performance_time"),
        F.col("ttl_seconds").cast("int").alias("ttl_seconds"),
    ).orderBy("event_href")
