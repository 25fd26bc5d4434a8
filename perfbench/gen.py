"""Seeded input generators for the benchmark workloads.

This module is the benchmark's input component: it depends on numpy and
pyarrow only, never on the engine, so the engine receives nothing but the
generated files and rows. The same seed gives the same bytes.

- ``catalog_tables``: the ten catalog tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``) at a chosen scale factor,
  with the column types and value domains TESTDATA.md describes.
- ``bronze_events``: EventDTO JSON-lines for the daily pipeline, with
  Zipf-skewed artist and venue draws, re-scraped duplicate hrefs and
  invalid rows.
- ``corpus_batches``: micro-batches of documents over a Zipf vocabulary
  for the corpus stream, with planted near-duplicates of earlier docs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_GENRES = ["Jazz", "Blues", "Funk", "Brass", "Soul", "Rock", "Zydeco", "Cajun",
           "Gospel", "Hip Hop", "R&B", "Latin"]


def _write(table: pa.Table, path: str) -> None:
    # one row group, no statistics drift between pyarrow calls: the same
    # table gives the same bytes
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def catalog_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten catalog tables as ``<out_dir>/<name>.parquet`` (one
    file each) and return the input properties."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(np.array(_PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    flags = rng.integers(0, 6, n_line)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": pa.array(
            _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            pa.timestamp("us"),
        ),
    }), f"{out_dir}/lineitem.parquet")
    # events: increasing timestamps over 30 days, microsecond precision
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    texts = _documents(rng, n_doc)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
    return {
        "sf": sf,
        "files_per_table": 1,
        "rows": {
            "customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_vec,
        },
        "doc_near_dup_share": 0.05,
        "doc_exact_dup_share": 0.002,
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Uniform draws over a 31-word vocabulary, 10-100 words each; 5% are a
    copy of an earlier doc plus one token (near-duplicates) and 0.2% an
    exact copy of an earlier doc."""
    texts: list[str] = []
    kinds = rng.random(n)
    lens = rng.integers(10, 101, n)
    for i in range(n):
        if i > 0 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = np.array(_DOC_VOCAB)[rng.integers(0, len(_DOC_VOCAB), lens[i])]
            texts.append(" ".join(words))
    return texts


def _zipf_index(rng: np.random.Generator, n_pool: int, n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_pool + 1) ** s
    return rng.choice(n_pool, n, p=w / w.sum())


def bronze_events(
    out_dir: str,
    seed: int,
    n_dates: int,
    events_per_date: int,
    n_artists: int,
    n_venues: int,
    zipf_s: float = 1.1,
    dup_share: float = 0.05,
    invalid_share: float = 0.01,
) -> dict:
    """Write EventDTO JSON-lines, one file per event date, under
    ``out_dir`` and return the input properties plus the expected outputs
    the pipeline must reproduce (valid dates, distinct valid hrefs,
    distinct invalid rows)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    first = dt.date(2025, 3, 1)
    dates = [(first + dt.timedelta(days=d)).isoformat() for d in range(n_dates)]
    artist_genres = [
        sorted({_GENRES[g] for g in rng.integers(0, len(_GENRES), rng.integers(1, 4))})
        for _ in range(n_artists)
    ]
    valid_hrefs = 0
    invalid_rows = 0
    rows_written = 0
    for d_i, day in enumerate(dates):
        n_dup = int(round(events_per_date * dup_share))
        n_bad = int(round(events_per_date * invalid_share))
        artists = _zipf_index(rng, n_artists, events_per_date, zipf_s)
        venues = _zipf_index(rng, n_venues, events_per_date, zipf_s)
        hours = rng.integers(17, 24, events_per_date)
        minutes = rng.integers(0, 4, events_per_date) * 15
        related = rng.integers(0, n_artists, (events_per_date, 2))
        lines: list[str] = []
        scrape = f"{(first + dt.timedelta(days=d_i - 1)).isoformat()}T12:00:00"
        rescrape = f"{day}T09:00:00"
        for i in range(events_per_date):
            a, v = int(artists[i]), int(venues[i])
            rel = [int(r) for r in related[i] if int(r) != a]
            rec = {
                "artist_data": {
                    "name": f"Artist {a}",
                    "description": f"artist {a} bio",
                    "genres": artist_genres[a],
                    "related_artists": [f"Artist {r}" for r in rel],
                    "wwoz_artist_href": f"/artists/{a}",
                    "website": None,
                },
                "venue_data": {
                    "name": f"Venue {v}",
                    "thoroughfare": f"{100 + v} Frenchmen St",
                    "phone_number": "504-555-0100",
                    "locality": "New Orleans",
                    "state": "LA",
                    "postal_code": "70116",
                    "full_address": f"{100 + v} Frenchmen St, New Orleans, LA 70116",
                    "is_active": True,
                    "website": None,
                    "wwoz_venue_href": f"/venues/{v}",
                    "event_artist": f"Artist {a}",
                },
                "event_data": {
                    "event_date": day,
                    "wwoz_event_href": f"/events/{day}/{i}",
                    "event_artist": f"Artist {a}",
                    "wwoz_artist_href": f"/artists/{a}",
                    "description": f"set {i}",
                    "related_artists": [
                        {"name": f"Artist {r}", "wwoz_artist_href": f"/artists/{r}"}
                        for r in rel
                    ],
                    "genres": artist_genres[a][:1] if i % 3 else [],
                },
                "performance_time": f"{day}T{int(hours[i]):02d}:{int(minutes[i]):02d}:00",
                "scrape_time": scrape,
            }
            lines.append(json.dumps(rec, sort_keys=True))
            if i < n_dup:  # a later re-scrape of the same event href
                rec["event_data"]["description"] = f"set {i} (updated)"
                rec["scrape_time"] = rescrape
                lines.append(json.dumps(rec, sort_keys=True))
        valid_hrefs += events_per_date
        for j in range(n_bad):  # distinct invalid rows: no artist name
            bad = {
                "artist_data": {"name": "", "genres": []},
                "venue_data": {"name": f"Venue {j}"},
                "event_data": {"event_date": day, "wwoz_event_href": f"/bad/{day}/{j}"},
                "performance_time": f"{day}T20:00:00",
                "scrape_time": scrape,
            }
            lines.append(json.dumps(bad, sort_keys=True))
        invalid_rows += n_bad
        order = rng.permutation(len(lines))
        with open(f"{out_dir}/events_{day}.json", "w") as fh:
            fh.write("\n".join(lines[k] for k in order) + "\n")
        rows_written += len(lines)
    return {
        "dates": n_dates,
        "events_per_date": events_per_date,
        "dup_share": dup_share,
        "invalid_share": invalid_share,
        "artists": n_artists,
        "venues": n_venues,
        "zipf_s": zipf_s,
        "bronze_rows": rows_written,
        "expected": {
            "dates": dates,
            "valid_hrefs": valid_hrefs,
            "invalid_rows": invalid_rows,
        },
    }


def corpus_batches(
    seed: int,
    n_batches: int,
    batch_size: int,
    vocab_size: int = 5000,
    zipf_s: float = 1.05,
    near_dup_share: float = 0.10,
) -> list[list[tuple[int, str]]]:
    """``n_batches`` micro-batches of ``(doc_id, text)``. Text draws words
    from a Zipf vocabulary and ends in a unique ``nonce<id>`` token, so
    every doc is retrievable by its own term; ``near_dup_share`` of docs are
    an earlier doc's text plus their own nonce."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"t{i}" for i in range(vocab_size)])
    w = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    p = w / w.sum()
    texts: list[str] = []
    batches = []
    for b in range(n_batches):
        rows = []
        for j in range(batch_size):
            doc_id = b * batch_size + j
            if texts and rng.random() < near_dup_share:
                text = texts[int(rng.integers(0, len(texts)))] + f" nonce{doc_id}"
            else:
                words = vocab[rng.choice(vocab_size, int(rng.integers(20, 80)), p=p)]
                text = " ".join(words) + f" nonce{doc_id}"
            texts.append(text)
            rows.append((doc_id, text))
        batches.append(rows)
    return batches
