"""The filesystem seam (``fest_vibes_ai_etl_spark/fsio.py``): it is the
package's only route to Hadoop, its failures are typed, and its per-thread
call counts pin the filesystem cost of a steady batch and a maintenance
pass."""

from __future__ import annotations

import ast
import pathlib
import threading
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from conftest import SF_DIR
from test_dedup_stream import FAMILIES, _processor

from fest_vibes_ai_etl_spark import fsio
from fest_vibes_ai_etl_spark.sources import table
from fest_vibes_ai_etl_spark.streaming import incremental_search as inc
from fest_vibes_ai_etl_spark.streaming.banded_index import BandedFingerprintIndex
from fest_vibes_ai_etl_spark.streaming.tombstones import read_tombstones

PACKAGE = pathlib.Path(fsio.__file__).parent


def test_seam_is_the_only_route_to_hadoop():
    """No module but the seam resolves a Hadoop filesystem or builds a
    Hadoop path, and no function takes a filesystem or a JVM handle:
    helpers pass path strings."""
    raw = ("getFileSystem(", "hadoopConfiguration()", "org.apache.hadoop.fs.Path(")
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        if f.name == "fsio.py" and f.parent == PACKAGE:
            continue
        text = f.read_text()
        offenders += [f"{f.relative_to(PACKAGE)}: {r}" for r in raw if r in text]
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = {a.arg for a in node.args.args + node.args.kwonlyargs}
                offenders += [
                    f"{f.relative_to(PACKAGE)}: {node.name}({n})"
                    for n in ("fs", "jvm")
                    if n in names
                ]
    assert offenders == []


def test_missing_paths_read_the_hadoop_way(spark, tmp_path):
    """Absence is an answer, not an error, for the listing, JSON and
    delete ops; a raw byte read of a missing file is FileNotFoundError."""
    missing = str(tmp_path / "nope")
    assert fsio.exists(spark, missing) is False
    assert fsio.list_names(spark, missing) == []
    assert fsio.list_status(spark, missing) == []
    assert fsio.read_json(spark, missing) is None
    assert fsio.delete(spark, missing) is False
    with pytest.raises(FileNotFoundError):
        fsio.read_bytes(spark, missing)
    fsio.write_json(spark, missing + "/_meta.json", {"a": 1})
    assert fsio.list_names(spark, missing) == ["_meta.json"]
    assert fsio.list_status(spark, missing) == [
        fsio.Entry("_meta.json", len(b'{"a": 1}'), False)
    ]


def test_failures_are_typed(spark):
    """An owner op and a reader on a filesystem Hadoop cannot resolve
    raise OSError, never the raw Py4J error."""
    store = "nosuchfs://nowhere/store"
    with pytest.raises(OSError) as err:
        inc.delete_from_search_index(spark, store, [1])
    assert not isinstance(err.value, Py4JJavaError)
    with pytest.raises(OSError) as err:
        read_tombstones(spark, store)
    assert not isinstance(err.value, Py4JJavaError)


def test_calls_are_counted_per_thread(spark, tmp_path):
    before = fsio.calls()
    fsio.exists(spark, str(tmp_path))
    fsio.list_names(spark, str(tmp_path))
    other = threading.Thread(target=fsio.exists, args=(spark, str(tmp_path)))
    other.start()
    other.join()
    assert fsio.calls() - before == {"exists": 1, "list_names": 1}


# Seam calls of one steady batch (the third, after two that create and
# warm the stores) and of one maintenance pass, measured at the spark
# fixture's settings; the ceilings are the measured values. A new stat,
# listing or meta read on the steady path crosses one. The span and near
# batches touch more than 32 of their 64 bands, so their sidecar read
# qualifies its path to pick the listing strategy.
STEADY_FS_CALLS = {
    "exact": Counter(exists=4, list_names=1, touch=1, delete=1),
    "span": Counter(exists=5, list_names=2, touch=1, delete=1, qualify=1),
    "near": Counter(exists=5, list_names=2, touch=1, delete=1, qualify=1),
    "search": Counter(exists=4, list_names=1, touch=1, delete=1),
}
# per band: three listings (the walk, the compactor, the settle), the
# stage listing, the manifest write, one rename and five deletes (three
# inputs, the manifest, the stage); plus the root journal and the opens
MAINTAIN_FS_CALLS = Counter(
    exists=10, read_json=3, list_names=17, list_status=48, write_json=17,
    rename=16, delete=81,
)


def _counted(fn) -> Counter:
    before = fsio.calls()
    fn()
    return fsio.calls() - before


@pytest.mark.parametrize("family", FAMILIES)
def test_steady_dedup_batch_fs_calls(spark, tmp_path, family):
    proc = _processor(family, str(tmp_path / "c"), n_bands=64)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    for b in range(2):
        proc(mk([(100 * b + i, f"doc {b} {i} " + " ".join(f"w{b}{i}{j}" for j in range(30)))
                 for i in range(8)]), b)
    got = _counted(lambda: proc(mk([
        (200 + i, f"third {i} " + " ".join(f"y{i}{j}" for j in range(30)))
        for i in range(8)
    ]), 2))
    assert not got - STEADY_FS_CALLS[family], got


def test_steady_search_batch_fs_calls(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    proc = inc.make_search_index_processor(str(tmp_path / "sidx"), n_term_buckets=8)
    for b in range(2):
        proc(docs.filter(f"doc_id >= {40 * b} AND doc_id < {40 * b + 40}"), b)
    got = _counted(lambda: proc(docs.filter("doc_id >= 80 AND doc_id < 120"), 2))
    assert not got - STEADY_FS_CALLS["search"], got


def test_sixteen_band_maintain_fs_calls(spark, tmp_path):
    """One maintain() of a fresh instance over 16 bands, each holding
    three small files: a full walk that merges every band."""
    base = str(tmp_path / "idx")
    idx = BandedFingerprintIndex(base, "fp", n_bands=16)
    for i in range(3):
        idx.append(
            spark.range(64).select(
                (F.col("id") + 64 * i).alias("id"), (F.col("id") + 64 * i).alias("fp")
            )
        )
    fresh = BandedFingerprintIndex(base, "fp")
    got = {}

    def tick():
        got["merged"] = fresh.maintain(spark, max_files_per_band=2)

    calls = _counted(tick)
    assert got["merged"] == 16
    assert not calls - MAINTAIN_FS_CALLS, calls
