"""Band-partitioned fingerprint sidecar for the incremental-dedup corpora.

The incremental span/near dedup streams probe everything ever ingested on
every micro-batch. Rebuilding the probe side from the corpus per batch —
exploding each stored row's fingerprint array — costs a full corpus scan
per batch: linear per batch, quadratic over a backfill. This sidecar makes
the probe BUCKET-LOCAL instead:

- index rows are the pre-exploded (id, key) pairs, written ``partitionBy``
  a band column ``band = pmod(key, n_bands)``;
- a batch can only collide with history on keys the batch itself carries,
  and every such key lives in one of the batch's own bands — so the probe
  reads ONLY the band directories the batch touches (Spark partition
  pruning: the ``band IN (...)`` filter never opens the other directories);
- appends add exactly the new rows' pairs — no rewrite, no rebuild.

Per-batch probe cost is therefore ``(touched_bands / n_bands) ×
index_size`` instead of ``index_size``: still proportional to history
within a touched band, but a small fixed batch touches a bounded band set,
so the constant drops by roughly ``n_bands / touched_bands``. Size
``n_bands`` ≫ the typical batch's distinct-fingerprint count for deep
pruning (the 100 TB deployment shape is thousands of bands; the default 64
keeps local test corpora from fragmenting into thousands of tiny files).
Periodic per-band compaction merges a band directory's small files through
the package's one journaled compactor (``state_store.compact_small_files``,
size-tiered like the search buckets) and changes nothing semantically.

Crash consistency (single-writer stream): the corpus append commits FIRST,
the index append second. A crash between the two leaves index rows missing
for stored docs — never phantom index rows for unstored docs (which would
delete fresh data on replay). The replayed batch finds its rows
byte-identical in the corpus, and the stream HEALS the gap: replayed rows'
missing (id, key) pairs are re-appended (see the callers' heal step), so
the index converges to the corpus.

The executor-side append is shared: :func:`append_partitioned` is the one
per-batch partitioned write of every corpus-as-state store (these
sidecars, the IVF cells, the search postings and forward rows), several
stores in ONE job — :class:`PartitionedAppend` is a store's destination
and its one-store case, :func:`append_many` the banded sidecars' fused
case. The write has no fixed task count: :func:`batch_partitions` sizes
its shuffle to the batch, explicitly, so the count holds whether or not
adaptive query execution runs. So are two reads every store's owner ops
make: :func:`read_or_empty` and :func:`partitions_holding`, the one scan
naming the partitions a rewrite of some ids must reach.
"""

from __future__ import annotations

import logging
import threading
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..errors import is_missing_or_dataless

# absolute ceiling on the band count: bands are directories, and a
# directory per band is the price of partition pruning — 64k is already
# generous for a single index at deployment scale (at the 256 MiB/band
# re-banding target that is a ~16 TB index)
_MAX_BANDS = 65536
_MIN_AUTO_BANDS = 64
# auto-derivation headroom: bands ≫ a batch's distinct keys is what makes
# the probe prune (touched_bands/n_bands small), so size to 8× the first
# write's distinct-key count...
_AUTO_BANDS_FACTOR = 8
# ...but cap the INITIAL derivation low and let maintain()'s byte-target
# re-banding grow the index geometrically as it actually fills. Every
# band is a directory whose files each append touches and each probe
# lists: a key-dense family (span winnowing carries ~10² fingerprints
# per doc) would otherwise derive tens of thousands of directories from
# its very first batch and pay thousands of file creations/listings per
# micro-batch while the index holds a few thousand rows. Start-small +
# grow-by-rewrite is the LSM shape: O(log growth) rewrites, and the
# per-band cost is always proportional to what the index HOLDS, not to
# what its first batch implied.
_MAX_AUTO_BANDS = 1024

# staging-name prefix of an executor-side direct append: parquet readers
# skip underscore-prefixed names, so a crash leaves only invisible temps,
# which maintenance sweeps
TMP_PREFIX = "_tmp-"

# root journal of a per-band maintenance pass: names the bands it merges
# (see BandedFingerprintIndex._compact_bands)
_MAINTAIN_JOURNAL = "_maintain.json"


def _bands_for_keys(distinct: int) -> int:
    n = _MIN_AUTO_BANDS
    while n < distinct * _AUTO_BANDS_FACTOR and n < _MAX_AUTO_BANDS:
        n *= 2
    return n


def is_data_file(name: str) -> bool:
    """True for a file a parquet read opens: visible and ``.parquet``."""
    return not name.startswith(("_", ".")) and name.endswith(".parquet")


# serializes the scoped parallelPartitionDiscovery.threshold raise in
# _read_parquet_dirs (spark.conf is session-global; see there)
_DISCOVERY_THRESHOLD_LOCK = threading.Lock()


def _read_parquet_dirs(
    spark: SparkSession, base_path: str, paths: list[str], schema=None
):
    """``spark.read.option("basePath", ...).parquet(*paths)`` with the
    file-listing strategy matched to the filesystem, and an optional
    explicit ``schema`` — schema inference re-reads parquet footers for
    every NEW path set, which measured ~1 s per pruned probe (each
    batch touches a different band set, so the footer cache never
    helps); callers that know the schema (the banded index caches it
    per instance after the first read) skip inference entirely. Above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default
    32) paths, DataFrame creation launches a whole Spark JOB with one
    task per directory just to list files — measured ~2 s of every
    pruned probe's wall for a few hundred touched band directories,
    where a driver-side readdir is microseconds on local disk and a
    ~1 ms NameNode RPC on HDFS. On those filesystems the threshold is
    raised (scoped to this plan creation: the listing happens eagerly
    inside ``.parquet()``, and the prior value is restored in a finally)
    so the driver lists sequentially. Object stores (s3/gs/abfs) keep
    Spark's default: their per-directory LIST calls are ~30 ms network
    round-trips, exactly the case the distributed listing exists for."""
    reader = spark.read.option("basePath", base_path)
    if schema is not None:
        reader = reader.schema(schema)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    many = len(paths) > int(spark.conf.get(key))
    if many and fsio.qualify(spark, base_path).scheme in ("file", "hdfs"):
        # spark.conf is SESSION-global: the raise is serialized behind a
        # module lock so two concurrent probes can't interleave their
        # set/restore (restoring the other's temporary value as "prior").
        # A concurrent UNRELATED plan creation in the same session could
        # still observe the raised value for the milliseconds the listing
        # takes — worst case one sequential directory listing where a
        # distributed one was preferred, a bounded perf wobble, never a
        # correctness change. A non-blocking acquire keeps the fallback
        # conservative: if another probe holds the lock, just list with
        # whatever the current setting is.
        if _DISCOVERY_THRESHOLD_LOCK.acquire(blocking=False):
            try:
                prior = spark.conf.get(key)
                spark.conf.set(key, str(len(paths)))
                try:
                    return reader.parquet(*paths)
                finally:
                    spark.conf.set(key, prior)
            finally:
                _DISCOVERY_THRESHOLD_LOCK.release()
    return reader.parquet(*paths)


def read_or_empty(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """``path`` read as parquet or, when it is absent or holds no data
    files, an empty ``schema`` frame (None without a schema)."""
    try:
        df = spark.read.parquet(path)
        df.schema
        return df
    except AnalysisException as exc:
        if not is_missing_or_dataless(exc):
            raise
    return None if schema is None else spark.createDataFrame([], schema)


def partitions_holding(
    spark: SparkSession, root: str, ids: DataFrame, key_cols: list[str],
    part_col: str,
) -> set:
    """The ``part_col`` values of ``root``'s partitions that hold a row
    matching ``ids`` on ``key_cols`` — one thin semi-join scan naming the
    dirs a rewrite must reach (empty when ``root`` has no data)."""
    df = read_or_empty(spark, root)
    if df is None:
        return set()
    held = df.join(ids, key_cols, "left_semi").select(part_col).distinct()
    return {r[0] for r in held.collect()}


class BandedIndexLayoutError(RuntimeError):
    """The on-disk index layout (``_meta.json``) contradicts the caller's
    configuration. Probing across this mismatch is silent corruption —
    ``pmod(key, wrong_n)`` names band directories that were never written,
    so historical duplicates pass undetected — hence a loud error instead.
    Stream callers catch it and invalidate + rebuild from the corpus (the
    corpus is authoritative; the index is always derivable from it)."""


class BandedFingerprintIndex:
    """Parquet (id, key) pairs partitioned by ``pmod(key, n_bands)``.

    ``key_col`` must be a LONG hash column (winnow fingerprints, LSH band
    hashes): ``pmod`` of a well-distributed hash spreads bands uniformly.

    Layout metadata: the banding parameters are LAYOUT, not preference —
    a probe computed under a different ``n_bands`` than the files were
    written with reads the wrong directories and silently misses
    collisions. So the index persists ``_meta.json`` ({key_col, n_bands,
    schema_tag}) INSIDE its directory at build/first-append (data first,
    then meta) and every open validates against it:

    - ``n_bands`` is a CREATION-TIME sizing hint: once an index exists,
      its stored band count always wins (probing with the stored value
      is always correct — the band count is physical sizing, not
      semantics — and maintain() legitimately re-bands as the corpus
      grows, so pinning the constructor value would force a rebuild on
      every restart after a re-band). ``n_bands=None`` (the default) on
      a fresh build DERIVES the count from the first write's
      distinct-key count (8×, clamped to [64, 1024] — start small; the
      byte-target re-banding in maintain() grows it toward 65536 as the
      index actually fills);
    - a ``key_col`` or ``schema_tag`` that contradicts the stored meta
      raises :class:`BandedIndexLayoutError` — those record how the KEYS
      were derived (winnow k/w, MinHash num_hashes/bands), and an index
      over differently-derived keys answers a different question: it
      must be rebuilt, never probed;
    - opens also heal a crashed maintenance pass (its root journal) and
      a crashed re-band swap before anything else, so a process death
      inside maintain()/reband() can't leave a band half-merged or the
      index stranded at a sibling path.
    """

    def __init__(
        self,
        path: str,
        key_col: str,
        n_bands: int | None = None,
        schema_tag: str | None = None,
        fs_options: dict | None = None,
    ):
        self.path = path
        self.key_col = key_col
        self.n_bands = n_bands
        self.schema_tag = schema_tag
        # where appends land (destination resolved once per instance);
        # append_many fuses several indexes' direct writes into one job
        self._appender = PartitionedAppend(path, "pband", fs_options)
        self._layout_checked = False
        self._ctor_n_bands = n_bands  # invalidate() restores the caller's hint
        # the index's parquet schema, cached after the first pruned read
        # (inference re-reads footers for every new band set — ~1 s per
        # probe); cleared by invalidate()
        self._data_schema = None
        # Maintenance-detection state (in-memory, per writer instance).
        # The single-writer stream owns every append, and each append()
        # REPORTS the exact band set it wrote — so the bands dirtied
        # since the last maintenance are known without listing anything.
        # None means "write set unknown" (fresh instance, crash recovery,
        # rebuild): the next maintain() falls back to ONE full walk, then
        # switches to batch-proportional detection.
        # _band_bytes caches per-band byte sizes (complete
        # after a full walk, refreshed for dirty bands each tick — bands
        # only change through this writer, so the sum stays exact),
        # which keeps the re-banding byte trigger per-tick without any
        # index-sized listing.
        self._dirty_bands: set[int] | None = None
        self._band_bytes: dict[int, int] | None = None
        # telemetry for tests/operators: how the last maintain() detected
        # ("full" walk or "dirty"-set), and which bands it listed
        self.last_maintain_walk: str | None = None
        self.last_maintain_inspected: list[int] | None = None

    def _reset_maintenance_state(self) -> None:
        """Null the dirty-set + byte-cache bookkeeping so the next
        maintain() falls back to ONE full walk (which re-seeds both).
        Every path that rewrites the index or may desynchronize the
        on-disk state from this instance's view MUST call this — the
        re-banding byte trigger sums ``_band_bytes``, so a stale entry
        silently under- or over-triggers, and a stale dirty set leaves
        crashed-append ``_tmp-`` staging files unswept."""
        self._dirty_bands = None
        self._band_bytes = None

    def band_of(self, col):
        if self.n_bands is None:
            raise BandedIndexLayoutError(
                f"banded index {self.path}: n_bands unresolved — open the "
                f"index (exists/read/append) before deriving bands, or "
                f"pass n_bands explicitly"
            )
        return F.pmod(col, F.lit(self.n_bands)).cast("int")

    # --- layout metadata -----------------------------------------------
    # The meta lives INSIDE the index directory (underscore-prefixed, so
    # parquet listings ignore it): layout and data then move as ONE unit
    # through every directory rename (the re-band swap), and
    # no crash window can leave data under one banding described by a
    # meta from another. Write order is always data-then-meta: a crash in
    # between leaves an index without meta, which the legacy/refuse path
    # turns into a loud rebuild — never a silent wrong probe.

    def _write_meta(self, spark: SparkSession, root: str | None = None,
                    n_bands: int | None = None) -> None:
        fsio.write_json(
            spark,
            (root or self.path).rstrip("/") + "/_meta.json",
            {
                "key_col": self.key_col,
                "n_bands": self.n_bands if n_bands is None else n_bands,
                "schema_tag": self.schema_tag,
            },
        )

    def _read_meta(self, spark: SparkSession) -> dict | None:
        for p in (
            self.path.rstrip("/") + "/_meta.json",
            # early round-8 builds kept the meta as a SIBLING file
            self.path.rstrip("/") + "_meta.json",
        ):
            meta = fsio.read_json(spark, p)
            if meta is not None:
                return meta
        return None

    def _check_layout(self, spark: SparkSession) -> None:
        """Reconcile instance config with the stored layout; runs once per
        instance (the layout is immutable after creation — only
        ``invalidate`` resets it). Crash recovery runs FIRST: a process
        death inside reband()'s rename window leaves the whole index at a
        sibling path, and one inside a maintenance pass leaves a band's
        merged segment visible beside its inputs — every probe until
        recovery would miss or double-count that slice of history, so
        the heal must happen at open time, not only inside the next
        maintenance call.

        A sibling left by the retired directory-swap maintenance
        (``_bandold``/``_bandtmp`` per band, ``_precompact``/
        ``_compacting`` for the whole index) is REFUSED, not healed:
        which copy is current is not recorded anywhere, and the corpus
        rebuild the stream callers take on this error is always
        correct."""
        if self._layout_checked:
            return
        self._reband_recover(spark)
        for suffix in ("_bandold", "_bandtmp", "_precompact", "_compacting"):
            if fsio.exists(spark, self.path.rstrip("/") + suffix):
                raise BandedIndexLayoutError(
                    f"banded index {self.path}: a {suffix} sibling is left "
                    f"from a crash inside the retired directory-swap "
                    f"maintenance, and which copy is current is unknown — "
                    f"invalidate() and rebuild from the corpus (stream "
                    f"callers do this automatically)"
                )
        if not fsio.exists(spark, self.path):
            # nothing on disk yet: the meta is written right after the
            # data that creates the index
            return
        self._recover_maintenance(spark)
        meta = self._read_meta(spark)
        if meta is None:
            # Legacy index (pre-meta rounds), or a crash between the
            # creating data write and its meta write. If any band data
            # exists, REFUSE even when the caller passes an explicit
            # n_bands: a claimed count can be cheaply disproven when too
            # small (a pband=N directory with N >= claim exists), but a
            # too-large claim is UNVERIFIABLE — the data may have been
            # written under a smaller modulus, and blessing the claim in
            # _meta.json would make every later probe compute pmod under
            # the wrong modulus and silently miss duplicates forever.
            # The corpus is authoritative and the index derivable from
            # it, so the one safe upgrade is invalidate + rebuild (the
            # stream callers do exactly that on this error). Only a
            # dataless directory (markers/stale files, no pband= dirs)
            # may adopt an explicit n_bands: there is no data to
            # mis-probe.
            has_band_dirs = any(
                n.startswith("pband=") for n in fsio.list_names(spark, self.path)
            )
            if has_band_dirs or self.n_bands is None:
                raise BandedIndexLayoutError(
                    f"banded index {self.path} predates layout metadata "
                    f"(or lost it to a crash): its true band count is "
                    f"unverifiable, so it must not be probed — "
                    f"invalidate() and rebuild from the corpus (stream "
                    f"callers do this automatically)"
                )
            self._write_meta(spark)
            self._layout_checked = True
            return
        errs = []
        if meta.get("key_col") != self.key_col:
            errs.append(
                f"key_col: stored {meta.get('key_col')!r} != {self.key_col!r}"
            )
        if (
            self.schema_tag is not None
            and meta.get("schema_tag") is not None
            and meta.get("schema_tag") != self.schema_tag
        ):
            errs.append(
                f"schema_tag: stored {meta.get('schema_tag')!r} != "
                f"{self.schema_tag!r}"
            )
        if errs:
            raise BandedIndexLayoutError(
                f"banded index {self.path} layout mismatch — probing "
                f"across it would silently miss duplicates: "
                + "; ".join(errs)
            )
        # n_bands: the STORED value always wins (see the class docstring:
        # the constructor's value is a creation-time sizing hint only).
        # Loud, though: an operator who changed it expecting a resize
        # should learn it's a no-op (re-sizing is maintain()'s re-band).
        if self.n_bands is not None and self.n_bands != int(meta["n_bands"]):
            logging.getLogger(__name__).warning(
                "banded index %s: constructor n_bands=%d ignored — the "
                "persisted layout's n_bands=%d wins once an index exists "
                "(band count is physical sizing; maintain() re-bands as "
                "the index grows)",
                self.path,
                self.n_bands,
                int(meta["n_bands"]),
            )
        self.n_bands = int(meta["n_bands"])
        if self.schema_tag is None:
            self.schema_tag = meta.get("schema_tag")
        self._layout_checked = True

    def _auto_bands(self, pairs: DataFrame) -> int:
        """Band count derived from a frame's distinct-key count: 8×
        headroom (bands ≫ keys is what makes probes prune), power of two,
        clamped to [64, 1024] — the LOW initial cap is deliberate: every
        band is a directory each append writes into and each probe
        lists, so a key-dense first batch must not commit the index to
        tens of thousands of directories; byte-target re-banding grows
        the count as the index fills."""
        return _bands_for_keys(pairs.select(self.key_col).distinct().count())

    def _resolve_bands_for_write(self, spark: SparkSession, pairs: DataFrame) -> None:
        """Fix ``n_bands`` before the first write creates the layout:
        adopt stored meta when the index exists, else derive from the
        write's distinct-key count."""
        self._check_layout(spark)
        if self.n_bands is not None:
            return
        self.n_bands = self._auto_bands(pairs)

    def exists(self, spark: SparkSession) -> bool:
        """One filesystem stat — NOT a parquet resolution, which would
        recursively list every band directory (a whole Spark job for a
        many-band index) just to answer yes/no. An existing index is also
        layout-validated here (once per instance): ``exists() -> True``
        gates the callers' migration rebuild, so answering True across a
        layout mismatch would suppress exactly the rebuild that fixes it.
        The layout check runs BEFORE the stat: its re-band heal can move
        the live directory back into place."""
        self._check_layout(spark)
        return fsio.exists(spark, self.path)

    def read_bands(self, spark: SparkSession, bands: list[int]) -> DataFrame | None:
        """Pruned read, or None when no requested band exists yet (or the
        index was never written at all). The band directories are named
        EXPLICITLY (``basePath`` + per-band paths): only the touched directories are
        ever listed — a plain ``spark.read.parquet(root).filter(pband IN
        ...)`` prunes the SCAN but still pays a full recursive listing of
        every band at dataframe creation, which measured as the dominant
        probe cost. One listing of the root (a single readdir, empty when
        the index was never written) filters the request to bands that
        exist, so a fresh band in the batch never 404s. The layout check
        (crash recovery included) runs BEFORE the listing, as in
        :meth:`exists`."""
        self._check_layout(spark)
        existing = set(fsio.list_names(spark, self.path))
        paths = [
            f"{self.path}/pband={b}" for b in bands if f"pband={b}" in existing
        ]
        if not paths:
            return None
        df = _read_parquet_dirs(spark, self.path, paths, schema=self._data_schema)
        if self._data_schema is None:
            # cache the inferred schema for the instance's later probes:
            # appends/compaction/re-banding never change it (single-writer
            # discipline; rewrites preserve columns), and invalidate()
            # resets it with the rest of the instance state. A mismatched
            # external rewrite fails the read loudly, never silently.
            self._data_schema = df.schema
        return df.drop("pband")

    def append(self, pairs: DataFrame) -> list[int]:
        """Append (id, key) rows; the band column is derived here so
        callers can't write an inconsistent banding (and the layout is
        validated first, so an append can't fragment an index built under
        a different banding). Returns the band numbers actually written.

        The write is :class:`PartitionedAppend`'s direct executor-side
        write (why, and its failure model, are documented there): a crash
        leaves only invisible temps plus MISSING index rows for stored
        docs — exactly the gap the streams' in-flight marker + heal covers;
        a retried task replaces its file instead of adding a duplicate
        whose rows would double-count ``n_shared`` in the span probe.

        ``repartition`` by band keeps the one-file-per-touched-band
        invariant (each band's rows land in exactly one task) and is a
        shuffle boundary, so the upstream plan keeps its parallelism
        (the write's task count follows the data, see
        :func:`append_partitioned`).
        The returned band set feeds maintain()'s batch-proportional
        fragmentation detection exactly (the write itself reports what
        it touched). Implemented as the one-index case of
        :func:`append_many` (the streams fuse their two sidecars' appends
        into a single job through it)."""
        return append_many([(self, pairs)])[0]

    def build_from(self, pairs: DataFrame) -> None:
        """One-time build (migration of a pre-index corpus): repartition by
        band first so each band directory gets one file, not one per input
        partition. Overwrites any prior layout — meta included.

        Sizing: unlike the first-append derivation (a micro-batch, where
        the low cap matters), the input here is the WHOLE corpus, so the
        band count targets the same bytes-per-band the re-banding
        maintenance aims for — a multi-TB migration must not land on
        1024 oversized bands only for the first maintain() to pay a
        second full rewrite growing them. Estimated at ~16 B/row of
        parquet; the distinct-key derivation still sets the floor so
        small corpora keep their pruning headroom."""
        spark = pairs.sparkSession
        if self.n_bands is None:
            # a rebuild chooses its layout fresh (ignore stale meta: the
            # caller invalidates on mismatch precisely to get here)
            rows, distinct = pairs.agg(
                F.count(F.lit(1)), F.approx_count_distinct(self.key_col)
            ).first()
            by_keys = _bands_for_keys(distinct)
            target = 256 << 20  # the maintain() re-banding target
            by_bytes = _MIN_AUTO_BANDS
            while by_bytes < _MAX_BANDS and rows * 16 / by_bytes > target:
                by_bytes *= 2
            self.n_bands = max(by_keys, min(by_bytes, _MAX_BANDS))
        (
            pairs.withColumn("pband", self.band_of(F.col(self.key_col)))
            .repartition("pband")
            .write.mode("overwrite")
            .partitionBy("pband")
            .parquet(self.path)
        )
        self._write_meta(spark)
        self._layout_checked = True
        # one file per band and fresh bytes, but unmeasured: let the next
        # maintain() take its one full walk to seed the byte cache
        self._reset_maintenance_state()

    def invalidate(self, spark: SparkSession) -> None:
        """Delete the index, its marker, AND its swap siblings.
        Called by the streams when the corpus is absent or the stored
        layout contradicts theirs: an index that does not cover the
        corpus would make the stream miss duplicates forever — absence
        forces the migration rebuild instead. The retired swaps'
        leftovers (which every open refuses) die too, or the rebuilt
        index would be refused again."""
        for suffix in (
            "",  # the index, its internal meta and journal die with it
            "_precompact", "_compacting", "_bandold", "_bandtmp",
            "_rebandold", "_rebandtmp",
            "_meta.json",  # early round-8 builds kept the meta as a sibling
            ".inflight",
        ):
            fsio.delete(spark, self.path.rstrip("/") + suffix)
        self._layout_checked = False
        # back to the constructor's world: the adopted layout died with
        # the data (keeping an old index's adopted n_bands would size a
        # rebuilt index to a corpus that no longer exists)
        self.n_bands = self._ctor_n_bands
        self._data_schema = None  # a rebuilt index may store new columns
        self._reset_maintenance_state()

    # --- crash-window marker -------------------------------------------
    # The heal step (re-appending replayed rows' missing pairs) requires
    # an anti-join against the pruned index — cheap when history is small,
    # but it SORTS the pruned slice every batch at scale, for a condition
    # that only holds after a crash. The marker makes heal zero-cost in
    # the steady state: the stream sets it before the corpus append and
    # clears it after the index append, so a surviving marker at batch
    # start means the previous attempt died inside the corpus→index
    # window and exactly then is the heal join worth running.

    def _marker_path(self) -> str:
        return self.path.rstrip("/") + ".inflight"

    def mark_inflight(self, spark: SparkSession) -> None:
        fsio.touch(spark, self._marker_path())

    def clear_inflight(self, spark: SparkSession) -> None:
        fsio.delete(spark, self._marker_path(), False)

    def was_inflight(self, spark: SparkSession) -> bool:
        return fsio.exists(spark, self._marker_path())

    # --- per-band maintenance ------------------------------------------
    # A long-running stream fragments only the bands it touches, so
    # maintain() merges ONLY bands whose file count crossed the threshold;
    # untouched bands keep their exact files (never rewritten). Every
    # merge is state_store.compact_small_files, journaled inside its band;
    # one root journal names a pass's bands before the first merge and is
    # dropped after the last, so an open finds a crashed pass with one
    # stat instead of one per band.

    def _journal_path(self) -> str:
        return self.path.rstrip("/") + "/" + _MAINTAIN_JOURNAL

    def _stored_bands(self, spark: SparkSession) -> list[int]:
        names = fsio.list_names(spark, self.path)
        return sorted(int(n.split("=", 1)[1]) for n in names if n.startswith("pband="))

    def _band_sizes(self, spark: SparkSession, band: int) -> list[int]:
        """Byte sizes of a band's data files ([] for an absent band),
        sweeping crashed-append temps on the way (maintenance runs
        between batches under the single-writer rule, so any temp seen
        here is garbage)."""
        sizes = []
        band_dir = f"{self.path}/pband={band}"
        for e in fsio.list_status(spark, band_dir):
            if e.name.startswith(TMP_PREFIX):
                fsio.delete(spark, f"{band_dir}/{e.name}", False)
            elif is_data_file(e.name):
                sizes.append(e.size)
        return sizes

    def _settle_band(self, spark: SparkSession, band: int, excluded: bool) -> None:
        """After a band merge: remove the band when no row is left (all
        ``excluded`` — the compactor leaves no file or a 0-row one; with
        no schema cached, a fresh instance's ``read_bands`` could not read
        a dataless band), else refresh its byte-cache entry."""
        band_dir = f"{self.path}/pband={band}"
        sizes = self._band_sizes(spark, band)
        if not sizes or (excluded and spark.read.parquet(band_dir).isEmpty()):
            fsio.delete(spark, band_dir)
            if self._band_bytes is not None:
                self._band_bytes.pop(band, None)
        elif self._band_bytes is not None:
            self._band_bytes[band] = sum(sizes)

    def _compact_bands(
        self,
        spark: SparkSession,
        bands: list[int],
        max_files: int,
        exclude: DataFrame | None = None,
        exclude_cols: list[str] | None = None,
        erase: bool = False,
    ) -> int:
        """Merge each band under the root journal; returns the number of
        bands merged. ``erase`` selects the compactor's erase form. A pass
        that dies leaves this instance unchecked, so its next open heals
        like a fresh instance's."""
        if not bands:
            return 0
        from . import state_store

        journal = self._journal_path()
        try:
            fsio.write_json(
                spark, journal, {"bands": bands, "excluded": exclude is not None}
            )
            merged = 0
            for band in bands:
                n = state_store.compact_small_files(
                    spark, f"{self.path}/pband={band}", max_files,
                    exclude=exclude, exclude_cols=exclude_cols, erase=erase,
                )
                merged += n > 0
                self._settle_band(spark, band, exclude is not None and n > 0)
            fsio.delete(spark, journal, False)
        except BaseException:
            self._layout_checked = False
            self._reset_maintenance_state()
            raise
        return merged

    def _recover_maintenance(self, spark: SparkSession) -> None:
        """Heal a pass that died under its root journal: each listed
        band's compaction journal rolls it back or forward, a band left
        without rows is removed, and the next maintain() re-learns the
        bookkeeping with one full walk. One stat when no journal exists."""
        journal = fsio.read_json(spark, self._journal_path())
        if journal is None:
            return
        from . import state_store

        for band in journal["bands"]:
            state_store.recover_dir_compaction(spark, f"{self.path}/pband={band}")
            self._settle_band(spark, band, journal["excluded"])
        self._reset_maintenance_state()
        fsio.delete(spark, self._journal_path(), False)

    def _open_for_maintenance(self, spark: SparkSession) -> bool:
        """Heal every crashed pass; False when there is no index. The
        re-band heal runs BEFORE the existence check: a crashed re-band can
        leave the live directory itself missing (its content is at
        _rebandtmp/_rebandold), and an early return would strand it."""
        self._reband_recover(spark)
        if not fsio.exists(spark, self.path):
            return False
        self._check_layout(spark)
        self._recover_maintenance(spark)
        return True

    def maintain(
        self,
        spark: SparkSession,
        max_files_per_band: int = 8,
        target_band_bytes: int | None = 256 << 20,
        exclude: DataFrame | None = None,
        exclude_cols: list[str] | None = None,
    ) -> int:
        """Merge the small files of every band directory holding more
        than ``max_files_per_band`` parquet files; returns the number of
        bands merged (all ``n_bands`` of them when the size check below
        triggers a re-band, which subsumes per-band compaction).
        Streaming appends add one small file per touched band per
        micro-batch, so probe open-cost grows with file count; this hook
        (called by the streams between batches) bounds it. Merges are
        the compactor's, so size-tiered: files at or above its target
        size are graduated and never rewritten again. Single-writer
        discipline: between batches, never concurrently with a probe.

        ``target_band_bytes`` is the re-banding trigger: when the AVERAGE
        band outgrows it (the corpus grew far past the size n_bands was
        chosen for), the index is rewritten with n_bands doubled until
        the average fits again — geometric growth, so a corpus pays
        O(log growth) full rewrites over its life (see the re-banding
        section below). None disables the check. The default 256 MiB
        keeps any single probe's per-band read comfortably inside one
        executor task.

        Detection cost scales with BATCH ACTIVITY, not index size: the
        writer instance accumulates the touched-band set its appends pass
        along, and only those directories are listed here — at the
        deployment shape (tens of thousands of bands on an object store)
        an index-sized walk would be ~65k LIST calls per tick, paid for a
        handful of actually-dirty bands. The full walk happens exactly
        once per "state unknown" event (fresh instance, crash recovery,
        rebuild, an append without a band set); it also seeds the
        per-band byte cache, which dirty-mode ticks refresh for the bands
        they list — bands change only through this single writer, so the
        cached total stays exact and the re-banding byte trigger needs no
        walk of its own.

        ``exclude`` (with ``exclude_cols`` join keys) is the tombstone
        fold hook: every band this tick rewrites (and a re-band, which
        rewrites all of them) drops the excluded rows. Opportunistic by
        design — rows in bands that never fragment, or in graduated
        segments, survive until those files are rewritten, so callers'
        probes must anti-join the tombstone set regardless (the dedup
        streams do); :meth:`purge` reaches every file."""
        if not self._open_for_maintenance(spark):
            return 0
        full_walk = self._dirty_bands is None or self._band_bytes is None
        self.last_maintain_walk = "full" if full_walk else "dirty"
        if full_walk:
            self._band_bytes = {}
            bands = self._stored_bands(spark)
        else:
            bands = sorted(self._dirty_bands)
        self.last_maintain_inspected = bands
        fragmented: list[int] = []
        for band in bands:
            # touched sets are supersets of the bands actually written
            # (probe keys include rows later filtered out): an absent
            # band lists empty and is skipped
            sizes = self._band_sizes(spark, band)
            if not sizes and not full_walk:
                continue
            self._band_bytes[band] = sum(sizes)
            if len(sizes) > max_files_per_band:
                fragmented.append(band)
        self._dirty_bands = set()
        total_bytes = sum(self._band_bytes.values())
        if (
            target_band_bytes
            and self.n_bands < _MAX_BANDS
            and total_bytes / self.n_bands > target_band_bytes
        ):
            n_new = self.n_bands
            while n_new < _MAX_BANDS and total_bytes / n_new > target_band_bytes:
                n_new *= 2
            # a non-power-of-two stored count can overshoot the ceiling
            # on its last doubling — the cap is absolute (bands are
            # directories; the ceiling bounds listing cost)
            n_new = min(n_new, _MAX_BANDS)
            self.reband(spark, n_new, exclude=exclude, exclude_cols=exclude_cols)
            return self.n_bands  # reband subsumes per-band compaction
        return self._compact_bands(
            spark, fragmented, max_files_per_band, exclude, exclude_cols
        )

    def purge(
        self, spark: SparkSession, exclude: DataFrame, exclude_cols: list[str]
    ) -> int:
        """Fold ``exclude``'s rows out of every band that holds one,
        graduated segments included — a physical erase must reach every
        file, which the size-tiered :meth:`maintain` never promises. One
        thin scan names those bands, so the rewrite follows the erased
        rows, not the index. Returns the number of bands rewritten."""
        if not self._open_for_maintenance(spark):
            return 0
        bands = partitions_holding(spark, self.path, exclude, exclude_cols, "pband")
        return self._compact_bands(
            spark, sorted(bands), 0, exclude, exclude_cols, erase=True
        )

    # --- re-banding ------------------------------------------------------
    # n_bands is chosen when the index is CREATED, sized to the corpus as
    # it was then. A long-running stream's corpus keeps growing while the
    # banding stays frozen, so per-band volume — and with it the probe's
    # bytes-read, which is touched_bands × (index_size / n_bands) — climbs
    # linearly again, just with a 1/n_bands constant. Re-banding doubles
    # n_bands until the average band is back under a target size: a full
    # index rewrite, but triggered geometrically (each re-band doubles
    # capacity), so a corpus pays O(log growth) rewrites over its life —
    # the same amortization argument as LSM compaction. maintain() checks
    # the average band size on the listing walk it already does and
    # triggers the re-band between batches.

    def _reband_recover(self, spark: SparkSession) -> None:
        """Heal a crashed re-band. Order (stage fully under the NEW
        banding, meta inside → rename live out → rename staged in →
        delete old) means: a leftover ``_rebandold`` with the live index
        missing is a crash between the renames — the staged copy is
        COMPLETE (it was fully written, meta included, before any
        rename), so promote it; with the live index present the old copy
        is superseded — delete it. A leftover ``_rebandtmp`` alone is a
        crash before the swap started: the live index is untouched, drop
        the staging."""
        old = self.path.rstrip("/") + "_rebandold"
        tmp = self.path.rstrip("/") + "_rebandtmp"
        has_old, has_tmp = fsio.exists(spark, old), fsio.exists(spark, tmp)
        if not (has_old or has_tmp):
            return
        # crashed-swap healing invalidates the dirty/byte bookkeeping
        self._reset_maintenance_state()
        promoted = False
        if has_old and not fsio.exists(spark, self.path):
            src = tmp if has_tmp else old
            if not fsio.rename(spark, src, self.path):
                raise RuntimeError(
                    f"reband recovery: rename {src} -> {self.path} failed"
                )
            promoted = True
        fsio.delete(spark, old)
        fsio.delete(spark, tmp)
        if promoted:
            # the promoted copy's own meta (it carries one — staging
            # writes data + meta before any rename) is authoritative:
            # drop the cached view and re-adopt it on the next open
            self._layout_checked = False
            self.n_bands = None

    def reband(
        self,
        spark: SparkSession,
        n_bands_new: int,
        exclude: DataFrame | None = None,
        exclude_cols: list[str] | None = None,
    ) -> None:
        """Rewrite the whole index under ``n_bands_new`` (meta updated in
        the same directory swap — no crash window can pair data with the
        wrong layout). ``exclude`` folds tombstoned rows out of the
        rewrite (see ``maintain``). Single-writer discipline: between
        batches only."""
        self._check_layout(spark)
        self._reband_recover(spark)
        if not fsio.exists(spark, self.path):
            return
        df = spark.read.parquet(self.path)
        if exclude is not None:
            df = df.join(exclude, exclude_cols, "left_anti")
        tmp = self.path.rstrip("/") + "_rebandtmp"
        old = self.path.rstrip("/") + "_rebandold"
        (
            df.drop("pband")
            .withColumn(
                "pband",
                F.pmod(F.col(self.key_col), F.lit(n_bands_new)).cast("int"),
            )
            .repartition("pband")
            .write.mode("overwrite")
            .partitionBy("pband")
            .parquet(tmp)
        )
        self._write_meta(spark, root=tmp, n_bands=n_bands_new)
        if not fsio.rename(spark, self.path, old):
            raise RuntimeError(f"reband: rename {self.path} -> {old} failed")
        if not fsio.rename(spark, tmp, self.path):
            restored = fsio.rename(spark, old, self.path)
            raise RuntimeError(
                f"reband: rename {tmp} -> {self.path} failed"
                + (
                    ""
                    if restored
                    else f"; ROLLBACK ALSO FAILED — live index stranded at "
                    f"{old}, restore it manually before the next probe"
                )
            )
        fsio.delete(spark, old)
        self.n_bands = n_bands_new
        # every band was rewritten under the new modulus: the old dirty
        # set and byte cache describe a layout that no longer exists
        self._reset_maintenance_state()

    def touched_bands(self, keys: DataFrame) -> list[int]:
        """Distinct band values present in ``keys``'s key column — the
        probe's pruning set. O(n_bands) driver memory by construction.
        The layout check runs UNCONDITIONALLY (not just when n_bands is
        unset): with an explicit constructor n_bands this is the one
        probe entry point that would otherwise compute band numbers under
        an unvalidated value — pmod residues of the wrong modulus name
        directories that were never written, the silent wrong-subset
        probe the meta exists to prevent. Still-unresolved after the
        check (index never written) raises the ``band_of`` layout
        error."""
        self._check_layout(keys.sparkSession)
        return [
            r.band
            for r in keys.select(
                self.band_of(F.col(self.key_col)).alias("band")
            )
            .distinct()
            .collect()
        ]


def combined_touched_bands(
    spark: SparkSession,
    specs: list[tuple["BandedFingerprintIndex", DataFrame]],
) -> list[list[int]]:
    """Touched-band sets for SEVERAL indexes in ONE Spark job.

    A micro-batch that maintains two sidecars (span: winnow ``_fpidx`` +
    exact ``_exactidx``; near: LSH ``_bandidx`` + ``_exactidx``) would
    otherwise pay one driver collect per index per batch — measured as a
    visible slice of the stream's fixed per-batch overhead (each collect
    is a full job submission for a few hundred distinct ints). Tagging
    each index's band column with its position and unioning lets one
    distinct+collect serve them all; outputs are O(Σ n_bands) driver
    memory by construction, same bound as the per-index calls.

    Each spec is ``(index, keys_df)`` where ``keys_df`` carries the
    index's ``key_col``. Layout validation runs per index exactly as in
    :meth:`BandedFingerprintIndex.touched_bands` (same contract: an index
    that was never written raises via ``band_of``)."""
    frames = []
    for i, (idx, keys) in enumerate(specs):
        idx._check_layout(spark)
        frames.append(
            keys.select(
                F.lit(i).alias("idx_pos"),
                idx.band_of(F.col(idx.key_col)).alias("band"),
            )
        )
    union = frames[0]
    for f in frames[1:]:
        union = union.union(f)
    out: list[list[int]] = [[] for _ in specs]
    for r in union.distinct().collect():
        out[r.idx_pos].append(r.band)
    return out


def _resolve_direct_destination(
    spark: SparkSession, path: str
) -> tuple[str | None, str | None, str | None]:
    """Map a Hadoop-qualified path onto a pyarrow direct-write
    destination: ``(kind, dest, fallback_reason)`` where kind/dest are
    None (and the reason says why) when no trusted mapping exists and
    the caller must take the Spark-committer write instead. Called by
    :meth:`PartitionedAppend.destination` only — the qualification goes
    through the SAME Hadoop filesystem the readers use, so executor-side
    bytes land exactly where the probes will look:

    - ``("local", /abs/path)`` — the Hadoop fs is ``file:``;
    - ``("s3", s3://bucket/key)`` — s3/s3a/s3n map onto pyarrow's S3
      support (credentials come from the standard AWS chain on the
      executors; Hadoop ``fs.s3a.*`` settings are NOT read by pyarrow —
      ``fs_options`` overrides the chain for S3-compatible stores);
    - ``("hdfs"/"gs"/"abfs"/"abfss", <uri>)`` — PROBED driver-side
      before being trusted (see :func:`_map_destination`): failing every
      executor task on a missing native lib would be a far worse failure
      mode than one slow-but-correct committer write;
    - ``(None, None)`` — any other scheme."""
    return _map_destination(*fsio.qualify(spark, path))


def _map_destination(
    scheme: str,
    userinfo: str | None,
    host: str | None,
    port: int | None,
    path: str,
) -> tuple[str | None, str | None, str | None]:
    """The pure scheme→destination mapping behind
    :func:`_resolve_direct_destination` (split out so the mapping and
    the probes are testable without a JVM). ``userinfo`` matters for
    abfs, whose Hadoop URIs carry the CONTAINER there
    (``abfs://container@account.dfs.core.windows.net/path``) — dropping
    it would write into the wrong (or no) container.

    hdfs/gs/abfs destinations are PROBED (constructing the pyarrow
    filesystem driver-side) before being trusted. For hdfs the probe is
    a real signal — the JNI libhdfs load fails when the native lib is
    absent. For gs/abfs construction is lazy about credentials, so the
    probe validates availability/URI shape only; auth happens at IO
    time on the executors, which on a GCP/Azure cluster carry the
    ambient credentials (application-default / managed identity) the
    Hadoop connectors themselves rely on. A misconfigured deployment
    fails the append job LOUDLY — preferred over the committer
    fallback's silent per-directory driver cost, same tradeoff the
    hdfs mapping took."""
    if scheme == "file":
        return "local", path, None
    if scheme in ("s3", "s3a", "s3n"):
        return "s3", f"s3://{host}{path}", None
    if scheme in ("hdfs", "gs", "abfs", "abfss"):
        if scheme == "hdfs":
            authority = str(host) + (f":{port}" if port is not None else "")
        else:
            authority = (f"{userinfo}@" if userinfo else "") + str(host)
        dest = f"{scheme}://{authority}{path}"
        try:
            _pyarrow_filesystem(scheme, dest, None)
            return scheme, dest, None
        except Exception as exc:  # native lib absent / unsupported build
            return (
                None,
                None,
                f"pyarrow filesystem probe for {scheme!r} failed: {exc}",
            )
    return (
        None,
        None,
        f"no trusted pyarrow mapping for filesystem scheme {scheme!r}",
    )


def _pyarrow_filesystem(kind: str, dest: str, fs_options: dict | None):
    """(pyarrow filesystem, base-path-within-filesystem) for a direct-
    append destination. DRIVER-side use (the hdfs availability probe and
    tests); the executor writer in :func:`_make_band_writer` carries its
    own self-contained copy of this logic — Spark's Python workers don't
    inherit the driver's sys.path, so the shipped closure must not
    reference this module. Keep the two copies in sync.

    - local → LocalFileSystem over the absolute path;
    - s3 with ``fs_options`` → ``S3FileSystem(**fs_options)`` (the
      endpoint_override / explicit-credentials seam for S3-compatible
      stores and test servers), base = ``bucket/key``;
    - anything else (s3 default chain, hdfs, gs, abfs/abfss) →
      ``FileSystem.from_uri``.
    """
    from pyarrow import fs as pafs

    if kind == "local":
        return pafs.LocalFileSystem(), dest
    if kind == "s3" and fs_options:
        return pafs.S3FileSystem(**fs_options), dest.split("://", 1)[1]
    return pafs.FileSystem.from_uri(dest)


def _make_band_writer(dests: list[dict]):
    """Executor-side writer of :func:`append_partitioned`'s fused job.
    ``dests`` has one entry per appended store: ``{"kind", "dest",
    "fs_options", "append_id", "part_prefix", "cols":
    [(prefixed_name, original_name), ...]}`` — plain data only, so the
    closure ships by value. Incoming Arrow batches carry ``(idx_pos,
    pband, <every store's prefixed columns>)``; each (store, partition)
    group becomes ONE parquet file holding that store's own columns under
    their original names, in ``<part_prefix>=<value>/``.

    Failure model (documented on :class:`PartitionedAppend`):
    per-attempt ``_tmp-`` staging names so a crash leaves only files
    parquet readers ignore, then a rename to a DETERMINISTIC final name
    — ``part-{append_id}-b{band}``, the append id of the store's own
    entry — so task retries and speculative attempts replace rather than
    duplicate."""
    tmp_prefix = TMP_PREFIX  # captured by value: the closure ships alone

    def write_bands(batches):
        # executor closure: self-contained imports (workers don't
        # inherit the driver's sys.path)
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        for pos in pc.unique(tbl.column("idx_pos")).to_pylist():
            d = dests[int(pos)]
            # keep in sync with _pyarrow_filesystem (driver-side twin)
            if d["kind"] == "local":
                filesystem, base = pafs.LocalFileSystem(), d["dest"]
            elif d["kind"] == "s3" and d.get("fs_options"):
                filesystem, base = (
                    pafs.S3FileSystem(**d["fs_options"]),
                    d["dest"].split("://", 1)[1],
                )
            else:
                filesystem, base = pafs.FileSystem.from_uri(d["dest"])
            mine = tbl.filter(pc.equal(tbl.column("idx_pos"), pos))
            spec = mine.select(["pband"] + [p for p, _ in d["cols"]])
            spec = spec.rename_columns(["pband"] + [o for _, o in d["cols"]])
            prefix, append_id = d["part_prefix"], d["append_id"]
            for band in pc.unique(spec.column("pband")).to_pylist():
                sub = spec.filter(pc.equal(spec.column("pband"), band)).drop(
                    ["pband"]
                )
                band_dir = f"{base.rstrip('/')}/{prefix}={band}"
                filesystem.create_dir(band_dir, recursive=True)
                # per-attempt staging name; DETERMINISTIC final name (a
                # retried/speculative attempt replaces, never duplicates).
                # A final that ALREADY EXISTS is skipped outright: final
                # names only ever appear via a move() from a fully-written
                # staging file, and content for a given (append_id, band)
                # is a pure function of the shuffled batch data, so an
                # existing file IS this write's output — some earlier
                # attempt of this task landed it. Skipping (rather than
                # the pre-round-11 delete-then-move, needed because HDFS
                # rename refuses an existing destination) closes a zombie
                # window: a speculative attempt killed between the delete
                # and the move could erase the winning attempt's
                # already-reported band AFTER the job succeeded — which no
                # replay would heal, since the dirty set claims coverage.
                # Two racing attempts that both pass the NotFound check
                # both write staging files and race the move: POSIX/S3
                # clobber with equivalent content (harmless); HDFS fails
                # the loser, whose retry then sees the file and skips.
                final = f"{band_dir}/part-{append_id}-b{band}.parquet"
                if filesystem.get_file_info(final).type == pafs.FileType.NotFound:
                    tmp = f"{band_dir}/{tmp_prefix}{uuid.uuid4().hex}.parquet"
                    with filesystem.open_output_stream(tmp) as out:
                        pq.write_table(sub, out)
                    filesystem.move(tmp, final)
                yield pa.RecordBatch.from_pylist(
                    [
                        {
                            "idx_pos": int(pos),
                            "pband": int(band),
                            "n": sub.num_rows,
                        }
                    ]
                )

    return write_bands


def _fused_frame_contract(dests: list[dict]) -> int:
    """Freeze :func:`append_partitioned`'s fused-frame invariant: every
    prefixed column name is unique across stores, and the union row is
    exactly ``(idx_pos, pband)`` + one slot per (store, field) — returned
    as the expected width. The executor writer slices each store's
    columns back out BY NAME, so a collision (today structurally
    impossible under the ``i{pos}_`` scheme, but one prefix-scheme edit
    away) would silently cross-contaminate stores; a width drift (a
    store wired in wrong, a renamed pair column) would silently fatten
    every append's rows. Cheap to check, loud to break."""
    prefixed = [name for d in dests for name, _ in d["cols"]]
    if len(set(prefixed)) != len(prefixed):
        dupes = sorted({n for n in prefixed if prefixed.count(n) > 1})
        raise AssertionError(
            f"fused-append frame invariant violated: prefixed column "
            f"names collide across stores ({dupes}) — the per-store "
            f"slices would cross-contaminate"
        )
    return 2 + len(prefixed)


def append_many(
    specs: list[tuple[BandedFingerprintIndex, DataFrame]],
) -> list[list[int]]:
    """Append to SEVERAL banded indexes in ONE Spark job; returns each
    index's written band list, positionally.

    A micro-batch that maintains two sidecars (span: ``_exactidx`` +
    ``_fpidx``; near: ``_exactidx`` + ``_bandidx``) would otherwise pay
    two mapInArrow jobs per batch — two job submissions + two rounds of
    Python-worker task launches, a measured ~4 s slice of the span
    family's fixed per-batch overhead. The indexes' rows go through
    :func:`append_partitioned`'s one fused write under one append id
    (each index's ``pband`` column is derived here, from its own
    banding).

    Crash model is UNCHANGED from per-index appends: the stream's single
    in-flight marker already brackets both sidecar appends, a mid-job
    death leaves only invisible ``_tmp-`` staging files (swept by
    maintain()), and deterministic final names make task retries replace
    rather than duplicate. On ANY failure every spec's dirty tracking is
    degraded to the full-walk state — a dead job may have staged temps
    into bands no dirty set ever learned. An index whose filesystem
    lacks a trusted pyarrow mapping takes the committer write, which
    reports no band set; then every list comes back empty and every
    spec's tracking degrades the same way (mixed trusted/untrusted
    sidecar destinations aren't a real deployment shape — the sidecars
    sit next to the same corpus)."""
    if not specs:
        return []
    spark = specs[0][1].sparkSession
    creating: list[bool] = []
    for idx, pairs in specs:
        creating.append(not fsio.exists(spark, idx.path))
        idx._resolve_bands_for_write(spark, pairs)
    append_id = uuid.uuid4().hex  # deterministic final names per append
    try:
        written = append_partitioned(
            [
                (
                    idx._appender,
                    pairs.withColumn("pband", idx.band_of(F.col(idx.key_col))),
                    append_id,
                )
                for idx, pairs in specs
            ]
        )
    except BaseException:
        # a mid-job death may have staged _tmp- files into bands the
        # dirty sets never learned (the exception propagates before the
        # band report lands): degrade every spec to the full-walk state
        # so the next maintain() lists everything and sweeps the temps
        for idx, _ in specs:
            idx._reset_maintenance_state()
        raise
    unknown = any(bands is None for bands in written)
    try:
        for (idx, _), bands, was_creating in zip(specs, written, creating):
            if unknown:
                idx._reset_maintenance_state()
            elif idx._dirty_bands is not None:
                idx._dirty_bands.update(bands)
            if was_creating:
                # meta AFTER data: a crash in between leaves an index
                # without meta, which the next open refuses loudly (the
                # stream then rebuilds from the corpus) — never data
                # silently probed under a different banding than it was
                # written with
                idx._write_meta(spark)
    except BaseException:
        # band files HAVE landed by now; a bookkeeping failure (e.g. a
        # creating spec's meta write) must still honor the "any failure
        # degrades EVERY spec" contract, or the specs after the failing
        # one keep dirty sets that never learned this append's bands
        for idx, _ in specs:
            idx._reset_maintenance_state()
        raise
    return [[] if unknown else bands for bands in written]


def batch_partitions(spark: SparkSession, nbytes: int) -> int:
    """Task count for ``nbytes`` of batch data: one per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (the size AQE
    coalesces shuffles to), at least 1 and at most the cluster's default
    parallelism. The per-batch writes and the search stream's batch frame
    take their counts from it."""
    jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
    advisory = jutils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    parallelism = spark.sparkContext.defaultParallelism
    return max(1, min(-(-nbytes // advisory), parallelism))


def _planned_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` — plan statistics, no
    job."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def planned_partitions(df: DataFrame) -> int:
    """:func:`batch_partitions` of the optimizer's size estimate of
    ``df`` (no job). A plan with no estimate — an RDD-backed micro-batch,
    whose statistics default to ``spark.sql.defaultSizeInBytes`` — counts
    as one partition, not as the default parallelism: a frame cached at
    that count runs every stage over it at that many tasks."""
    spark = df.sparkSession
    jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
    unknown = jutils.byteStringAsBytes(spark.conf.get("spark.sql.defaultSizeInBytes"))
    nbytes = _planned_bytes(df)
    return batch_partitions(spark, 0 if nbytes >= unknown else nbytes)


def append_partitioned(
    appends: list[tuple["PartitionedAppend", DataFrame, str | None]],
    guard: bool | list[int] = False,
    tasks: int | None = None,
) -> list[list[int] | None]:
    """The one direct write of every partitioned store: each ``(store,
    df, append_id)`` lands ``df`` under ``store``'s hive-style partition
    directories (``df`` carries ``store.part_col``), ALL stores in ONE
    ``mapInArrow`` job. Returns each store's written partition values,
    positionally — None after a committer write (write set unknown).
    ``append_id`` None draws a fresh uuid.

    Fusing: the frames are unioned under DISJOINT prefixed column names
    (unrelated schemas — a string ``fp`` next to a long ``fp``, a data
    column literally named ``band`` — can then share one frame) with an
    ``idx_pos`` tag, and the executor writer routes each tag to its own
    root under its own append id. One job instead of one per store: the
    search stream's postings and forward rows, the dedup streams' two
    sidecars.

    Task count: ``tasks``, the caller's measure of its batch (the search
    stream passes the count its text bytes give: plan statistics do not
    multiply an ``explode``'s rows), else :func:`batch_partitions` of
    the optimizer's size estimate of the rows — one task for a
    micro-batch, as many as the bytes need for a backfill. A fixed count would launch that many mostly-empty Python
    workers per append whatever the batch holds. The count is explicit
    rather than left to adaptive query execution's coalescing: Spark
    runs a micro-batch of a stateful streaming query without AQE, where
    a count-less shuffle would take ``spark.sql.shuffle.partitions``
    tasks. Hash partitioning puts each
    (store, partition) value in exactly one task at any count, so the
    one-file-per-(append id, partition) invariant holds.

    ``guard`` (per store with ``key_cols``): ``df`` is first anti-joined
    at ``key_cols`` against the rows already stored under ``df``'s own
    partitions — rows that may have landed under a DIFFERENT append id (a
    crashed attempt's, unknowable after a checkpoint re-point), which
    name-based skipping cannot see. ``True`` collects those partitions
    from ``df``; a list of partition values names them for a caller that
    already knows a superset (one collect job less). A store without a
    trusted pyarrow mapping always takes that anti-join, then the Spark
    committer write (no skip-if-landed names at all)."""
    spark = appends[0][1].sparkSession
    targets = [store.destination(spark) for store, _, _ in appends]
    known = None if isinstance(guard, bool) else guard
    guarded = [
        store.key_cols is not None and (guard is not False or kind is None)
        for (store, _, _), (kind, _) in zip(appends, targets)
    ]
    out: list[list[int] | None] = [None] * len(appends)
    # the direct-written stores: (output slot, frame, data fields)
    direct: list[tuple[int, DataFrame, list]] = []
    dests: list[dict] = []
    for i, ((store, df, aid), (kind, dest), g) in enumerate(
        zip(appends, targets, guarded)
    ):
        rows = store._unstored(df, known) if g else df
        if kind is None:
            (
                rows.repartition(
                    tasks or batch_partitions(spark, _planned_bytes(rows)),
                    F.col(store.part_col),
                )
                .write.mode("append")
                .partitionBy(store.part_col)
                .parquet(store.path)
            )
            continue
        fields = [f for f in rows.schema.fields if f.name != store.part_col]
        pos = len(dests)
        dests.append(
            {
                "kind": kind,
                "dest": dest,
                "fs_options": store.fs_options,
                "append_id": aid or uuid.uuid4().hex,
                "part_prefix": store.part_col,
                "cols": [(f"i{pos}_{f.name}", f.name) for f in fields],
            }
        )
        direct.append((i, rows, fields))
    if not dests:
        return out
    expected_width = _fused_frame_contract(dests)
    union = None
    for pos, (_, rows, _) in enumerate(direct):
        cols = [
            F.lit(pos).cast("int").alias("idx_pos"),
            F.col(dests[pos]["part_prefix"]).cast("int").alias("pband"),
        ]
        for j, (_, _, fields) in enumerate(direct):
            for (name, _), f in zip(dests[j]["cols"], fields):
                value = (
                    F.col(f.name) if j == pos else F.lit(None).cast(f.dataType)
                )
                cols.append(value.alias(name))
        frame = rows.select(*cols)
        union = frame if union is None else union.unionByName(frame)
    if len(union.columns) != expected_width:
        raise AssertionError(
            f"fused-append frame invariant violated: union carries "
            f"{len(union.columns)} columns, expected {expected_width} "
            f"(idx_pos + pband + one per (store, field)) — a store's "
            f"schema leaked extra columns into every appended row"
        )
    n = tasks or batch_partitions(spark, _planned_bytes(union))
    written = (
        union.repartition(n, F.col("idx_pos"), F.col("pband"))
        .mapInArrow(_make_band_writer(dests), "idx_pos long, pband long, n long")
        .collect()
    )
    parts: list[set[int]] = [set() for _ in dests]
    for r in written:
        parts[r.idx_pos].add(r.pband)
    for (i, _, _), p in zip(direct, parts):
        out[i] = sorted(p)
    return out


class PartitionedAppend:
    """The per-micro-batch append of every corpus-as-state index store
    (banded sidecars, IVF cells, search postings and forward rows):
    ``df`` lands under hive-style ``path/<part_col>=<value>/``
    directories (``part_col`` integer-valued, as hive partition
    inference reads it back), written DIRECTLY from executors — the
    dynamic-partition committer costs ~10 ms of driver-side commit work
    per partition directory per write, paid every micro-batch forever.
    Several stores' appends fuse into one job through
    :func:`append_partitioned`; :meth:`append` is its one-store case.

    Failure model, replacing what the Hadoop task-commit protocol gave:

    - *process death mid-append*: files land under a ``_tmp-`` name
      (invisible to parquet readers) and are renamed into place, so a
      crash leaves only invisible temps (swept by maintenance), never a
      torn visible file;
    - *task retry / speculative attempts*: the FINAL name
      ``part-{append_id}-b{value}`` is deterministic per (append,
      partition) and skipped if already landed, so a second attempt
      never adds a duplicate file. Only the staging name is per-attempt.

    A caller that derives ``append_id`` DETERMINISTICALLY from its batch
    content gets REPLAY-IDEMPOTENT appends (a crashed attempt's landed
    partitions are skipped, missing ones filled); otherwise it must
    converge replays itself — ``key_cols`` + ``guard``, or its own
    anti-join.

    A filesystem without a trusted pyarrow mapping takes the committer
    write instead — slower, never wrong, warned ONCE per instance — and
    ``append`` returns None: the write set is unknown.

    ``fs_options`` are extra pyarrow ``S3FileSystem`` constructor
    options for the executor-side writer (endpoint_override and
    credentials for S3-compatible stores — MinIO, on-prem gateways, test
    servers). None = pyarrow's ``FileSystem.from_uri`` defaults.
    ``key_cols`` is the row identity the guard anti-joins on (see
    :func:`append_partitioned`); None = an unkeyed store, never
    guarded."""

    def __init__(
        self,
        path: str,
        part_col: str,
        fs_options: dict | None = None,
        key_cols: list[str] | None = None,
    ):
        self.path = path
        self.part_col = part_col
        self.fs_options = fs_options
        self.key_cols = key_cols
        self._dest: tuple[str | None, str | None] | None = None
        self._schema = None  # the stored rows' schema, after the first guard read

    def destination(self, spark: SparkSession) -> tuple[str | None, str | None]:
        """``(kind, dest)`` for the executor-side writer, ``(None, None)``
        when the committer write must be taken. Resolved once per
        instance: the hdfs probe (a JNI libhdfs load) and the fallback
        warning run once, not per append."""
        if self._dest is None:
            kind, dest, reason = _resolve_direct_destination(spark, self.path)
            if kind is None:
                logging.getLogger(__name__).warning(
                    "partitioned store %s: direct executor-side appends "
                    "unavailable (%s) — falling back to the Spark "
                    "dynamic-partition committer, which pays ~10 ms of "
                    "driver-side commit work per partition directory per "
                    "append (measured ~12 s per fingerprint-dense "
                    "micro-batch), reports no write set (maintenance then "
                    "walks every partition) and, on a keyed store, "
                    "anti-joins each append against its partitions' stored "
                    "rows; extend the direct-append filesystem mapping for "
                    "this scheme to restore batch-proportional appends",
                    self.path,
                    reason,
                )
            self._dest = (kind, dest)
        return self._dest

    def append(
        self, df: DataFrame, append_id: str | None = None,
        guard: bool | list[int] = False,
    ) -> list[int] | None:
        """Append ``df``; returns the partition values written, or None
        after a committer write (write set unknown) — the one-store case
        of :func:`append_partitioned`, which documents ``append_id`` and
        ``guard``."""
        return append_partitioned([(self, df, append_id)], guard=guard)[0]

    def _unstored(self, df: DataFrame, parts: list[int] | None = None) -> DataFrame:
        """Rows of ``df`` whose ``key_cols`` are not already stored. Reads
        only the data-holding directories of ``df``'s own partitions
        (``parts``, else collected from ``df``), by explicit path: one
        root listing, never the other partitions, and no footer
        inference after the first read (the schema is kept per
        instance, as :meth:`BandedFingerprintIndex.read_bands` does).
        A crashed append's ``_tmp-`` leftovers there are swept first
        (single writer: any temp is garbage), and a directory left with
        no data file (an attempt that died after creating it) is
        skipped, as schema inference over it would fail every replay."""
        spark = df.sparkSession
        if parts is None:
            parts = [r[0] for r in df.select(self.part_col).distinct().collect()]
        existing = set(fsio.list_names(spark, self.path)) if parts else set()
        live = []
        for p in parts:
            name = f"{self.part_col}={p}"
            if name not in existing:
                continue
            d = f"{self.path}/{name}"
            names = fsio.list_names(spark, d)
            for n in names:
                if n.startswith(TMP_PREFIX):
                    fsio.delete(spark, f"{d}/{n}", False)
            if any(is_data_file(n) for n in names):
                live.append(d)
        if not live:
            return df
        stored = _read_parquet_dirs(spark, self.path, live, schema=self._schema)
        if self._schema is None:
            self._schema = stored.schema
        return df.join(stored.select(*self.key_cols), self.key_cols, "left_anti")
