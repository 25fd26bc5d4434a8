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
Periodic per-band compaction (coalescing a band directory's accumulated
small files) is plain parquet maintenance and changes nothing semantically.

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
adaptive query execution runs.
"""

from __future__ import annotations

import json
import logging
import threading
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


# serializes the scoped parallelPartitionDiscovery.threshold raise in
# _read_parquet_dirs (spark.conf is session-global; see there)
_DISCOVERY_THRESHOLD_LOCK = threading.Lock()


def _read_parquet_dirs(
    spark: SparkSession, fs, base_path: str, paths: list[str], schema=None
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
    scheme = (fs.getUri().getScheme() or "file").lower()
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if scheme in ("file", "hdfs") and len(paths) > int(spark.conf.get(key)):
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


def hadoop_list_names(jvm, fs, path) -> list[str]:
    """Child names of a directory in THREE py4j round-trips total. The
    obvious ``[st.getPath().getName() for st in fs.listStatus(p)]`` pays
    two Python↔JVM calls PER ENTRY — measured ~0.8 s for a 2048-band
    index root, turning every pruned probe's existence filter into the
    probe's dominant driver cost (vs ~0.1 s here). The FileStatus[] is
    stringified JVM-side (``ArrayUtils.toString`` — the one array-joining
    method py4j's reflection can match, since it takes a single
    ``Object``; commons-lang3 ships with Spark) and split in Python.
    Child names in this layout (``pband=N``/``cell_id=N``/part files)
    never contain the ``,`` separator; a COMMA IN THE PARENT PATH would
    corrupt the split, so that rare case falls back to the per-entry
    walk."""
    statuses = fs.listStatus(path)
    if len(statuses) == 0:
        return []
    if "," in str(path):
        return [st.getPath().getName() for st in statuses]
    jpaths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(statuses)
    joined = jvm.org.apache.commons.lang3.ArrayUtils.toString(jpaths)
    return [p.rsplit("/", 1)[-1] for p in joined[1:-1].split(",")]


def hadoop_write_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Write ``obj`` as one JSON file through the Hadoop filesystem API
    (works on hdfs/s3a/... exactly like the data it describes). Shared by
    every persisted-store layout meta (the banded index, the IVF cell
    index): underscore-prefixed names keep the file invisible to parquet
    listings, so layout and data move as one unit through directory
    renames.

    ATOMIC via stage-then-rename: a direct create-truncate-write would
    leave a TORN file if the driver dies mid-write, and a torn meta
    wedges every restart (json.loads raises on each replay — the exact
    replay-wedge class the empty-cell-dir fix closes elsewhere). A crash
    here instead leaves either the old meta, no meta (the callers' loud
    rebuild/adopt paths), or the staged temp (underscore-invisible,
    clobbered by the next write). The delete-then-rename is safe here —
    unlike the band writer's executor-side finals there is exactly one
    driver-side writer, so no concurrent attempt can interleave."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(
        path + ".tmp-" + uuid.uuid4().hex
    )
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(obj).encode("utf-8")))
    out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        # Hadoop rename reports failure as a boolean, not an exception —
        # surfacing it keeps "meta missing" loud instead of mysterious
        raise IOError(f"atomic meta write failed: rename {tmp} -> {p}")


def hadoop_read_json(spark: SparkSession, path: str) -> dict | None:
    """Read a JSON file written by :func:`hadoop_write_json`; None when
    absent. py4j passes byte[] buffers BY VALUE (a Java-side read into a
    Python bytearray never reflects back), so the read happens wholly
    JVM-side via commons-io."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


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
    - opens also heal crashed maintenance swaps before anything else, so
      a process death inside maintain()/reband() can't leave a band (or
      the index) invisibly stranded at a sibling path.
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
    # through every directory rename (compaction swaps, re-banding), and
    # no crash window can leave data under one banding described by a
    # meta from another. Write order is always data-then-meta: a crash in
    # between leaves an index without meta, which the legacy/refuse path
    # turns into a loud rebuild — never a silent wrong probe.

    def _meta_path(self, spark: SparkSession, root: str | None = None):
        jvm = spark._jvm
        return jvm.org.apache.hadoop.fs.Path(
            (root or self.path).rstrip("/") + "/_meta.json"
        )

    def _legacy_meta_path(self, spark: SparkSession):
        # early round-8 builds kept the meta as a SIBLING file
        jvm = spark._jvm
        return jvm.org.apache.hadoop.fs.Path(
            self.path.rstrip("/") + "_meta.json"
        )

    def _write_meta(self, spark: SparkSession, root: str | None = None,
                    n_bands: int | None = None) -> None:
        hadoop_write_json(
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
            meta = hadoop_read_json(spark, p)
            if meta is not None:
                return meta
        return None

    def _check_layout(self, spark: SparkSession) -> None:
        """Reconcile instance config with the stored layout; runs once per
        instance (the layout is immutable after creation — only
        ``invalidate`` resets it). Crash recovery runs FIRST: a process
        death inside maintain()'s or reband()'s rename windows leaves a
        band (or the whole index) stranded at a sibling path, and every
        probe until recovery would silently miss that slice of history —
        so the heal must happen at open time, not only inside the next
        maintenance call."""
        if self._layout_checked:
            return
        fs, path = self._fs(spark)
        jvm = spark._jvm
        self._reband_recover(fs, jvm)
        self._compact_recover(fs, jvm)
        if fs.exists(path):
            self._band_recover(fs, jvm)
        if not fs.exists(path):
            # nothing on disk yet: the meta is written right after the
            # data that creates the index
            return
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
                st.getPath().getName().startswith("pband=")
                for st in fs.listStatus(path)
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
        # n_bands: the STORED value always wins once the index exists.
        # Unlike key_col/schema_tag (which say how the KEYS were derived —
        # a mismatch there means the index answers a different question
        # and must be rebuilt), the band count is pure physical sizing:
        # probing with the stored value is always correct, whatever the
        # caller passed. Raising here instead would make every restart
        # after an auto-reband (maintain() legitimately grows n_bands as
        # the corpus grows) pay a full rebuild just to get back to a
        # layout maintain() would immediately re-band again — a perpetual
        # rewrite cycle. The constructor's n_bands is therefore a
        # CREATION-TIME sizing hint only. Loud, though: an operator who
        # changed the value expecting a resize should learn it's a no-op
        # (re-sizing is maintain()'s byte-target re-banding, not config).
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
        distinct = pairs.select(self.key_col).distinct().count()
        n = _MIN_AUTO_BANDS
        while n < distinct * _AUTO_BANDS_FACTOR and n < _MAX_AUTO_BANDS:
            n *= 2
        return n

    def _resolve_bands_for_write(self, spark: SparkSession, pairs: DataFrame) -> None:
        """Fix ``n_bands`` before the first write creates the layout:
        adopt stored meta when the index exists, else derive from the
        write's distinct-key count."""
        self._check_layout(spark)
        if self.n_bands is not None:
            return
        self.n_bands = self._auto_bands(pairs)

    def _fs(self, spark: SparkSession):
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, path

    def _exists_raw(self, spark: SparkSession) -> bool:
        fs, path = self._fs(spark)
        return bool(fs.exists(path))

    def exists(self, spark: SparkSession) -> bool:
        """One filesystem stat — NOT a parquet resolution, which would
        recursively list every band directory (a whole Spark job for a
        many-band index) just to answer yes/no. An existing index is also
        layout-validated here (once per instance): ``exists() -> True``
        gates the callers' migration rebuild, so answering True across a
        layout mismatch would suppress exactly the rebuild that fixes it.
        The layout check runs BEFORE the stat: it heals crashed
        maintenance swaps, which can leave the live directory itself
        renamed aside."""
        fs, path = self._fs(spark)
        self._check_layout(spark)
        if not fs.exists(path):
            return False
        return True

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Full index frame, or None if never written."""
        from ..errors import is_path_not_found

        self._check_layout(spark)
        try:
            df = spark.read.parquet(self.path)
            df.schema  # force resolution
            return df
        except AnalysisException as exc:
            if not is_path_not_found(exc):
                raise
            return None

    def read_bands(self, spark: SparkSession, bands: list[int]) -> DataFrame | None:
        """Pruned read, or None when no requested band exists yet (or the
        index was never written at all — the class's not-found contract,
        same as ``read()``). The band directories are named EXPLICITLY
        (``basePath`` + per-band paths): only the touched directories are
        ever listed — a plain ``spark.read.parquet(root).filter(pband IN
        ...)`` prunes the SCAN but still pays a full recursive listing of
        every band at dataframe creation, which measured as the dominant
        probe cost. One ``listStatus`` of the root (a single readdir)
        filters the request to bands that exist, so a fresh band in the
        batch never 404s. The layout check (which includes crashed-swap
        recovery) runs BEFORE the existence test — a crashed re-band can
        leave the live directory itself renamed aside."""
        fs, root = self._fs(spark)
        self._check_layout(spark)
        if not fs.exists(root):
            return None
        existing = set(hadoop_list_names(spark._jvm, fs, root))
        paths = [
            f"{self.path}/pband={b}" for b in bands if f"pband={b}" in existing
        ]
        if not paths:
            return None
        df = _read_parquet_dirs(
            spark, fs, self.path, paths, schema=self._data_schema
        )
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

        The write is a DIRECT executor-side parquet write (Arrow batches
        → one ``pq.write_table`` per band per task), not a Spark
        ``partitionBy`` append: the dynamic-partition commit machinery
        costs ~10 ms of driver-side work PER PARTITION DIRECTORY per
        write (measured 12 s for a ~900-band append whether the writer
        was one task or thirty-two, committer v1 or v2 — the cost is the
        job-commit/output-listing walk, not file creation), which a
        fingerprint-dense stream (span winnowing, ~10² fps/doc ⇒ hundreds
        of touched bands) pays EVERY micro-batch forever. Direct writes
        cut that to the file I/O itself. Filesystems without a trusted
        pyarrow mapping fall back to the committer path (see
        :class:`PartitionedAppend`) — slow, never wrong.

        Failure model, replacing what the Hadoop task-commit protocol
        gave the old path:

        - *process death mid-append*: files land under a ``_tmp-`` name
          (parquet readers ignore underscore-prefixed files) and are
          renamed into place, so a crash leaves only invisible temps
          (swept by maintain()) plus MISSING index rows for stored docs
          — exactly the gap the streams' in-flight marker + heal covers;
          never a torn visible file.
        - *task retry / speculative attempts*: the FINAL name is
          deterministic per (append, band) — a driver-generated append
          id, not a per-attempt uuid — so a second attempt replaces the
          first attempt's file (same rows for that band) instead of
          adding a duplicate file whose rows would double-count
          ``n_shared`` in the span probe and wrongly drop unique docs.
          Only the ``_tmp-`` staging name is per-attempt.

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
            by_keys = _MIN_AUTO_BANDS
            while by_keys < distinct * _AUTO_BANDS_FACTOR and by_keys < _MAX_AUTO_BANDS:
                by_keys *= 2
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
        """Delete the index, its marker, AND the compaction siblings.
        Called by the streams when the corpus is absent or the stored
        layout contradicts theirs: an index that does not cover the
        corpus would make the stream miss duplicates forever — absence
        forces the migration rebuild instead. The _precompact/_compacting leftovers must die too: a stale
        _precompact surviving invalidation would let a later compact()
        'recover' exactly the stale index this call deleted."""
        fs, path = self._fs(spark)
        jvm = spark._jvm
        for p in (
            path,  # internal meta dies with the directory
            jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_precompact"),
            jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_compacting"),
            jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_bandold"),
            jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_bandtmp"),
            jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_rebandold"),
            jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_rebandtmp"),
            self._legacy_meta_path(spark),
        ):
            if fs.exists(p):
                fs.delete(p, True)
        marker = self._marker_path(spark)
        if fs.exists(marker):
            fs.delete(marker, False)
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

    def _marker_path(self, spark: SparkSession):
        jvm = spark._jvm
        return jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + ".inflight")

    def mark_inflight(self, spark: SparkSession) -> None:
        fs, _ = self._fs(spark)
        out = fs.create(self._marker_path(spark), True)
        out.close()

    def clear_inflight(self, spark: SparkSession) -> None:
        fs, _ = self._fs(spark)
        fs.delete(self._marker_path(spark), False)

    def was_inflight(self, spark: SparkSession) -> bool:
        fs, _ = self._fs(spark)
        return bool(fs.exists(self._marker_path(spark)))

    def compact(self, spark: SparkSession) -> None:
        """Rewrite the index with one file per band. Streaming appends add
        one small file per touched band per micro-batch; over a long run a
        band directory accumulates thousands of files and the probe's open
        cost grows with file count, not data size. Compaction is plain
        parquet maintenance — same rows, same banding — staged through a
        sibling directory and swapped in atomically-enough for the
        SINGLE-WRITER stream this index serves (run it between batches or
        from the stream's own maintenance hook, not concurrently with a
        probe)."""
        fs, path = self._fs(spark)
        jvm = spark._jvm
        tmp = self.path.rstrip("/") + "_compacting"
        old = self.path.rstrip("/") + "_precompact"
        tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
        old_path = jvm.org.apache.hadoop.fs.Path(old)
        # recovery / refusal BEFORE doing anything destructive:
        # a leftover _precompact means a prior compact() died between its
        # two renames — restore it if the live index is gone, refuse (and
        # tell the operator what's what) if both exist; renaming the live
        # index INTO an existing _precompact dir would bury it.
        if fs.exists(old_path):
            if not fs.exists(path):
                if not fs.rename(old_path, path):
                    raise RuntimeError(
                        f"compact recovery: rename {old} -> {self.path} failed"
                    )
            else:
                raise RuntimeError(
                    f"refusing to compact: {old} exists from a crashed "
                    f"compaction alongside a live index at {self.path} — "
                    f"verify which is current and delete the other first"
                )
        if fs.exists(tmp_path):
            fs.delete(tmp_path, True)  # stale staging from a prior crash
        df = self.read(spark)
        if df is None:
            return
        (
            df.repartition("pband")
            .write.mode("overwrite")
            .partitionBy("pband")
            .parquet(tmp)
        )
        # the staged copy carries its own meta so the swap moves layout
        # and data as one unit
        self._write_meta(spark, root=tmp)
        if not fs.rename(path, old_path):
            raise RuntimeError(f"compact: rename {self.path} -> {old} failed")
        if not fs.rename(tmp_path, path):
            # put the original back before failing — and say so loudly if
            # even that fails: the live index is then stranded at
            # _precompact, which the operator must know
            restored = fs.rename(old_path, path)
            raise RuntimeError(
                f"compact: rename {tmp} -> {self.path} failed"
                + (
                    ""
                    if restored
                    else f"; ROLLBACK ALSO FAILED — live index stranded at "
                    f"{old}, restore it manually before the next probe"
                )
            )
        fs.delete(old_path, True)
        # whole-index rewrite: byte sizes changed everywhere; re-learn on
        # the next maintain() tick
        self._reset_maintenance_state()

    # --- per-band maintenance ------------------------------------------
    # compact() rewrites the WHOLE index — right for a one-off cleanup,
    # wrong as a recurring hook: a long-running stream fragments only the
    # bands it touches, and rewriting terabytes of untouched bands to fix
    # a few fragmented ones is the kind of maintenance cost that scales
    # with index size instead of batch size. maintain() compacts ONLY
    # bands whose file count crossed the threshold; untouched bands keep
    # their exact files (byte-identical, never rewritten).

    def _band_recover(self, fs, jvm) -> None:
        """Heal a crashed per-band swap before doing anything else. The
        swap order (stage fully → rename band out → rename staged in →
        delete old) means a leftover ``_bandold/pband=B`` is either the
        live copy (root band missing: restore it) or a superseded old
        copy (root band present — and COMPLETE, because the staged
        replacement was fully written before any rename: delete it)."""
        old_root = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_bandold")
        tmp_root = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_bandtmp")
        if fs.exists(old_root) or fs.exists(tmp_root):
            # a crashed swap means the on-disk state diverged from this
            # instance's dirty/byte bookkeeping — re-learn it on the next
            # maintain() with one full walk
            self._reset_maintenance_state()
        if fs.exists(old_root):
            for st in fs.listStatus(old_root):
                name = st.getPath().getName()
                if not name.startswith("pband="):
                    continue
                live = jvm.org.apache.hadoop.fs.Path(self.path + "/" + name)
                if not fs.exists(live):
                    if not fs.rename(st.getPath(), live):
                        raise RuntimeError(
                            f"maintain recovery: rename {st.getPath()} -> "
                            f"{live} failed"
                        )
                else:
                    fs.delete(st.getPath(), True)
            fs.delete(old_root, True)
        if fs.exists(tmp_root):
            fs.delete(tmp_root, True)  # staging is always safe to drop

    def maintain(
        self,
        spark: SparkSession,
        max_files_per_band: int = 8,
        target_band_bytes: int | None = 256 << 20,
        exclude: DataFrame | None = None,
        exclude_cols: list[str] | None = None,
    ) -> int:
        """Compact every band directory holding more than
        ``max_files_per_band`` parquet files down to one file; returns the
        number of band directories rewritten (all ``n_bands`` of them
        when the size check below triggers a re-band, which subsumes
        per-band compaction). Streaming appends add one small file
        per touched band per micro-batch, so probe open-cost grows with
        file count; this hook (called by the streams between batches)
        bounds it without compact()'s full-index rewrite. Single-writer
        discipline applies: run between batches, never concurrently with
        a probe or append. Crash-safe via the stage/swap in
        ``_band_recover``.

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
        design — rows in bands that never fragment survive until those
        bands are rewritten, so callers' probes must anti-join the
        tombstone set regardless (the dedup streams do)."""
        fs, root = self._fs(spark)
        jvm = spark._jvm
        # recovery BEFORE the existence check: a crashed re-band can leave
        # the live directory itself missing (its content is at _rebandtmp/
        # _rebandold), and an early return here would strand it
        self._reband_recover(fs, jvm)
        if not fs.exists(root):
            return 0
        self._check_layout(spark)
        self._band_recover(fs, jvm)
        full_walk = self._dirty_bands is None or self._band_bytes is None
        self.last_maintain_walk = "full" if full_walk else "dirty"
        fragmented: list[str] = []
        if full_walk:
            self._band_bytes = {}
            inspected = []
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if not name.startswith("pband="):
                    continue
                band = int(name.split("=", 1)[1])
                inspected.append(band)
                n_files = 0
                nbytes = 0
                for f in fs.listStatus(st.getPath()):
                    name_f = f.getPath().getName()
                    # _tmp- leftovers from a crashed direct append are
                    # not live data (readers ignore underscore-prefixed
                    # files): don't count them, DELETE them — maintain()
                    # runs between batches under the single-writer rule,
                    # so any temp seen here is garbage, and without the
                    # sweep they would pile up in band dirs forever
                    if name_f.startswith("_tmp-"):
                        fs.delete(f.getPath(), False)
                        continue
                    if name_f.endswith(".parquet") and not name_f.startswith("_"):
                        n_files += 1
                        nbytes += f.getLen()
                self._band_bytes[band] = nbytes
                if n_files > max_files_per_band:
                    fragmented.append(name)
            self.last_maintain_inspected = sorted(inspected)
        else:
            self.last_maintain_inspected = sorted(self._dirty_bands)
            for band in self.last_maintain_inspected:
                band_path = jvm.org.apache.hadoop.fs.Path(
                    f"{self.path}/pband={band}"
                )
                if not fs.exists(band_path):
                    # touched sets are supersets of the bands actually
                    # written (probe keys include rows later filtered out)
                    continue
                n_files = 0
                nbytes = 0
                for f in fs.listStatus(band_path):
                    name_f = f.getPath().getName()
                    if name_f.startswith("_tmp-"):
                        # crashed-append staging garbage: sweep (see the
                        # full-walk branch for why this is safe here)
                        fs.delete(f.getPath(), False)
                        continue
                    if name_f.endswith(".parquet") and not name_f.startswith("_"):
                        n_files += 1
                        nbytes += f.getLen()
                self._band_bytes[band] = nbytes
                if n_files > max_files_per_band:
                    fragmented.append(f"pband={band}")
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
        if not fragmented:
            return 0
        tmp_root = self.path.rstrip("/") + "_bandtmp"
        old_root = self.path.rstrip("/") + "_bandold"
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(old_root))
        for name in fragmented:
            band_dir = self.path + "/" + name
            staged = tmp_root + "/" + name
            # band files store no partition column (partitionBy strips
            # it), so a plain dir read + rewrite reproduces the layout
            band_df = spark.read.parquet(band_dir)
            if exclude is not None:
                # the exclude frame carries its own broadcast hint (or not
                # — read_tombstones' bounded-broadcast escape decides)
                band_df = band_df.join(exclude, exclude_cols, "left_anti")
            band_df.coalesce(1).write.mode("overwrite").parquet(staged)
            live = jvm.org.apache.hadoop.fs.Path(band_dir)
            old = jvm.org.apache.hadoop.fs.Path(old_root + "/" + name)
            stg = jvm.org.apache.hadoop.fs.Path(staged)
            if not fs.rename(live, old):
                raise RuntimeError(f"maintain: rename {band_dir} -> {old} failed")
            if not fs.rename(stg, live):
                restored = fs.rename(old, live)
                raise RuntimeError(
                    f"maintain: rename {staged} -> {band_dir} failed"
                    + (
                        ""
                        if restored
                        else f"; ROLLBACK ALSO FAILED — band stranded at "
                        f"{old}, restore it manually before the next probe"
                    )
                )
            fs.delete(old, True)
            # refresh the byte cache for the rewritten band (compaction
            # changes encoded size) so the re-band trigger's running
            # total stays exact without any extra walk
            nbytes = 0
            for f in fs.listStatus(live):
                name_f = f.getPath().getName()
                if name_f.endswith(".parquet") and not name_f.startswith("_"):
                    nbytes += f.getLen()
            self._band_bytes[int(name.split("=", 1)[1])] = nbytes
        fs.delete(jvm.org.apache.hadoop.fs.Path(old_root), True)
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_root), True)
        return len(fragmented)

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

    def _reband_recover(self, fs, jvm) -> None:
        """Heal a crashed re-band. Order (stage fully under the NEW
        banding, meta inside → rename live out → rename staged in →
        delete old) means: a leftover ``_rebandold`` with the live index
        missing is a crash between the renames — the staged copy is
        COMPLETE (it was fully written, meta included, before any
        rename), so promote it; with the live index present the old copy
        is superseded — delete it. A leftover ``_rebandtmp`` alone is a
        crash before the swap started: the live index is untouched, drop
        the staging."""
        old_p = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_rebandold")
        tmp_p = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_rebandtmp")
        live = jvm.org.apache.hadoop.fs.Path(self.path)
        promoted = False
        if fs.exists(old_p) or fs.exists(tmp_p):
            # crashed-swap healing invalidates the dirty/byte bookkeeping
            self._reset_maintenance_state()
        if fs.exists(old_p):
            if not fs.exists(live):
                src = tmp_p if fs.exists(tmp_p) else old_p
                if not fs.rename(src, live):
                    raise RuntimeError(
                        f"reband recovery: rename {src} -> {self.path} failed"
                    )
                promoted = True
            if fs.exists(old_p):
                fs.delete(old_p, True)
        if fs.exists(tmp_p):
            fs.delete(tmp_p, True)
        if promoted:
            # the promoted copy's own meta (it carries one — staging
            # writes data + meta before any rename) is authoritative:
            # drop the cached view and re-adopt it on the next open
            self._layout_checked = False
            self.n_bands = None

    def _compact_recover(self, fs, jvm) -> None:
        """Open-time heal for compact()'s crash window: a death between
        its two renames leaves the live index complete at ``_precompact``
        — without this, ``exists()`` reports the index gone and the
        stream pays a full silent rebuild, and the stale ``_precompact``
        then poisons every later compact() with its both-exist refusal.
        Only the unambiguous case is healed here (live missing → restore
        the old copy, drop the possibly-partial staging); live-and-
        ``_precompact``-both-present stays compact()'s loud refusal —
        that state can also be an operator's manual copy, and deleting
        either side on open would be guessing."""
        old_p = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + "_precompact")
        live = jvm.org.apache.hadoop.fs.Path(self.path)
        if fs.exists(old_p) and not fs.exists(live):
            self._reset_maintenance_state()
            if not fs.rename(old_p, live):
                raise RuntimeError(
                    f"compact recovery: rename {old_p} -> {self.path} failed"
                )
            tmp_p = jvm.org.apache.hadoop.fs.Path(
                self.path.rstrip("/") + "_compacting"
            )
            if fs.exists(tmp_p):
                fs.delete(tmp_p, True)

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
        fs, path = self._fs(spark)
        jvm = spark._jvm
        self._check_layout(spark)
        self._reband_recover(fs, jvm)
        if not fs.exists(path):
            return
        df = self.read(spark)
        if df is None:
            return
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
        old_p = jvm.org.apache.hadoop.fs.Path(old)
        tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
        if not fs.rename(path, old_p):
            raise RuntimeError(f"reband: rename {self.path} -> {old} failed")
        if not fs.rename(tmp_p, path):
            restored = fs.rename(old_p, path)
            raise RuntimeError(
                f"reband: rename {tmp} -> {self.path} failed"
                + (
                    ""
                    if restored
                    else f"; ROLLBACK ALSO FAILED — live index stranded at "
                    f"{old}, restore it manually before the next probe"
                )
            )
        fs.delete(old_p, True)
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
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    uri = fs.makeQualified(p).toUri()
    port = uri.getPort()
    return _map_destination(
        (uri.getScheme() or "file").lower(),
        uri.getUserInfo(),
        uri.getHost(),
        None if port is None or int(port) == -1 else int(port),
        uri.getPath(),
    )


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

    Failure model (documented on :meth:`BandedFingerprintIndex.append`):
    per-attempt ``_tmp-`` staging names so a crash leaves only files
    parquet readers ignore, then a rename to a DETERMINISTIC final name
    — ``part-{append_id}-b{band}``, the append id of the store's own
    entry — so task retries and speculative attempts replace rather than
    duplicate."""

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
                    tmp = f"{band_dir}/_tmp-{uuid.uuid4().hex}.parquet"
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
        creating.append(not idx._exists_raw(spark))
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


def append_partitioned(
    appends: list[tuple["PartitionedAppend", DataFrame, str | None]],
    guard: bool = False,
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
    name-based skipping cannot see. A store without a trusted pyarrow
    mapping always takes that anti-join, then the Spark committer write
    (no skip-if-landed names at all)."""
    spark = appends[0][1].sparkSession
    targets = [store.destination(spark) for store, _, _ in appends]
    guarded = [
        store.key_cols is not None and (guard or kind is None)
        for (store, _, _), (kind, _) in zip(appends, targets)
    ]
    # guarded frames are read twice: the partition collect, then the write
    held = [df.persist() for (_, df, _), g in zip(appends, guarded) if g]
    try:
        out: list[list[int] | None] = [None] * len(appends)
        # the direct-written stores: (output slot, frame, data fields)
        direct: list[tuple[int, DataFrame, list]] = []
        dests: list[dict] = []
        for i, ((store, df, aid), (kind, dest), g) in enumerate(
            zip(appends, targets, guarded)
        ):
            rows = store._unstored(df) if g else df
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
    finally:
        for df in held:
            df.unpersist()


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

    Failure model (the banded index's, see
    :meth:`BandedFingerprintIndex.append`): invisible ``_tmp-`` staging,
    then skip-if-landed final names ``part-{append_id}-b{value}``. A
    caller that derives ``append_id`` DETERMINISTICALLY from its batch
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
        self, df: DataFrame, append_id: str | None = None, guard: bool = False
    ) -> list[int] | None:
        """Append ``df``; returns the partition values written, or None
        after a committer write (write set unknown) — the one-store case
        of :func:`append_partitioned`, which documents ``append_id`` and
        ``guard``."""
        return append_partitioned([(self, df, append_id)], guard=guard)[0]

    def _unstored(self, df: DataFrame) -> DataFrame:
        """Rows of ``df`` whose ``key_cols`` are not already stored —
        reading only ``df``'s own partition directories, column-pruned
        to the key."""
        from ..errors import is_path_not_found

        parts = [r[0] for r in df.select(self.part_col).distinct().collect()]
        if not parts:
            return df
        try:
            stored = (
                df.sparkSession.read.parquet(self.path)
                .filter(F.col(self.part_col).isin(parts))
                .select(*self.key_cols)
            )
            stored.schema
        except AnalysisException as exc:
            if not is_path_not_found(exc):
                raise
            return df
        return df.join(stored, self.key_cols, "left_anti")
