"""Document deduplication suite — training-data-pipeline operators.

Four families, each scale-first:

- **exact**      — hash-groupBy on a canonical fingerprint (one shuffle).
- **n-gram Jaccard** — shingle explode → inverted-index self-join → count
  ratio. The join key is the shingle, so the shuffle distributes by shingle;
  frequent shingles are the skew risk → ``max_shingle_df`` drops
  stop-shingles (standard trick; at 100 TB this is what keeps the candidate
  blow-up bounded).
- **MinHash + LSH** — per-doc signature (k independent min-hashes via
  ``xxhash64(shingle, seed)``), banded into buckets; candidate pairs only
  form within a bucket (band join), then are verified with the estimated
  Jaccard from signature agreement. Pure built-ins: explode + groupBy + join.
- **SimHash** — 64-bit signature from token-hash bit votes; near-dup pairs
  share at least one of 4 16-bit chunks (pigeonhole for hamming ≤ 3), so the
  candidate join is chunk-bucketed, then filtered on true hamming distance
  via ``bit_count(xor)``.

All deterministic (seeded hashes, no RNG), so results are reproducible
across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import text as T
from ..functions.rounding import round_div


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization) docs:
    (fingerprint, keep_id=min id, n_copies)."""
    return (
        df.select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_arrays(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh: array<string>) — distinct k-shingles per doc, map-side only.

    The token array is projected FIRST, then shingled from the column: passing
    ``word_shingles(tokens(col))`` inline makes every ``element_at`` inside
    the transform lambda re-evaluate the whole ``split()`` — ~1000 re-splits
    per document, a measured 15× slowdown. (Catalyst keeps the projection
    boundary because the column is referenced many times.)"""
    toks = df.select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("tk"))
    return toks.select("id", T.word_shingles(F.col("tk"), k).alias("sh"))


def shingle_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(id, sh: sorted array<bigint>, n) — the per-doc shingle-set signature
    table that all exact-Jaccard paths share. Sorted ascending so a length-p
    ``slice`` IS the p-prefix under a global shingle order (prefix filtering
    needs one consistent total order across all docs; hash order ≈ random
    order, which is what PPJoin assumes when document frequencies are
    unknown). ``max_shingle_df`` drops stop-shingles (degree cap) via one
    explode/anti-join/re-collect round-trip."""
    # Non-empty-shingles filter MUST be on the token count, not size(sh) > 0:
    # a filter referencing `sh` gets pushed below the projection with the full
    # shingle expression substituted in — including the tokenize lambda, whose
    # inline re-evaluation is the measured 15× slowdown (see _shingle_arrays).
    # size(tk) >= k ⇔ sh non-empty, and only re-evaluates the cheap split.
    toks = df.select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("tk")).filter(
        F.size("tk") >= k
    )
    arrays = toks.select("id", T.word_shingles(F.col("tk"), k).alias("sh"))
    sig = arrays.select(
        "id", F.array_sort(F.transform("sh", lambda s: F.xxhash64(s))).alias("sh")
    )
    # Separate select so CollapseProject keeps `sh` single-evaluated (verified:
    # one xxhash64 in the physical plan); n is cheap on the materialized array.
    sig = sig.select("id", "sh", F.size("sh").alias("n"))
    if max_shingle_df is not None:
        ex = sig.select("id", F.explode("sh").alias("shingle"))
        hot = ex.groupBy("shingle").count().filter(F.col("count") > max_shingle_df)
        sig = (
            ex.join(hot.select("shingle"), "shingle", "left_anti")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list("shingle")).alias("sh"))
            .withColumn("n", F.size("sh"))
            .filter(F.col("n") > 0)
        )
    return sig


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    persist: bool = True,
    sig: DataFrame | None = None,
    strategy: str = "auto",
    total_shingles: int | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard near-dup pairs.
    Returns (a_id, b_id, jaccard) with a_id < b_id, jaccard rounded to 4.

    Two physically different plans, identical output (cross-checked in
    tests/test_dedup_similarity.py), with a measured crossover:

    - ``strategy="count"``: full inverted-index self-join on the shingle
      hash with the PPJoin length filter, then ``i`` = map-side-combined
      COUNT per (a_id, b_id). The shuffles carry only 8-byte ids/sizes —
      the shingle ARRAYS never move (the array_intersect verify shuffles
      both docs' full arrays per candidate: 2.3-2.6× slower at sf0.1
      across thresholds 0.2-0.5). Its pressure point is the partial-agg
      hash map over distinct candidate pairs.
    - ``strategy="ppjoin"``: prefix + positional filtering (candidates only
      from the first ``n − ⌈t·n⌉ + 1`` sorted shingles) with array_intersect
      verification. Wins at HIGH thresholds (the prefix shrinks to (1−t)·n
      so Σ_prefix df² collapses) and on LARGER corpora, where its
      sort-join verify degrades more gracefully than the count path's agg
      hash map (measured at t=0.2: count 2× faster at 5k docs, tie at 20k,
      ppjoin 1.5× faster at 80k — both near-linear, b 1.04 vs 0.79 on the
      top segment).
    - ``strategy="auto"`` (default): ppjoin when the corpus carries more
      than ~2 M shingle rows — the measured crossover, decided by one
      cheap SUM(n) over the signature table; count otherwise. Strictly
      size-based because that is what the measurements support (count also
      won at t=0.5 on the small corpus; the prefix advantage at moderate
      thresholds did not materialize below the crossover). Either way the
      answer is identical — this is a physical-plan choice only. Above
      exhaustive scale entirely, the production path is MinHash-LSH
      (minhash_lsh_exact_pairs, measured b=0.44).

    Both are lossless: the length filter keeps every pair with
    ``t·max(na,nb) ≤ min(na,nb)``, the prefix threshold is backed off by
    1e-3 so pairs whose true Jaccard rounds up to ``threshold`` (round_div's
    +1e-8 HALF_UP at 4 decimals) are still generated, and the final filter
    is on the rounded value, same as the oracle.

    ``persist=True`` caches the signature table (MEMORY_AND_DISK): it is
    read by both sides of the self-join (and, under ppjoin, the two verify
    joins); uncached, Catalyst would recompute the tokenize→shingle→sort
    scan per read. At 100 TB this table is the dedup index — persisting (or
    staging to parquet) it is the intended physical design. Pass ``sig``
    (id, sh, n — e.g. from ``load_or_build_signature_store``) to start from
    the staged index and skip the build entirely.
    """
    if sig is None:
        sig = shingle_signature(df, id_col, text_col, k, max_shingle_df)
    if persist:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    tp = max(threshold - 1e-3, 0.0)
    if strategy == "auto":
        # ``total_shingles`` (from store metadata — signature_store_totals)
        # spares the decision job: auto otherwise spends a Spark round-trip
        # deciding how to run the query (round-14 guide §1.2).
        if total_shingles is None:
            total_shingles = sig.agg(F.sum("n")).collect()[0][0] or 0
        strategy = "ppjoin" if total_shingles > 2_000_000 else "count"
    if strategy == "count":
        ex = sig.select("id", "n", F.explode("sh").alias("shingle"))
        a = ex.select(F.col("id").alias("a_id"), F.col("n").alias("na"), "shingle")
        b = ex.select(F.col("id").alias("b_id"), F.col("n").alias("nb"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(
                (F.col("a_id") < F.col("b_id"))
                # length filter: integer n ≥ real x  ⇔  n ≥ ceil(x)
                & (F.col("na") >= F.ceil(F.lit(tp) * F.col("nb")))
                & (F.col("nb") >= F.ceil(F.lit(tp) * F.col("na")))
            )
            .groupBy("a_id", "b_id", "na", "nb")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        return (
            inter.withColumn(
                "jaccard",
                round_div(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "jaccard")
        )
    if strategy != "ppjoin":
        raise ValueError(f"unknown strategy {strategy!r}")
    p = (F.col("n") - F.ceil(F.lit(tp) * F.col("n")) + 1).cast("int")
    pre = sig.select(
        "id", "n", F.posexplode(F.slice("sh", 1, F.greatest(p, F.lit(1)))).alias("pos", "shingle")
    )
    a, b = pre.alias("a"), pre.alias("b")
    # Positional filter (PPJoin): for the pair's FIRST shared shingle, every
    # common element sits at-or-after the match in both sorted arrays, so
    # i ≤ min(na − pos_a, nb − pos_b) (0-based pos); J ≥ t needs
    # i ≥ t·(na+nb)/(1+t). Applying the bound to every match row then
    # distinct-ing is lossless: the first-match row always satisfies it.
    alpha = F.ceil(F.lit(tp / (1.0 + tp)) * (F.col("a.n") + F.col("b.n")))
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: integer n ≥ real x  ⇔  n ≥ ceil(x)
            & (F.col("a.n") >= F.ceil(F.lit(tp) * F.col("b.n")))
            & (F.col("b.n") >= F.ceil(F.lit(tp) * F.col("a.n")))
            & (F.least(F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")) >= alpha),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"), F.col("n").alias("na"))
    sb = sig.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # NOTE (round 14): deferring this distinct past the verify joins was
    # tried and measured 2.5× SLOWER at sf0.1 — the distinct's exchange is
    # the stats point AQE uses to plan the verify joins as broadcasts, and
    # removing it left million-row sort-merge joins in one fused stage.
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("i", inter)
        .withColumn("jaccard", round_div(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    persist: bool = True,
    sig: DataFrame | None = None,
    strategy: str = "auto",
    total_shingles: int | None = None,
) -> DataFrame:
    """Directed shingle-CONTAINMENT near-dup pairs: C(src→dst) =
    |S_src ∩ S_dst| / |S_src|, the asymmetric overlap measure. Returns
    (src_id, dst_id, containment) with src ≠ dst and the rounded
    containment ≥ ``threshold``.

    Jaccard misses the partial-copy contamination mode: a paragraph lifted
    wholesale into a much longer document scores J = |A|/|B| ≈ 0 however
    exact the copy, while C(A→B) = 1. Containment is what quote/excerpt
    dedup and eval-contamination sweeps actually need (it is also what
    the winnowing span family approximates at the substring level —
    this is the word-shingle analogue with an exact ratio).

    Same two physical plans as :func:`ngram_jaccard_pairs`, adapted to the
    asymmetric bound (C ≥ t constrains only the SRC side's set size —
    there is no upper length filter on dst):

    - ``strategy="count"``: inverted-index join on the 8-byte shingle
      hash, dst-side length filter ``nb ≥ ⌈t·na⌉`` (an overlap of t·na
      cannot fit in a smaller dst set), map-side-combined COUNT per
      directed pair. Shuffles carry only ids/sizes, never arrays.
    - ``strategy="prefix"``: PPJoin-style prefix filter on the SRC side
      only — if C(src→dst) ≥ t then among src's first
      ``na − ⌈t·na⌉ + 1`` sorted shingles at least one is common, and a
      match at 0-based position ``pos`` bounds the overlap by
      ``na − pos``, so candidates need ``na − pos ≥ ⌈t·na⌉``. The dst
      side explodes fully (no prefix exists for it), candidates are
      distinct-ed, and ``array_intersect`` on the signature arrays
      verifies. Wins when t is high (src prefixes collapse) on large
      corpora; the count path's agg hash map wins below the crossover.
    - ``strategy="auto"``: a measured ~100k-shingle-rows crossover
      (round 14 — much earlier than the Jaccard family's 2M: the
      asymmetric src-only prefix shrinks the candidate join faster),
      decided from store metadata (``total_shingles``) or one SUM(n)
      over the signature table.

    Both are lossless (the prefix bound is backed off by 1e-3 so pairs
    whose true containment rounds up to ``threshold`` under round_div's
    +1e-8 HALF_UP still generate candidates) and produce identical
    output — cross-checked in tests/test_dedup_similarity.py. Skew and
    stop-shingle degree caps from the Jaccard family apply unchanged
    (the join key is the same shingle hash); at corpus scales beyond the
    exhaustive join, bucket first with MinHash-LSH and verify candidates
    with this exact ratio.
    """
    if sig is None:
        sig = shingle_signature(df, id_col, text_col, k)
    if persist:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    tp = max(threshold - 1e-3, 0.0)
    if strategy == "auto":
        # ``total_shingles`` (store metadata) spares the decision job —
        # see ngram_jaccard_pairs. Crossover RE-MEASURED in round 14
        # (interleaved A/B, OPTIMIZATION_r14.md): at t=0.5 prefix wins
        # from ~260k shingle rows (2.65 vs 3.05 s at sf0.1) while count
        # wins at ~26k (0.7 vs 0.9 s at sf0.01) — the asymmetric prefix
        # (src side only, (1−t)·n) pays off far earlier than the
        # symmetric Jaccard crossover, whose 2M constant had been applied
        # here unmeasured.
        if total_shingles is None:
            total_shingles = sig.agg(F.sum("n")).collect()[0][0] or 0
        strategy = "prefix" if total_shingles > 100_000 else "count"
    if strategy == "count":
        ex = sig.select("id", "n", F.explode("sh").alias("shingle"))
        a = ex.select(F.col("id").alias("src_id"), F.col("n").alias("na"), "shingle")
        b = ex.select(F.col("id").alias("dst_id"), F.col("n").alias("nb"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(
                (F.col("src_id") != F.col("dst_id"))
                # dst-side length filter: integer nb ≥ real t·na ⇔ nb ≥ ceil
                & (F.col("nb") >= F.ceil(F.lit(tp) * F.col("na")))
            )
            .groupBy("src_id", "dst_id", "na")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        return (
            inter.withColumn("containment", round_div(F.col("i") / F.col("na"), 4))
            .filter(F.col("containment") >= threshold)
            .select("src_id", "dst_id", "containment")
        )
    if strategy != "prefix":
        raise ValueError(f"unknown strategy {strategy!r}")
    p = (F.col("n") - F.ceil(F.lit(tp) * F.col("n")) + 1).cast("int")
    pre = sig.select(
        "id",
        "n",
        F.posexplode(F.slice("sh", 1, F.greatest(p, F.lit(1)))).alias("pos", "shingle"),
    )
    full = sig.select(
        F.col("id").alias("dst_id"), F.col("n").alias("nb"), F.explode("sh").alias("shingle")
    )
    alpha = F.ceil(F.lit(tp) * F.col("n"))
    cand = (
        pre.join(
            full,
            (pre["shingle"] == full["shingle"])
            & (F.col("id") != F.col("dst_id"))
            & (F.col("nb") >= alpha)
            # positional bound: overlap ≤ na − pos (0-based pos in src)
            & (F.col("n") - F.col("pos") >= alpha),
        )
        .select(F.col("id").alias("src_id"), "dst_id")
        .distinct()
    )
    sa = sig.select(F.col("id").alias("src_id"), F.col("sh").alias("sh_a"), F.col("n").alias("na"))
    sb = sig.select(F.col("id").alias("dst_id"), F.col("sh").alias("sh_b"))
    # NOTE (round 14): deferring the candidate distinct past the verify was
    # tried and measured 2.5× slower — see the matching note in
    # ngram_jaccard_pairs (the distinct's exchange feeds AQE's broadcast
    # re-planning of the verify joins).
    return (
        cand.join(sa, "src_id")
        .join(sb, "dst_id")
        .withColumn(
            "containment",
            round_div(F.size(F.array_intersect("sh_a", "sh_b")) / F.col("na"), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("src_id", "dst_id", "containment")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 32
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — sig[i] = min over shingles of
    xxhash64(shingle, i). Computed entirely map-side with array transforms
    (no explode, no shuffle): at scale the signature build is a pure scan
    stage, and only the (id, sig) rows — a fixed 8·num_hashes bytes/doc —
    ever move.

    Independent permutations are seeded re-hashes of the 8-byte base shingle
    hash. (Kirsch-Mitzenmacher linear perms were tried and rejected: min over
    correlated perms collapses signature diversity and inflates the estimated
    Jaccard ~7× on the synthetic corpus.) The base-hash array sits in its own
    projection so the ``num_hashes`` transforms reference a cheap attribute,
    not ``num_hashes`` re-expansions of the shingle expression (the
    CollapseProject/pushdown trap documented on shingle_signature)."""
    toks = df.select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("tk")).filter(
        F.size("tk") >= k
    )
    arrays = toks.select("id", T.word_shingles(F.col("tk"), k).alias("sh"))
    hashed = arrays.select("id", F.transform("sh", lambda s: F.xxhash64(s)).alias("h"))
    sig = F.array(
        *[
            F.array_min(F.transform("h", lambda x: F.xxhash64(x, F.lit(i))))
            for i in range(num_hashes)
        ]
    )
    return hashed.select("id", sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash-LSH candidate generation + signature-estimated Jaccard.

    ``bands`` bands of ``num_hashes/bands`` rows; docs agreeing on any full
    band collide. Estimated similarity = fraction of agreeing hash slots.
    Returns (a_id, b_id, est_jaccard ≥ threshold)."""
    rows = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, k, num_hashes)
    banded = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(*[F.xxhash64(F.slice("sig", i * rows + 1, rows).cast("string")) for i in range(bands)])
        ).alias("band", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        cand.withColumn("est_jaccard", round_div(agree / F.lit(num_hashes), 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("a_id", "b_id", "est_jaccard")
    )


def minhash_lsh_exact_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
    verify_sig: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT Jaccard verification — the
    production dedup shape: the sketch only *selects* candidates (cheap,
    bucketed join), the decision value is the true Jaccard computed once per
    surviving pair from the shingle-set signature table. Because the output
    is exact (not signature-estimated), it is oracle-checkable against the
    same SQL as the exhaustive n-gram path whenever LSH recall is 1 on the
    corpus — which holds deterministically here: qualifying pairs are planted
    near-dups with J ≥ 0.889, where the 8-band/4-row miss probability is
    (1 − J⁴)⁸ ≈ 4e-4 per pair and the seeded signatures make the outcome
    reproducible, not probabilistic. Returns (a_id, b_id, jaccard)."""
    rows = num_hashes // bands
    # Both signature tables are read twice (each side of a self-join). A
    # caller-supplied ``sigs`` is the persisted parquet minhash store
    # (load_or_build_minhash_store) — already a cheap columnar scan, not
    # re-persisted (same rule as verify_sig below); a derived-on-the-fly
    # signature table is persisted so the tokenize→shingle→hash scan runs
    # once. At 100 TB these ARE the dedup index, staged to parquet.
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, k, num_hashes).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(*[F.xxhash64(F.slice("sig", i * rows + 1, rows).cast("string")) for i in range(bands)])
        ).alias("band", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # A caller-supplied verify_sig is typically the persisted parquet
    # signature store — already a cheap columnar scan. Persisting it here
    # too would stack a fresh MEMORY_AND_DISK copy per invocation (bench
    # iterations leak cached copies — advisor round-3 finding), so only the
    # derived-on-the-fly signature table is cached.
    if verify_sig is not None:
        sig = verify_sig
    else:
        sig = shingle_signature(df, id_col, text_col, k).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    sa = sig.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"), F.col("n").alias("na"))
    sb = sig.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("i", inter)
        .withColumn("jaccard", round_div(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def md5_token_hash60(t):
    """60-bit token hash from the first 15 md5 hex chars — fits the signed
    positive range of BIGINT in BOTH Spark and DuckDB, making SimHash built
    on it reproducible in ANSI SQL (xxhash64 is Spark-only)."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 64, token_hash=None
) -> DataFrame:
    """(id, simhash: bigint) — ``nbits``-bit SimHash over whitespace tokens.
    Bit j of the signature is the sign of the vote sum over token-hash bit j
    (token multiplicity counts). Map-side only: token hashes are one array
    transform; each bit's vote is 2·|set bits| − |tokens| via a filter-size,
    so no token rows are ever exploded or shuffled. Default token hash is
    xxhash64 (fastest, engine-specific); pass ``md5_token_hash60`` with
    nbits=60 for the SQL-reproducible variant."""
    if token_hash is None:
        token_hash = F.xxhash64
    hashes = df.select(
        F.col(id_col).alias("id"),
        F.transform(T.tokens(F.col(text_col)), lambda t: token_hash(t)).alias("hs"),
    ).filter(F.size("hs") > 0)
    n = F.size("hs")
    sig = None
    for j in range(nbits):
        set_bits = F.size(
            F.filter("hs", lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1)
        )
        vote = 2 * set_bits - n  # > 0 ⇔ majority of tokens set bit j
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseXOR(term)  # disjoint bits: XOR == OR == +
    return hashes.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    nbits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming`` (< chunk
    count), using 4-chunk pigeonhole bucketing so the candidate join is
    equi- not cross-."""
    cw = nbits // 4  # chunk width; hamming ≤ 3 < 4 chunks ⇒ one chunk equal
    mask = (1 << cw) - 1
    sigs = simhash_signatures(df, id_col, text_col, nbits=nbits, token_hash=token_hash)
    chunked = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * cw).bitwiseAND(F.lit(mask))
                    for c in range(4)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def choose_minhash_params(
    jaccard_threshold: float,
    target_miss: float = 1e-3,
    rows_per_band: int = 4,
    max_hashes: int = 256,
) -> tuple[int, int]:
    """(num_hashes, bands) such that a pair AT the Jaccard threshold is
    missed with probability ≤ ``target_miss``: per-hash collision
    probability IS the Jaccard similarity, so miss = (1 − J^r)^b. Fixing
    r trades recall for candidate volume (smaller r = more candidates);
    the bands count is solved from the target. The catalog's 32-hash /
    8-band setting corresponds to the planted-dup regime (J ≥ 0.889),
    where miss ≈ 4e-4."""
    import math

    band_p = jaccard_threshold**rows_per_band
    if band_p >= 1.0:
        return rows_per_band, 1
    bands = math.ceil(math.log(target_miss) / math.log(1.0 - band_p))
    bands = max(1, min(bands, max_hashes // rows_per_band))
    return bands * rows_per_band, bands


# --- persisted signature store: build once, dedup many ---------------------

_SIG_WAREHOUSE: str | None = None


def _sig_warehouse_root() -> str:
    global _SIG_WAREHOUSE
    if _SIG_WAREHOUSE is None:
        import os

        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        _SIG_WAREHOUSE = os.path.join(repo, "spark-warehouse", "shingle_sig")
    return _SIG_WAREHOUSE


def signature_store_path(sf_dir: str, table_name: str, k: int) -> str:
    """Keyed by (sf basename, source table, k, source fingerprint) — the
    ivf/pq store convention: a regenerated dataset keys a fresh build. The
    fingerprint covers the full parquet file listing and raises on an
    unstattable source (no silent shared key)."""
    import os

    from ..fingerprint import source_fingerprint

    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    stamp = "_" + source_fingerprint(os.path.join(sf_dir, f"{table_name}.parquet"))
    return os.path.join(_sig_warehouse_root(), f"{tag}_{table_name}_k{k}{stamp}")


def load_or_build_signature_store(
    spark,
    df: DataFrame,
    sf_dir: str,
    table_name: str = "documents",
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The PPJoin shingle-signature table (id, sh, n) staged to parquet —
    the dedup INDEX of the corpus, built once per (sf, table, k, source
    fingerprint) and shared by every Jaccard consumer (pair mining,
    transitive clustering, dedup-aware splitting). At 100 TB the
    tokenize→shingle→hash→sort scan is the dominant dedup cost; staging it
    amortizes that scan across every dedup-family job on the cluster, the
    same build/probe economics as the IVF and PQ stores."""
    import os

    path = signature_store_path(sf_dir, table_name, k)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    sig = shingle_signature(df, id_col, text_col, k)
    sig.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    _settle_sig_meta(spark, path)
    return out


def _settle_sig_meta(spark, path: str) -> dict:
    """Read (or compute-once-and-write) the store's ``_sig_meta.json``:
    {"total_shingles": Σn, "n_docs": count}. The strategy crossover in the
    Jaccard/containment pair miners is a function of corpus size; reading
    it from index metadata replaces a per-query SUM(n) Spark job with one
    driver-side file read (guide §1.2: don't spend a job deciding how to
    run the job). Settling is idempotent and amortized like the forward
    sidecar: pre-existing stores gain the file on first load."""
    import json
    import os

    meta_path = os.path.join(path, "_sig_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    row = (
        spark.read.parquet(path)
        .agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("d"))
        .collect()[0]
    )
    meta = {"total_shingles": int(row["t"] or 0), "n_docs": int(row["d"])}
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return meta


def signature_store_totals(
    spark, sf_dir: str, table_name: str = "documents", k: int = 3
) -> dict | None:
    """Store metadata for an existing signature store (None if absent):
    the driver-side replacement for the auto-strategy SUM(n) job."""
    import os

    path = signature_store_path(sf_dir, table_name, k)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    return _settle_sig_meta(spark, path)


def minhash_store_path(
    sf_dir: str, table_name: str, k: int, num_hashes: int
) -> str:
    """Keyed like signature_store_path, plus the signature width."""
    import os

    from ..fingerprint import source_fingerprint

    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    stamp = "_" + source_fingerprint(os.path.join(sf_dir, f"{table_name}.parquet"))
    return os.path.join(
        _sig_warehouse_root(), f"{tag}_{table_name}_mh{num_hashes}_k{k}{stamp}"
    )


def load_or_build_minhash_store(
    spark,
    df: DataFrame,
    sf_dir: str,
    table_name: str = "documents",
    k: int = 3,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The (id, sig) MinHash signature table staged to parquet — the sketch
    half of the dedup index, sibling of the shingle-set store above. The
    tokenize→shingle→hash→min scan is the dominant LSH cost at scale;
    staging it makes every LSH consumer (banding, incremental dedup, this
    round's benched query) a columnar scan of 8·num_hashes bytes/doc, the
    same build/probe economics as the IVF and PQ stores."""
    import os

    path = minhash_store_path(sf_dir, table_name, k, num_hashes)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    sig.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --- winnowing: duplicated-passage detection -------------------------------
#
# The fifth dedup family, SUBSTRING-level where the four above are document-
# level: two documents that each embed the same long boilerplate passage but
# differ elsewhere score low on whole-document Jaccard/MinHash/SimHash yet
# are exactly what training-data substring dedup (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better") must catch.
# Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003) gives the scalable
# approximation of their suffix-array approach: hash every character k-gram,
# slide a w-hash window, keep each window's minimum. Guarantees: (1) any
# shared substring of at least w + k - 1 characters yields at least one
# shared fingerprint; (2) expected fingerprint density is 2/(w+1) of the
# k-gram count, so the inverted index is ~8x smaller than the full k-gram
# set at the default w=15.


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 15,
    max_doc_chars: int | None = None,
) -> DataFrame:
    """(id, fp) — distinct winnowed character-k-gram fingerprints per doc.

    ``max_doc_chars`` is the long-document skew guard: the window-min is a
    per-doc analytic window, so one multi-MB document serializes one task
    for its whole length. When set, each doc is split into chunks of at
    most ``max_doc_chars`` normalized chars overlapping by exactly
    w + k − 2 chars — the least overlap under which EVERY w-gram window of
    the original lies wholly inside some chunk — and the window runs per
    (doc, chunk): task skew is bounded by ``max_doc_chars`` instead of max
    document length. The fingerprint set is INVARIANT under chunking
    (chunks are substrings, so no new windows appear; the overlap bound
    means none disappear; the final per-doc ``distinct`` collapses the
    overlap's repeats) — pinned against the unchunked plan and the
    pure-python mirror in tests/test_properties.py.

    The k-gram hash array is pure map-side column expressions; the sliding
    window-min is a per-doc analytic window over the posexploded hashes —
    ONE exchange keyed by doc id carrying 8-byte hash rows, the same
    shuffle-volume class as the shingle explode the n-gram family already
    pays (an all-array form — min over ``slice`` per window start — is
    map-side on paper, but Catalyst inlines the hash-array producer into
    every one of the n·w slice elements, re-running the md5 scan per
    window: measured minutes vs seconds on 50 docs). Window skew is
    bounded by max document length. The hash is the engine-portable 48-bit
    md5 prefix (``conv(substr(md5(g),1,12),16,10)``, the ``hash_fraction``
    convention) so the DuckDB oracle reproduces it bit-for-bit. Docs
    shorter than k + w - 1 normalized chars emit nothing (no full window
    exists)."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"), T.normalize_text(F.col(text_col)).alias("txt")
    ).filter(F.length("txt") >= k + w - 1)
    if max_doc_chars is None:
        units, keys = base, ["id"]
    else:
        if max_doc_chars < k + w - 1:
            raise ValueError(
                f"max_doc_chars={max_doc_chars} must be >= k + w - 1 = "
                f"{k + w - 1} (a chunk must hold at least one full window)"
            )
        step = max_doc_chars - (w + k - 2)
        units = base.select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("txt"), F.lit(step)),
                    lambda st: F.substr(F.col("txt"), st, F.lit(max_doc_chars)),
                )
            ).alias("ci", "txt"),
            # chunks too short for a full window contribute nothing; their
            # windows (if any existed in the doc) live in the prior chunk
        ).filter(F.length("txt") >= k + w - 1)
        keys = ["id", "ci"]
    grams = units.select(
        *keys,
        F.transform(
            F.sequence(F.lit(1), F.length("txt") - (k - 1)),
            lambda p: F.substr(F.col("txt"), p, F.lit(k)),
        ).alias("g"),
    )
    hashed = grams.select(
        *keys,
        F.posexplode(
            F.transform(
                "g",
                lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
            )
        ).alias("i", "h"),
    )
    fwd = Window.partitionBy(*keys).orderBy("i").rowsBetween(0, w - 1)
    per_doc = Window.partitionBy(*keys)
    wm = hashed.select(
        *keys,
        F.col("i"),
        F.min("h").over(fwd).alias("fp"),
        F.count(F.lit(1)).over(per_doc).alias("n_grams"),
    )
    # window starts are 0-based here: valid starts are 0 .. n_grams - w
    return wm.filter(F.col("i") <= F.col("n_grams") - w).select("id", "fp").distinct()


def duplicate_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 15,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    fps: DataFrame | None = None,
    max_doc_chars: int | None = None,
) -> DataFrame:
    """(a_id, b_id, n_shared, overlap) — document pairs sharing at least
    ``min_shared`` winnowed fingerprints. Recall is guaranteed for true
    duplicated passages (any shared span ≥ w + k − 1 chars yields ≥ 1
    shared fingerprint); the converse is weaker — each shared fingerprint
    only certifies a shared k-gram, so rank reported pairs by
    ``verify_span_pairs``'s exact LCS when span length matters.

    ``overlap`` is the fingerprint-set Jaccard (resemblance of the
    fingerprinted content, 4 dp). ``max_fp_df`` drops fingerprints present
    in more than that many documents before pairing — the stop-shingle
    trick from the n-gram family: corpus-wide boilerplate k-grams are what
    turn the inverted-index self-join quadratic at 100 TB, and a passage
    shared by thousands of documents is litter to report pairwise anyway
    (catch those with a groupBy on fp instead). The boilerplate cutoff is
    a count-over-fp window, NOT a groupBy+semi-join: it shuffles by fp
    exactly once — the same partitioning the candidate self-join needs —
    instead of re-running the fingerprint scan for a membership side. Pass
    ``fps`` (from ``load_or_build_winnow_store``) to amortize the
    fingerprint scan across queries; the pair join is fingerprint-bucketed
    (equi-join on fp) — candidates only form within a bucket, never
    all-pairs.

    Cache lifecycle: the fingerprint table is persisted (read 3×: sizes +
    both join sides) and, because the returned frame is lazy, CANNOT be
    unpersisted here — the CALLER owns the cache entry and should
    ``spark.catalog.clearCache()`` (or track+unpersist) after
    materializing the result when calling repeatedly in one session."""
    from pyspark.sql import Window

    if fps is None:
        fps = winnow_fingerprints(
            df, id_col, text_col, k=k, w=w, max_doc_chars=max_doc_chars
        )
    if max_fp_df is not None:
        if "fp_df" in fps.columns:
            # store path: the corpus-wide df was precomputed at build —
            # the cutoff is a map-side filter over the columnar scan
            fps = fps.filter(F.col("fp_df") <= max_fp_df)
        else:
            fps = fps.withColumn(
                "fp_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
            ).filter(F.col("fp_df") <= max_fp_df)
    fps = fps.select("id", "fp")
    fps = fps.persist(StorageLevel.MEMORY_AND_DISK)  # read 3x: sizes + both join sides
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = fps.alias("a"), fps.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            round_div(
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 4
            ).alias("overlap"),
        )
    )


def winnow_store_path(sf_dir: str, table_name: str, k: int, w: int) -> str:
    import os

    from ..fingerprint import source_fingerprint

    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    stamp = "_" + source_fingerprint(os.path.join(sf_dir, f"{table_name}.parquet"))
    # "winnow2": schema v2 carries the precomputed fp_df column — the tag
    # bump keeps v1 stores from being read with the wrong schema
    return os.path.join(_sig_warehouse_root(), f"winnow2_{tag}_{table_name}_k{k}_w{w}{stamp}")


def load_or_build_winnow_store(
    spark,
    df: DataFrame,
    sf_dir: str,
    table_name: str = "documents",
    k: int = 20,
    w: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The (id, fp, fp_df) winnowed-fingerprint table staged to parquet —
    the substring-dedup index, sibling of the shingle/MinHash stores: the
    normalize→gram→hash→window-min scan is the dominant cost (it touches
    every character of the corpus), the staged result is ~2/(w+1) of the
    gram count in 8-byte rows, and every consumer (pair mining, incremental
    contains-probes) becomes a columnar scan of the store. ``fp_df`` (the
    corpus-wide document frequency of each fingerprint) is parameter-free
    and precomputed at build, so the boilerplate cutoff that every query
    applies becomes a map-side filter over the scan instead of a
    corpus-wide count window per query."""
    import os

    from pyspark.sql import Window

    path = winnow_store_path(sf_dir, table_name, k, w)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).withColumn(
        "fp_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    fps.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def verify_span_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(a_id, b_id, n_shared, overlap, lcs_len) — the verify step of the
    substring family ("sketch selects, true metric decides", the same
    shape as MinHash's exact-Jaccard verify): for each REPORTED pair,
    the exact longest-common-substring length of the normalized texts,
    via binary search over a vectorized rolling hash (Rabin-Karp feasible-
    length check) on an Arrow-batched pair table.

    Cost is bounded by the REPORTED pairs (already mined, already small),
    never the corpus: two id-joins ship only the candidate texts, and the
    per-pair cost is O((|a|+|b|)·log min(|a|,|b|)) — NOT the O(|a|·|b|)
    difflib scan this replaced, which made a single pair of two ~1 MB docs
    a multi-hour task. Exactness is preserved: candidate window matches
    found by 64-bit hash equality are re-checked by actual substring
    comparison (a collision can cost time, never a wrong answer; equal
    substrings always hash equal, so no match is missed), pinned by an
    equivalence test against difflib in tests/test_dedup_similarity.py.

    What is and is NOT guaranteed — the winnowing guarantee is
    one-directional: any shared span ≥ w + k − 1 chars yields a shared
    fingerprint, but a reported pair only implies shared K-GRAMS (each
    shared fingerprint is an equal gram hash), so the sound bound is
    ``lcs_len ≥ k`` modulo ~2⁻⁴⁸ hash collisions. A pair of docs sharing
    ``min_shared`` scattered 20-char grams — and no longer span — is a
    LEGITIMATE report with lcs_len ≈ k; use lcs_len to rank/threshold
    pairs by true span length, not to declare low values collisions.

    Pairs whose ids are missing from ``df`` (e.g. mined from a persisted
    store built on an earlier snapshot) come back with ``lcs_len`` NULL —
    surfaced as unverifiable, never silently dropped."""
    a_txt = df.select(
        F.col(id_col).alias("a_id"), T.normalize_text(F.col(text_col)).alias("a_txt")
    )
    b_txt = df.select(
        F.col(id_col).alias("b_id"), T.normalize_text(F.col(text_col)).alias("b_txt")
    )
    joined = pairs.join(a_txt, "a_id", "left").join(b_txt, "b_id", "left")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema.fields
    ) + ", lcs_len int"

    def run(batches):
        # closure-safe on executors: all imports inside
        import pandas as pd
        import numpy as np

        lcs_len = _lcs_kernel()

        old = np.seterr(over="ignore")  # uint64 wraparound IS the modulus
        try:
            for pdf in batches:
                lens = []
                for a, b in zip(pdf["a_txt"], pdf["b_txt"]):
                    if a is None or b is None:
                        lens.append(None)  # unverifiable: doc absent from df
                        continue
                    lens.append(lcs_len(a, b))
                res = pdf.drop(columns=["a_txt", "b_txt"])
                res["lcs_len"] = pd.array(lens, dtype="Int32")
                yield res
        finally:
            np.seterr(**old)

    return joined.mapInPandas(run, schema=out_schema)


def _lcs_kernel(base: int = 0x9E3779B97F4A7C15):
    """The exact-LCS kernel behind ``verify_span_pairs``: returns a pure
    ``lcs_len(a, b) -> int`` closure (binary search over a vectorized
    Rabin-Karp feasible-length check). Module-level and ``base``-
    parameterized for ONE reason: exactness under hash collisions is a
    code path ~2⁻⁶⁴-rare under the production base, so the unit test
    injects a degenerate base (e.g. 1, which collapses a window's hash to
    its codepoint SUM — every anagram collides) to force the fallback
    re-check loops to actually execute (tests/test_dedup_similarity.py).
    ``base`` must be odd (invertible mod 2^64)."""
    import numpy as np

    BASE = base
    BINV = pow(BASE, -1, 1 << 64)

    def prep(s: str):
        """Per-string precompute reused across binary-search steps:
        code points c, prefix sums S[j] = Σ_{u<j} c[u]·B^{-u}, and the
        position factors Bpow[i] = B^i — all mod 2^64 via native
        uint64 wraparound (no Python bignums in the hot path)."""
        c = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
            np.uint64
        )
        n = len(c)
        binv_pow = np.empty(n, dtype=np.uint64)
        bpow = np.empty(n, dtype=np.uint64)
        if n:
            binv_pow[0] = 1
            bpow[0] = 1
            if n > 1:
                # cumprod of a constant vector: exponent chains
                # BINV^1..BINV^{n-1} / BASE^1..BASE^{n-1}, mod 2^64
                np.cumprod(
                    np.full(n - 1, BINV, dtype=np.uint64), out=binv_pow[1:]
                )
                np.cumprod(
                    np.full(n - 1, BASE, dtype=np.uint64), out=bpow[1:]
                )
        S = np.zeros(n + 1, dtype=np.uint64)
        if n:
            np.cumsum(c * binv_pow, out=S[1:])
        return c, S, bpow

    def feasible(a, b, pa, pb, L: int) -> bool:
        """Is there a common substring of length L? Hash windows of
        both strings, intersect, re-check candidates by true substring
        equality (exactness under collisions)."""
        ca, Sa, Pa = pa
        cb, Sb, Pb = pb
        if L == 0:
            return True
        if L > len(ca) or L > len(cb):
            return False
        scale = np.uint64(pow(BASE, L - 1, 1 << 64))
        ha = (Sa[L:] - Sa[:-L]) * Pa[: len(ca) - L + 1] * scale
        hb = (Sb[L:] - Sb[:-L]) * Pb[: len(cb) - L + 1] * scale
        common, ia, ib = np.intersect1d(
            ha, hb, assume_unique=False, return_indices=True
        )
        if common.size == 0:
            return False
        # first-occurrence pairs: with a 64-bit hash essentially every
        # candidate is a true match
        for i, j in zip(ia, ib):
            if a[i : i + L] == b[j : j + L]:
                return True
        # collision fallback (astronomically rare): all positions
        for h in common:
            subs_b = {b[j : j + L] for j in np.where(hb == h)[0]}
            for i in np.where(ha == h)[0]:
                if a[i : i + L] in subs_b:
                    return True
        return False

    def lcs_len(a: str, b: str) -> int:
        if not a or not b:
            return 0
        pa, pb = prep(a), prep(b)
        lo, hi = 0, min(len(a), len(b))
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if feasible(a, b, pa, pb, mid):
                lo = mid
            else:
                hi = mid - 1
        return lo

    return lcs_len
