"""Composed training-corpus preparation — the LLM-data-pipeline story as one
declared, oracle-checked query: quality filter → exact dedup → near-dedup
(transitive via pairs, survivor = min id) → per-language corpus stats.
Plus the rows-only cluster/IVF capabilities behind it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.rounding import round_div
from ..operators import cluster, dedup, ivf, textanalysis, vectorml
from ..sources import table
from .catalog import register

MIN_TOKENS = 30
JACCARD_T = 0.5


@register(
    "corpus_prep_stats",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, text, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= {MIN_TOKENS}
    ),
    exact_kept AS (  -- exact dedup: keep min doc_id per normalized text
      SELECT MIN(doc_id) AS doc_id
      FROM quality
      GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
    ),
    q2 AS (SELECT q.* FROM quality q JOIN exact_kept USING (doc_id)),
    toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM q2),
    sh AS (
      SELECT DISTINCT doc_id, hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM inter
      JOIN sizes sa ON a_id = sa.doc_id
      JOIN sizes sb ON b_id = sb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i) + 0.00000001, 4) >= {JACCARD_T}
    ),
    victims AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
    survivors AS (
      SELECT q2.* FROM q2 LEFT JOIN victims USING (doc_id) WHERE victims.doc_id IS NULL
    )
    SELECT lang,
           COUNT(*)                                 AS n_docs,
           CAST(SUM(n_tok) AS BIGINT)               AS total_tokens,
           ROUND(AVG(n_tok) + 0.000001, 2)          AS avg_tokens
    FROM survivors GROUP BY lang
    """,
    tags=("corpus", "composed", "dedup"),
    bench=True,
    prepare=lambda spark, sf_dir: dedup.load_or_build_signature_store(
        spark, table(spark, sf_dir, "documents"), sf_dir
    ),
)
def corpus_prep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus prep composed end-to-end. Near-dup victim rule here is
    pairwise (every b_id of an over-threshold pair is dropped) so the oracle
    stays SQL-expressible; the full transitive-cluster variant is the
    rows-only ``dedup_cluster_survivors`` query."""
    docs = table(spark, sf_dir, "documents")
    # n_tokens and the exact-dedup fingerprint are map-side columns computed
    # in ONE narrow projection that is PERSISTED (round 15): the old shape
    # persisted q2 = quality ⋈ exact_kept, whose materialization evaluated
    # the quality subtree twice (the groupBy(fingerprint) aggregate and the
    # join probe side are different subtrees — no exchange reuse), i.e. two
    # tokenize+md5 passes over the corpus and a cached copy carrying the
    # full text column. Caching the (doc_id, lang, n_tokens, fingerprint)
    # frame instead tokenizes once, keeps the exact-dedup aggregate and the
    # join-back as cheap cache replays, and drops text from cache memory.
    quality = (
        docs.select(
            "doc_id",
            "lang",
            F.size(T.tokens(F.col("text"))).alias("n_tokens"),
            T.fingerprint(F.col("text")).alias("fingerprint"),
        )
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .persist()
    )
    exact_kept = quality.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    # q2 feeds three consumers (the dedup-signature semi-join, the survivors
    # anti-join, the final rollup); each replays the broadcast join from the
    # persisted quality frame.
    q2 = quality.drop("fingerprint").join(exact_kept, "doc_id")

    # The near-dedup stage consumes the PERSISTED signature store filtered
    # to the pipeline's surviving ids (PPJoin's prefix/length/positional
    # filters are per-pair properties, so subsetting the signature table is
    # sound) — the store's build scan is amortized across the whole Jaccard
    # family instead of re-tokenizing inside this pipeline.
    sig = dedup.load_or_build_signature_store(spark, docs, sf_dir).join(
        q2.select(F.col("doc_id").alias("id")), "id", "left_semi"
    )
    # Strategy decided from STORE metadata (an upper bound on the filtered
    # subset's size — sound: the crossover is a physical-plan choice only),
    # replacing an auto-strategy SUM(n) job that materialized the whole q2
    # subtree once more before the query proper even started (round 14).
    meta = dedup.signature_store_totals(spark, sf_dir)
    # df is unused when sig= is supplied (the signature IS the input);
    # docs satisfies the signature contract — q2 no longer carries text
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=JACCARD_T, sig=sig,
        persist=False, total_shingles=(meta or {}).get("total_shingles"),
    )
    victims = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    survivors = q2.join(victims, "doc_id", "left_anti")

    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        round_div(F.avg("n_tokens"), 2).alias("avg_tokens"),
    )


@register(
    "dedup_cluster_survivors",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i) + 0.00000001, 4) >= 0.2
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ),
    reach(node, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
    victims AS (SELECT node FROM comp WHERE comp < node)
    SELECT doc_id, lang, n_chars
    FROM documents LEFT JOIN victims ON doc_id = victims.node
    WHERE victims.node IS NULL
    ORDER BY doc_id
    """,
    tags=("dedup", "cluster", "iterative"),
    doc="Transitive near-dup clusters via iterative min-label connected "
    "components over Jaccard pairs; one survivor (min id) per cluster. The "
    "Spark side is iterative label propagation (operators/cluster.py); the "
    "oracle expresses the same fixpoint as a recursive CTE — transitive "
    "reachability to the minimum id.",
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sig = dedup.load_or_build_signature_store(spark, docs, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.2, sig=sig
    )
    return (
        cluster.dedup_survivors(docs, pairs, "doc_id")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def _ivf_index(spark: SparkSession, sf_dir: str):
    emb = table(spark, sf_dir, "embeddings")
    return ivf.load_or_build_index(spark, emb, sf_dir, k=16, seed=42)


def _ivf_prepare(spark: SparkSession, sf_dir: str) -> None:
    _ivf_index(spark, sf_dir)


# Eval-scale gate for the recall sandwiches below: ground truth costs an
# exact scan per query (full-probe / full-ADC), which is an EVAL workload,
# never a serving path. The gate fails loudly rather than letting a
# sandwich onto a production-scale corpus (round-3 verdict watch item).
SANDWICH_MAX_CORPUS_ROWS = 5_000_000


def _sandwich_gate(corpus: DataFrame) -> None:
    n = corpus.count()
    if n > SANDWICH_MAX_CORPUS_ROWS:
        raise ValueError(
            f"recall-sandwich ground truth scans the corpus per query; "
            f"{n} rows exceeds the eval gate of {SANDWICH_MAX_CORPUS_ROWS}. "
            "Run recall evals on a sampled corpus slice, not production data."
        )


@register(
    "ann_ivf_topk",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(5 * COUNT(*) AS BIGINT) AS n_results
    FROM embeddings WHERE vec_id < 10
    """,
    tags=("similarity", "ivf", "approx"),
    bench=True,
    prepare=_ivf_prepare,
    doc="IVF approximate top-k PROBE — the serving path alone: persisted "
    "cell-partitioned index scan, DPP-pruned to the nprobe=4 probed cells, "
    "zero quantizer re-derivation (plan-locked in test_storage.py). The "
    "oracle pins the SQL-expressible contract (every query returns a full "
    "k results); result VALUES are quantizer-dependent so per-neighbor "
    "correctness is pinned by the hash-green exact twin "
    "ann_ivf_topk_fullprobe, and measured recall@5 (0.44-0.56 across "
    "sf0.001-0.1, floor 0.30 > the 0.25 blind 4-of-16 fraction) moved to "
    "ann_ivf_recall_eval + tests/test_cluster_ivf.py — a recall dip there "
    "reads as the eval metric it is, not a correctness failure "
    "(advisor round-3: data-dependent thresholds don't belong in oracles).",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    assigned, centers = _ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    probe = ivf.ivf_topk(assigned, centers, queries, topk=5, nprobe=4)
    return probe.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_results"),
    )


@register(
    "ann_ivf_recall_eval",
    tags=("similarity", "ivf", "eval", "sandwich"),
    prepare=_ivf_prepare,
    eval_only=True,
    doc="Measured recall@5 of the nprobe=4-of-16 IVF probe against the "
    "exact full-probe (nprobe=k) ground truth computed in the same plan. "
    "No SQL oracle BY DESIGN: the value is quantizer- and data-dependent "
    "(measured 0.44-0.56 across sf0.001-0.1); the 0.30 floor — above the "
    "0.25 blind scan fraction — is asserted in tests/test_cluster_ivf.py "
    "with that documented margin. Gated to eval-scale corpora "
    "(SANDWICH_MAX_CORPUS_ROWS): ground truth costs an exact scan per "
    "query and must never run against a production-scale table.",
)
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    emb = table(spark, sf_dir, "embeddings")
    _sandwich_gate(emb)
    assigned, centers = _ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    probe = ivf.ivf_topk(assigned, centers, queries, topk=5, nprobe=4)
    exact = ivf.ivf_topk(assigned, centers, queries, topk=5, nprobe=16)
    hits = probe.join(
        exact.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    totals = probe.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_results"),
    )
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return totals.crossJoin(broadcast(n_hits)).select(
        "n_queries",
        "n_results",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_results"), 4).alias("recall_at_5"),
    )


@register(
    "ann_ivf_topk_fullprobe",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos6
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT query_id, vec_id, cos6,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, ROUND(cos6, 4) AS cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
    tags=("similarity", "ivf", "exact"),
    prepare=_ivf_prepare,
    doc="IVF with nprobe = k (every cell probed) is EXACT — candidates are "
    "the whole corpus, the rerank is exact cosine — so the brute-force "
    "top-k SQL is its oracle. Proves the IVF probe/rerank machinery against "
    "ground truth; the nprobe<k entry above is the approximate scale path.",
)
def ann_ivf_topk_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    assigned, centers = _ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf.ivf_topk(assigned, centers, queries, topk=5, nprobe=16).orderBy(
        "query_id", "rk"
    )


IVF_REV_ID = 7  # the vector ann_ivf_topk_revised updates in place


def _ivf_revised_store(spark: SparkSession, sf_dir: str):
    """An incremental-add IVF index (``_revq`` suffix, fingerprint-keyed)
    where vec IVF_REV_ID's embedding has been UPDATED in place to vec 0's
    embedding via revise_ivf_vector — the versioned UPDATE path end to
    end, without poisoning the shared batch index. Idempotent and
    crash-convergent: the add batch replays as a no-op (anti-join guard)
    and the revise marker is written last."""
    from ..streaming.revisions import read_revisions

    emb = table(spark, sf_dir, "embeddings")
    _, centers = _ivf_index(spark, sf_dir)  # shared frozen quantizer
    path = ivf.index_path(sf_dir, 16, 42, 8, 4096) + "_revq"
    if read_revisions(spark, path, id_col="vec_id") is None:
        proc = ivf.make_index_add_processor(path, centers)
        proc(emb, 0)
        new_vec = [
            float(x)
            for x in emb.filter("vec_id = 0").select("embedding").collect()[0][0]
        ]
        ivf.revise_ivf_vector(spark, path, centers, IVF_REV_ID, new_vec)
    return path, centers


@register(
    "ann_ivf_topk_revised",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id,
             CASE WHEN vec_id = {IVF_REV_ID}
                  THEN (SELECT embedding FROM embeddings WHERE vec_id = 0)
                  ELSE embedding END AS embedding
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos6
      FROM embeddings q JOIN corpus c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5
    ),
    ranked AS (
      SELECT query_id, vec_id, cos6,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, ROUND(cos6, 4) AS cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
    tags=("similarity", "ivf", "update", "revise"),
    prepare=lambda spark, sf_dir: _ivf_revised_store(spark, sf_dir),
    doc="The IVF family's UPDATE contract, oracle-checked end to end: vec "
    "7's embedding is revised in an incremental-add index "
    "(revise_ivf_vector — new vector assigned under the FROZEN quantizer, "
    "stored under (id, rev), probes resolve latest-rev) and the full-probe "
    "exact top-k must equal brute-force cosine over the corpus with the "
    "same edit applied — the revised vector retrievable under its NEW "
    "neighborhood (it ties vec 0 at cosine 1.0), the stale row gone. "
    "Completes the UPDATE story across both incremental index families "
    "(search: search_bm25_revised). Reference parity: the loader's upsert "
    "re-embeds in place (service.py:324-422).",
)
def ann_ivf_topk_revised(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    path, centers = _ivf_revised_store(spark, sf_dir)
    view = ivf.read_ivf_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf.ivf_topk(view, centers, queries, topk=5, nprobe=16).orderBy(
        "query_id", "rk"
    )


@register(
    "corpus_split_dedup_aware",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i) + 0.00000001, 4) >= 0.2
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ),
    reach(node, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp,
             CASE WHEN (('0x' || substr(md5('split-v1:' || CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)), 1, 6))::BIGINT / 16777216.0) < 0.8 THEN 'train'
                  WHEN (('0x' || substr(md5('split-v1:' || CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)), 1, 6))::BIGINT / 16777216.0) < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    straddle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_straddling FROM (
        SELECT comp FROM assigned GROUP BY comp HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT comp) AS n_clusters,
           MAX(s.n_straddling) AS n_straddling_clusters
    FROM assigned CROSS JOIN straddle s
    GROUP BY split ORDER BY split
    """,
    tags=("corpus", "trainprep", "dedup", "leakage"),
    doc="Near-dup-aware train/val/test split: documents are keyed by their "
    "TRANSITIVE near-dup cluster id (min-label connected components over "
    "Jaccard pairs; singletons key on themselves), then hash-assigned — so "
    "two near-duplicate documents can NEVER straddle train and eval, the "
    "leak that group-aware splitting by source alone misses. The "
    "n_straddling_clusters column is computed from the data (not pinned) "
    "and must be 0 by construction on both engines.",
)
def corpus_split_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from ..operators.trainprep import assign_split

    docs = table(spark, sf_dir, "documents")
    sig = dedup.load_or_build_signature_store(spark, docs, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.2, sig=sig
    )
    comp = cluster.connected_components(pairs)
    assigned = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("comp"),
        )
        .withColumn("split", assign_split(F.col("comp")))
    )
    straddle = (
        assigned.groupBy("comp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_straddling"))
    )
    return (
        assigned.crossJoin(broadcast(straddle))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("comp").alias("n_clusters"),
            F.max("n_straddling").cast("long").alias("n_straddling_clusters"),
        )
        .orderBy("split")
    )


def _ivfpq_prepare(spark: SparkSession, sf_dir: str) -> None:
    _ivf_prepare(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    vectorml.load_or_build_pq_codes(spark, emb, sf_dir, 4, 8, 64)


@register(
    "ann_ivfpq_topk",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(5 * COUNT(*) AS BIGINT) AS n_results
    FROM embeddings WHERE vec_id < 10
    """,
    tags=("similarity", "ivf", "pq", "approx"),
    prepare=_ivfpq_prepare,
    doc="IVF-PQ — the FAISS serving architecture composed from both "
    "persisted artifacts: the IVF index gates each query to its nprobe=4 "
    "cells, and ranking inside the probed cells is ASYMMETRIC DISTANCE "
    "over the stored PQ codes (the corpus side reads 4 B of codes per "
    "candidate, never the floats). The oracle pins the SQL-expressible "
    "contract (full k results per query); measured recall vs the "
    "full-corpus ADC scan (0.30-0.46 across sf0.001-0.1, floor 0.28 > the "
    "0.25 blind 4-of-16 fraction) lives in ann_ivfpq_recall_eval + "
    "tests/test_cluster_ivf.py so a data-dependent recall dip on a new "
    "seed or scale factor reads as an eval miss, not a correctness bug.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    probe = _ivfpq_probe_topk(spark, sf_dir)
    return probe.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_results"),
    )


def _ivfpq_adc_parts(spark: SparkSession, sf_dir: str):
    """Shared IVF-PQ machinery: (emb, assigned, centers, recon, queries,
    adc_topk) — the probe query and the recall eval compose from the same
    pieces so the eval measures exactly the served ranking."""
    from ..operators.topk import topk_per_group

    emb = table(spark, sf_dir, "embeddings")
    assigned, centers = _ivf_index(spark, sf_dir)
    codes, books = vectorml.load_or_build_pq_codes(spark, emb, sf_dir, 4, 8, 64)
    queries = emb.filter(F.col("vec_id") < 10)
    # expr-built decompress + distance (round 14, see plans/retrievalq.py)
    recon = codes.select(
        "vec_id", vectorml.recon_from_codes_n("codes", books).alias("recon")
    )

    def adc_topk(cand: DataFrame) -> DataFrame:
        scored = cand.join(recon, "vec_id").select(
            "query_id",
            "vec_id",
            F.round(vectorml.l2_distance_n("qv", "recon"), 6).alias("adc6"),
        ).withColumn("neg", -F.col("adc6"))
        return topk_per_group(scored, ["query_id"], "neg", "vec_id", 5).select(
            "query_id", "vec_id"
        )

    return emb, assigned, centers, queries, adc_topk


def _ivfpq_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _emb, assigned, centers, queries, adc_topk = _ivfpq_adc_parts(spark, sf_dir)
    return adc_topk(
        ivf.probe_candidates(assigned, centers, queries, nprobe=4).select(
            "query_id", "qv", "vec_id"
        )
    )


@register(
    "ann_ivfpq_recall_eval",
    tags=("similarity", "ivf", "pq", "eval", "sandwich"),
    prepare=_ivfpq_prepare,
    eval_only=True,
    doc="Measured recall@5 of the IVF-PQ probe against the full-corpus ADC "
    "scan under the SAME quantizer — isolates the IVF cell-gating loss "
    "from PQ compression loss. No SQL oracle by design (quantizer- and "
    "data-dependent; measured 0.30-0.46 across sf0.001-0.1, floor 0.28 "
    "asserted in tests/test_cluster_ivf.py). Gated to eval-scale corpora "
    "via SANDWICH_MAX_CORPUS_ROWS.",
)
def ann_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    emb, assigned, centers, queries, adc_topk = _ivfpq_adc_parts(spark, sf_dir)
    _sandwich_gate(emb)
    probe = adc_topk(
        ivf.probe_candidates(assigned, centers, queries, nprobe=4).select(
            "query_id", "qv", "vec_id"
        )
    )
    q = broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    full = adc_topk(
        emb.select("vec_id").crossJoin(q).filter(F.col("vec_id") != F.col("query_id"))
    )
    hits = probe.join(full, ["query_id", "vec_id"], "left_semi")
    totals = probe.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_results"),
    )
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return totals.crossJoin(broadcast(n_hits)).select(
        "n_queries",
        "n_results",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_results"), 4).alias("recall_at_5"),
    )
