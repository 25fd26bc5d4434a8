"""Text analysis operators over the documents table.

Language-ID (marker-word heuristic), quality scoring, token counting, and
document fingerprinting — all pure column expressions (functions/text.py), so
they run inside whole-stage codegen with zero Python in the hot path. These
are the per-document map-side ops of a training-data pipeline: no shuffle at
all until an aggregation asks for one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.rounding import round_div


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_chars, avg_token_len)."""
    toks = T.tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
        round_div(F.length(F.col(text_col)) / F.size(toks), 4).alias("avg_token_len"),
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length/punct/stopword quality signals + a composite score in [0,1].
    Mirrors the heuristic-filter stage of LLM data pipelines: short docs,
    punctuation-free docs and stopword-free docs are down-scored."""
    text = F.col(text_col)
    toks = T.tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    sw = T.stopword_count(toks)
    punct = T.punct_count(text)
    stop_ratio = round_div(sw / n_tok, 4)
    punct_ratio = round_div(punct / n_chars, 4)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    score = round_div(0.5 * len_score + 0.5 * F.least(sw / F.lit(5.0), F.lit(1.0)), 4)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


# Per-worker language-ID model cache (module-level so Python worker reuse
# amortizes the load once per worker — a closure dict would reload per task).
_LANGID_MODELS: dict[str, object] = {}


def real_langid_factory(model_path: str = "lid.176.ftz"):
    """Batched fastText language classifier when the ``fasttext`` package is
    importable, else None (caller keeps the marker-word heuristic — the
    in-sandbox default AND the oracle). Same guard-import seam as the
    sentence-transformers embedder (operators/enrich.py) and cross-encoder
    (operators/rerank.py): the production dependency drops in without
    touching the Spark plumbing, and the stub pins the plumbing's
    correctness. Returns labels like 'en'; null/empty text degrades to
    'und' (matching the heuristic's no-marker output)."""
    try:
        import fasttext  # noqa: F401
    except ImportError:
        return None

    import pandas as pd

    def classify(texts: "pd.Series") -> "pd.Series":
        import fasttext

        from fest_vibes_ai_etl_spark.operators import textanalysis as _mod

        model = _mod._LANGID_MODELS.get(model_path)
        if model is None:
            model = _mod._LANGID_MODELS[model_path] = fasttext.load_model(model_path)
        out = pd.Series(["und"] * len(texts), index=texts.index, dtype=object)
        mask = texts.notna() & texts.astype(str).str.strip().ne("")
        if mask.any():
            labels, _probs = model.predict(
                [t.replace("\n", " ") for t in texts[mask].astype(str)]
            )
            out[mask] = [lbl[0].replace("__label__", "") for lbl in labels]
        return out

    return classify


def language_id(
    df: DataFrame, id_col: str, text_col: str, classifier=None
) -> DataFrame:
    """(id, pred_lang). Default: marker-word argmax with fixed tie
    precedence — a pure column expression (JVM-side, oracle-reproducible).
    Pass ``classifier`` (a batched ``pd.Series -> pd.Series`` of labels,
    e.g. ``real_langid_factory()``) to run a model instead via mapInPandas —
    Arrow-batched, never row-at-a-time."""
    if classifier is None:
        toks = T.tokens(F.col(text_col))
        return df.select(F.col(id_col), T.lang_id(toks).alias("pred_lang"))

    from pyspark.sql.types import StringType, StructField, StructType

    src = df.select(F.col(id_col), F.col(text_col))
    id_field = src.schema.fields[0]
    out_schema = StructType(
        [StructField(id_col, id_field.dataType), StructField("pred_lang", StringType())]
    )

    def run(batches):
        for pdf in batches:
            yield type(pdf)(
                {id_col: pdf[id_col], "pred_lang": classifier(pdf[text_col])}
            )

    return src.mapInPandas(run, schema=out_schema)


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — md5 over normalized text (exact-dedup key)."""
    return df.select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fingerprint"))


def _bpe_ish_pieces(text):
    """The oracle-hashed bpe_ish piece expression — ONE definition shared
    by bpe_ish_token_count and token_counts so the catalog invariant
    (pinned in tests/test_trainprep.py) cannot drift between two copies."""
    return F.split(
        F.trim(F.regexp_replace(text, r"([0-9]+|[^\w\s])", r" $1 ")), r"\s+"
    )


def bpe_ish_token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sub-word-ish token counting: splits on whitespace AND punctuation AND
    digit/letter boundaries (a cheap, deterministic proxy for BPE counts used
    to budget training tokens)."""
    return df.select(
        F.col(id_col),
        F.size(_bpe_ish_pieces(F.col(text_col))).alias("n_pieces"),
    )


def real_tokenizer_factory(
    encoding: str = "cl100k_base", tokenizer_file: str | None = None
):
    """Batched EXACT token counter when a real tokenizer package is
    importable, else None (caller keeps the ``bpe_ish`` column expression —
    the in-sandbox default AND the oracle). Deployment budgets are
    tokenizer-exact, not regex-approximate, so this is the same
    guard-import seam as the fastText classifier above and the
    sentence-transformers embedder (operators/enrich.py): the production
    dependency drops in without touching the Spark plumbing, and the
    realdeps lane (tests/test_realdeps.py) executes it end-to-end through
    ``token_counts`` → ``pack_budget``. Prefers ``tiktoken`` (BPE by
    encoding name); falls back to HuggingFace ``tokenizers`` when
    ``tokenizer_file`` (a tokenizer.json) is given.

    Degenerate-text convention (self-review finding — the two paths do NOT
    agree and pretending otherwise hid a real deployment delta): NULL text
    is NULL on both paths (``token_counts`` enforces it in the wrapper, so
    ``pack_budget``'s window sum skips those rows identically either way);
    EMPTY text is tokenizer-exact 0 here but 1 under ``bpe_ish`` (split of
    "" is [""]). A corpus with empty docs therefore budgets ±1 token per
    empty doc when the real tokenizer drops in — the real count is the
    correct one; bpe_ish is the hash-stable oracle approximation."""
    try:
        import tiktoken

        enc = tiktoken.get_encoding(encoding)

        def count_tiktoken(texts):
            import pandas as pd

            out = pd.Series([0] * len(texts), index=texts.index, dtype="int64")
            mask = texts.notna()
            if mask.any():
                out[mask] = [
                    len(t)
                    for t in enc.encode_ordinary_batch(
                        texts[mask].astype(str).tolist()
                    )
                ]
            return out

        return count_tiktoken
    except ImportError:
        pass
    if tokenizer_file is not None:
        try:
            from tokenizers import Tokenizer

            tok = Tokenizer.from_file(tokenizer_file)

            def count_hf(texts):
                import pandas as pd

                out = pd.Series([0] * len(texts), index=texts.index, dtype="int64")
                mask = texts.notna()
                if mask.any():
                    out[mask] = [
                        len(e.ids)
                        for e in tok.encode_batch(texts[mask].astype(str).tolist())
                    ]
                return out

            return count_hf
        except ImportError:
            pass
    return None


def token_counts(
    df: DataFrame, id_col: str, text_col: str, counter=None
) -> DataFrame:
    """(id, n_tokens) — the token-budget input for ``pack_budget`` /
    mixture queries. Default: the deterministic ``bpe_ish`` column
    expression (JVM-side, oracle-reproducible — what the catalog hashes).
    Pass ``counter`` (a batched ``pd.Series -> pd.Series`` of ints, e.g.
    ``real_tokenizer_factory()``) for tokenizer-exact counts via
    mapInPandas — Arrow-batched, never row-at-a-time. NULL text is NULL on
    BOTH paths (the wrapper masks it after the counter runs, so the two
    paths feed ``pack_budget`` identically for null rows); empty text is 1
    under bpe_ish vs tokenizer-exact 0 — see ``real_tokenizer_factory``."""
    if counter is None:
        # explicit null passthrough: F.size(NULL) is NULL under ANSI but -1
        # under legacy sizeOfNull, and the session config is not pinned
        # here — the both-paths-NULL invariant must not hang on a conf
        return df.select(
            F.col(id_col),
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("int")
            )
            .otherwise(F.size(_bpe_ish_pieces(F.col(text_col))))
            .alias("n_tokens"),
        )

    from pyspark.sql.types import LongType, StructField, StructType

    src = df.select(F.col(id_col), F.col(text_col))
    id_field = src.schema.fields[0]
    out_schema = StructType(
        [StructField(id_col, id_field.dataType), StructField("n_tokens", LongType())]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            counts = counter(pdf[text_col]).astype("Int64")
            counts[pdf[text_col].isna()] = pd.NA
            yield type(pdf)({id_col: pdf[id_col], "n_tokens": counts})

    return src.mapInPandas(run, schema=out_schema)


def term_document_frequencies(df: DataFrame, id_col: str, text_col: str, k: int = 1) -> DataFrame:
    """(term, doc_freq) — corpus-level document frequency of word k-grams
    (distinct per doc, so a term repeated inside one doc counts once). The
    explode→groupBy is the canonical corpus-stats shuffle: map-side partial
    counts mean only |vocab| rows cross the exchange per partition."""
    if k == 1:
        terms = df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(T.tokens(F.col(text_col)))).alias("term"),
        )
    else:
        toks = df.select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("tk"))
        terms = toks.select(
            "id", F.explode(T.word_shingles(F.col("tk"), k)).alias("term")
        )
    return terms.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, topk: int = 3, min_df: int = 1
) -> DataFrame:
    """Per-document top-k terms by tf·idf, idf = ln(N/df). Classic two-pass
    corpus weighting: one shuffle for per-(doc,term) tf, one broadcastable
    aggregate for df, a window for the per-doc top-k. Ranking uses the
    ROUNDED score (4 dp, epsilon-nudged) with the term as tie-break so the
    ordering is reproducible bit-for-bit across engines and cluster sizes."""
    toks = df.select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("tk"))
    tf = (
        toks.select("id", F.explode("tk").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # N as a broadcast 1-row aggregate, not a driver-side .count(): keeps the
    # operator lazy and the whole plan one Spark job at any scale.
    n_docs = df.agg(F.countDistinct(id_col).cast("double").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= min_df
    )
    from pyspark.sql.functions import broadcast

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(broadcast(n_docs))
        .withColumn(
            "score", round_div(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4)
        )
    )
    # map-side-pruned ranking (operators/topk.py): per input partition only
    # topk rows per doc reach the shuffle, identical result to the window.
    from .topk import topk_per_group

    return topk_per_group(
        scored.select("id", "term", "score"), ["id"], "score", "term", topk
    ).select("id", "term", "score", "rk")


# deterministic, dialect-portable PII patterns (Java regex ≡ RE2 subset)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}"
PII_URL = r"https?://[^\s]+"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, redacted, n_emails, n_phones, n_urls) — scrub emails, phone
    numbers and URLs to typed placeholder tokens. Pure regexp_replace /
    regexp_count column expressions (codegen'd; no Python in the hot path) —
    the standard pre-training privacy-scrub stage."""
    text = F.col(text_col)
    red = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_URL, "<URL>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        red.alias("redacted"),
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(text, F.lit(PII_URL), F.lit(0))).alias("n_urls"),
    )


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, size: int = 20, stride: int = 10
) -> DataFrame:
    """Sliding token-window chunking — the pre-training chunker: each doc
    becomes ⌈max(n−size,0)/stride⌉+1 overlapping chunks of ``size`` tokens
    every ``stride``. Entirely map-side (sequence+explode+slice; the 1⇒N
    generator shape), deterministic chunk ids, no Python in the path. Chunk
    boundaries are token-aligned so re-running at a different parallelism
    yields byte-identical chunks."""
    toks = df.select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("tk")).filter(
        F.size("tk") > 0
    )
    n = F.size("tk")
    n_chunks = (F.greatest(n - size, F.lit(0)) + (stride - 1)) / stride  # ceil div
    n_chunks = F.floor(n_chunks).cast("int") + 1
    chunked = toks.select(
        "id", "tk", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    )
    start = (F.col("chunk_id") * stride + 1).cast("int")
    return chunked.select(
        "id",
        "chunk_id",
        F.concat_ws(" ", F.slice("tk", start, size)).alias("chunk_text"),
        F.least(F.size("tk") - start + 1, F.lit(size)).alias("n_tokens"),
    )


# shared by the batch vocabulary-PSI query (plans/textmining.py) and the
# streaming vocabulary-drift monitor (streaming/monitors.py): one
# constant and one bucket expression so stream and batch land token
# instances in IDENTICAL cells
VOCAB_PSI_BUCKETS = 128


def term_bucket(term, m: int = VOCAB_PSI_BUCKETS):
    """Portable hashed vocabulary bucket: 48-bit md5 prefix mod m
    (identical in DuckDB: ('0x' || substr(md5(term),1,12))::BIGINT % m)."""
    return F.conv(F.substring(F.md5(term), 1, 12), 16, 10).cast("long") % m
