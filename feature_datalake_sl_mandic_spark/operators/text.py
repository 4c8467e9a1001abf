"""Text analysis over the ``documents`` table: token stats, language ID,
quality scoring, document fingerprinting.

Extension surface (BASELINE.json: "text analysis" for LLM data pipelines).
Everything is built-in higher-order array functions — ``split`` +
``filter/transform/aggregate`` — which stay JVM-side; no Python UDFs in the
hot path. Each has an exact DuckDB oracle via the mirrored list lambdas, so
correctness is hash-checked, not eyeballed.

Scale: each query is an embarrassingly-parallel projection + one small
aggregation; no shuffle grows with corpus size except the final group-by on
bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from feature_datalake_sl_mandic_spark.functions.hashing import (
    md5_bucket_col,
    md5_bucket_sql,
)
from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register

# Tiny deterministic marker-word lists per language for the heuristic
# language-ID (the classic stopword-profile approach, shrunk). Kept identical
# in the oracle SQL.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "fast"),
    "es": ("el", "la", "de", "que", "rapido"),
    "fr": ("le", "la", "de", "et", "vite"),
    "de": ("der", "die", "das", "und", "schnell"),
    "zh": ("de", "shi", "le", "zai", "kuai"),
}

FP_MOD = 1_000_000_007
FP_MUL = 31


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_actual,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           round(length(replace(text, ' ', '')) * 1.0
                 / len(string_split(text, ' ')), 4) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "tokenize", "token-count"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + uniqueness — the cheap first-pass stats an
    LLM-corpus pipeline computes for every document."""
    (dc,) = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return dc.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")) / F.size(toks), 4
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


def _marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({words})))"


# Shared quality / language-pred fragments: text_quality_score,
# text_language_id, and corpus_clean_pipeline must stay in lockstep —
# every formula exists exactly once per engine.
STOPWORDS = ("the", "a", "of", "and", "in")
_STOP_SQL = (
    "len(list_filter(string_split(text, ' '), w -> w IN ("
    + ", ".join(f"'{w}'" for w in STOPWORDS)
    + ")))"
)
_QUALITY_SQL = (
    "round( least(n_tokens / 50.0, 1.0) * 0.4"
    " + (n_unique * 1.0 / n_tokens) * 0.4"
    " + least(n_stop * 4.0 / n_tokens, 1.0) * 0.2, 4)"
)
_LANG_PRED_SQL = (
    "CASE greatest(s_en, s_es, s_fr, s_de, s_zh) "
    "WHEN s_en THEN 'en' WHEN s_es THEN 'es' WHEN s_fr THEN 'fr' "
    "WHEN s_de THEN 'de' ELSE 'zh' END"
)


def _stop_count_col(toks) -> "F.Column":
    stop = list(STOPWORDS)
    return F.size(F.filter(toks, lambda w: w.isin(stop)))


def _quality_col() -> "F.Column":
    """Quality from the n_tokens / n_unique / n_stop feature columns."""
    return F.round(
        F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.4
        + (F.col("n_unique") / F.col("n_tokens")) * 0.4
        + F.least(F.col("n_stop") * 4.0 / F.col("n_tokens"), F.lit(1.0)) * 0.2,
        4,
    )


def _lang_score_col(toks, lang: str) -> "F.Column":
    markers = list(LANG_MARKERS[lang])
    return F.size(F.filter(toks, lambda w: w.isin(markers))).alias(f"s_{lang}")


def _lang_pred_col() -> "F.Column":
    best = F.greatest("s_en", "s_es", "s_fr", "s_de", "s_zh")
    return (
        F.when(F.col("s_en") == best, "en")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_fr") == best, "fr")
        .when(F.col("s_de") == best, "de")
        .otherwise("zh")
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_marker_sql('en')} AS s_en,
             {_marker_sql('es')} AS s_es,
             {_marker_sql('fr')} AS s_fr,
             {_marker_sql('de')} AS s_de,
             {_marker_sql('zh')} AS s_zh
      FROM documents
    )
    SELECT doc_id, lang AS lang_label, s_en, s_es, s_fr, s_de, s_zh,
           {_LANG_PRED_SQL} AS lang_pred
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "language-id"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword-marker profile (argmax of per-lang
    marker hits, first-match tie-break mirroring the oracle's CASE)."""
    (dc,) = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = dc.select(
        "doc_id", F.col("lang").alias("lang_label"),
        *[ _lang_score_col(toks, lg).cast("bigint").alias(f"s_{lg}")
           for lg in ("en", "es", "fr", "de", "zh") ],
    )
    return scored.withColumn("lang_pred", _lang_pred_col()).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             {_STOP_SQL} AS n_stop
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           round(n_unique * 1.0 / n_tokens, 4) AS unique_ratio,
           round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
           {_QUALITY_SQL} AS quality
    FROM feats
    ORDER BY doc_id
    """,
    tags=("text", "quality-score"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length, lexical diversity, stopword
    density) — the filter signal an LLM-data pipeline thresholds on."""
    (dc,) = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feats = dc.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        _stop_count_col(toks).alias("n_stop"),
    )
    return feats.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(F.col("n_unique") / F.col("n_tokens"), 4).alias("unique_ratio"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        _quality_col().alias("quality"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(range(1, length(text) + 1),
                              i -> ascii(substr(text, i, 1))::BIGINT)),
             (acc, c) -> (acc * {FP_MUL} + c) % {FP_MOD}) AS fingerprint,
           length(text) AS n_chars_actual
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "fingerprint", "rolling-hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the full character stream
    (mod 1e9+7, base 31) — deterministic content identity without storing
    text; computed via the JVM higher-order ``aggregate`` (no UDF)."""
    (dc,) = _t(spark, sf_dir, "documents")
    return dc.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(1, length(text)), 0L, "
            f"(acc, i) -> (acc * {FP_MUL} + ascii(substring(text, i, 1))) % {FP_MOD})"
        ).alias("fingerprint"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    ).orderBy("doc_id")


QUALITY_THRESHOLD = 0.55


@register(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH canon AS (
      SELECT doc_id, text, lang, source,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             {_STOP_SQL} AS n_stop,
             {_marker_sql('en')} AS s_en,
             {_marker_sql('es')} AS s_es,
             {_marker_sql('fr')} AS s_fr,
             {_marker_sql('de')} AS s_de,
             {_marker_sql('zh')} AS s_zh
      FROM canon WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id, lang, source, n_tokens,
             {_QUALITY_SQL} AS quality,
             {_LANG_PRED_SQL} AS lang_pred
      FROM feats
    )
    SELECT doc_id, lang, source, n_tokens, quality
    FROM scored
    WHERE quality >= {QUALITY_THRESHOLD} AND lang_pred = lang
    ORDER BY doc_id
    """,
    tags=("text", "pipeline", "dedup", "quality-score", "language-id"),
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus cleaning pass, composed from the
    individual operators: exact dedup (keep lowest doc_id per content hash)
    -> quality threshold -> language agreement (heuristic prediction must
    match the label, dropping mislabeled docs). The filters fuse into a
    single scan stage after the dedup shuffle, which is the plan a 100 TB
    cleaning job wants: content moves through exactly one hash-partitioned
    exchange — and the survivor selection is a struct-min groupBy (round
    6, same rewrite as ``corpus_curation_end_to_end``): identical row
    (doc_id is unique), but duplicate groups collapse MAP-SIDE before the
    text payload shuffles, where the window form moved every row."""
    (dc,) = _t(spark, sf_dir, "documents")
    canon = (
        dc.select(
            F.md5("text").alias("h"),
            F.struct("doc_id", "text", "lang", "source").alias("r"),
        )
        .groupBy("h")
        .agg(F.min("r").alias("r"))
        .select("r.doc_id", "r.text", "r.lang", "r.source")
    )

    toks = F.split("text", " ")
    feats = canon.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        _stop_count_col(toks).alias("n_stop"),
        *[_lang_score_col(toks, lg) for lg in ("en", "es", "fr", "de", "zh")],
    )
    return (
        feats.withColumn("quality", _quality_col())
        .withColumn("lang_pred", _lang_pred_col())
        .where((F.col("quality") >= QUALITY_THRESHOLD) & (F.col("lang_pred") == F.col("lang")))
        .select("doc_id", "lang", "source", "n_tokens", "quality")
        .orderBy("doc_id")
    )


SHARD_TOKEN_BUDGET = 2048
PACK_BUCKET_WIDTH = 100  # doc_ids per range bucket; tune so a bucket ≈ one task


@register(
    "corpus_pack_shards",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(floor((sum(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens) / {SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id
      FROM t
    )
    SELECT lang, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY lang, shard_id
    ORDER BY lang, shard_id
    """,
    tags=("text", "packing", "sharding", "window", "groupby-agg"),
)
def corpus_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted shard packing — the training-data export step: docs
    pack greedily into SHARD_TOKEN_BUDGET-token shards per language (shard =
    tokens-before // budget), the deterministic distributed form of
    sequential bin packing. Shard ids derive from doc_id order, not physical
    placement, so they are stable under repartitioning.

    Scale shape: TWO-LEVEL prefix sum. A window partitioned by lang alone
    would serialize each language's whole corpus through one task (language
    cardinality is single-digit). Instead: (1) running sums within
    (lang, doc_id-range bucket) — shuffle-parallel across buckets; (2) tiny
    per-bucket token totals prefix-summed per lang (O(n_docs / width) rows ≈
    task count, bounded by cluster sizing not data size — hence
    broadcast-safe); (3) broadcast the bucket offsets back and add. Same
    output as the single-window form for any bucket width, because range
    buckets respect doc_id order."""
    (dc,) = _t(spark, sf_dir, "documents")
    packed = pack_shard_assignments(dc)
    return (
        packed.groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "shard_id")
    )


def pack_shard_assignments(dc: DataFrame) -> DataFrame:
    """Per-document shard assignment (doc_id, lang, n_tokens, shard_id) via
    the two-level prefix sum described in ``corpus_pack_shards``. Reused by
    the registered summary query and the shard exporter
    (sources/export.py)."""
    toks = F.split("text", " ")
    t = dc.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET_WIDTH).alias("bucket"),
    ).localCheckpoint(eager=False)
    # ^ feeds the within-bucket prefix window AND the bucket-offset totals —
    # pinned so the scan + tokenization run once, not per branch
    w_in = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = t.withColumn("run_in_bucket", F.sum("n_tokens").over(w_in))
    # Per-bucket totals are tiny; the per-lang prefix window over them touches
    # O(buckets) rows, never O(docs).
    w_prev = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        t.groupBy("lang", "bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .withColumn("offset", F.coalesce(F.sum("bucket_tokens").over(w_prev), F.lit(0)))
        .select("lang", "bucket", "offset")
    )
    return (
        within.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn(
            "shard_id",
            F.floor(
                (F.col("offset") + F.col("run_in_bucket") - F.col("n_tokens"))
                / SHARD_TOKEN_BUDGET
            ),
        )
        .select("doc_id", "lang", "n_tokens", "shard_id")
    )


TFIDF_TOP_N = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rnk
    FROM ranked WHERE rnk <= {TFIDF_TOP_N}
    ORDER BY doc_id, rnk
    """,
    tags=("text", "tfidf", "topk-per-group", "groupby-agg"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: ONE explosion feeds both statistics —
    term frequency per doc is the first aggregation, and document frequency
    per term is a count over the (doc, term) relation it produces (one row
    per containing doc, so count == countDistinct, with no second explosion
    and no distinct-aggregate expand). The corpus size joins in as a
    broadcast scalar and the idf weighting stays in codegen (ln is
    bit-identical across engines, so even the scores hash-match). Top terms
    per doc via the standard one-shuffle window row_number — no per-doc
    sort of the whole vocabulary."""
    (dc,) = _t(spark, sf_dir, "documents")
    toks = dc.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds df AND the score join
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = dc.count()  # driver scalar: one number, not a collect of rows
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= TFIDF_TOP_N)
        .orderBy("doc_id", "rnk")
    )


# -------------------------------------------------- corpus pipeline, round 2
# PII redaction, sliding-window chunking (declarative + Python UDTF twins),
# and train/eval contamination checking — the remaining standard stages of a
# training-data pipeline.

CHUNK_SIZE = 64
CHUNK_STRIDE = 48

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+1-555-[0-9]{4}"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

# Deterministic PII synthesis (the fixture corpus is PII-free word soup, so
# each doc gets a derived email/phone/SSN appended before redaction — both
# engines build the identical string).
_DUCK_WITH_PII = (
    "text || ' contact user' || doc_id || '@mail.example.com or +1-555-' || "
    "lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' ssn 123-45-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "corpus_pii_redact",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WITH_PII} AS t FROM documents),
    red AS (
      SELECT doc_id, t,
             regexp_replace(regexp_replace(regexp_replace(t,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_SSN}', '<SSN>', 'g') AS redacted
      FROM w
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_SSN}')) AS BIGINT) AS n_ssns,
           md5(redacted) AS redacted_md5,
           NOT regexp_matches(redacted,
               '{_PII_EMAIL}|{_PII_PHONE}|{_PII_SSN}') AS no_residual
    FROM red
    ORDER BY doc_id
    """,
    tags=("text", "pii", "redaction", "regex", "corpus-clean"),
)
def corpus_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance stage of a corpus pipeline: email /
    phone / SSN patterns replaced with typed placeholders, with per-doc match
    counts and a residual-PII audit flag. Pure JVM regexp (no UDF); the
    patterns are Java-regex/RE2 common ground so both engines agree; output
    is verified by md5 of the redacted text. Redaction order (email, phone,
    SSN) is fixed so overlapping matches resolve identically everywhere.
    Embarrassingly parallel at 100 TB: evaluates inside the scan stage."""
    (dc,) = _t(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    w = dc.select("doc_id", with_pii.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_SSN,
        "<SSN>",
    )

    def n_matches(pat: str):
        return F.size(F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0))).cast(
            "bigint"
        )

    return (
        w.select(
            "doc_id",
            n_matches(_PII_EMAIL).alias("n_emails"),
            n_matches(_PII_PHONE).alias("n_phones"),
            n_matches(_PII_SSN).alias("n_ssns"),
            F.md5(redacted).alias("redacted_md5"),
            (~redacted.rlike(f"{_PII_EMAIL}|{_PII_PHONE}|{_PII_SSN}")).alias(
                "no_residual"
            ),
        )
        .orderBy("doc_id")
    )


_DUCK_CHUNKS = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c AS (
      SELECT doc_id, ws,
             unnest(range(0, ((len(ws) - 1) // {CHUNK_STRIDE}) + 1)) AS k
      FROM t
    )
    SELECT doc_id,
           k AS chunk_id,
           CAST(len(ws[(k*{CHUNK_STRIDE}+1):(k*{CHUNK_STRIDE}+{CHUNK_SIZE})]) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(ws[(k*{CHUNK_STRIDE}+1):(k*{CHUNK_STRIDE}+{CHUNK_SIZE})], ' '))
             AS chunk_md5
    FROM c
    ORDER BY doc_id, chunk_id
"""


@register(
    "corpus_chunk_sliding",
    oracle=_DUCK_CHUNKS,
    tags=("text", "chunking", "sliding-window", "explode"),
)
def corpus_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking ({CHUNK_SIZE}-token chunks, stride
    {CHUNK_STRIDE}) — how long documents become training sequences with
    overlap. DECLARATIVE scale path: sequence + explode + slice are all
    JVM-side, chunk identity is md5 of the joined tokens, and chunk ids
    derive from token offsets so they are stable under repartitioning.
    One narrow shuffle (the final sort); chunking itself is map-only."""
    (dc,) = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n = F.size(ws)
    ks = F.sequence(F.lit(0), F.floor((n - 1) / CHUNK_STRIDE).cast("int"))
    exploded = dc.select(
        "doc_id", ws.alias("ws"), F.explode(ks).alias("k")
    )
    chunk = F.slice("ws", F.col("k") * CHUNK_STRIDE + 1, CHUNK_SIZE)
    return (
        exploded.select(
            "doc_id",
            F.col("k").cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "corpus_chunk_udtf",
    oracle=_DUCK_CHUNKS,
    tags=("text", "chunking", "udtf", "python-udtf", "lateral-join"),
)
def corpus_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking as corpus_chunk_sliding through a Python UDTF
    (Spark 4 ``@udtf``) in a LATERAL correlated join — the table-function
    escape hatch for one-row-to-many transforms too irregular for
    sequence+explode. Hash-identical output to the declarative twin (shared
    oracle) proves the two paths agree; the declarative plan remains the
    100 TB hot path (UDTFs still cross the Python boundary). ``useArrow``
    makes that boundary Arrow-batched (ArrowEvalPythonUDTF): the plan sweep
    bans the pickle-per-row BatchEvalPython node, and this query is exactly
    the plan that would otherwise carry it."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, chunk_id bigint, chunk_tokens bigint, chunk_md5 string",
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id: int, text: str):
            import hashlib

            if text is None:  # null docs chunk to nothing, not a crash
                return
            toks = text.split(" ")
            for k, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
                chunk = toks[start : start + CHUNK_SIZE]
                digest = hashlib.md5((" ".join(chunk)).encode()).hexdigest()
                yield doc_id, k, len(chunk), digest

    spark.udtf.register("chunk_doc", ChunkDoc)
    from feature_datalake_sl_mandic_spark.catalog import load_tables

    load_tables(spark, sf_dir, names=["documents"])
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_id, c.chunk_tokens, c.chunk_md5
        FROM documents d, LATERAL chunk_doc(d.doc_id, d.text) c
        WHERE d.text IS NOT NULL
        ORDER BY doc_id, chunk_id
        """
    )


DECON_NGRAM = 8
DECON_EVAL_MOD = 25

_DUCK_NGRAMS = f"""
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(ws) - {DECON_NGRAM - 2}, 1)),
                              i -> {" || ' ' || ".join(f"ws[i+{j}]" for j in range(DECON_NGRAM))})))
             AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
"""


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH sh AS ({_DUCK_NGRAMS}),
    eval_sh AS (SELECT DISTINCT doc_id AS eval_doc_id, s FROM sh
                WHERE doc_id % {DECON_EVAL_MOD} = 0),
    train_sh AS (SELECT doc_id, s FROM sh WHERE doc_id % {DECON_EVAL_MOD} != 0),
    hits AS (
      SELECT eval_doc_id,
             count(DISTINCT train_sh.doc_id) AS n_contaminated_train_docs,
             count(*) AS n_shared_ngrams
      FROM eval_sh JOIN train_sh USING (s)
      GROUP BY eval_doc_id
    )
    SELECT e.doc_id AS eval_doc_id,
           CAST(coalesce(h.n_contaminated_train_docs, 0) AS BIGINT)
             AS n_contaminated_train_docs,
           CAST(coalesce(h.n_shared_ngrams, 0) AS BIGINT) AS n_shared_ngrams
    FROM (SELECT doc_id FROM documents WHERE doc_id % {DECON_EVAL_MOD} = 0) e
    LEFT JOIN hits h ON h.eval_doc_id = e.doc_id
    ORDER BY eval_doc_id
    """,
    tags=("text", "decontamination", "ngram", "join", "corpus-clean"),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check — the pre-training hygiene step: flag
    training documents sharing any {DECON_NGRAM}-gram with the held-out eval
    set (here: doc_id % {DECON_EVAL_MOD} == 0, standing in for a benchmark
    suite). Inverted-index equi-join on the n-gram string: candidate pairs
    come from shared n-grams only — never an all-pairs comparison — so the
    join scales with n-gram collisions, and a DF cap (as in dedup) bounds
    adversarial blowup. Emits one row per eval doc including clean ones, so
    the output proves the whole eval set was screened."""
    (dc,) = _t(spark, sf_dir, "documents")
    # ws binds to a column so the lambda's element_at reads an attribute —
    # an embedded split would re-evaluate per element (ARCHITECTURE.md,
    # round-6 HOF pitfall)
    ws = F.col("ws")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (DECON_NGRAM - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(DECON_NGRAM)]
        ),
    )
    sh = (
        dc.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.when(F.size(ws) >= DECON_NGRAM, F.array_distinct(grams)).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("s"),
        )
        .localCheckpoint()
    )
    # ^ eager, same trade as dedup's shingle relation: the n-gram explode
    # (the tokenize-heavy pass) feeds BOTH sides of the contamination join;
    # materializing once beats re-tokenizing the corpus per side.
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    eval_sh = sh.where(is_eval).select(F.col("doc_id").alias("eval_doc_id"), "s")
    train_sh = sh.where(~is_eval)
    hits = (
        eval_sh.join(train_sh, "s")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminated_train_docs"),
            F.count(F.lit(1)).alias("n_shared_ngrams"),
        )
    )
    eval_docs = dc.where(is_eval).select(F.col("doc_id").alias("eval_doc_id"))
    return (
        eval_docs.join(hits, "eval_doc_id", "left")
        .select(
            "eval_doc_id",
            F.coalesce("n_contaminated_train_docs", F.lit(0)).alias(
                "n_contaminated_train_docs"
            ),
            F.coalesce("n_shared_ngrams", F.lit(0)).alias("n_shared_ngrams"),
        )
        .orderBy("eval_doc_id")
    )


@register(
    "quality_repetition_stats",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM base
    ),
    bgc AS (
      SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY doc_id, bigram
    ),
    top AS (
      SELECT doc_id, max(n) AS top_bigram_n, sum(n) AS n_bigrams
      FROM bgc GROUP BY doc_id
    )
    SELECT b.doc_id,
           len(b.toks) AS n_tokens,
           round(1 - len(list_distinct(b.toks)) * 1.0 / len(b.toks), 4)
             AS dup_token_frac,
           round(t.top_bigram_n * 1.0 / t.n_bigrams, 4) AS top_bigram_frac,
           CAST(CASE WHEN t.top_bigram_n * 100 > t.n_bigrams * 8
                       OR len(list_distinct(b.toks)) * 10 < len(b.toks) * 4
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_repetitive
    FROM base b JOIN top t USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("text", "quality-filter", "repetition", "gopher-style"),
)
def quality_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-token fraction and
    top-bigram fraction per document, with a combined repetitive flag
    (Rae et al. 2021 §A1.1, adapted to the fixture's single-line docs).

    The bigram top-count never leaves the row (round-6 fold, the
    ``eval_rouge_redaction_impact`` pattern): sort the per-doc bigram array
    so equal bigrams form runs, then one linear ``F.aggregate`` pass tracks
    the longest run — O(len log len) per document, zero corpus-scale
    shuffle, versus the previous explode + two groupBys + join-back whose
    shuffle carried every distinct (doc, bigram) pair (bigrams are mostly
    unique within a doc, so map-side combine barely compressed it). The
    whole plan is one scan + projection + output sort (sf0.1 min-of-5
    0.65s -> 0.35s). Thresholds compare
    in integer arithmetic (count*100 > total*8) — engine-portable, no
    float literal (0.08) whose DECIMAL-vs-DOUBLE typing differs between
    engines.
    """
    (dc,) = _t(spark, sf_dir, "documents")
    base = dc.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 2
    )
    srt = F.array_sort(
        F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1),"
            "         slice(toks, 2, size(toks) - 1),"
            "         (a, b) -> concat(a, ' ', b))"
        )
    )
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_bigram_n = F.aggregate(srt, init, step, lambda acc: acc["best"])
    n_uniq = F.size(F.array_distinct("toks"))
    n_tok = F.size("toks")
    return (
        base.withColumn("top_bigram_n", top_bigram_n)
        .withColumn("n_bigrams", (n_tok - 1).cast("bigint"))
        .select(
            "doc_id",
            n_tok.cast("bigint").alias("n_tokens"),
            F.round(1 - n_uniq * F.lit(1.0) / n_tok, 4).alias("dup_token_frac"),
            F.round(
                F.col("top_bigram_n") * F.lit(1.0) / F.col("n_bigrams"), 4
            ).alias("top_bigram_frac"),
            F.when(
                (F.col("top_bigram_n") * 100 > F.col("n_bigrams") * 8)
                | (n_uniq * 10 < n_tok * 4),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("flag_repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_mixture_resample",
    oracle=f"""
    SELECT doc_id, source,
           CAST(((CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) * 7) % 10
                 + 1) / 10.0 AS DOUBLE) AS rate
    FROM documents
    WHERE {md5_bucket_sql("'mix:' || CAST(doc_id AS VARCHAR)", 1000)}
          < ((CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) * 7) % 10
             + 1) * 100
    ORDER BY doc_id
    """,
    tags=("sampling", "mixture", "deterministic-hash", "llm-pipeline"),
)
def corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture resampling — the data-mixture step of an
    LLM pipeline (downsample over-represented sources to target weights).

    Per-source keep-rates derive from the source id (rate = ((7*src) mod 10
    + 1)/10, standing in for a curated mixture table); membership is an
    md5 hash-bucket test per document, so the sample is reproducible across
    engines, runs, and cluster sizes — no RNG, no seed coordination across
    executors, and re-runs on grown inputs keep previously selected docs
    (stable incremental sampling). The filter is a pure projection: no
    shuffle at any scale. Rate compare stays in integer space (bucket <
    rate_tenths*100); only the reported rate column is a double.
    """
    (dc,) = _t(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", "([0-9]+)", 1).cast("int")
    rate_tenths = (src_num * 7) % 10 + 1
    bucket = md5_bucket_col(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 1000
    )
    return (
        dc.where(bucket < rate_tenths * 100)
        .select(
            "doc_id",
            "source",
            (rate_tenths / F.lit(10.0)).cast("double").alias("rate"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_boilerplate_tokens",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ),
    td AS (
      SELECT doc_id, source, unnest(list_distinct(toks)) AS tok FROM docs
    ),
    df AS (
      SELECT source, tok, count(*) AS n_docs_with FROM td GROUP BY source, tok
    ),
    tot AS (SELECT source, count(*) AS n_docs FROM docs GROUP BY source),
    bp AS (
      SELECT source, list_sort(list(tok)) AS bp_toks
      FROM df JOIN tot USING (source)
      WHERE n_docs_with * 10 >= n_docs * 9
      GROUP BY source
    )
    SELECT d.doc_id,
           CAST(len(d.toks)
                - len(list_filter(d.toks,
                      t -> NOT list_contains(coalesce(b.bp_toks, []), t)))
                AS BIGINT) AS n_removed,
           -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL
           -- where Spark's array_join is '' (a fully-boilerplate document
           -- cleans to the empty string, not to unknown — degenerate-lake
           -- oracle audit, round 6)
           coalesce(array_to_string(
             list_filter(d.toks,
                         t -> NOT list_contains(coalesce(b.bp_toks, []), t)),
             ' '), '') AS cleaned_text
    FROM docs d LEFT JOIN bp b USING (source)
    ORDER BY d.doc_id
    """,
    tags=("text", "boilerplate-removal", "llm-pipeline", "document-frequency"),
)
def corpus_boilerplate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate removal (C4-style template stripping): tokens
    present in >=90% of a source's documents are treated as site template
    noise and stripped from every document of that source.

    Document frequency is computed on array_distinct tokens (one row per
    doc x distinct token) with map-side partial aggregation; the per-source
    boilerplate vocabulary is tiny and bounded by |sources| x |vocab@90%|,
    so it broadcasts back — the fact table is never shuffled. The 90%
    threshold compares as n_with*10 >= n_docs*9 (exact integers on both
    engines). Output arrays are stringified (driver canonicalizer cannot
    hash list cells).
    """
    (dc,) = _t(spark, sf_dir, "documents")
    docs = dc.select("doc_id", "source", F.split("text", " ").alias("toks"))
    tok_doc = docs.select(
        "doc_id", "source", F.explode(F.array_distinct("toks")).alias("tok")
    )
    df_counts = tok_doc.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    src_tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    bp = (
        df_counts.join(F.broadcast(src_tot), "source")
        .where(F.col("n_docs_with") * 10 >= F.col("n_docs") * 9)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("tok")).alias("bp_toks"))
    )
    cleaned = F.expr(
        "filter(toks, t -> NOT array_contains(coalesce(bp_toks, array()), t))"
    )
    return (
        docs.join(F.broadcast(bp), "source", "left")
        .select(
            "doc_id",
            (F.size("toks") - F.size(cleaned)).cast("bigint").alias("n_removed"),
            F.array_join(cleaned, " ").alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_chunk_dedup_crossdoc",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS idx,
             array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ') AS chunk
      FROM docs, UNNEST(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS t(i)
    ),
    ranked AS (
      SELECT doc_id, idx, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
      FROM chunks
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY idx) AS dedup_text
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(ceil(len(d.toks) / 10.0) AS BIGINT) AS n_chunks,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.dedup_text, '') AS dedup_text
    FROM docs d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("dedup", "chunk-level", "keep-first", "llm-pipeline"),
)
def corpus_chunk_dedup_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk-level dedup: split every document into
    non-overlapping 10-token chunks, keep only the globally FIRST occurrence
    of each chunk (ordered by doc_id, then position), and reassemble each
    document from its surviving chunks — the passage-level dedup LLM corpora
    apply after document-level dedup.

    Keep-first is one row_number window partitioned by chunk content (at
    100 TB: partition by a chunk hash, same plan shape, bounded key width),
    then one groupBy(doc_id) to reassemble — two shuffles total, each keyed
    on high-cardinality uniform keys. Documents whose every chunk appeared
    earlier elsewhere survive with empty text via the left join, so the
    output is total over the corpus.
    """
    (dc,) = _t(spark, sf_dir, "documents")
    docs = dc.select("doc_id", F.split("text", " ").alias("toks"))
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, CAST(ceil(size(toks) / 10.0) AS INT) - 1),"
                " i -> struct(i AS idx,"
                "             array_join(slice(toks, i * 10 + 1, 10), ' ') AS chunk))"
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.idx").alias("idx"), F.col("c.chunk").alias("chunk"))
    # ONE conditional reassembly pass replaces the kept-subset groupBy +
    # left join back to docs: every document owns at least one chunk row, so
    # grouping ALL chunk rows per doc (counting everything, conditionally
    # collecting only first-occurrence chunks) yields n_chunks, n_kept, and
    # the surviving text without a second documents scan or a join —
    # collect_list skips the NULLs the rn>1 rows contribute.
    return (
        chunks.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("chunk").orderBy("doc_id", "idx")
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN"
                    " struct(idx, chunk) END)), s -> s.chunk)"
                ),
                " ",
            ).alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


SAMPLE_QUALITY_SCALE = 0.8


@register(
    "corpus_quality_weighted_sample",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             {_STOP_SQL} AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, source, {_QUALITY_SQL} AS quality,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)
               / 1000000.0 AS u
      FROM feats
    )
    SELECT doc_id, source, quality
    FROM scored
    WHERE u < quality * {SAMPLE_QUALITY_SCALE}
    ORDER BY doc_id
    """,
    tags=("text", "curation", "weighted-sampling", "quality-score"),
)
def corpus_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: keep each document with probability
    proportional to its quality score (deterministic md5 uniform per doc, so
    the sample is reproducible and oracle-checkable). The importance-sampling
    complement of source-based ``corpus_mixture_resample``: one is keyed by
    provenance, this one by content quality. Pure projection + filter."""
    from feature_datalake_sl_mandic_spark.functions.hashing import md5_int60_col

    (dc,) = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feats = dc.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        _stop_count_col(toks).alias("n_stop"),
    )
    u = (md5_int60_col(F.col("doc_id").cast("string")) % 1_000_000) / 1_000_000.0
    return (
        feats.withColumn("quality", _quality_col())
        .withColumn("u", u)
        .where(F.col("u") < F.col("quality") * SAMPLE_QUALITY_SCALE)
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    )


# ----------------------------------------------------- unigram LM perplexity


@register(
    "quality_unigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    dtc AS (
      SELECT doc_id, lang, tok, count(*) AS k
      FROM toks GROUP BY doc_id, lang, tok
    ),
    lm AS (SELECT tok, sum(k) AS cnt FROM dtc GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM lm),
    scored AS (
      SELECT d.doc_id, d.lang,
             CAST(sum(d.k) AS BIGINT) AS n_tok,
             round(sum(d.k * -ln(l.cnt * 1.0 / t.total)) / sum(d.k), 4)
               AS avg_nll
      FROM dtc d JOIN lm l USING (tok) CROSS JOIN tot t
      GROUP BY d.doc_id, d.lang
    )
    SELECT doc_id, lang, n_tok, avg_nll, round(exp(avg_nll), 3) AS ppl
    FROM scored ORDER BY doc_id
    """,
    tags=("text", "quality-score", "language-model", "perplexity", "skew"),
)
def quality_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus quality signal: train a unigram language model on
    the corpus itself (token -> count / total), score every document by its
    average negative log-likelihood, and report perplexity = exp(avg_nll).
    Low-ppl documents are fluent/common text; high-ppl ones are noise or
    gibberish — the standard cut for LLM pretraining curation.

    Scale shape: tokens collapse to per-document counts FIRST (``dtc``), so
    the LM join moves one row per (doc, distinct token), not one per token
    occurrence — and avg_nll is recovered exactly as the k-weighted sum. The
    token-frequency distribution is Zipfian, which would skew a shuffle join
    on ``tok``; at corpus scale the mitigation is the standard split — the
    head of the vocabulary (top few thousand tokens, tiny) broadcasts while
    the long tail shuffle-joins — or AQE skew-join handles it adaptively
    (enabled in session.py). Both engines round the weighted average to 4
    decimals to absorb summation-order differences.
    """
    (dc,) = _t(spark, sf_dir, "documents")
    toks = dc.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    # dtc feeds the LM, the grand total, and the scoring join —
    # localCheckpoint so the explode+count runs once, not three times, and
    # the storage is released when the query's DataFrame is collected (a
    # lazy .cache() would stay pinned in the session CacheManager across a
    # full registry sweep).
    dtc = (
        toks.groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint()
    )
    lm = dtc.groupBy("tok").agg(F.sum("k").alias("cnt"))
    tot = lm.agg(F.sum("cnt").alias("total"))
    nll = -F.log(F.col("cnt") / F.col("total"))
    scored = (
        dtc.join(lm, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").alias("n_tok"),
            F.round(F.sum(F.col("k") * nll) / F.sum("k"), 4).alias("avg_nll"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_tok",
        "avg_nll",
        F.round(F.exp("avg_nll"), 3).alias("ppl"),
    ).orderBy("doc_id")


# ------------------------------------------------- bigram next-token stats

BIGRAM_TOP_W1 = 20
BIGRAM_TOP_NEXT = 3


@register(
    "lm_bigram_next_tokens",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    big AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> {{'w1': w[i], 'w2': w[i+1]}})) AS bg
      FROM ws WHERE len(w) >= 2
    ),
    pairs AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS pair_cnt
      FROM big GROUP BY 1, 2
    ),
    uni AS (
      SELECT w1, CAST(sum(pair_cnt) AS BIGINT) AS w1_cnt
      FROM pairs GROUP BY w1
    ),
    top_w1 AS (
      SELECT w1, w1_cnt FROM uni ORDER BY w1_cnt DESC, w1 LIMIT {BIGRAM_TOP_W1}
    ),
    ranked AS (
      SELECT p.w1, p.w2, p.pair_cnt, t.w1_cnt,
             row_number() OVER (PARTITION BY p.w1
                                ORDER BY p.pair_cnt DESC, p.w2) AS rnk
      FROM pairs p JOIN top_w1 t USING (w1)
    )
    SELECT w1, w2, CAST(pair_cnt AS BIGINT) AS pair_cnt, w1_cnt,
           round(pair_cnt * 1.0 / w1_cnt, 6) AS p_next,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {BIGRAM_TOP_NEXT}
    ORDER BY w1, rnk
    """,
    tags=("text", "language-model", "bigram", "topk-per-group"),
)
def lm_bigram_next_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: corpus-wide (w1, w2) counts, the
    conditional next-token probability p(w2|w1), and the top next tokens for
    the most frequent context words — the n-gram companion to
    ``quality_unigram_perplexity`` and the skeleton of KenLM-style corpus
    scoring.

    Scale shape: bigrams collapse to (w1, w2) counts in one partial-agg
    shuffle (map-side combine absorbs the Zipf head before the exchange);
    the context-word total is a second aggregation OVER THE COUNTS, not the
    corpus; and the tiny top-context set broadcasts back. The guard
    ``size(w) >= 2`` matters: Spark's ``sequence(1, 0)`` DESCENDS rather
    than returning empty, so one-token documents must be filtered before
    the bigram transform, not after."""
    (dc,) = _t(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), " ")
    ws = dc.select(w.alias("w")).where(F.size("w") >= 2)
    big = ws.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.element_at("w", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    )
    # pairs feeds both the context totals and the scoring join —
    # localCheckpoint so the bigram explode+count runs once (pair counts are
    # vocab-sized, far smaller than the corpus) and is freed after the query.
    pairs = (
        big.groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .localCheckpoint()
    )
    uni = pairs.groupBy("w1").agg(F.sum("pair_cnt").alias("w1_cnt"))
    top_w1 = uni.orderBy(F.col("w1_cnt").desc(), "w1").limit(BIGRAM_TOP_W1)
    # successor rank via grouped_topk: a frequent w1's successor list is
    # vocabulary-sized at web scale, and the per-partition WindowGroupLimit
    # keeps the window on bare w1 from sorting it in one task per head word
    return (
        grouped_topk(
            pairs.join(F.broadcast(top_w1), "w1"),
            ["w1"],
            [("pair_cnt", "desc"), ("w2", "asc")],
            BIGRAM_TOP_NEXT,
            rank_col="rnk",
        )
        .select(
            "w1",
            "w2",
            "pair_cnt",
            "w1_cnt",
            F.round(F.col("pair_cnt") / F.col("w1_cnt"), 6).alias("p_next"),
            "rnk",
        )
        .orderBy("w1", "rnk")
    )


# ------------------------------------------- sparse TF-IDF cosine pairs

SPARSE_DOCS = 1000  # deterministic doc subset: doc_id < 1000
SPARSE_MAX_DF = 500  # df cap on join terms (no-op here; the 100 TB knob)
SPARSE_COS_THRESHOLD = 0.9


@register(
    "text_sparse_cosine_pairs",
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < {SPARSE_DOCS}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
      HAVING count(*) <= {SPARSE_MAX_DF}
    ),
    n AS (SELECT count(*) AS n_docs FROM docs),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(n.n_docs * 1.0 / df.df) AS w
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (na.nrm * nb.nrm) >= {SPARSE_COS_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("text", "tfidf", "sparse-similarity", "inverted-index", "self-join"),
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise document similarity in TF-IDF space via the inverted index:
    the sparse complement to dense ``dedup_embedding_cosine`` — no
    embeddings needed, and the dot product only touches terms two documents
    actually share, so the join moves O(sum df^2 over terms) rows instead of
    materializing any dense vectors. The document-frequency cap on join
    terms is the 100 TB knob (ubiquitous terms dominate sum df^2 while
    contributing the least TF-IDF mass — same guard as the MinHash shingle
    cap); vectors are defined over the capped vocabulary on BOTH sides, so
    the semantics stay exact, not approximated."""
    (dc,) = _t(spark, sf_dir, "documents")
    docs = dc.where(F.col("doc_id") < SPARSE_DOCS)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    # tf feeds the df counts AND the weight relation; w feeds the norms AND
    # both sides of the pair join. Without materialization Catalyst plans
    # each consumer as an independent subtree, re-tokenizing the corpus ~4x.
    # localCheckpoint (eager, lineage-truncating — unlike a lazy .cache(),
    # which leaves the full subtree in every plan) materializes each ONCE;
    # both relations are bounded by the doc cap and the per-doc vocabulary.
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= SPARSE_MAX_DF)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, (a["term"] == b["term"]) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= SPARSE_COS_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------- BM25 retrieval

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "scan")  # fixed query term set
BM25_TOP = 50


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dlen FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dlen) AS avg_dlen FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN {BM25_QUERY!r}
      GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                    + {BM25_B} * dl.dlen / s.avg_dlen))) AS score,
             count(*) AS n_matched_terms
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    ranked AS (
      SELECT doc_id, round(score, 6) AS bm25,
             CAST(n_matched_terms AS BIGINT) AS n_matched_terms,
             row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT doc_id, bm25, n_matched_terms, rnk
    FROM ranked WHERE rnk <= {BM25_TOP}
    ORDER BY rnk
    """,
    tags=("text", "bm25", "retrieval", "topk"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring for a fixed query-term set (k1=1.2, b=0.75,
    the Robertson-Sparck Jones idf with the +1 floor Lucene uses) — the
    full-text-search companion to the TF-IDF operators: length-normalized
    term saturation instead of raw tf weights, top-k documents by score.

    Scale shape: the term filter prunes the inverted index to the query
    terms BEFORE any aggregation, so per-query work is O(postings of the
    query terms), not corpus size; corpus stats (N, avg doc length) are a
    two-value broadcast. Ranking rounds before ordering on both sides so
    the tie-break is on identical values."""
    (dc,) = _t(spark, sf_dir, "documents")
    toks = dc.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # doc lengths as a projection (size of the split array), NOT an
    # explode+count — saves a full second pass over the exploded corpus.
    dl = dc.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avg_dlen")
    )
    tf = (
        toks.where(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dlen") / F.col("avg_dlen")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * F.col("tf") * (BM25_K1 + 1) / denom).alias("score"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    return grouped_topk(
        scored.select(
            "doc_id", F.round("score", 6).alias("bm25"), "n_matched_terms"
        ),
        [],
        [("bm25", "desc"), ("doc_id", "asc")],
        BM25_TOP,
        rank_col="rnk",
    ).orderBy("rnk")


# ------------------------------------------- exact-k weighted reservoir sample

RESERVOIR_K = 10  # docs kept per language stratum


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), keyed AS (
      SELECT doc_id, lang, n_tokens,
             round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 1000000 + 0.5) / 1000000.0) / n_tokens, 12) AS es_key
      FROM feats
    ), ranked AS (
      SELECT doc_id, lang, n_tokens,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, n_tokens
    FROM ranked WHERE rank <= {RESERVOIR_K}
    ORDER BY lang, rank
    """,
    tags=("text", "curation", "weighted-sampling", "reservoir"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling per language stratum (Efraimidis–Spirakis):
    each doc draws key = ln(u) / w with w = token count and a deterministic
    md5 uniform u; the k largest keys per stratum are EXACTLY a weighted
    sample without replacement. The exact-size companion to the Bernoulli
    ``corpus_quality_weighted_sample`` — that one's output size is random,
    this one's is k per stratum, which is what shard-balanced training-data
    draws need. Keys are rounded to 12 decimals before ranking so the
    ordering never hinges on a last-ulp ln() difference between engines.

    Scale: one narrow projection computes the key inside the scan, then
    ``grouped_topk`` per lang: its per-partition ``WindowGroupLimit`` keeps
    the top k of each lang before the shuffle, so only partitions * k rows
    per lang enter the final rank window, bounded regardless of corpus
    size. The shuffle carries only (lang, key, doc_id, w), not the text."""
    from feature_datalake_sl_mandic_spark.functions.hashing import md5_int60_col

    (dc,) = _t(spark, sf_dir, "documents")
    h = md5_int60_col(F.col("doc_id").cast("string"))
    u = ((h % 1_000_000) + F.lit(0.5)) / 1_000_000.0
    keyed = dc.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    ).withColumn("es_key", F.round(F.log(u) / F.col("n_tokens"), 12))
    return (
        grouped_topk(
            keyed,
            ["lang"],
            [("es_key", "desc"), ("doc_id", "asc")],
            RESERVOIR_K,
            rank_col="rank",
        )
        .select("lang", "rank", "doc_id", "n_tokens")
        .orderBy("lang", "rank")
    )


# ------------------------------------- source-pair Jensen-Shannon divergence


@register(
    "corpus_js_divergence_sources",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    tc AS (SELECT source, tok, count(*) AS k FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, sum(k) AS n FROM tc GROUP BY 1),
    p AS (
      SELECT tc.source, tc.tok, tc.k * 1.0 / tot.n AS p
      FROM tc JOIN tot USING (source)
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared_tokens,
             sum(a.p * ln(2 * a.p / (a.p + b.p))
                 + b.p * ln(2 * b.p / (a.p + b.p))) AS core,
             sum(a.p) AS pa_shared, sum(b.p) AS pb_shared
      FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared_tokens,
           round(0.5 * core
                 + 0.5 * ln(2) * ((1 - pa_shared) + (1 - pb_shared)), 4) AS jsd
    FROM shared
    ORDER BY source_a, source_b
    """,
    tags=("text", "curation", "divergence", "mixture"),
)
def corpus_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram token distributions of
    every source pair — the distributional-shift companion to
    ``source_overlap_jaccard`` (that one counts shared vocabulary, this one
    weighs it): JSD near 0 means two crawls are near-duplicates of each
    other at the corpus level; near ln(2) means disjoint. Used to pick
    mixture weights and to detect a provider silently re-sending another
    provider's crawl.

    The pair sum only needs the INNER token join: tokens present in one
    source only contribute p*ln(2) in closed form, folded in via
    (1 - sum_shared p). So the plan is: per-source token counts (map-side
    combined), per-source totals broadcast back, one equi-join on token
    (fanout per token bounded by |sources|), one pair-keyed aggregation.
    No full-outer join, no |vocab| x |pairs| blowup, no UDF."""
    (dc,) = _t(spark, sf_dir, "documents")
    tc = (
        dc.select("source", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    tot = tc.groupBy("source").agg(F.sum("k").alias("n"))
    # p feeds BOTH sides of the pair join (and tc feeds tot); truncate the
    # tokenize->count lineage once so the corpus is never re-tokenized —
    # the same cut the sparse-cosine rewrite made (round-2 verdict #3).
    p = (
        tc.join(F.broadcast(tot), "source")
        .select("source", "tok", (F.col("k") / F.col("n")).alias("p"))
        .localCheckpoint(eager=False)
    )
    a = p.select(
        F.col("source").alias("source_a"), "tok", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "tok", F.col("p").alias("pb")
    )
    shared = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_tokens"),
            F.sum(
                F.col("pa") * F.log(F.lit(2) * F.col("pa") / (F.col("pa") + F.col("pb")))
                + F.col("pb") * F.log(F.lit(2) * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("core"),
            F.sum("pa").alias("pa_shared"),
            F.sum("pb").alias("pb_shared"),
        )
    )
    ln2 = float(__import__("math").log(2.0))
    return shared.select(
        "source_a",
        "source_b",
        "n_shared_tokens",
        F.round(
            F.lit(0.5) * F.col("core")
            + F.lit(0.5)
            * F.lit(ln2)
            * ((F.lit(1) - F.col("pa_shared")) + (F.lit(1) - F.col("pb_shared"))),
            4,
        ).alias("jsd"),
    ).orderBy("source_a", "source_b")


# ----------------------------------------------------- Zipf power-law fit

ZIPF_TOP = 50  # tokens per language entering the log-log fit


@register(
    "corpus_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    tc AS (SELECT lang, tok, count(*) AS freq FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT lang, tok, freq,
             row_number() OVER (PARTITION BY lang
                                ORDER BY freq DESC, tok) AS rnk
      FROM tc
    ),
    pts AS (
      SELECT lang, ln(rnk) AS x, ln(freq) AS y
      FROM ranked WHERE rnk <= {ZIPF_TOP}
    ),
    fit AS (
      SELECT lang, count(*) AS n_points,
             regr_slope(y, x) AS slope,
             regr_intercept(y, x) AS intercept,
             regr_r2(y, x) AS r2
      FROM pts GROUP BY lang
    )
    SELECT lang, CAST(n_points AS BIGINT) AS n_points,
           round(-slope, 4) AS zipf_alpha,
           round(intercept, 4) AS log_c,
           round(r2, 4) AS r2
    FROM fit
    ORDER BY lang
    """,
    tags=("text", "statistics", "zipf", "power-law", "corpus-profile"),
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS of log(frequency) on log(rank) over
    each language's top-50 tokens — alpha near 1 with high R² says the
    corpus has natural-language token statistics; a flat or kinked fit flags
    synthetic, templated, or boilerplate-heavy text (the corpus-level
    companion to the per-document repetition/entropy gates). The fitted
    alpha also calibrates the CMS/head-vocabulary skew assumptions the
    LM-scoring plans document.

    Scale shape: token counts collapse map-side; the top-50 head terms per
    lang come from ``grouped_topk`` (the per-lang vocabulary is
    Heaps-sublinear but still ~10^7-10^8 terms at web scale; the
    per-partition ``WindowGroupLimit`` keeps the final window on lang at
    partitions * 50 rows) and only those rows enter the regression, which
    both engines compute with the same closed-form sufficient statistics
    (regr_slope/intercept/r2)."""
    (dc,) = _t(spark, sf_dir, "documents")
    tc = (
        dc.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pts = (
        grouped_topk(
            tc,
            ["lang"],
            [("freq", "desc"), ("tok", "asc")],
            ZIPF_TOP,
            rank_col="rnk",
        )
        .select(
            "lang", F.log(F.col("rnk")).alias("x"), F.log(F.col("freq")).alias("y")
        )
    )
    return (
        pts.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(-F.expr("regr_slope(y, x)"), 4).alias("zipf_alpha"),
            F.round(F.expr("regr_intercept(y, x)"), 4).alias("log_c"),
            F.round(F.expr("regr_r2(y, x)"), 4).alias("r2"),
        )
        .orderBy("lang")
    )


# --------------------------------------- BPE-style pair-merge statistics

BPE_TOP_K = 20


@register(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), clean AS (
      SELECT w FROM words WHERE regexp_full_match(w, '[a-z]{{2,}}')
    ), pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair
      FROM clean, unnest(generate_series(1, length(w) - 1)) t(i)
    ), counts AS (
      SELECT pair, count(*) AS pair_count FROM pairs GROUP BY 1
    ), tot AS (SELECT sum(pair_count) AS t FROM counts)
    SELECT pair, CAST(pair_count AS BIGINT) AS pair_count,
           round(pair_count * 1.0 / t, 6) AS share
    FROM counts, tot
    ORDER BY pair_count DESC, pair
    LIMIT {BPE_TOP_K}
    """,
    tags=("llm", "text", "tokenizer", "bpe", "topk"),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction, step one: corpus-wide adjacent
    symbol-pair frequencies over character-level words — the statistic the
    first BPE merge maximizes. Emits the top-{k} pairs with their share of
    all pair occurrences (deterministic tie-break on the pair itself).

    Scale shape: explode(word -> length-1 bigram substrings) then ONE
    map-side-combining groupBy on a key space of at most 26^2 pairs — the
    aggregate state is tiny no matter the corpus size. The grand total is
    an aggregate OVER the 676-row counts relation broadcast back (no second
    corpus pass, no global window), and top-k plans as TakeOrdered."""
    (dc,) = _t(spark, sf_dir, "documents")
    words = dc.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).where(F.col("w").rlike("^[a-z]{2,}$"))
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    # localCheckpoint so the corpus explode+count runs once: counts (<=676
    # rows) feeds both the output rows and the grand total.
    counts = (
        pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("pair_count")).localCheckpoint()
    )
    total = counts.agg(F.sum("pair_count").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "pair",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            F.round(F.col("pair_count") * 1.0 / F.col("t"), 6).alias("share"),
        )
        .orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_TOP_K)
    )


# ------------------------------------------ content-defined chunking (CDC)

CDC_W = 8  # boundary-test window (chars)
CDC_D = 32  # boundary divisor -> expected chunk length ~ D chars


@register(
    "corpus_cdc_chunking",
    oracle=f"""
    WITH docs AS MATERIALIZED (
      SELECT doc_id, text, length(text) AS len FROM documents
    ),
    bounded AS MATERIALIZED (
      SELECT doc_id, text, len,
             list_sort(list_distinct(
               list_append(
                 list_filter(
                   list_transform(range({CDC_W}, len + 1),
                     p -> CASE WHEN ('0x' || substr(md5(substr(text, CAST(p - {CDC_W} + 1 AS INT), {CDC_W})), 1, 15))::BIGINT
                                    % {CDC_D} = 0
                               THEN p END),
                   x -> x IS NOT NULL),
                 len))) AS bounds
      FROM docs
    ),
    chunks AS MATERIALIZED (
      SELECT doc_id,
             md5(substr(text, CAST(prev + 1 AS INT), CAST(b - prev AS INT))) AS ch,
             b - prev AS clen
      FROM (
        SELECT doc_id, text,
               unnest(bounds) AS b,
               unnest(list_prepend(0, list_slice(bounds, 1, len(bounds) - 1))) AS prev
        FROM bounded
      ) WHERE b > prev
    ),
    freq AS MATERIALIZED (
      SELECT ch, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY ch
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           round(avg(c.clen), 2) AS avg_chunk_len,
           CAST(sum(c.clen) AS BIGINT) AS total_len,
           CAST(sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks
    FROM chunks c JOIN freq f USING (ch)
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    tags=("text", "cdc", "chunking", "dedup", "rolling-hash"),
)
def corpus_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking — the dedup-storage/RAG-ingest splitter that
    fixed-size chunking can't be: a chunk boundary falls wherever the hash
    of the trailing {CDC_W}-char window divides CDC_D, so an insertion early
    in a document only reshuffles the chunks it touches (fixed-size offsets
    would shift EVERY later chunk and break all their dedup hashes). Per
    document this emits chunk count, mean chunk length (expected ~CDC_D
    chars by construction), and how many of its chunks also appear in other
    documents — the cross-doc shared-chunk signal CDC exists to maximize.

    Scale shape: boundary detection is a higher-order transform/filter over
    the character positions of each document — entirely inside the scan
    task, no shuffle until the chunk-frequency aggregation (one map-side-
    combined groupBy on the 16-byte chunk hash, exactly the exact-dedup
    shape). Chunks never leave as text: only their md5 and length shuffle.
    The window hash is recomputed per position (O(len x W) chars); a
    production splitter uses an O(len) rolling polynomial — same plan, the
    boundary predicate is the only thing that changes."""
    (dc,) = _t(spark, sf_dir, "documents")
    md5i = (
        f"CAST(CONV(substring(md5(substring(text, CAST(p - {CDC_W} + 1 AS INT), "
        f"{CDC_W})), 1, 15), 16, 10) AS BIGINT)"
    )
    # Guard: Spark's sequence(a, b) DESCENDS when b < a (same pitfall as
    # lm_bigram_next_tokens), so a document shorter than the window would
    # fabricate positions PAST its end — caught by the randomized tiling
    # property test. Sub-window docs are a single chunk by definition.
    bounds = F.expr(
        f"""
        CASE WHEN char_length(text) < {CDC_W} THEN array(char_length(text))
        ELSE array_sort(array_distinct(concat(
          filter(
            transform(sequence({CDC_W}, char_length(text)),
                      p -> CASE WHEN {md5i} % {CDC_D} = 0 THEN p END),
            x -> x IS NOT NULL),
          array(char_length(text))))) END
        """
    )
    bounded = dc.select("doc_id", "text", bounds.alias("bounds"))
    pairs = F.expr(
        """
        zip_with(bounds,
                 concat(array(0), slice(bounds, 1, size(bounds) - 1)),
                 (b, prev) -> named_struct(
                   'ch', md5(substring(text, CAST(prev + 1 AS INT),
                                       CAST(b - prev AS INT))),
                   'clen', b - prev))
        """
    )
    chunks = (
        bounded.select("doc_id", F.explode(pairs).alias("c"))
        .where(F.col("c.clen") > 0)
        .select("doc_id", F.col("c.ch").alias("ch"), F.col("c.clen").alias("clen"))
        .localCheckpoint(eager=False)
        # ^ feeds the chunk document-frequency AND the per-doc rollup —
        # pinned so the per-position CDC hashing (this query's dominant
        # compute) runs once, not per branch
    )
    freq = chunks.groupBy("ch").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (
        chunks.join(freq, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.round(F.avg("clen"), 2).alias("avg_chunk_len"),
            F.sum("clen").alias("total_len"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias(
                "n_shared_chunks"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------- lexicon-based safety screen

LEXICON_DENY = ("slow", "error", "fail")
LEXICON_RATE_MAX = 0.02  # flag a doc when denylist tokens exceed 2% of tokens
LEXICON_HITS_MAX = 3  # ... or when absolute hits reach this count


@register(
    "quality_lexicon_screen",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))
               AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                 t -> list_contains({list(LEXICON_DENY)!r}, t))) AS n_hits
      FROM documents
    ),
    flagged AS (
      SELECT source, n_tokens, n_hits,
             (n_hits * 1.0 / n_tokens > {LEXICON_RATE_MAX}
              OR n_hits >= {LEXICON_HITS_MAX}) AS flag
      FROM scored WHERE n_tokens > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           round(sum(CASE WHEN flag THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS flag_rate,
           round(avg(n_hits * 1.0 / n_tokens), 6) AS avg_hit_rate
    FROM flagged
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "safety", "lexicon", "filtering", "curation"),
)
def quality_lexicon_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based content screen — the cheap first-pass safety filter
    every corpus pipeline runs before any model-based classifier: per doc,
    count denylist tokens (exact token match after lowercasing, so 'error'
    hits but 'errors' doesn't — the deliberate precision/recall trade of a
    lexicon pass), flag docs over a rate OR absolute-count threshold, then
    report per-source survivorship so a poisoned source is visible as a
    flag-rate outlier rather than a diffuse corpus-wide loss. The fixture
    vocabulary makes 'slow'/'error'/'fail' real mid-frequency tokens, so
    both the flagged and clean paths carry real rows.

    Scale shape: tokenize + two higher-order filters inside the scan task
    (no UDF), then one map-side-combined aggregation keyed by source —
    identical shape to ``text_quality_score``, which scores form; this
    screens content."""
    (dc,) = _t(spark, sf_dir, "documents")
    deny = F.array(*[F.lit(t) for t in LEXICON_DENY])
    tokens = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: F.length(t) > 0
    )
    scored = dc.select(
        "source",
        F.size(tokens).alias("n_tokens"),
        F.size(
            F.filter(tokens, lambda t: F.array_contains(deny, t))
        ).alias("n_hits"),
    ).where(F.col("n_tokens") > 0)
    flag = (
        F.col("n_hits") / F.col("n_tokens") > LEXICON_RATE_MAX
    ) | (F.col("n_hits") >= LEXICON_HITS_MAX)
    return (
        scored.withColumn("flag", flag)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("flag").cast("int")).alias("n_flagged"),
            F.round(
                F.sum(F.col("flag").cast("int")) / F.count(F.lit(1)), 4
            ).alias("flag_rate"),
            F.round(F.avg(F.col("n_hits") / F.col("n_tokens")), 6).alias(
                "avg_hit_rate"
            ),
        )
        .orderBy("source")
    )


# ------------------------------------------- Kneser-Ney smoothed bigram LM

KN_DISCOUNT = 0.75  # absolute discount d (the standard choice)
KN_TOP_W1 = 10
KN_TOP_NEXT = 5


@register(
    "lm_bigram_kneser_ney",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    big AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> {{'w1': w[i], 'w2': w[i+1]}})) AS bg
      FROM ws WHERE len(w) >= 2
    ),
    pairs AS MATERIALIZED (
      SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS pair_cnt
      FROM big GROUP BY 1, 2
    ),
    ctx AS MATERIALIZED (
      SELECT w1, CAST(sum(pair_cnt) AS BIGINT) AS c_w1,
             CAST(count(*) AS BIGINT) AS n1p_fw
      FROM pairs GROUP BY w1
    ),
    cont AS MATERIALIZED (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bw FROM pairs GROUP BY w2
    ),
    npairs AS (SELECT count(*) AS n_types FROM pairs),
    top_w1 AS (
      SELECT w1, c_w1, n1p_fw FROM ctx ORDER BY c_w1 DESC, w1 LIMIT {KN_TOP_W1}
    ),
    scored AS (
      SELECT p.w1, p.w2, p.pair_cnt, t.c_w1,
             round(p.pair_cnt * 1.0 / t.c_w1, 6) AS p_mle,
             round(
               greatest(p.pair_cnt - {KN_DISCOUNT}, 0) / t.c_w1
               + {KN_DISCOUNT} * t.n1p_fw / t.c_w1
                 * (c.n1p_bw * 1.0 / np.n_types), 6) AS p_kn
      FROM pairs p
      JOIN top_w1 t USING (w1)
      JOIN cont c USING (w2)
      CROSS JOIN npairs np
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY w1
                                   ORDER BY p_kn DESC, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, CAST(pair_cnt AS BIGINT) AS pair_cnt, c_w1, p_mle, p_kn,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {KN_TOP_NEXT}
    ORDER BY w1, rnk
    """,
    tags=("text", "language-model", "kneser-ney", "smoothing"),
)
def lm_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing that
    made n-gram LMs work and the reason a corpus pipeline tracks
    CONTINUATION counts, not just frequencies: P(w2|w1) discounts every
    observed bigram by d=0.75 and backs the freed mass off to the
    continuation unigram P_cont(w2) = |{{w1 : c(w1,w2)>0}}| / |bigram types|
    — how many DISTINCT contexts a word follows, which is why 'francisco'
    (frequent but only after 'san') gets a tiny continuation weight while a
    genuinely promiscuous token gets a large one. MLE rides along so the
    discount's effect on the ranking is visible in the checked output.

    Scale shape: identical to ``lm_bigram_next_tokens`` — bigrams collapse
    to type counts in one map-side-combined shuffle, and ALL of the KN
    machinery (context totals, forward/backward continuation counts, the
    distinct-type total) are aggregations OVER THE TYPE COUNTS, a
    vocabulary-sized relation; the top-context set broadcasts back into the
    scoring join."""
    (dc,) = _t(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), " ")
    ws = dc.select(w.alias("w")).where(F.size("w") >= 2)
    big = ws.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.element_at("w", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    )
    pairs = (
        big.groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .localCheckpoint()
    )
    ctx = pairs.groupBy("w1").agg(
        F.sum("pair_cnt").alias("c_w1"), F.count(F.lit(1)).alias("n1p_fw")
    )
    cont = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bw"))
    npairs = pairs.agg(F.count(F.lit(1)).alias("n_types"))
    top_w1 = ctx.orderBy(F.col("c_w1").desc(), "w1").limit(KN_TOP_W1)
    p_kn = F.round(
        F.greatest(F.col("pair_cnt") - KN_DISCOUNT, F.lit(0.0)) / F.col("c_w1")
        + F.lit(KN_DISCOUNT)
        * F.col("n1p_fw")
        / F.col("c_w1")
        * (F.col("n1p_bw") / F.col("n_types")),
        6,
    )
    # successor rank via grouped_topk (see lm_bigram_next_tokens:
    # per-head-word successor lists are vocabulary-sized at web scale)
    scored = (
        pairs.join(F.broadcast(top_w1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(npairs))
        .select(
            "w1",
            "w2",
            "pair_cnt",
            "c_w1",
            F.round(F.col("pair_cnt") / F.col("c_w1"), 6).alias("p_mle"),
            p_kn.alias("p_kn"),
        )
    )
    return grouped_topk(
        scored,
        ["w1"],
        [("p_kn", "desc"), ("w2", "asc")],
        KN_TOP_NEXT,
        rank_col="rnk",
    ).orderBy("w1", "rnk")


# ---------------------------------------------- tokenizer fertility metrics

# BPE-ish subword proxy: split each whitespace word into runs of <= 4 chars
# (a fixed-width stand-in for merge-table segmentation — deterministic and
# engine-portable, which a real learned tokenizer's segmentation is not).
_FERT_PIECE = 4


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH docs AS (
      SELECT lang, text,
             list_filter(string_split(lower(text), ' '), t -> len(t) > 0)
               AS words
      FROM documents
    ),
    per_doc AS (
      SELECT lang,
             len(words) AS n_words,
             list_sum(list_transform(words,
                      w -> (len(w) + {_FERT_PIECE} - 1) // {_FERT_PIECE}))
               AS n_subwords,
             list_sum(list_transform(words, w -> len(w))) AS n_bytes
      FROM docs WHERE len(words) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
           round(sum(n_subwords) * 1.0 / sum(n_words), 4) AS fertility,
           round(sum(n_bytes) * 1.0 / sum(n_subwords), 4) AS bytes_per_token
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "tokenizer", "fertility", "evaluation"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health scorecard per language: FERTILITY (subword tokens
    per whitespace word) and bytes-per-token — the two numbers a
    multilingual tokenizer evaluation reports, because a tokenizer that
    fragments some language into 3x the subwords silently triples that
    language's training cost and shrinks its effective context window. The
    subword segmentation here is a fixed-width 4-char piece proxy
    (deterministic on both engines; a learned BPE's merge table would slot
    into the same per-word transform — ``text_bpe_pair_stats`` computes the
    statistics such a table is trained from).

    Scale shape: split + two higher-order folds inside the scan task, one
    map-side-combined aggregation keyed by language. Nothing leaves the
    scan but per-doc counts."""
    (dc,) = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: F.length(t) > 0
    )
    n_subwords = F.aggregate(
        F.col("words"),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.floor((F.length(w) + _FERT_PIECE - 1) / _FERT_PIECE).cast("bigint"),
    )
    n_bytes = F.aggregate(
        F.col("words"),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.length(w).cast("bigint"),
    )
    per_doc = (
        dc.select("lang", words.alias("words"))
        .where(F.size("words") > 0)
        .select(
            "lang",
            F.size("words").cast("bigint").alias("n_words"),
            n_subwords.alias("n_subwords"),
            n_bytes.alias("n_bytes"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_subwords").alias("n_subwords"),
            F.round(F.sum("n_subwords") / F.sum("n_words"), 4).alias("fertility"),
            F.round(F.sum("n_bytes") / F.sum("n_subwords"), 4).alias(
                "bytes_per_token"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------- ROUGE impact of corpus transforms


def _rouge_grams_sql(src: str, col: str, n: int) -> str:
    toks = f"list_filter(string_split(lower({col}), ' '), x -> len(x) > 0)"
    if n == 1:
        g = toks
    else:
        g = (
            f"list_transform(range(1, len({toks})), "
            f"i -> {toks}[i] || ' ' || {toks}[i+1])"
        )
    return f"""
      SELECT doc_id, unnest({g}) AS g FROM {src}
    """


@register(
    "eval_rouge_redaction_impact",
    oracle=f"""
    WITH w AS MATERIALIZED (
      SELECT doc_id, source, {_DUCK_WITH_PII} AS t FROM documents
    ),
    red AS MATERIALIZED (
      SELECT doc_id, source, t,
             regexp_replace(regexp_replace(regexp_replace(t,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_SSN}', '<SSN>', 'g') AS r
      FROM w
    ),
    ga1 AS (SELECT doc_id, g, count(*) AS c FROM ({_rouge_grams_sql("red", "t", 1)}) GROUP BY 1, 2),
    gb1 AS (SELECT doc_id, g, count(*) AS c FROM ({_rouge_grams_sql("red", "r", 1)}) GROUP BY 1, 2),
    ga2 AS (SELECT doc_id, g, count(*) AS c FROM ({_rouge_grams_sql("red", "t", 2)}) GROUP BY 1, 2),
    gb2 AS (SELECT doc_id, g, count(*) AS c FROM ({_rouge_grams_sql("red", "r", 2)}) GROUP BY 1, 2),
    r1 AS (
      SELECT a.doc_id,
             sum(least(a.c, coalesce(b.c, 0))) AS overlap, sum(a.c) AS denom
      FROM ga1 a LEFT JOIN gb1 b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    r2 AS (
      SELECT a.doc_id,
             sum(least(a.c, coalesce(b.c, 0))) AS overlap, sum(a.c) AS denom
      FROM ga2 a LEFT JOIN gb2 b ON a.doc_id = b.doc_id AND a.g = b.g
      GROUP BY a.doc_id
    ),
    per_doc AS (
      SELECT d.doc_id, d.source,
             r1.overlap * 1.0 / r1.denom AS rouge1,
             r2.overlap * 1.0 / r2.denom AS rouge2
      FROM red d JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(rouge1), 6) AS avg_rouge1,
           round(avg(rouge2), 6) AS avg_rouge2,
           round(min(rouge1), 6) AS min_rouge1
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "rouge", "evaluation", "pii", "redaction"),
)
def eval_rouge_redaction_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 between each document and its PII-redacted form —
    the standard n-gram-recall metric applied where a corpus pipeline
    actually needs it: quantifying how much content a destructive transform
    (here the ``corpus_pii_redact`` chain) erased, per source. A redaction
    pass that costs 2% ROUGE-1 is compliance; one that costs 30% means the
    regexes are eating prose, and the per-source minimum pinpoints which
    feed. The same harness scores any rewrite stage (boilerplate strip,
    dedup merge) by swapping the candidate column.

    Scale shape (round-6 in-row fold): ROUGE here compares each document
    against ITS OWN redacted form, so the gram-multiset intersection never
    needs to leave the row — both sides' grams ride one array, one
    ``array_sort`` groups equal grams into runs, and one linear
    ``F.aggregate`` fold counts per-run (reference, candidate) occurrences
    and accumulates overlap/denominator. The previous inverted-index form
    (explode -> groupBy (doc, n, gram)) shuffled the ~200x-corpus gram
    relation once; this shuffles NOTHING at corpus scale — the whole plan
    is scan -> project -> 5-row per-source rollup (sf0.1 min-of-5
    2.90s -> 0.98s). Per-row cost is O(len log len) for the sort, bounded
    by document length."""
    (dc,) = _t(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_SSN,
        "<SSN>",
    )
    def toks(col):
        return F.filter(F.split(F.lower(col), " "), lambda x: F.length(x) > 0)

    def grams(col: str, n: int):
        t = F.col(col)
        if n == 1:
            return t
        return F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        )

    def rouge(n: int):
        """ROUGE-n recall as a single in-row fold: tag each side's grams,
        sort so equal grams form runs, then one linear pass counts the
        per-gram (reference ca, candidate cb) run and flushes
        least(ca, cb) / ca into the overlap/denominator accumulators at
        every run boundary. Same integer sums -> same double division as
        the (doc, gram, count) join form, so the oracle hash is unchanged."""
        arr = F.array_sort(
            F.concat(
                F.transform(
                    grams("ta", n),
                    lambda g: F.struct(g.alias("g"), F.lit(0).alias("s")),
                ),
                F.transform(
                    grams("tb", n),
                    lambda g: F.struct(g.alias("g"), F.lit(1).alias("s")),
                ),
            )
        )
        zero = F.lit(0).cast("bigint")
        init = F.struct(
            F.lit("").alias("prev"),
            zero.alias("ca"),
            zero.alias("cb"),
            zero.alias("ov"),
            zero.alias("tot"),
        )

        def step(acc, x):
            same = x["g"] == acc["prev"]
            inc_a = F.when(x["s"] == 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
            return F.struct(
                x["g"].alias("prev"),
                (F.when(same, acc["ca"]).otherwise(zero) + inc_a).alias("ca"),
                (
                    F.when(same, acc["cb"]).otherwise(zero)
                    + (F.lit(1).cast("bigint") - inc_a)
                ).alias("cb"),
                F.when(same, acc["ov"])
                .otherwise(acc["ov"] + F.least(acc["ca"], acc["cb"]))
                .alias("ov"),
                F.when(same, acc["tot"]).otherwise(acc["tot"] + acc["ca"]).alias("tot"),
            )

        def fin(acc):
            ov = acc["ov"] + F.least(acc["ca"], acc["cb"])
            tot = acc["tot"] + acc["ca"]
            return F.when(tot > 0, ov / tot)

        return F.aggregate(arr, init, step, fin)

    per_doc = (
        dc.select("doc_id", "source", with_pii.alias("t"))
        .withColumn("r", red)
        # Tokenize once per side in its own projection; the rouge folds
        # reference the token arrays, and codegen subexpression elimination
        # keeps the regex/split chains single-evaluation if Catalyst
        # collapses the projections.
        .select("doc_id", "source", toks(F.col("t")).alias("ta"), toks(F.col("r")).alias("tb"))
        .select(
            "doc_id",
            "source",
            rouge(1).alias("rouge1"),
            rouge(2).alias("rouge2"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rouge1"), 6).alias("avg_rouge1"),
            F.round(F.avg("rouge2"), 6).alias("avg_rouge2"),
            F.round(F.min("rouge1"), 6).alias("min_rouge1"),
        )
        .orderBy("source")
    )


# ------------------------------------------- language-ID confusion matrix


@register(
    "eval_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_marker_sql('en')} AS s_en,
             {_marker_sql('es')} AS s_es,
             {_marker_sql('fr')} AS s_fr,
             {_marker_sql('de')} AS s_de,
             {_marker_sql('zh')} AS s_zh
      FROM documents
    ),
    pred AS (
      SELECT lang AS lang_label, {_LANG_PRED_SQL} AS lang_pred FROM scored
    ),
    cells AS (
      SELECT lang_label, lang_pred, count(*) AS n
      FROM pred GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang_label, sum(n) AS n_label FROM cells GROUP BY 1
    )
    SELECT c.lang_label, c.lang_pred, CAST(c.n AS BIGINT) AS n,
           round(c.n * 1.0 / t.n_label, 4) AS share_of_label,
           c.lang_label = c.lang_pred AS is_correct
    FROM cells c JOIN tot t USING (lang_label)
    ORDER BY lang_label, lang_pred
    """,
    tags=("text", "language-id", "evaluation", "confusion-matrix"),
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against the
    corpus's declared labels — the evaluation every lang-ID gate needs
    before its threshold decides what a corpus keeps: per (true, predicted)
    cell, the count and the share of the true label's documents, with the
    diagonal flagged. Off-diagonal hot spots name exactly which language
    pair the marker profiles confuse (and therefore which language a
    lang-ID-gated pipeline silently discards).

    Scale shape: scoring is the same single-projection marker profile as
    ``text_language_id``; the matrix is one map-side-combined aggregation
    to <= |langs|^2 cells, and the per-label totals aggregate OVER THE
    CELLS, not the corpus."""
    (dc,) = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pred = dc.select(
        F.col("lang").alias("lang_label"),
        *[
            _lang_score_col(toks, lg).cast("bigint").alias(f"s_{lg}")
            for lg in ("en", "es", "fr", "de", "zh")
        ],
    ).select("lang_label", _lang_pred_col().alias("lang_pred"))
    cells = (
        pred.groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
        # ^ bounded |langs|^2 relation feeding the row totals AND the final
        # join — pinned so the corpus scoring pass runs once, not per branch
    )
    tot = cells.groupBy("lang_label").agg(F.sum("n").alias("n_label"))
    return (
        cells.join(F.broadcast(tot), "lang_label")
        .select(
            "lang_label",
            "lang_pred",
            "n",
            F.round(F.col("n") / F.col("n_label"), 4).alias("share_of_label"),
            (F.col("lang_label") == F.col("lang_pred")).alias("is_correct"),
        )
        .orderBy("lang_label", "lang_pred")
    )
