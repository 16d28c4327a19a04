"""Corpus-curation operators for LLM training-data pipelines
(greenfield — beyond the reference's surface, per the project north
star): deterministic stratified sampling, benchmark decontamination,
and corpus-level token statistics.

All three are shuffle-bounded, built-in-function-only plans:

- sampling is a stateless filter on a portable integer-mix hash — at
  100 TB it runs at scan speed with zero coordination (no reservoir
  state, no driver round-trips), and the same row is kept/dropped on
  every run and every engine;
- decontamination is an inverted-index semi-join (shingle → benchmark
  membership) + per-doc count — pairs that share no shingle never
  meet, the benchmark side is distinct-compressed before the join;
- token frequency is one explode + one aggregation with a total-order
  top-k (freq desc, token asc) so the cut line is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.meter_pipeline import _u, _u_sql
from smart_meter_data_pipeline_spark.operators.text import (
    _shingles_sql,
    shingles,
    tokens,
)
from smart_meter_data_pipeline_spark.plans.registry import register
from smart_meter_data_pipeline_spark.sources.readers import load_table

# Per-language keep rates: downsample the dominant language, keep the
# tail — the standard rebalancing move in corpus assembly.
SAMPLE_RATES = {"en": 0.5, "zh": 0.25}
DEFAULT_RATE = 1.0
SAMPLE_SALT = 13

BENCHMARK_MOD = 50  # doc_id % 50 == 0 → the held-out "benchmark" set


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff its
    portable hash u(doc_id) falls under its language's rate."""
    docs = load_table(spark, sf_dir, "documents")
    u = _u(SAMPLE_SALT, F.col("doc_id"), F.lit(0))
    rate = F.lit(DEFAULT_RATE)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.filter(u < rate).select("doc_id", "lang", "source", "n_chars")


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in SAMPLE_RATES.items()
) + f" ELSE {DEFAULT_RATE} END"

register(
    "sample_stratified",
    f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_u_sql(SAMPLE_SALT, "doc_id", "0")} < {_RATE_SQL}
""",
)(sample_stratified)


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc that shares at
    least one char-shingle with the held-out benchmark subset
    (doc_id % {BENCHMARK_MOD} == 0).

    Scale shape: the benchmark shingle set is distinct-compressed and
    orders of magnitude smaller than the corpus, so the membership
    join broadcasts; the corpus side streams through one scan + one
    per-doc aggregation. Training-set assembly then drops
    ``is_contaminated`` rows with a plain filter."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    bench_sh = (
        sh.filter(F.col("doc_id") % BENCHMARK_MOD == 0)
        .select("shingle")
        .distinct()
    )
    hits = (
        sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return docs.join(hits, "doc_id", "left").select(
        "doc_id",
        (F.col("doc_id") % BENCHMARK_MOD == 0).alias("is_benchmark"),
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        (
            (F.coalesce("n_shared", F.lit(0)) > 0)
            & (F.col("doc_id") % BENCHMARK_MOD != 0)
        ).alias("is_contaminated"),
    )


register(
    "decontaminate_docs",
    f"""
WITH sh AS ({_shingles_sql()}),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCHMARK_MOD} = 0),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN bsh ON s.shingle = bsh.shingle
  GROUP BY 1
)
SELECT d.doc_id,
       d.doc_id % {BENCHMARK_MOD} = 0 AS is_benchmark,
       COALESCE(h.n_shared, 0) AS n_shared,
       (COALESCE(h.n_shared, 0) > 0 AND d.doc_id % {BENCHMARK_MOD} <> 0)
         AS is_contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
)(decontaminate_docs)


MIN_TOKENS, MAX_TOKENS = 12, 2000
MAX_PUNCT_RATIO = 0.10
MIN_MEAN_TOKEN_LEN, MAX_MEAN_TOKEN_LEN = 2.0, 12.0


def quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality gate as a rule chain with reason codes: each doc
    is kept or dropped with the FIRST failing rule recorded — the
    auditable filter shape production corpora pipelines use (drop
    reasons feed the curation dashboard; the kept set feeds packing).

    Rules (in order): token count in [{MIN_TOKENS}, {MAX_TOKENS}] →
    punctuation ratio ≤ {MAX_PUNCT_RATIO} → mean token length in
    [{MIN_MEAN_TOKEN_LEN}, {MAX_MEAN_TOKEN_LEN}]. Pure scan-speed
    column expressions; the filter itself never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace("text", "[^.!?,;:]", ""))
    punct_ratio = n_punct.cast("double") / F.length("text").cast("double")
    mean_len = (
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_tokens.cast("double")
    )
    reason = (
        F.when(n_tokens < MIN_TOKENS, "too_short")
        .when(n_tokens > MAX_TOKENS, "too_long")
        .when(punct_ratio > MAX_PUNCT_RATIO, "too_much_punct")
        .when(mean_len < MIN_MEAN_TOKEN_LEN, "tokens_too_short")
        .when(mean_len > MAX_MEAN_TOKEN_LEN, "tokens_too_long")
        .otherwise("kept")
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 12).alias("punct_ratio"),
        F.round(mean_len, 12).alias("mean_token_len"),
        reason.alias("filter_reason"),
        (reason == "kept").alias("is_kept"),
    )


register(
    "quality_filter_chain",
    f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
           AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
         CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
           / CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS mean_token_len
  FROM documents
), r AS (
  SELECT *,
         CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
              WHEN n_tokens > {MAX_TOKENS} THEN 'too_long'
              WHEN punct_ratio > {MAX_PUNCT_RATIO} THEN 'too_much_punct'
              WHEN mean_token_len < {MIN_MEAN_TOKEN_LEN} THEN 'tokens_too_short'
              WHEN mean_token_len > {MAX_MEAN_TOKEN_LEN} THEN 'tokens_too_long'
              ELSE 'kept' END AS filter_reason
  FROM t
)
SELECT doc_id, n_tokens,
       round(punct_ratio, 12) AS punct_ratio,
       round(mean_token_len, 12) AS mean_token_len,
       filter_reason,
       filter_reason = 'kept' AS is_kept
FROM r
""",
)(quality_filter_chain)


SEQ_LEN = 256  # training-sequence token budget


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-and-chunk formulation: within each
    source, documents are concatenated in doc_id order and the token
    stream is cut into fixed {SEQ_LEN}-token sequences; each doc lands
    at (pack_id, pack_offset), straddling a boundary when it must —
    exactly the pretraining packing layout.

    One window cumsum per source partition — at 100 TB the shuffle key
    is (source), and the running sum is the only stateful step; no
    driver-side loop, no UDF."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens())
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.floor(cum_before / SEQ_LEN).alias("pack_id"),
        (cum_before % SEQ_LEN).alias("pack_offset"),
    )


register(
    "pack_training_sequences",
    f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT *,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM t
)
SELECT doc_id, source, n_tokens,
       cum_before // {SEQ_LEN} AS pack_id,
       cum_before % {SEQ_LEN} AS pack_offset
FROM c
""",
)(pack_training_sequences)


QUOTA_PER_SOURCE = 30


def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping: keep at most {QUOTA_PER_SOURCE} docs
    per source, preferring longer documents (quality proxy), ties by
    doc_id — the anti-domination move that stops one crawl domain from
    flooding the mix. One window rank per source; at 100 TB Spark's
    WindowGroupLimit pushes the top-k below the shuffle so only
    per-partition survivors move."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return (
        docs.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= QUOTA_PER_SOURCE)
        .select("doc_id", "source", "n_chars", "quota_rank")
    )


register(
    "source_quota_cap",
    f"""
SELECT doc_id, source, n_chars, quota_rank
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS quota_rank
  FROM documents
)
WHERE quota_rank <= {QUOTA_PER_SOURCE}
""",
)(source_quota_cap)


TOP_TOKENS = 100


def corpus_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token table: total frequency + document frequency,
    top-{TOP_TOKENS} by (freq desc, token asc) — a total order, so the
    cut is deterministic across engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), "token")
        .limit(TOP_TOKENS)
    )


register(
    "corpus_token_freq",
    f"""
SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
FROM (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
)
GROUP BY token
ORDER BY freq DESC, token
LIMIT {TOP_TOKENS}
""",
)(corpus_token_freq)


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

SPLIT_SALT = 29
TRAIN_FRAC, VAL_FRAC = 0.8, 0.1  # test gets the remainder


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 corpus split keyed on the portable hash
    u(doc_id): the same doc lands in the same split on every run, every
    engine, and any subset of the corpus — no global sort, no sampling
    state, assignment is a stateless scan-time expression. Returns the
    per-(split, lang) manifest (doc count + char volume) used to audit
    split balance."""
    docs = load_table(spark, sf_dir, "documents")
    u = _u(SPLIT_SALT, F.col("doc_id"), F.lit(0))
    split = (
        F.when(u < TRAIN_FRAC, F.lit("train"))
        .when(u < TRAIN_FRAC + VAL_FRAC, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_SPLIT_U = _u_sql(SPLIT_SALT, "doc_id", "0")

register(
    "train_val_test_split",
    f"""
SELECT CASE WHEN {_SPLIT_U} < {TRAIN_FRAC} THEN 'train'
            WHEN {_SPLIT_U} < {TRAIN_FRAC + VAL_FRAC} THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""",
)(train_val_test_split)


# ---------------------------------------------------------------------------
# Global shuffle → training shard manifest
# ---------------------------------------------------------------------------

N_SHARDS = 16
SHARD_SALT = 41


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side of training-data prep: every doc is assigned a
    shard by portable hash (a global shuffle decoupled from input
    order — adjacent input docs land in different shards, which is the
    property sequence packing needs), and the manifest reports each
    shard's doc count, byte volume, and source spread so imbalance is
    visible before the expensive write.

    At 100 TB the assignment is the partitioner itself
    (``repartition(N, shard)`` → one parquet dir per shard); the
    manifest is the same single aggregation, and a skewed shard shows
    up here as a fat output partition before it becomes a straggler."""
    docs = load_table(spark, sf_dir, "documents")
    u = _u(SHARD_SALT, F.col("doc_id"), F.lit(0))
    shard = F.floor(u * N_SHARDS).cast("int")
    return (
        docs.select(shard.alias("shard"), "source", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


_SHARD_U = _u_sql(SHARD_SALT, "doc_id", "0")

register(
    "corpus_shard_manifest",
    f"""
SELECT CAST(FLOOR({_SHARD_U} * {N_SHARDS}) AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY 1
""",
)(corpus_shard_manifest)


# ---------------------------------------------------------------------------
# Capstone: the full corpus build as ONE registered query
# ---------------------------------------------------------------------------


def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus build — quality gate → exact
    dedup (keep-first) → reproducible split → sequence packing — as a
    single composed plan, so the STAGE INTERACTIONS are in the oracle
    hash, not just each stage alone (a doc dropped by quality must not
    occupy a dedup slot; a dedup loser must not consume pack budget).

    One row per SURVIVING doc: its split, and where it lands in the
    packed token stream of its (split, source) partition. All four
    stages reuse the exact semantics of their standalone queries
    (`quality_filter_chain`, `dedup_exact`, `train_val_test_split`,
    `pack_training_sequences`).

    Plan shape at 100 TB: the gate is scan-speed expressions, dedup is
    one hash-partitioned window on md5(text), split is a stateless
    hash expression, packing is one cumsum per (split, source) — three
    shuffles total, each keyed well, nothing driver-side."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace("text", "[^.!?,;:]", ""))
    punct_ratio = n_punct.cast("double") / F.length("text").cast("double")
    mean_len = (
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_tokens.cast("double")
    )
    kept = docs.filter(
        n_tokens.between(MIN_TOKENS, MAX_TOKENS)
        & (punct_ratio <= MAX_PUNCT_RATIO)
        & mean_len.between(MIN_MEAN_TOKEN_LEN, MAX_MEAN_TOKEN_LEN)
    )

    w_dup = Window.partitionBy(F.md5("text"))
    unique = kept.withColumn(
        "_keep_id", F.min("doc_id").over(w_dup)
    ).filter(F.col("doc_id") == F.col("_keep_id"))

    u = _u(SPLIT_SALT, F.col("doc_id"), F.lit(0))
    split = (
        F.when(u < TRAIN_FRAC, F.lit("train"))
        .when(u < TRAIN_FRAC + VAL_FRAC, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assigned = unique.select(
        "doc_id", "source", split.alias("split"), n_tokens.alias("n_tokens")
    )

    w_pack = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w_pack), F.lit(0))
    return assigned.select(
        "doc_id",
        "source",
        "split",
        "n_tokens",
        F.floor(cum_before / SEQ_LEN).alias("pack_id"),
        (cum_before % SEQ_LEN).alias("pack_offset"),
    )


register(
    "corpus_build_pipeline",
    f"""
WITH t AS (
  SELECT doc_id, source, text,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
           AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
         CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
           / CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS mean_token_len
  FROM documents
),
kept AS (
  SELECT * FROM t
  WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
    AND punct_ratio <= {MAX_PUNCT_RATIO}
    AND mean_token_len BETWEEN {MIN_MEAN_TOKEN_LEN} AND {MAX_MEAN_TOKEN_LEN}
),
unique_docs AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
    FROM kept
  ) WHERE doc_id = keep_id
),
assigned AS (
  SELECT doc_id, source, n_tokens,
         CASE WHEN {_SPLIT_U} < {TRAIN_FRAC} THEN 'train'
              WHEN {_SPLIT_U} < {TRAIN_FRAC + VAL_FRAC} THEN 'val'
              ELSE 'test' END AS split
  FROM unique_docs
),
packed AS (
  SELECT *,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY split, source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM assigned
)
SELECT doc_id, source, split, n_tokens,
       cum_before // {SEQ_LEN} AS pack_id,
       cum_before % {SEQ_LEN} AS pack_offset
FROM packed
""",
)(corpus_build_pipeline)


# ---------------------------------------------------------------------------
# Temperature-based source mixing
# ---------------------------------------------------------------------------

TEMP_SALT = 43
TEMP_TARGET_DOCS = 300  # expected total docs after mixing


def source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=0.5 temperature mixing over sources — the standard
    training-mixture move (multilingual/multi-source alpha sampling):
    a source's share of the output is proportional to sqrt(n_s) rather
    than n_s, up-weighting small sources and flattening dominant ones.
    Per-source keep probability q_s = min(1, TARGET · share_s / n_s);
    each doc keeps iff the portable hash u(doc_id) < q_s. Returns the
    per-source audit table (counts, weight, share, keep prob, kept).

    Determinism: sqrt is IEEE-correctly-rounded (unlike ln — see
    doc_bm25_mlt), weights round to 9 and sum as DECIMAL (order-
    insensitive); every downstream ratio is a per-row double op.

    Scale shape: two scans — a per-source count (map-side combinable,
    |sources| rows) and the filtered pass with the tiny weight table
    broadcast back; the sampling decision is a stateless scan-time
    expression, no global sort, no reservoir state."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    w = F.round(F.sqrt(F.col("n_source")), 9).cast("decimal(18,9)")
    weights = counts.select("source", "n_source", w.alias("w"))
    tot = weights.agg(F.sum("w").alias("tot_w"))
    probs = (
        weights.crossJoin(F.broadcast(tot))
        .withColumn(
            "share",
            F.col("w").cast("double") / F.col("tot_w").cast("double"),
        )
        .withColumn(
            "keep_prob",
            F.least(
                F.lit(1.0),
                F.lit(TEMP_TARGET_DOCS) * F.col("share") / F.col("n_source"),
            ),
        )
    )
    kept = (
        docs.join(F.broadcast(probs.select("source", "keep_prob")), "source")
        .filter(_u(TEMP_SALT, F.col("doc_id"), F.lit(0)) < F.col("keep_prob"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        probs.join(kept, "source", "left")
        .select(
            "source",
            "n_source",
            F.col("w").cast("double").alias("weight"),
            F.round("share", 9).alias("share"),
            F.round("keep_prob", 9).alias("keep_prob"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


register(
    "source_temperature_sample",
    f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_source FROM documents GROUP BY 1
),
weights AS (
  SELECT source, n_source,
         CAST(round(sqrt(n_source), 9) AS DECIMAL(18,9)) AS w
  FROM counts
),
tot AS (SELECT SUM(w) AS tot_w FROM weights),
probs AS (
  SELECT source, n_source, w,
         CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE) AS share,
         LEAST(1.0, {TEMP_TARGET_DOCS} *
           (CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE)) / n_source)
           AS keep_prob
  FROM weights CROSS JOIN tot
),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN probs p ON d.source = p.source
  WHERE {_u_sql(TEMP_SALT, "doc_id", "0")} < p.keep_prob
  GROUP BY 1
)
SELECT p.source, p.n_source, CAST(p.w AS DOUBLE) AS weight,
       round(p.share, 9) AS share, round(p.keep_prob, 9) AS keep_prob,
       COALESCE(k.n_kept, 0) AS n_kept
FROM probs p LEFT JOIN kept k ON p.source = k.source
""",
)(source_temperature_sample)


def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus health dashboard — the one-row-per-
    slice audit a data team reads before a training run: doc count,
    token volume, mean quality score (round-6 of the shared scoring
    rule), and the exact-duplicate rate (docs whose content hash is
    shared, via an md5 groupBy). Two aggregations over one corpus
    scan each, joined on the tiny slice key — every input reuses an
    already-proven CTE (quality scoring from doc_quality_score,
    exact-dup counting from dedup_exact), so the report can never
    drift from the operators it summarizes."""
    from smart_meter_data_pipeline_spark.operators.text import (
        doc_quality_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    quality = doc_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    dup_sizes = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    enriched = (
        docs.select("doc_id", "source", "lang", F.md5("text").alias("h"))
        .join(quality, "doc_id")
        .join(dup_sizes, "h")
    )
    return enriched.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,9)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
        F.sum((F.col("n_copies") > 1).cast("bigint")).alias("n_exact_dup"),
    )


def _quality_report_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.text import (
        QUALITY_SQL_CTES,
    )

    return f"""
WITH {QUALITY_SQL_CTES},
dup AS (
  SELECT md5(text) AS h, COUNT(*) AS n_copies
  FROM documents GROUP BY 1
),
enriched AS (
  SELECT d.doc_id, d.source, d.lang, q.n_tokens, q.quality_score,
         dup.n_copies
  FROM documents d
  JOIN quality q ON d.doc_id = q.doc_id
  JOIN dup ON md5(d.text) = dup.h
)
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(SUM(CAST(quality_score AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*), 6) AS mean_quality,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup
FROM enriched GROUP BY 1, 2
"""


register("corpus_quality_report", _quality_report_oracle())(
    corpus_quality_report
)


# ---------------------------------------------------------------------------
# Per-language heavy hitters and vocabulary OOV audit
# ---------------------------------------------------------------------------

HH_TOPK = 10
_TOK_UNNEST_SQL = """
  SELECT doc_id, lang, source,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents"""


def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HH_TOPK} tokens per language with their rank — the per-slice
    heavy-hitter report (what dominates each language's token stream).

    Scale shape: the (lang, token) count combines map-side, so the
    shuffle carries one row per distinct (lang, token) — vocab-sized,
    not corpus-sized; the rank window then sorts only within each
    language's vocabulary. At 100 TB with an open-ended vocabulary the
    pre-aggregation is the point: the fact table is never sorted, and
    a count-min/sampled pre-filter could cap the vocab shuffle too
    (unnecessary here — the shuffle is already the small side).
    Ordering is total (freq desc, token asc), so the cut is
    deterministic across engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens()).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "token")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HH_TOPK)
        .select("lang", "token", "freq", "rank")
    )


register(
    "corpus_heavy_hitters",
    f"""
WITH tok AS ({_TOK_UNNEST_SQL}),
counts AS (SELECT lang, token, COUNT(*) AS freq FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT lang, token, freq,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY freq DESC, token) AS rank
  FROM counts
)
SELECT lang, token, freq, rank FROM ranked WHERE rank <= {HH_TOPK}
""",
)(corpus_heavy_hitters)


VOCAB_SIZE = 24  # the corpus draws from a ~30-word vocabulary, so a
# 24-entry vocab leaves a real OOV tail for the audit to measure.


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit per source: token occurrences not in the
    corpus top-{VOCAB_SIZE} vocabulary — the pre-tokenizer health check
    (a source with a high OOV rate is drifting from the vocabulary the
    tokenizer was fit on).

    Scale shape: the vocab is a top-K over the map-side-combined global
    token counts (vocab-sized shuffle) and then BROADCASTS into a
    left-anti-style membership probe on the token stream — the stream
    itself never shuffles on token; the per-source rollup combines
    map-side. Vocab cut is the total (freq desc, token asc) order."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens()).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("token"))
            ).alias("n_oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "n_oov_types",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                9,
            ).alias("oov_rate"),
        )
    )


register(
    "vocab_oov_rate",
    f"""
WITH tok AS ({_TOK_UNNEST_SQL}),
vocab AS (
  SELECT token FROM tok GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT {VOCAB_SIZE}
),
probed AS (
  SELECT t.source, t.token, v.token IS NOT NULL AS in_vocab
  FROM tok t LEFT JOIN vocab v ON t.token = v.token
)
SELECT source,
       COUNT(*) AS n_tokens,
       COUNT(CASE WHEN NOT in_vocab THEN 1 END) AS n_oov,
       COUNT(DISTINCT CASE WHEN NOT in_vocab THEN token END) AS n_oov_types,
       round(CAST(COUNT(CASE WHEN NOT in_vocab THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS oov_rate
FROM probed
GROUP BY 1
""",
)(vocab_oov_rate)


# ---------------------------------------------------------------------------
# Explicit-target mixture rebalance (epoch weighting)
# ---------------------------------------------------------------------------

# Shared decimal strings — the SAME literal text must reach both
# engines' parsers (see verify notes).
MIX_TARGETS = (("en", "0.30"), ("de", "0.20"), ("fr", "0.20"),
               ("es", "0.15"), ("zh", "0.15"))
MIX_SALT = 61


def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to an EXPLICIT language mixture — the
    epoch-weighting move in training-data recipes (each slice gets a
    repeat factor r = target_share · N / n_slice; r>1 up-samples by
    repetition, r<1 down-samples): each doc is emitted floor(r) times
    plus one more iff its portable hash u < frac(r), so expected
    emitted counts hit the target shares exactly and every decision is
    a stateless per-row expression (reproducible, no RNG state).

    The complement to ``source_temperature_sample`` (implicit sqrt
    flattening): here the mixture is a declared policy table.

    Scale shape: one corpus scan joined against a broadcast 5-row
    policy frame; the per-lang audit combines map-side (sum of per-doc
    copy counts — materializing the repeats is a plain
    explode(array_repeat) of the same expression and adds no shuffle).
    Returns per-lang: n_docs, target_share, repeat_factor, n_emitted,
    achieved_share."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = counts.agg(F.sum("n_lang").alias("n_total"))
    targets = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(l).alias("lang"),
                        F.expr(f"CAST({s} AS DOUBLE)").alias("target_share"),
                    )
                    for l, s in MIX_TARGETS
                ]
            )
        ).alias("t")
    ).select("t.lang", "t.target_share")
    policy = (
        counts.join(F.broadcast(targets), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "repeat_factor",
            F.col("target_share") * F.col("n_total") / F.col("n_lang"),
        )
    )
    emitted = (
        docs.join(
            F.broadcast(policy.select("lang", "repeat_factor")), "lang"
        )
        .withColumn(
            "n_copies",
            F.floor("repeat_factor").cast("bigint")
            + F.when(
                _u(MIX_SALT, F.col("doc_id"), F.lit(0))
                < F.col("repeat_factor") - F.floor("repeat_factor"),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("bigint"),
        )
        .groupBy("lang")
        .agg(F.sum("n_copies").alias("n_emitted"))
    )
    out = policy.join(emitted, "lang")
    tot_emitted = out.agg(F.sum("n_emitted").alias("tot_emitted"))
    return (
        out.crossJoin(F.broadcast(tot_emitted))
        .select(
            "lang",
            F.col("n_lang").alias("n_docs"),
            "target_share",
            F.round("repeat_factor", 9).alias("repeat_factor"),
            "n_emitted",
            F.round(
                F.col("n_emitted").cast("double")
                / F.col("tot_emitted").cast("double"),
                9,
            ).alias("achieved_share"),
        )
    )


_MIX_VALUES = ", ".join(
    f"('{l}', CAST({s} AS DOUBLE))" for l, s in MIX_TARGETS
)
register(
    "mixture_rebalance",
    f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_lang) AS n_total FROM counts),
targets (lang, target_share) AS (VALUES {_MIX_VALUES}),
policy AS (
  SELECT c.lang, c.n_lang, t.target_share,
         t.target_share * n_total / c.n_lang AS repeat_factor
  FROM counts c JOIN targets t ON c.lang = t.lang CROSS JOIN tot
),
emitted AS (
  -- outer BIGINT cast: DuckDB integer SUM yields HUGEINT, which
  -- pandas renders as float64 and breaks hash parity with Spark's
  -- bigint (the 747 vs 747.0 class of mismatch)
  SELECT d.lang,
         CAST(SUM(CAST(floor(p.repeat_factor) AS BIGINT)
             + CASE WHEN {_u_sql(MIX_SALT, "d.doc_id", "0")}
                      < p.repeat_factor - floor(p.repeat_factor)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_emitted
  FROM documents d JOIN policy p ON d.lang = p.lang
  GROUP BY 1
),
joined AS (
  SELECT p.lang, p.n_lang, p.target_share, p.repeat_factor, e.n_emitted
  FROM policy p JOIN emitted e ON p.lang = e.lang
),
tote AS (SELECT SUM(n_emitted) AS tot_emitted FROM joined)
SELECT lang, n_lang AS n_docs, target_share,
       round(repeat_factor, 9) AS repeat_factor, n_emitted,
       round(CAST(n_emitted AS DOUBLE) / CAST(tot_emitted AS DOUBLE), 9)
         AS achieved_share
FROM joined CROSS JOIN tote
""",
)(mixture_rebalance)


CMS_D = 4    # count-min depth (independent hash rows)
CMS_W = 64   # count-min width (buckets per row)
CMS_TOPK = 20
_CMS_HEX = "0123456789abcdef"


def _cms_bucket_expr(d: int, word_col: str = "word") -> str:
    """Bucket of ``word`` under hash row ``d``: two hex digits of
    md5('<d>:'||word) → 0..255 → % CMS_W. Portable (same strpos/instr
    hex→int idiom as SimHash/minhash — no engine bit ops)."""
    h = f"md5(concat('{d}:', {word_col}))"
    return (
        f"((instr('{_CMS_HEX}', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_CMS_HEX}', substr({h}, 2, 1)) - 1)) % {CMS_W}"
    )


def corpus_countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, audited against
    exact counts: build a {CMS_D}×{CMS_W} counter sketch, then report
    — for the top-{CMS_TOPK} tokens by exact count — the exact count,
    the CMS estimate (min over the {CMS_D} hashed counters), and the
    overestimate. CMS never underestimates, so ``overestimate >= 0``
    by construction and the oracle hash proves the sketch arithmetic
    end-to-end. This is the streaming-friendly frequency structure a
    100 TB pipeline uses when the vocabulary itself is too large to
    rollup exactly (the audit quantifies the collision error at a
    given sketch size).

    Scale shape: counters build from the (word, cnt) vocabulary rollup
    — NOT a second corpus scan — by exploding each distinct word into
    its {CMS_D} (row, bucket) cells and re-aggregating to the fixed
    {CMS_D}·{CMS_W}-cell sketch (bounded state, broadcastable); the
    probe joins the {CMS_TOPK}-row head against the sketch. One corpus
    scan total, everything after it vocabulary-sized or constant."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(F.explode(tokens()).alias("word"))
    # Checkpointed: the rollup feeds BOTH the sketch build and the
    # top-k probe head — without this the corpus scan appears twice in
    # the static plan (AQE would reuse the exchange at runtime, but
    # the checkpoint makes the one-scan property structural and the
    # plan contract checkable).
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    cells = vocab.select(
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.expr(_cms_bucket_expr(d)).alias("bucket"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("db"),
    ).select("cnt", "db.d", "db.bucket")
    sketch = cells.groupBy("d", "bucket").agg(F.sum("cnt").alias("counter"))
    top = vocab.orderBy(F.col("cnt").desc(), F.col("word")).limit(CMS_TOPK)
    probes = top.select(
        "word",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.expr(_cms_bucket_expr(d)).alias("bucket"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("db"),
    ).select("word", "cnt", "db.d", "db.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("word", "cnt")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    return est.select(
        "word",
        F.col("cnt").cast("bigint").alias("exact_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("cnt")).cast("bigint").alias(
            "overestimate"
        ),
    )


def _cms_oracle() -> str:
    def bucket_sql(d: int, word_col: str = "word") -> str:
        h = f"md5(concat('{d}:', {word_col}))"
        return (
            f"((strpos('{_CMS_HEX}', substr({h}, 1, 1)) - 1) * 16"
            f" + (strpos('{_CMS_HEX}', substr({h}, 2, 1)) - 1)) % {CMS_W}"
        )

    cell_branches = "\n  UNION ALL ".join(
        f"SELECT cnt, {d} AS d, {bucket_sql(d)} AS bucket FROM vocab"
        for d in range(CMS_D)
    )
    probe_branches = "\n  UNION ALL ".join(
        f"SELECT word, cnt, {d} AS d, {bucket_sql(d)} AS bucket FROM top"
        for d in range(CMS_D)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
words AS (SELECT unnest(arr) AS word FROM toks),
vocab AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY 1),
cells AS (
  {cell_branches}
),
sketch AS (
  SELECT d, bucket, SUM(cnt) AS counter FROM cells GROUP BY 1, 2
),
top AS (
  SELECT word, cnt FROM vocab ORDER BY cnt DESC, word LIMIT {CMS_TOPK}
),
probes AS (
  {probe_branches}
)
SELECT p.word,
       CAST(p.cnt AS BIGINT) AS exact_count,
       CAST(MIN(s.counter) AS BIGINT) AS cms_estimate,
       CAST(MIN(s.counter) - p.cnt AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
GROUP BY p.word, p.cnt
"""


register("corpus_countmin_estimate", _cms_oracle())(corpus_countmin_estimate)


_ABLATION_RULES = (
    "too_short",
    "too_long",
    "too_much_punct",
    "tokens_too_short",
    "tokens_too_long",
)


def quality_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ablation of the quality gate: for each rule of
    :func:`quality_filter_chain`, evaluated INDEPENDENTLY (not
    first-fail), the number of docs failing it, the number failing
    ONLY it (its unique contribution — exactly the docs that would be
    rescued if the rule were removed), and its fail share. This is the
    filter-tuning report: a rule with large n_fail but zero
    n_fail_only is redundant; one with large n_fail_only deserves a
    threshold review before it silently deletes a slice of the corpus.

    Scale shape: one scan computes all five boolean flags as column
    expressions; a single global aggregate produces the 10 counters;
    the per-rule rows come from exploding that 1-row aggregate —
    nothing after the scan is corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks)
    punct_ratio = (
        F.length(F.regexp_replace("text", "[^.!?,;:]", "")).cast("double")
        / F.length("text").cast("double")
    )
    mean_len = (
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_tokens.cast("double")
    )
    flags = docs.select(
        (n_tokens < MIN_TOKENS).alias("too_short"),
        (n_tokens > MAX_TOKENS).alias("too_long"),
        (punct_ratio > MAX_PUNCT_RATIO).alias("too_much_punct"),
        (mean_len < MIN_MEAN_TOKEN_LEN).alias("tokens_too_short"),
        (mean_len > MAX_MEAN_TOKEN_LEN).alias("tokens_too_long"),
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for r in _ABLATION_RULES:
        others = [o for o in _ABLATION_RULES if o != r]
        only = F.col(r)
        for o in others:
            only = only & ~F.col(o)
        aggs.append(F.sum(F.col(r).cast("long")).alias(f"fail_{r}"))
        aggs.append(F.sum(only.cast("long")).alias(f"only_{r}"))
    one = flags.agg(*aggs)
    rows = one.select(
        "n_docs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"),
                        F.col(f"fail_{r}").alias("n_fail"),
                        F.col(f"only_{r}").alias("n_fail_only"),
                    )
                    for r in _ABLATION_RULES
                ]
            )
        ).alias("s"),
    )
    return rows.select(
        F.col("s.rule").alias("rule"),
        F.col("s.n_fail").cast("bigint").alias("n_fail"),
        F.col("s.n_fail_only").cast("bigint").alias("n_fail_only"),
        F.expr("CAST((1000000 * s.n_fail) div n_docs AS BIGINT)").alias(
            "fail_share_micro"
        ),
    )


def _ablation_oracle() -> str:
    branches = []
    for r in _ABLATION_RULES:
        others = " AND ".join(
            f"NOT {o}" for o in _ABLATION_RULES if o != r
        )
        branches.append(
            f"""
  SELECT '{r}' AS rule,
         CAST(SUM(CASE WHEN {r} THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
         CAST(SUM(CASE WHEN {r} AND {others} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fail_only,
         CAST((1000000 * SUM(CASE WHEN {r} THEN 1 ELSE 0 END))
              // COUNT(*) AS BIGINT) AS fail_share_micro
  FROM flags"""
        )
    union = "\n  UNION ALL".join(branches)
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
           AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
         CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
           / CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS mean_token_len
  FROM documents
),
flags AS (
  SELECT n_tokens < {MIN_TOKENS} AS too_short,
         n_tokens > {MAX_TOKENS} AS too_long,
         punct_ratio > {MAX_PUNCT_RATIO} AS too_much_punct,
         mean_token_len < {MIN_MEAN_TOKEN_LEN} AS tokens_too_short,
         mean_token_len > {MAX_MEAN_TOKEN_LEN} AS tokens_too_long
  FROM t
)
{union}
"""


register("quality_filter_ablation", _ablation_oracle())(quality_filter_ablation)


def source_lang_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-diversity audit per source: Simpson diversity index
    (1 − Σ share², the probability two random docs from the source
    differ in language) — the log-free diversity measure (Shannon
    entropy needs ln(), which is not cross-engine bit-stable; Simpson
    carries the same monotone signal for mixture monitoring). A feed
    that suddenly collapses to one language shows up as diversity → 0.

    All-integer: shares in micro-units, Σ share² scaled back down by
    integer division; diversity_micro = 1e6 − Σshare²_micro.

    Scale shape: one (source, lang) rollup (map-side combined), then a
    per-source window over ≤|sources|·|langs| rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("source")
    share = cell.select(
        "source",
        F.expr(
            "(1000000 * n) div SUM(n) OVER (PARTITION BY source)"
        ).alias("share_micro"),
        F.sum("n").over(w).alias("n_docs"),
    )
    return (
        share.groupBy("source", "n_docs")
        .agg(
            F.sum(
                F.expr("(share_micro * share_micro) div 1000000")
            ).alias("sum_sq_micro")
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            (F.lit(1_000_000) - F.col("sum_sq_micro"))
            .cast("bigint")
            .alias("simpson_diversity_micro"),
        )
    )


register(
    "source_lang_simpson",
    """
WITH cell AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
),
share AS (
  SELECT source,
         CAST((1000000 * n)
              // SUM(n) OVER (PARTITION BY source) AS BIGINT)
           AS share_micro,
         SUM(n) OVER (PARTITION BY source) AS n_docs
  FROM cell
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(1000000 - SUM(CAST((share_micro * share_micro) // 1000000
                               AS BIGINT)) AS BIGINT)
         AS simpson_diversity_micro
FROM share
GROUP BY source, n_docs
""",
)(source_lang_simpson)


COLLOC_TOPK = 20


def corpus_token_collocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining with rational lift: for the top-{COLLOC_TOPK}
    tokens by document frequency, every pair's document co-occurrence
    count and lift = P(ab)/(P(a)P(b)) — computed as ONE integer
    division (1000·N·n_ab) div (df_a·df_b), no logs (PMI's ln is not
    cross-engine bit-stable; lift ranks pairs identically). Lift ≫ 1
    flags collocations worth merging in a tokenizer; ≪ 1 flags
    near-exclusive topical splits.

    Scale shape: the presence set is distinct (doc, word) restricted
    to a {COLLOC_TOPK}-row broadcast head, so the within-doc self-join
    fans out at most C({COLLOC_TOPK},2) pairs per doc; the pair
    rollup combines map-side; df and N ride the broadcast."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(tokens()).alias("word")
    ).distinct()
    df_tab = words.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    top = df_tab.orderBy(F.col("df").desc(), F.col("word")).limit(
        COLLOC_TOPK
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    pres = words.join(F.broadcast(top), "word")
    a = pres.select(
        "doc_id", F.col("word").alias("word_a"), F.col("df").alias("df_a")
    )
    b = pres.select(
        F.col("doc_id").alias("doc_b"),
        F.col("word").alias("word_b"),
        F.col("df").alias("df_b"),
    )
    pairs = a.join(
        b,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("word_a") < F.col("word_b")),
    )
    return (
        pairs.groupBy("word_a", "word_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            F.expr("(1000 * n_docs * n_ab) div (df_a * df_b)")
            .cast("bigint")
            .alias("lift_milli"),
        )
    )


register(
    "corpus_token_collocation",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
words AS (SELECT DISTINCT doc_id, unnest(arr) AS word FROM toks),
df_tab AS (SELECT word, COUNT(*) AS df FROM words GROUP BY 1),
top AS (
  SELECT word, df FROM df_tab ORDER BY df DESC, word LIMIT {COLLOC_TOPK}
),
nn AS (SELECT COUNT(*) AS n_docs FROM documents),
pres AS (
  SELECT w.doc_id, w.word, t.df FROM words w JOIN top t ON w.word = t.word
)
SELECT a.word AS word_a, b.word AS word_b,
       CAST(COUNT(*) AS BIGINT) AS n_ab,
       CAST(a.df AS BIGINT) AS df_a,
       CAST(b.df AS BIGINT) AS df_b,
       CAST((1000 * nn.n_docs * COUNT(*)) // (a.df * b.df) AS BIGINT)
         AS lift_milli
FROM pres a
JOIN pres b ON a.doc_id = b.doc_id AND a.word < b.word
CROSS JOIN nn
GROUP BY a.word, b.word, a.df, b.df, nn.n_docs
""",
)(corpus_token_collocation)


MAXCOVER_K = 5


def doc_maxcover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection (the submodular coreset
    classic, 1−1/e guarantee): pick {MAXCOVER_K} documents one at a
    time, each maximizing the number of distinct char-shingles NOT
    covered by the already-chosen docs — lexical-coverage
    diversity selection. Ties to the lowest doc_id.
    Output: selection order, doc_id, marginal gain, cumulative
    coverage.

    Scale shape: each of the {MAXCOVER_K} steps is one pass over the
    (doc, shingle) table with the covered set as a broadcast anti-join
    filter (covered is bounded by K docs' shingles — constant-sized),
    then a per-doc count and a TakeOrdered(1) argmax. The shingle
    table is checkpointed once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingles(docs).localCheckpoint(eager=True)

    chosen: list[tuple[int, int, int]] = []  # (doc_id, gain, cum)
    covered = None
    cum = 0
    for _ in range(MAXCOVER_K):
        remaining = sh
        if chosen:
            ids = [c[0] for c in chosen]
            remaining = sh.filter(~F.col("doc_id").isin(ids)).join(
                F.broadcast(covered), "shingle", "left_anti"
            )
        gains = remaining.groupBy("doc_id").agg(
            F.countDistinct("shingle").alias("gain")
        )
        top = gains.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).collect()
        if not top:
            break
        doc_id, gain = top[0]["doc_id"], top[0]["gain"]
        cum += gain
        chosen.append((doc_id, gain, cum))
        ids = [c[0] for c in chosen]
        covered = (
            sh.filter(F.col("doc_id").isin(ids))
            .select("shingle")
            .distinct()
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        [
            (i, int(d), int(g), int(c))
            for i, (d, g, c) in enumerate(chosen)
        ],
        ["sel_order", "doc_id", "marginal_gain", "cum_coverage"],
    ).select(
        F.col("sel_order").cast("int").alias("sel_order"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("marginal_gain").cast("bigint").alias("marginal_gain"),
        F.col("cum_coverage").cast("bigint").alias("cum_coverage"),
    )


def _maxcover_oracle(k: int = MAXCOVER_K) -> str:
    parts = [
        """g0 AS (
  SELECT doc_id, COUNT(DISTINCT shingle) AS gain
  FROM sh GROUP BY 1
),
s0 AS (
  SELECT * FROM (
    SELECT 0 AS sel_order, doc_id, gain AS marginal_gain
    FROM g0 ORDER BY gain DESC, doc_id LIMIT 1
  )
)"""
    ]
    for i in range(1, k):
        parts.append(
            f"""
cov{i} AS (
  SELECT DISTINCT shingle FROM sh
  WHERE doc_id IN (SELECT doc_id FROM s{i - 1})
),
g{i} AS (
  SELECT doc_id, COUNT(DISTINCT shingle) AS gain
  FROM sh
  WHERE doc_id NOT IN (SELECT doc_id FROM s{i - 1})
    AND shingle NOT IN (SELECT shingle FROM cov{i})
  GROUP BY 1
),
s{i} AS (
  SELECT * FROM s{i - 1}
  UNION ALL
  SELECT * FROM (
    SELECT {i} AS sel_order, doc_id, gain AS marginal_gain
    FROM g{i} ORDER BY gain DESC, doc_id LIMIT 1
  )
)"""
        )
    body = ",".join(parts)
    return f"""
WITH sh AS ({_shingles_sql()}),
{body}
SELECT CAST(sel_order AS INT) AS sel_order,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(marginal_gain AS BIGINT) AS marginal_gain,
       CAST(SUM(marginal_gain) OVER (ORDER BY sel_order
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
         AS cum_coverage
FROM s{k - 1}
"""


register("doc_maxcover_selection", _maxcover_oracle())(doc_maxcover_selection)


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

K_ANONYMITY = 5


def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (event_type, ISO day-of-week, value band of width 50): the
    equivalence-class size histogram plus a risky flag for classes
    smaller than k={K_ANONYMITY} — the Sweeney re-identification
    criterion a privacy review runs BEFORE releasing a derived
    dataset. A release is k-anonymous iff no risky row exists; the
    histogram (not just the boolean) shows how far away it is and
    which generalization (wider value bands, coarser time) would fix
    it.

    Scale shape: two map-side-combining aggregations (rows → classes
    → histogram), grouping-key cardinality bounded by the QI domain
    (types × 7 × bands), not the data."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        (F.expr("weekday(ts)") + 1).alias("dow"),
        F.expr("CAST(floor(value / 50) AS INT)").alias("value_band"),
    )
    classes = qi.groupBy("event_type", "dow", "value_band").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        classes.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").alias("n_rows"),
        )
        .select(
            F.col("k").cast("bigint").alias("class_size"),
            F.col("n_classes").cast("bigint").alias("n_classes"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("k") < K_ANONYMITY).alias("risky"),
        )
    )


register(
    "events_k_anonymity",
    f"""
WITH qi AS (
  SELECT event_type, isodow(ts) AS dow,
         CAST(floor(value / 50) AS INT) AS value_band
  FROM events
),
classes AS (
  SELECT event_type, dow, value_band, COUNT(*) AS k
  FROM qi GROUP BY 1, 2, 3
)
SELECT CAST(k AS BIGINT) AS class_size,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       k < {K_ANONYMITY} AS risky
FROM classes GROUP BY k
""",
)(events_k_anonymity)


# ---------------------------------------------------------------------------
# Leakage-safe (group-aware) train split
# ---------------------------------------------------------------------------

# Near-dup family key: the same 24-char leading fingerprint
# doc_prefix_dup clusters on (operators/dedup.py) — two docs sharing it
# are one content family for split purposes.
LEAKAGE_GROUP_CHARS = 24


def train_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: the split is drawn on the
    content FAMILY (md5 of the {LEAKAGE_GROUP_CHARS}-char leading
    fingerprint), not the document, so near-duplicate documents can
    never straddle train and test — the eval-contamination mode a
    doc-keyed split invites the moment the corpus holds near-dups.
    Arms: first md5 nibble 0-11 → train (75%), 12-13 → val, 14-15 →
    test. Output: per-split document/family/char counts plus a
    hash-certified ``n_leaky_groups`` column — the count of families
    observed in more than one split, provably 0 by construction.

    Scale shape: per-row hash (no join — the family key derives from
    the row), one rollup per split + one family-level distinct for
    the leak audit; family cardinality ~ corpus size but both
    aggregations combine map-side."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.substring("text", 1, LEAKAGE_GROUP_CHARS)).alias("fam"),
    )
    nib = F.expr("instr('0123456789abcdef', substr(fam, 1, 1)) - 1")
    tagged = docs.withColumn(
        "split",
        F.when(nib <= 11, F.lit("train"))
        .when(nib <= 13, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    leaky = (
        tagged.groupBy("fam")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaky_groups"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fam").alias("n_groups"),
            F.sum("n_chars").alias("n_chars_sum"),
        )
        .crossJoin(F.broadcast(leaky))
        .select(
            "split",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
            F.col("n_chars_sum").cast("bigint").alias("n_chars_sum"),
            F.col("n_leaky_groups").cast("bigint").alias("n_leaky_groups"),
        )
    )


register(
    "train_split_leakage_safe",
    f"""
WITH tagged AS (
  SELECT doc_id, n_chars,
         md5(substr(text, 1, {LEAKAGE_GROUP_CHARS})) AS fam,
         CASE
           WHEN strpos('0123456789abcdef',
                       substr(md5(substr(text, 1, {LEAKAGE_GROUP_CHARS})),
                              1, 1)) - 1 <= 11 THEN 'train'
           WHEN strpos('0123456789abcdef',
                       substr(md5(substr(text, 1, {LEAKAGE_GROUP_CHARS})),
                              1, 1)) - 1 <= 13 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
),
leaky AS (
  SELECT COUNT(*) AS n_leaky_groups FROM (
    SELECT fam FROM tagged GROUP BY fam
    HAVING COUNT(DISTINCT split) > 1
  )
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fam) AS BIGINT) AS n_groups,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
       CAST((SELECT n_leaky_groups FROM leaky) AS BIGINT) AS n_leaky_groups
FROM tagged GROUP BY split
""",
)(train_split_leakage_safe)


# ---------------------------------------------------------------------------
# Inverted-index build (posting lists)
# ---------------------------------------------------------------------------

INDEX_TOP_TOKENS = 150


def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed inverted-index construction — the IR-serving
    artifact behind the BM25 family: for each of the top
    {INDEX_TOP_TOKENS} tokens (by collection frequency, total order),
    the document frequency, collection frequency, and the FULL
    posting list serialized as 'doc:tf' entries sorted by doc_id.

    This is the classic MapReduce indexing job re-expressed
    declaratively: explode → (token, doc) tf rollup (map-side
    combined) → per-token list aggregation. At 100 TB the posting
    lists shard by token hash — exactly the shuffle this plan
    produces — and the sort_array keeps each list in ascending doc_id
    order, the property delta-encoded postings compression and
    galloping-intersection query evaluation both require. The
    string serialization keeps the list under the driver's value-hash
    gate (array renderings differ between engines; 'a:b,c:d' does
    not).

    Reference parity: generalizes the reference's per-batch aggregate
    verification counts (consumer/meter_consumer.py:116-183) to the
    corpus-indexing shape per SURVEY.md §2's beyond-reference
    mandate."""
    from smart_meter_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Select the kept tokens FIRST (integer rollup + TakeOrdered),
    # then materialize posting lists only for them: building lists for
    # every token before the cut would hand each hot token's full
    # posting list to one reducer — the classic indexing straggler.
    # (For the kept tokens the list is the deliverable; a production
    # index SEGMENTS hot postings across shard files, which is the
    # corpus_shard_manifest pattern composed with this one.)
    top = (
        tf.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("cf"),
        )
        .orderBy(F.col("cf").desc(), "token")
        .limit(INDEX_TOP_TOKENS)
    )
    postings = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "tf"))),
            lambda s: F.concat_ws(
                ":", s["doc_id"].cast("string"), s["tf"].cast("string")
            ),
        ),
        ",",
    )
    return (
        tf.join(F.broadcast(top), "token")
        .groupBy("token", "df", "cf")
        .agg(postings.alias("postings"))
        .select("token", "df", "cf", "postings")
    )


register(
    "corpus_inverted_index",
    f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents
),
tf AS (
  SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                  ',' ORDER BY doc_id) AS postings
FROM tf
GROUP BY token
ORDER BY cf DESC, token
LIMIT {INDEX_TOP_TOKENS}
""",
)(corpus_inverted_index)


# ---------------------------------------------------------------------------
# Deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

K_FOLDS = 5
KFOLD_SALT = 43
_M31_KF = 2147483647


def _fold_expr_spark():
    h1 = (
        F.col("doc_id") * F.lit(2654435761) + F.lit(KFOLD_SALT * 97)
    ) % F.lit(_M31_KF)
    return ((h1 * F.lit(48271)) % F.lit(_M31_KF)) % F.lit(K_FOLDS)


_FOLD_SQL = (
    f"((((doc_id * 2654435761 + {KFOLD_SALT * 97}) % {_M31_KF})"
    f" * 48271) % {_M31_KF}) % {K_FOLDS}"
)


def train_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {K_FOLDS}-fold cross-validation assignment: the
    fold is a stateless integer-hash expression of doc_id (the
    portable-PRNG idiom, all intermediates < 2^52), so every engine,
    rerun, and corpus subset agrees on every document's fold — the
    property that makes CV results reproducible and lets fold
    training sets be CARVED AT SCAN TIME (``fold <> i`` is a pushable
    predicate; no materialized split tables, no shuffle). Returns the
    per-(fold, source) balance manifest a CV harness audits before
    training {K_FOLDS} models.

    Complements ``train_val_test_split`` (fractional holdout) and
    ``train_split_leakage_safe`` (group-aware holdout): k-fold is the
    small-data / hyperparameter-search shape.

    Scale shape: one scan, one map-side-combining rollup of
    {K_FOLDS}×|sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            _fold_expr_spark().cast("int").alias("fold"),
            "source",
            "n_chars",
        )
        .groupBy("fold", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


register(
    "train_kfold_assign",
    f"""
SELECT CAST({_FOLD_SQL} AS INT) AS fold, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""",
)(train_kfold_assign)


# ---------------------------------------------------------------------------
# l-diversity audit (companion to events_k_anonymity)
# ---------------------------------------------------------------------------

L_DIVERSITY = 3


def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al.): within
    each quasi-identifier equivalence class (ISO day-of-week × value
    band of width 50 — the k-anonymity QI minus the sensitive
    attribute), count DISTINCT values of the sensitive attribute
    (event_type) and histogram the classes by that l. k-anonymity
    alone cannot stop the homogeneity attack — a class where all k
    rows share one sensitive value re-identifies it perfectly even at
    large k; a release is distinct-l-diverse iff no class has
    l < {L_DIVERSITY}.

    Scale shape: rows → (QI × sensitive) rollup → QI classes →
    l histogram, all map-side-combining aggregations with
    QI-domain-bounded keys; one scan, no joins."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.select(
        (F.expr("weekday(ts)") + 1).alias("dow"),
        F.expr("CAST(floor(value / 50) AS INT)").alias("value_band"),
        "event_type",
    )
    classes = (
        qi.groupBy("dow", "value_band", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("dow", "value_band")
        .agg(
            F.count(F.lit(1)).alias("l"),
            F.sum("n").alias("k"),
        )
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").alias("n_rows"),
        )
        .select(
            F.col("l").cast("bigint").alias("distinct_sensitive"),
            F.col("n_classes").cast("bigint").alias("n_classes"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("l") < L_DIVERSITY).alias("risky"),
        )
    )


register(
    "events_l_diversity",
    f"""
WITH cells AS (
  SELECT isodow(ts) AS dow,
         CAST(floor(value / 50) AS INT) AS value_band,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
),
classes AS (
  SELECT dow, value_band, COUNT(*) AS l, SUM(n) AS k
  FROM cells GROUP BY 1, 2
)
SELECT CAST(l AS BIGINT) AS distinct_sensitive,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       l < {L_DIVERSITY} AS risky
FROM classes
GROUP BY l
""",
)(events_l_diversity)


# ---------------------------------------------------------------------------
# Per-key deterministic reservoir sample
# ---------------------------------------------------------------------------

RESERVOIR_K = 10
RESERVOIR_SALT = 61


def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-per-key sample (the per-key reservoir): for every
    event type, the {RESERVOIR_K} events with the smallest
    deterministic hash priority — equivalent in distribution to a
    uniform reservoir but exactly reproducible across engines, reruns
    and corpus subsets (an event keeps or loses its slot only as
    competing events arrive, never because rand() re-rolled). The
    per-key twin of ``sample_weighted_priority``: where that op takes
    a weighted global top-k, this takes an unweighted top-k PER KEY —
    the debugging/eyeballing sample every pipeline stage wants
    ("show me 10 of each").

    Scale shape: the rank window partitions by event_type, so the
    sort is per-key (bounded by the largest key's rows, parallel
    across keys) and the map side can pre-prune with the same
    partial top-k AQE applies to rank-filter windows; no global
    sort, no shuffle beyond the one on the key."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        (
            F.col("event_id") * F.lit(2654435761)
            + F.lit(RESERVOIR_SALT * 97)
        )
        % F.lit(_M31_KF)
        * F.lit(48271)
    ) % F.lit(_M31_KF)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        u.asc(), F.col("event_id").asc()
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            "user_id",
            "value",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= RESERVOIR_K)
        .select(
            "event_type",
            F.col("sample_rank").cast("int").alias("sample_rank"),
            "event_id",
            "user_id",
            "value",
        )
    )


register(
    "sample_reservoir_per_key",
    f"""
WITH ranked AS (
  SELECT event_type, event_id, user_id, value,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY (((event_id * 2654435761 + {RESERVOIR_SALT * 97})
                      % {_M31_KF}) * 48271) % {_M31_KF},
                    event_id
         ) AS sample_rank
  FROM events
)
SELECT event_type, CAST(sample_rank AS INT) AS sample_rank,
       event_id, user_id, value
FROM ranked WHERE sample_rank <= {RESERVOIR_K}
""",
)(sample_reservoir_per_key)


# ---------------------------------------------------------------------------
# Importance-weighted corpus selection (DSIR-shaped)
# ---------------------------------------------------------------------------

DSIR_SAMPLE_K = 25
DSIR_U_NIBBLES = 10
DSIR_U_SCALE = 10**9
_DSIR_HEX = "0123456789abcdef"


def _dsir_u(spark_side: bool) -> str:
    """Portable uniform integer from md5 of a SALTED doc id (salt 131
    keeps this draw independent of sample_weighted_priority's)."""
    fn = "instr" if spark_side else "strpos"
    h = (
        "md5(CAST(CAST(doc_id * 31 + 131 AS STRING) AS BINARY))"
        if spark_side
        else "md5(CAST(doc_id * 31 + 131 AS VARCHAR))"
    )
    terms = [
        f"({fn}('{_DSIR_HEX}', substr({h}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (DSIR_U_NIBBLES - 1 - i)} AS BIGINT)"
        for i in range(DSIR_U_NIBBLES)
    ]
    return "(" + " + ".join(terms) + ")"


def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampled corpus selection, DSIR-shaped (Xie et al.
    2023): score every document with the hashed-n-gram linear
    classifier (``doc_hashed_ngram_score``'s frozen weights — the
    target-domain likelihood surrogate), convert the score to a
    POSITIVE importance weight, and draw a weighted sample of
    {DSIR_SAMPLE_K} documents by Duffield-Lund-Thorup priority
    sampling — weightier (more target-like) documents enter the
    training mix proportionally more often, yet the draw is exactly
    reproducible (hash uniform, no rand()).

    Documented divergence from the paper: DSIR exponentiates a
    log-likelihood ratio; exp/ln cannot cross the engine-hash
    contract (JVM vs libm last-bit), so the weight is the RATIONAL
    surrogate max(feat_sum, 0) + 1 — order-equivalent for ranking a
    single classifier's scores, and the sampling machinery (priority
    = w·{DSIR_U_SCALE} div (u+1), HT threshold τ in-row) is the
    paper's resampling stage verbatim.

    Scale shape: explode → O(tokens) constant-time hashing (no vocab
    join) → per-doc rollup → one TakeOrdered(K+1); no global sort, no
    shuffle of the corpus."""
    from smart_meter_data_pipeline_spark.operators.text import (
        HASH_BUCKETS,
        _HEXD,
        _W_MOD,
        _W_MUL,
        _W_SHIFT,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    from smart_meter_data_pipeline_spark.operators.text import tokens

    tok = docs.select("doc_id", "source", F.explode(tokens()).alias("tok"))
    scored = tok.select(
        "doc_id",
        "source",
        F.expr(
            f"((((instr('{_HEXD}', substr(md5(tok), 1, 1)) - 1) * 16"
            f" + (instr('{_HEXD}', substr(md5(tok), 2, 1)) - 1))"
            f" % {HASH_BUCKETS}) * {_W_MUL}) % {_W_MOD} - {_W_SHIFT}"
        ).alias("w"),
    )
    agg = scored.groupBy("doc_id", "source").agg(
        F.sum("w").alias("feat_sum")
    )
    weighted = agg.select(
        "doc_id",
        "source",
        F.col("feat_sum").cast("bigint").alias("feat_sum"),
        (F.greatest(F.col("feat_sum"), F.lit(0)) + F.lit(1))
        .cast("bigint")
        .alias("weight"),
    )
    prio = weighted.withColumn(
        "priority",
        F.expr(
            f"(weight * CAST({DSIR_U_SCALE} AS BIGINT))"
            f" div ({_dsir_u(True)} + 1)"
        ).cast("bigint"),
    )
    top = prio.orderBy(F.col("priority").desc(), "doc_id").limit(
        DSIR_SAMPLE_K + 1
    )
    tau = top.agg(F.min("priority").alias("tau"))
    return (
        top.crossJoin(F.broadcast(tau))
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(DSIR_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "feat_sum",
            "weight",
            "priority",
            F.col("tau").cast("bigint").alias("tau"),
        )
    )


def _register_dsir() -> None:
    from smart_meter_data_pipeline_spark.operators.text import (
        HASH_BUCKETS,
        _HEXD,
        _W_MOD,
        _W_MUL,
        _W_SHIFT,
    )

    register(
        "corpus_dsir_sample",
        f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS tok
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         ((((strpos('{_HEXD}', substr(md5(tok), 1, 1)) - 1) * 16
            + (strpos('{_HEXD}', substr(md5(tok), 2, 1)) - 1))
           % {HASH_BUCKETS}) * {_W_MUL}) % {_W_MOD} - {_W_SHIFT} AS w
  FROM toks
),
agg AS (
  SELECT doc_id, source, CAST(SUM(w) AS BIGINT) AS feat_sum
  FROM scored GROUP BY 1, 2
),
weighted AS (
  SELECT doc_id, source, feat_sum,
         CAST(GREATEST(feat_sum, 0) + 1 AS BIGINT) AS weight
  FROM agg
),
prio AS (
  SELECT *, CAST((weight * CAST({DSIR_U_SCALE} AS BIGINT))
                 // ({_dsir_u(False)} + 1) AS BIGINT) AS priority
  FROM weighted
),
top AS (
  SELECT * FROM prio ORDER BY priority DESC, doc_id
  LIMIT {DSIR_SAMPLE_K + 1}
),
tau AS (SELECT MIN(priority) AS tau FROM top)
SELECT doc_id, source, feat_sum, weight, priority,
       CAST(tau AS BIGINT) AS tau
FROM (
  SELECT t.*, tau.tau FROM top t, tau
  ORDER BY priority DESC, doc_id LIMIT {DSIR_SAMPLE_K}
)
""",
    )(corpus_dsir_sample)


_register_dsir()


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_NIBBLES = 10
_KMV_SCALE = 16**KMV_NIBBLES
_KMV_HEX = "0123456789abcdef"


def _kmv_hash(spark_side: bool) -> str:
    fn = "instr" if spark_side else "strpos"
    h = "md5(CAST(token AS BINARY))" if spark_side else "md5(token)"
    terms = [
        f"({fn}('{_KMV_HEX}', substr({h}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (KMV_NIBBLES - 1 - i)} AS BIGINT)"
        for i in range(KMV_NIBBLES)
    ]
    return "(" + " + ".join(terms) + ")"


def corpus_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count sketch per source (Bar-Yossef et
    al.): hash every token into [0, 16^{KMV_NIBBLES}), keep the
    {KMV_K} SMALLEST distinct hashes, and estimate the vocabulary as
    (k−1)·R div h_(k) — if k uniform points fill the prefix up to
    h_(k), the whole range holds ~that density. The third mergeable
    distinct-count shape in the engine (HLL registers: fixed error,
    fixed space; bitmap: exact; KMV: ALSO supports set operations by
    merging bottom-k lists and, unlike HLL, gives unbiased
    intersection estimates via the k-min coincidence trick). The
    exact per-source vocabulary rides along as the audit column;
    sources with fewer than {KMV_K} distinct hashes report exactly.

    Determinism: the hash is the md5-nibble integer idiom, the
    estimate one bigint floor division — no floats anywhere.

    Scale shape: explode → (source × hash) distinct rollup → per-source
    rank window ON THE ROLLUP → k-row rollup per source."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    from smart_meter_data_pipeline_spark.operators.text import tokens

    tok = docs.select(
        "source", F.explode(tokens()).alias("token")
    )
    hashed = tok.select(
        "source",
        F.expr(_kmv_hash(True)).alias("h"),
        "token",
    )
    distinct_h = hashed.select("source", "h").distinct()
    w = Window.partitionBy("source").orderBy("h")
    ranked = distinct_h.withColumn("rk", F.row_number().over(w))
    per_source = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("kth"),
    )
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_hashes") < KMV_K, F.col("n_hashes")
    ).otherwise(
        F.expr(
            f"(CAST({KMV_K - 1} AS BIGINT)"
            f" * CAST({_KMV_SCALE} AS BIGINT)) div kth"
        )
    )
    return (
        per_source.join(exact, "source")
        .select(
            "source",
            F.col("n_hashes").cast("bigint").alias("n_distinct_hashes"),
            F.coalesce(F.col("kth"), F.lit(0)).cast("bigint").alias(
                "kth_min_hash"
            ),
            est.cast("bigint").alias("est_distinct"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        )
    )


register(
    "corpus_kmv_distinct",
    f"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents
),
hashed AS (
  SELECT DISTINCT source, {_kmv_hash(False)} AS h FROM tok
),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rk
  FROM hashed
),
per_source AS (
  SELECT source, COUNT(*) AS n_hashes,
         MAX(CASE WHEN rk = {KMV_K} THEN h END) AS kth
  FROM ranked GROUP BY 1
),
exact AS (
  SELECT source, COUNT(DISTINCT token) AS exact_distinct
  FROM tok GROUP BY 1
)
SELECT p.source,
       CAST(n_hashes AS BIGINT) AS n_distinct_hashes,
       CAST(COALESCE(kth, 0) AS BIGINT) AS kth_min_hash,
       CAST(CASE WHEN n_hashes < {KMV_K} THEN n_hashes
                 ELSE CAST((CAST({KMV_K - 1} AS BIGINT)
                            * CAST({_KMV_SCALE} AS BIGINT)) // kth
                           AS BIGINT) END AS BIGINT) AS est_distinct,
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct
FROM per_source p JOIN exact e ON p.source = e.source
""",
)(corpus_kmv_distinct)


# ---------------------------------------------------------------------------
# t-closeness audit (round 9) — completes the k-anon / l-div / t-close triad
# ---------------------------------------------------------------------------

T_CLOSENESS_MICRO = 200_000  # release threshold t = 0.2


def events_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al.): l-diversity still leaks when a
    class's sensitive-value DISTRIBUTION is skewed relative to the
    release (the skewness attack), so per QI class we measure the
    distance between the class's event_type distribution and the
    global one. For a categorical sensitive attribute the EMD with
    unit ground distance IS the total variation distance, computed
    here in EXACT integer cross-multiplication (the RCA/Hidalgo
    pattern): tvd_micro = 10^6 · Σ_v |n_cv·N − N_v·k_c| div (2·k_c·N)
    — no per-row float probabilities anywhere. QI classes are the
    same (ISO dow × value band) spine as events_k_anonymity /
    events_l_diversity.

    Scale shape: one fact scan → (QI × sensitive) rollup; the class
    spine crosses only the |sensitive-domain|-sized broadcast global
    rollup (absent values must still contribute N_v·k_c to the
    distance). Products stay int64-exact while N·max(n_cv) < 2^63
    (corpora beyond ~3·10^9 rows: decimal-cast the two products —
    DuckDB already promotes to int128)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        (F.expr("weekday(ts)") + 1).alias("dow"),
        F.expr("CAST(floor(value / 50) AS INT)").alias("value_band"),
        "event_type",
    ).groupBy("dow", "value_band", "event_type").agg(
        F.count(F.lit(1)).alias("n_cv")
    ).localCheckpoint(eager=True)  # QI-domain-bounded rollup: one fact
    # scan feeds classes / global / spine / diffs structurally
    classes = cells.groupBy("dow", "value_band").agg(
        F.sum("n_cv").alias("k")
    )
    gv = cells.groupBy("event_type").agg(F.sum("n_cv").alias("n_v"))
    gtot = gv.agg(F.sum("n_v").alias("n_total"))
    spine = classes.crossJoin(F.broadcast(gv)).crossJoin(
        F.broadcast(gtot)
    )
    diffs = (
        spine.join(cells, ["dow", "value_band", "event_type"], "left")
        .withColumn("n_cv", F.coalesce("n_cv", F.lit(0)))
        .withColumn(
            "diff",
            F.abs(
                F.col("n_cv") * F.col("n_total")
                - F.col("n_v") * F.col("k")
            ),
        )
        .groupBy("dow", "value_band", "k", "n_total")
        .agg(F.sum("diff").alias("diff_sum"))
    )
    return diffs.select(
        F.col("dow").cast("int").alias("dow"),
        F.col("value_band").cast("int").alias("value_band"),
        F.col("k").cast("bigint").alias("k"),
        F.expr(
            "CAST((1000000 * diff_sum) div (2 * k * n_total) AS BIGINT)"
        ).alias("tvd_micro"),
        (
            F.expr("(1000000 * diff_sum) div (2 * k * n_total)")
            > T_CLOSENESS_MICRO
        ).alias("risky"),
    )


register(
    "events_t_closeness",
    f"""
WITH cells AS (
  SELECT isodow(ts) AS dow,
         CAST(floor(value / 50) AS INT) AS value_band,
         event_type, COUNT(*) AS n_cv
  FROM events GROUP BY 1, 2, 3
),
classes AS (
  SELECT dow, value_band, SUM(n_cv) AS k FROM cells GROUP BY 1, 2
),
gv AS (SELECT event_type, SUM(n_cv) AS n_v FROM cells GROUP BY 1),
gtot AS (SELECT SUM(n_v) AS n_total FROM gv),
spine AS (
  SELECT c.dow, c.value_band, c.k, g.event_type, g.n_v, t.n_total
  FROM classes c CROSS JOIN gv g CROSS JOIN gtot t
),
diffs AS (
  SELECT s.dow, s.value_band, s.k, s.n_total,
         SUM(abs(COALESCE(e.n_cv, 0) * s.n_total - s.n_v * s.k))
           AS diff_sum
  FROM spine s
  LEFT JOIN cells e
    ON e.dow = s.dow AND e.value_band = s.value_band
   AND e.event_type = s.event_type
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(dow AS INT) AS dow,
       CAST(value_band AS INT) AS value_band,
       CAST(k AS BIGINT) AS k,
       CAST((1000000 * diff_sum) // (2 * k * n_total) AS BIGINT)
         AS tvd_micro,
       CAST((1000000 * diff_sum) // (2 * k * n_total) AS BIGINT)
         > {T_CLOSENESS_MICRO} AS risky
FROM diffs
""",
)(events_t_closeness)


DP_CLAMP = 5  # per-user contribution cap (the sensitivity bound)
DP_SUPPRESS_K = 50  # released counts below this are suppressed


def events_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-STYLE count release per event type — the
    MECHANISM entry next to the privacy family's metrics (k-anonymity
    / l-diversity / t-closeness measure a table; this releases one):

    1. SENSITIVITY BOUNDING: each user contributes at most {DP_CLAMP}
       events per type (LEAST(count, C) per (type, user) — the
       contribution clamp every real DP aggregation starts with,
       bounding one user's influence on the released count).
    2. CALIBRATED NOISE: an integer Irwin-Hall sample — the sum of 12
       uniform bytes of md5(type || release-salt) minus 1530 (exactly
       centered), floor-scaled by 64 (sigma ≈ 4 counts ≈ C, i.e.
       noise on the order of one user's maximum influence). The hash
       seed makes the release DETERMINISTIC PER (type, salt) — the
       property a production system needs anyway so replayed jobs
       don't leak fresh noise draws (and what makes the release
       hash-checkable; a cryptographic DP deployment swaps the seed
       source, not the plumbing).
    3. k-SUPPRESSION: released counts under {DP_SUPPRESS_K} are
       dropped entirely (small cells are where noisy releases still
       re-identify).

    All integer: byte decode via hex nibbles (×16 guard-casted for
    ANSI), the possibly-negative noise scaled with the sign-split
    floor-division idiom. One scan → (type, user) partial-agg →
    |types| rows of scalar arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.least(F.count(F.lit(1)), F.lit(DP_CLAMP))
        .cast("bigint")
        .alias("lc")
    )
    clamped = per_user.groupBy("event_type").agg(
        F.sum("lc").alias("true_clamped")
    )
    noisy = clamped.withColumn(
        "h",
        F.md5(
            F.concat(F.col("event_type"), F.lit(":dp-release-1")).cast(
                "binary"
            )
        ),
    ).withColumn(
        "raw_noise",
        F.expr(
            " + ".join(
                f"(CAST((position(substring(h, {2 * i + 1}, 1)"
                f" IN '0123456789abcdef') - 1) AS BIGINT) * 16"
                f" + CAST(position(substring(h, {2 * i + 2}, 1)"
                f" IN '0123456789abcdef') - 1 AS BIGINT))"
                for i in range(12)
            )
            + " - CAST(1530 AS BIGINT)"
        ),
    ).withColumn(
        "noise",
        F.expr(
            "CAST(CASE WHEN raw_noise >= 0 THEN raw_noise div 64"
            " ELSE -((-raw_noise + 63) div 64) END AS BIGINT)"
        ),
    )
    return (
        noisy.select(
            "event_type",
            F.col("true_clamped").cast("bigint").alias("clamped_count"),
            F.col("noise").cast("bigint").alias("noise"),
            (F.col("true_clamped") + F.col("noise"))
            .cast("bigint")
            .alias("released_count"),
        )
        .filter(F.col("released_count") >= DP_SUPPRESS_K)
        .orderBy("event_type")
    )


def _dp_release_oracle() -> str:
    nibble = " + ".join(
        f"(CAST((position(substring(h, {2 * i + 1}, 1)"
        f" IN '0123456789abcdef') - 1) AS BIGINT) * 16"
        f" + CAST(position(substring(h, {2 * i + 2}, 1)"
        f" IN '0123456789abcdef') - 1 AS BIGINT))"
        for i in range(12)
    )
    return f"""
WITH per_user AS (
  SELECT event_type, user_id,
         LEAST(COUNT(*), {DP_CLAMP}) AS lc
  FROM events GROUP BY 1, 2
),
clamped AS (
  SELECT event_type, CAST(SUM(lc) AS BIGINT) AS true_clamped
  FROM per_user GROUP BY 1
),
noisy AS (
  SELECT event_type, true_clamped,
         md5(event_type || ':dp-release-1') AS h
  FROM clamped
),
scaled AS (
  SELECT event_type, true_clamped,
         ({nibble} - CAST(1530 AS BIGINT)) AS raw_noise
  FROM noisy
),
rel AS (
  SELECT event_type, true_clamped,
         CAST(CASE WHEN raw_noise >= 0
              THEN CAST(raw_noise // 64 AS BIGINT)
              ELSE -CAST((-raw_noise + 63) // 64 AS BIGINT)
              END AS BIGINT) AS noise
  FROM scaled
)
SELECT event_type,
       CAST(true_clamped AS BIGINT) AS clamped_count,
       CAST(noise AS BIGINT) AS noise,
       CAST(true_clamped + noise AS BIGINT) AS released_count
FROM rel
WHERE true_clamped + noise >= {DP_SUPPRESS_K}
ORDER BY event_type
"""


register("events_dp_release", _dp_release_oracle())(events_dp_release)


# ---------------------------------------------------------------------------
# Curation funnel report (round 9)
# ---------------------------------------------------------------------------

FUNNEL_MIN_CHARS = 100


def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage curation funnel — the survivorship accounting a
    training-data pipeline publishes with every corpus release: how
    many documents each screen removed, in order, on the SURVIVORS of
    the previous stage (overlap between screens is attributed to the
    earlier stage, the convention that makes stage counts add up).
    Stages: exact dedup (one doc per content hash, smallest id kept) →
    normalized dedup (whitespace-collapsed hash) → minimum-length
    gate ({FUNNEL_MIN_CHARS} chars).

    Scale shape: one scan computes both keys; keeps are min-id window
    flags over high-cardinality hash keys (partitioned windows, never
    global); the funnel rollup is one conditional-sum aggregate →
    3 rows. Integer milli removal rates."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5("text").alias("k_exact"),
        F.md5(
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
        ).alias("k_norm"),
    )
    w1 = Window.partitionBy("k_exact")
    flagged = docs.withColumn(
        "keep1", (F.col("doc_id") == F.min("doc_id").over(w1)).cast("int")
    )
    w2 = Window.partitionBy("k_norm")
    flagged = flagged.withColumn(
        "keep2",
        (
            (F.col("keep1") == 1)
            & (
                F.col("doc_id")
                == F.min(
                    F.when(F.col("keep1") == 1, F.col("doc_id"))
                ).over(w2)
            )
        ).cast("int"),
    ).withColumn(
        "keep3",
        (
            (F.col("keep2") == 1)
            & (F.col("n_chars") >= FUNNEL_MIN_CHARS)
        ).cast("int"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("keep1").alias("n1"),
        F.sum("keep2").alias("n2"),
        F.sum("keep3").alias("n3"),
    )
    stages = agg.selectExpr(
        """stack(3,
             '1_exact_dedup', n0, n1,
             '2_normalized_dedup', n1, n2,
             '3_min_length', n2, n3
           ) AS (stage, n_in, n_kept)"""
    )
    return stages.select(
        "stage",
        F.col("n_in").cast("bigint").alias("n_in"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        (F.col("n_in") - F.col("n_kept")).cast("bigint").alias("n_removed"),
        F.expr(
            "CAST((1000 * (n_in - n_kept)) div greatest(n_in, 1)"
            " AS BIGINT)"
        ).alias("removed_milli"),
    )


register(
    "corpus_curation_funnel",
    f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5(text) AS k_exact,
         md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS k_norm
  FROM documents
),
f1 AS (
  SELECT *,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY k_exact)
              THEN 1 ELSE 0 END AS keep1
  FROM keyed
),
f2 AS (
  SELECT *,
         CASE WHEN keep1 = 1 AND doc_id = MIN(
                CASE WHEN keep1 = 1 THEN doc_id END)
                OVER (PARTITION BY k_norm)
              THEN 1 ELSE 0 END AS keep2
  FROM f1
),
f3 AS (
  SELECT *,
         CASE WHEN keep2 = 1 AND n_chars >= {FUNNEL_MIN_CHARS}
              THEN 1 ELSE 0 END AS keep3
  FROM f2
),
agg AS (
  SELECT COUNT(*) AS n0, SUM(keep1) AS n1, SUM(keep2) AS n2,
         SUM(keep3) AS n3
  FROM f3
),
stages AS (
  SELECT '1_exact_dedup' AS stage, n0 AS n_in, n1 AS n_kept FROM agg
  UNION ALL
  SELECT '2_normalized_dedup', n1, n2 FROM agg
  UNION ALL
  SELECT '3_min_length', n2, n3 FROM agg
)
SELECT stage,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(n_in - n_kept AS BIGINT) AS n_removed,
       CAST((1000 * (n_in - n_kept)) // greatest(n_in, 1) AS BIGINT)
         AS removed_milli
FROM stages
""",
)(corpus_curation_funnel)


def events_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by count-min inner product (the AMS/CM
    sketch identity: ``|A ⋈_k B| = Σ_k f_A(k)·f_B(k)`` and
    ``min_d Σ_w c_A[d][w]·c_B[d][w]`` never underestimates it) —
    what a cost-based planner consults BEFORE committing to a join
    strategy at 100 TB, where computing the exact size is itself a
    join. Estimates the user_id self-join size between the first and
    second half of the events month, audited against the exact value
    so the oracle hash proves the sketch arithmetic end-to-end.

    Scale shape: each side is ONE fact rollup to (user, freq) —
    map-side combined — then folded into a fixed {CMS_D}×{CMS_W}
    counter grid (bounded state, broadcastable); the inner product is
    an equi-join of two {CMS_D}·{CMS_W}-cell frames. The EXACT audit
    term joins the two user-level rollups (|users| rows) — the thing
    the sketch exists to avoid at scale, kept here as the yardstick.
    All counters and products are exact int64."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    half = "CAST(ts AS DATE) < DATE'2024-01-16'"
    fa = (
        ev.filter(F.expr(half))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=True)
    )
    fb = (
        ev.filter(~F.expr(half))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=True)
    )

    def sketch(freqs: DataFrame) -> DataFrame:
        cells = freqs.select(
            "f",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.expr(
                                _cms_bucket_expr(
                                    d, "CAST(user_id AS STRING)"
                                )
                            ).alias("bucket"),
                        )
                        for d in range(CMS_D)
                    ]
                )
            ).alias("db"),
        ).select("f", "db.d", "db.bucket")
        return cells.groupBy("d", "bucket").agg(
            F.sum("f").alias("counter")
        )
    sa, sb = sketch(fa), sketch(fb)
    est = (
        sa.join(sb.withColumnRenamed("counter", "counter_b"), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("counter") * F.col("counter_b")).alias("ip"))
        .agg(F.min("ip").alias("cm_estimate"))
    )
    exact = (
        fa.join(fb.withColumnRenamed("f", "f_b"), "user_id")
        .agg(F.sum(F.col("f") * F.col("f_b")).alias("exact_size"))
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            F.col("exact_size").cast("bigint").alias("exact_join_size"),
            F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_size"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


def _cm_join_size_oracle() -> str:
    def bucket_sql(d: int) -> str:
        h = f"md5(concat('{d}:', CAST(user_id AS STRING)))"
        return (
            f"((strpos('{_CMS_HEX}', substr({h}, 1, 1)) - 1) * 16"
            f" + (strpos('{_CMS_HEX}', substr({h}, 2, 1)) - 1)) % {CMS_W}"
        )

    def cells(src: str) -> str:
        return "\n  UNION ALL ".join(
            f"SELECT f, {d} AS d, {bucket_sql(d)} AS bucket"
            f" FROM {src}"
            for d in range(CMS_D)
        )

    return f"""
WITH fa AS (
  SELECT user_id, COUNT(*) AS f FROM events
  WHERE CAST(ts AS DATE) < DATE '2024-01-16' GROUP BY 1
),
fb AS (
  SELECT user_id, COUNT(*) AS f FROM events
  WHERE NOT (CAST(ts AS DATE) < DATE '2024-01-16') GROUP BY 1
),
ca AS ({cells('fa')}),
cb AS ({cells('fb')}),
sa AS (SELECT d, bucket, SUM(f) AS counter FROM ca GROUP BY 1, 2),
sb AS (SELECT d, bucket, SUM(f) AS counter FROM cb GROUP BY 1, 2),
ip AS (
  SELECT sa.d, SUM(sa.counter * sb.counter) AS ip
  FROM sa JOIN sb ON sa.d = sb.d AND sa.bucket = sb.bucket
  GROUP BY 1
),
est AS (SELECT MIN(ip) AS cm_estimate FROM ip),
exact AS (
  SELECT SUM(fa.f * fb.f) AS exact_size
  FROM fa JOIN fb ON fa.user_id = fb.user_id
)
SELECT CAST(exact_size AS BIGINT) AS exact_join_size,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - exact_size AS BIGINT) AS overestimate
FROM exact, est
"""


register("events_cm_join_size", _cm_join_size_oracle())(
    events_cm_join_size
)


SHUFFLE_EPOCHS = 3
SHUFFLE_WORKERS = 8


def train_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch reshuffling WITHOUT a global sort — how a training-data
    loader re-permutes a 100 TB corpus every epoch: order-by
    ``md5(epoch || ':' || doc_id)`` is a fresh pseudo-random
    permutation per epoch (stateless, reproducible, engine-portable),
    and the WORKER assignment is the hash's first byte, so each
    worker streams its shard ordered by hash — no Fisher-Yates state,
    no shuffle service, no coordination beyond the epoch number. The
    plan manifest this returns is what the loader audits per epoch:
    shard sizes (hash-balance check), an order-sensitive head marker
    (``first_doc_id`` = the doc each worker reads FIRST — pins the
    permutation itself under the oracle hash, not just membership),
    and an order-insensitive id checksum.

    Scale shape: ONE corpus scan exploded x{SHUFFLE_EPOCHS} epoch
    rows, map-side combined into the
    {SHUFFLE_EPOCHS}x{SHUFFLE_WORKERS}-row manifest; the per-worker
    read itself needs only a shard-local sort (sortWithinPartitions
    at load time), never a global one."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(SHUFFLE_EPOCHS - 1))
        ).alias("epoch"),
    )
    h = F.expr(
        "md5(concat(CAST(epoch AS STRING), ':', CAST(doc_id AS STRING)))"
    )
    hashed = epochs.select(
        "epoch",
        "doc_id",
        h.alias("h"),
        F.expr(
            "((instr('0123456789abcdef', substr("
            "md5(concat(CAST(epoch AS STRING), ':',"
            " CAST(doc_id AS STRING))), 1, 1)) - 1) * 16"
            " + (instr('0123456789abcdef', substr("
            "md5(concat(CAST(epoch AS STRING), ':',"
            " CAST(doc_id AS STRING))), 2, 1)) - 1))"
            f" % {SHUFFLE_WORKERS}"
        ).alias("worker"),
    )
    return (
        hashed.groupBy("epoch", "worker")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min_by("doc_id", "h").alias("first_doc_id"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .select(
            F.col("epoch").cast("int").alias("epoch"),
            F.col("worker").cast("int").alias("worker"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("first_doc_id").cast("bigint").alias("first_doc_id"),
            F.col("doc_id_sum").cast("bigint").alias("doc_id_sum"),
        )
    )


register(
    "train_epoch_shuffle_plan",
    f"""
WITH epochs AS (
  SELECT doc_id, unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch
  FROM documents
),
hashed AS (
  SELECT epoch, doc_id,
         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
           AS h,
         ((strpos('0123456789abcdef', substr(
             md5(CAST(epoch AS VARCHAR) || ':'
                 || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(
             md5(CAST(epoch AS VARCHAR) || ':'
                 || CAST(doc_id AS VARCHAR)), 2, 1)) - 1))
           % {SHUFFLE_WORKERS} AS worker
  FROM epochs
)
SELECT CAST(epoch AS INT) AS epoch,
       CAST(worker AS INT) AS worker,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(arg_min(doc_id, h) AS BIGINT) AS first_doc_id,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
FROM hashed
GROUP BY 1, 2
""",
)(train_epoch_shuffle_plan)


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a Bloom runtime prefilter — the form that
    survives a benchmark suite too big to broadcast as exact strings:
    the held-out shingle set folds into a CONSTANT 8 KiB bitset
    (bounded collect, broadcast as one row), the corpus shingle stream
    drops everything the bitset excludes BEFORE any join, and only the
    ~selectivity fraction reaches the exact membership semi-join —
    which makes the whole construction result-transparent (false
    positives die in the exact join, false negatives are impossible),
    so the oracle is ``decontaminate_docs``' plain form verbatim. The
    lineitem_bloom_semijoin pattern applied to corpus curation."""
    from smart_meter_data_pipeline_spark.operators.scale_ops import (
        BLOOM_HASHES,
        _bloom_positions,
        bloom_bitmap_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    bench_sh = (
        sh.filter(F.col("doc_id") % BENCHMARK_MOD == 0)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)  # feeds bitmap AND exact verify
    )
    rows = bloom_bitmap_rows(bench_sh, "shingle")
    bitmap: dict[int, int] = {}
    for r in rows:
        bitmap[r["word"]] = r["bits"]
    entries = sorted(bitmap.items()) or [(-1, 0)]
    bitmap_map = F.create_map(
        *[F.lit(v) for w, bits in entries for v in (w, bits)]
    )
    one_row = spark.range(1).select(bitmap_map.alias("bloom"))
    probe = sh.crossJoin(F.broadcast(one_row))
    for i, p in enumerate(_bloom_positions(F.col("shingle"))):
        probe = probe.withColumn(f"_bpos{i}", p)
    cond = None
    for i in range(BLOOM_HASHES):
        t = F.expr(
            f"(coalesce(element_at(bloom, CAST(_bpos{i} div 64 AS INT)),"
            f" CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(_bpos{i} % 64 AS INT)))"
            " != 0"
        )
        cond = t if cond is None else cond & t
    pruned = probe.filter(cond).select("doc_id", "shingle")
    hits = (
        pruned.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return docs.join(hits, "doc_id", "left").select(
        "doc_id",
        (F.col("doc_id") % BENCHMARK_MOD == 0).alias("is_benchmark"),
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        (
            (F.coalesce("n_shared", F.lit(0)) > 0)
            & (F.col("doc_id") % BENCHMARK_MOD != 0)
        ).alias("is_contaminated"),
    )


def _register_decontaminate_bloom() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("decontaminate_bloom", ORACLES["decontaminate_docs"])(
        decontaminate_bloom
    )


_register_decontaminate_bloom()


def corpus_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a curation team actually quotes: how many TOKENS
    exact dedup saves — raw corpus tokens, tokens after keeping one
    copy per distinct content, and the savings rate — broken out per
    source plus a corpus-wide TOTAL row. (Document counts understate
    duplication when the duplicated docs are long; token accounting
    is what maps to training FLOPs and storage.)

    Scale shape: ONE scan computes per-doc token counts + the content
    hash; the rollup groups by (source, content) to charge each
    distinct content once (map-side combined, |distinct contents|
    rows), then by source; the TOTAL row is a second tiny rollup of
    the per-source frame (grouping-sets shape without rescanning).
    Integer milli rate, floor."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.md5("text").alias("h"),
        F.size(tokens()).cast("bigint").alias("n_tok"),
    )
    per_content = per_doc.groupBy("source", "h").agg(
        F.sum("n_tok").alias("tok_raw"),
        F.min("n_tok").alias("tok_kept"),  # copies are identical text
        F.count(F.lit(1)).alias("n_copies"),
    )
    per_source = per_content.groupBy("source").agg(
        F.sum("tok_raw").alias("tokens_raw"),
        F.sum("tok_kept").alias("tokens_deduped"),
        F.sum(F.col("n_copies") - 1).alias("dup_docs_removed"),
    ).localCheckpoint(eager=True)  # feeds per-source rows AND total
    total = per_source.groupBy(F.lit("TOTAL").alias("source")).agg(
        F.sum("tokens_raw").alias("tokens_raw"),
        F.sum("tokens_deduped").alias("tokens_deduped"),
        F.sum("dup_docs_removed").alias("dup_docs_removed"),
    )
    return per_source.unionByName(total).select(
        "source",
        F.col("tokens_raw").cast("bigint").alias("tokens_raw"),
        F.col("tokens_deduped").cast("bigint").alias("tokens_deduped"),
        F.col("dup_docs_removed").cast("bigint").alias("dup_docs_removed"),
        F.expr(
            "CASE WHEN tokens_raw > 0 THEN CAST(1000 *"
            " (tokens_raw - tokens_deduped) div tokens_raw AS BIGINT)"
            " END"
        ).alias("savings_milli"),
    )


register(
    "corpus_dedup_token_savings",
    """
WITH per_doc AS (
  SELECT source, md5(text) AS h,
         CAST(length(list_filter(string_split(text, ' '),
                                 x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
per_content AS (
  SELECT source, h, SUM(n_tok) AS tok_raw, MIN(n_tok) AS tok_kept,
         COUNT(*) AS n_copies
  FROM per_doc GROUP BY 1, 2
),
per_source AS (
  SELECT source, SUM(tok_raw) AS tokens_raw,
         SUM(tok_kept) AS tokens_deduped,
         SUM(n_copies - 1) AS dup_docs_removed
  FROM per_content GROUP BY 1
),
unioned AS (
  SELECT * FROM per_source
  UNION ALL
  SELECT 'TOTAL', SUM(tokens_raw), SUM(tokens_deduped),
         SUM(dup_docs_removed)
  FROM per_source
)
SELECT source,
       CAST(tokens_raw AS BIGINT) AS tokens_raw,
       CAST(tokens_deduped AS BIGINT) AS tokens_deduped,
       CAST(dup_docs_removed AS BIGINT) AS dup_docs_removed,
       CASE WHEN tokens_raw > 0 THEN CAST(1000 *
            (tokens_raw - tokens_deduped) // tokens_raw AS BIGINT)
       END AS savings_milli
FROM unioned
""",
)(corpus_dedup_token_savings)


NEYMAN_BUDGET = 1000  # total sample size to allocate


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation — how a labeling
    or eval budget of {NEYMAN_BUDGET} docs SHOULD split across
    sources: n_h ∝ N_h·σ_h (big AND internally-varied strata get more
    budget; proportional allocation over-samples homogeneous strata).
    The op every eval-set builder runs before drawing.

    Determinism: per-stratum variance comes from exact integer
    moments (n·Σy² − (Σy)² over n_chars); σ_h is ONE IEEE-exact sqrt;
    the weight N_h·σ_h/n_h is rounded to the 6-decimal grid and cast
    DECIMAL so the cross-stratum total is an exact decimal sum; the
    integer allocation is floor(B·w_h/W) with the leftover seats
    assigned by LARGEST REMAINDER (exact decimal remainders, ties by
    source name) — so allocations sum to exactly {NEYMAN_BUDGET} and
    both engines seat the same strata.

    Scale shape: one scan → per-source moment rollup (|sources|
    rows); everything after is bounded by the stratum count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    y = F.col("n_chars").cast("bigint")
    mom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("s1"),
        F.sum(y * y).alias("s2"),
    )
    w = mom.select(
        "source",
        "n",
        F.expr(
            "CAST(round(CAST(n AS DOUBLE)"
            " * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n, 6)"
            " AS DECIMAL(25,6))"
        ).alias("w"),
    ).localCheckpoint(eager=True)
    tot = w.agg(F.sum("w").alias("wsum"))
    alloc = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "exact_seats",
            F.expr(f"CAST({NEYMAN_BUDGET} AS DECIMAL(25,6)) * w / wsum"),
        )
        .withColumn("base", F.floor("exact_seats").cast("bigint"))
        .withColumn("rem", F.expr("exact_seats - base"))
    )
    short = F.lit(NEYMAN_BUDGET) - F.sum("base").over(
        Window.partitionBy()
        .orderBy(F.lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source"))
    return (
        alloc.withColumn("short", short)
        .withColumn("rr", F.row_number().over(wr))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )


register(
    "sample_neyman_allocation",
    f"""
WITH mom AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
              AS BIGINT) AS s2
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n,
         CAST(round(CAST(n AS DOUBLE)
              * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n, 6)
              AS DECIMAL(25,6)) AS w
  FROM mom
),
alloc AS (
  SELECT source, n, w,
         CAST({NEYMAN_BUDGET} AS DECIMAL(25,6)) * w
           / (SELECT SUM(w) FROM w) AS exact_seats
  FROM w
),
based AS (
  SELECT source, n,
         CAST(FLOOR(exact_seats) AS BIGINT) AS base,
         exact_seats - FLOOR(exact_seats) AS rem
  FROM alloc
),
seated AS (
  SELECT source, n, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
         {NEYMAN_BUDGET} - (SELECT SUM(base) FROM based) AS short
  FROM based
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(base + CASE WHEN rr <= short THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM seated
""",
)(sample_neyman_allocation)


PACK_CONTEXT_LENGTHS = [512, 1024, 2048]


def corpus_pack_boundary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length selection for sequence packing: under
    concat-and-chunk packing (docs concatenated in doc_id order, cut
    every L tokens), how many documents get SPLIT across a sequence
    boundary at each candidate L — the quality cost of packing (split
    docs lose cross-boundary attention) weighed against the tail
    waste. The table a pretraining-data team reads before fixing L.

    Scale shape: the global token offset of every document is a
    corpus-wide prefix sum — computed with
    :func:`common.distributed_prefix_sum` (range-partitioned two-pass,
    zero Exchange SinglePartition), the same kit as the quantile
    plans, so the report holds at 10^9 documents; the per-L analysis
    is a bounded explode (×{len(PACK_CONTEXT_LENGTHS)}). A doc splits
    at L iff its first and last token land in different L-chunks —
    pure integer division on non-negative offsets."""
    from smart_meter_data_pipeline_spark.operators.common import (
        distributed_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(tokens()).cast("bigint").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    cum = distributed_prefix_sum(
        toks, [F.col("doc_id")], "n_tok", "cum"
    ).withColumn("start", F.col("cum") - F.col("n_tok"))
    per_l = cum.select(
        "n_tok",
        "start",
        "cum",
        F.explode(
            F.array(*[F.lit(l) for l in PACK_CONTEXT_LENGTHS])
        ).alias("context_len"),
    ).withColumn(
        "is_split",
        (
            F.expr("start div context_len")
            != F.expr("(cum - 1) div context_len")
        ).cast("int"),
    )
    return (
        per_l.groupBy("context_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("cum").alias("total_tokens"),
            F.sum("is_split").alias("n_docs_split"),
        )
        .select(
            F.col("context_len").cast("int").alias("context_len"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.col("n_docs_split").cast("bigint").alias("n_docs_split"),
            F.expr(
                "CAST((1000 * n_docs_split) div n_docs AS BIGINT)"
            ).alias("split_rate_milli"),
            F.expr(
                "CAST(((total_tokens + context_len - 1)"
                " div context_len) * context_len - total_tokens"
                " AS BIGINT)"
            ).alias("tail_waste_tokens"),
        )
    )


register(
    "corpus_pack_boundary_report",
    f"""
WITH toks AS (
  SELECT doc_id,
         CAST(length(list_filter(string_split(text, ' '),
                                 x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
nz AS (SELECT * FROM toks WHERE n_tok > 0),
cum AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM nz
),
lens AS (SELECT unnest([{", ".join(str(l) for l in PACK_CONTEXT_LENGTHS)}])
           AS context_len),
per_l AS (
  SELECT l.context_len, c.n_tok, c.cum - c.n_tok AS start, c.cum,
         CASE WHEN CAST((c.cum - c.n_tok) // l.context_len AS BIGINT)
              <> CAST((c.cum - 1) // l.context_len AS BIGINT)
              THEN 1 ELSE 0 END AS is_split
  FROM cum c, lens l
)
SELECT CAST(context_len AS INT) AS context_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(cum) AS BIGINT) AS total_tokens,
       CAST(SUM(is_split) AS BIGINT) AS n_docs_split,
       CAST((1000 * CAST(SUM(is_split) AS BIGINT)) // COUNT(*)
            AS BIGINT) AS split_rate_milli,
       CAST(((MAX(cum) + context_len - 1) // context_len)
            * context_len - MAX(cum) AS BIGINT) AS tail_waste_tokens
FROM per_l
GROUP BY context_len
""",
)(corpus_pack_boundary_report)


# RR keep-probability p = 12/16: first md5 nibble of the event id
# below 12 keeps the true type; otherwise the response is uniform
# over ALL k types (second nibble mod k), the classic Warner /
# uniform-response mechanism.
RR_KEEP_NIBBLES = 12
RR_TYPES = ("click", "error", "purchase", "signup", "view")


def events_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL differential privacy next to ``events_dp_release``'s
    central mechanism: RANDOMIZED RESPONSE (Warner 1965) — each row
    independently keeps its true event type with p = 3/4 or answers
    uniformly over all k types, so no single released row proves
    anything about its user, yet the histogram inverts to an unbiased
    estimate: E[obs_t] = p·n_t + (1−p)·n/k ⇒
    n̂_t = (obs_t − (1−p)·n/k)/p, emitted here as the exact integer
    numerator (20·obs_t − n) with denominator 15 (one final
    division). The per-row coin is the portable md5-nibble hash of
    the event id — deterministic replays release the SAME bits, the
    property production local-DP needs so re-runs don't leak fresh
    randomness (same argument as the central release's seeded noise).

    Scale shape: one scan → per-type released counts (partial agg);
    the estimator is scalar arithmetic over k rows."""
    from smart_meter_data_pipeline_spark.operators.text import _HEXD

    k = len(RR_TYPES)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    n1 = f"(instr('{_HEXD}', substr(md5(CAST(event_id AS STRING)), 1, 1)) - 1)"
    n2 = f"(instr('{_HEXD}', substr(md5(CAST(event_id AS STRING)), 2, 1)) - 1)"
    arr = ", ".join(f"'{t}'" for t in RR_TYPES)
    released = ev.select(
        "event_type",
        F.expr(
            f"CASE WHEN {n1} < {RR_KEEP_NIBBLES} THEN event_type "
            f"ELSE element_at(array({arr}), CAST({n2} % {k} AS INT) + 1) "
            "END"
        ).alias("released_type"),
    )
    truth = released.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    obs = released.groupBy(
        F.col("released_type").alias("event_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_observed"))
    n_total = released.groupBy().agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = truth.join(obs, "event_type", "full").crossJoin(
        F.broadcast(n_total)
    )
    est_num = (
        F.lit(20) * F.coalesce(F.col("n_observed"), F.lit(0))
        - F.col("n")
    ).cast("bigint")
    return joined.select(
        "event_type",
        F.coalesce(F.col("n_true"), F.lit(0))
        .cast("bigint")
        .alias("n_true"),
        F.coalesce(F.col("n_observed"), F.lit(0))
        .cast("bigint")
        .alias("n_observed"),
        est_num.alias("est_num20"),
        (est_num.cast("double") / 15.0).alias("n_estimated"),
        (
            est_num.cast("double") / 15.0
            - F.coalesce(F.col("n_true"), F.lit(0)).cast("double")
        ).alias("est_error"),
    )


def _register_randomized_response() -> None:
    from smart_meter_data_pipeline_spark.operators.text import _HEXD

    k = len(RR_TYPES)
    arr = ", ".join(f"'{t}'" for t in RR_TYPES)
    n1 = "(instr('" + _HEXD + "', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1)"
    n2 = "(instr('" + _HEXD + "', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1)"
    register(
        "events_randomized_response",
        f"""
WITH released AS (
  SELECT event_type,
         CASE WHEN {n1} < {RR_KEEP_NIBBLES} THEN event_type
              ELSE list_extract([{arr}], CAST({n2} % {k} AS INT) + 1)
         END AS released_type
  FROM events
),
truth AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM released GROUP BY 1
),
obs AS (
  SELECT released_type AS event_type,
         CAST(COUNT(*) AS BIGINT) AS n_observed
  FROM released GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n FROM released)
SELECT COALESCE(t.event_type, o.event_type) AS event_type,
       CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
       CAST(COALESCE(o.n_observed, 0) AS BIGINT) AS n_observed,
       CAST(20 * COALESCE(o.n_observed, 0) - tot.n AS BIGINT)
         AS est_num20,
       CAST(20 * COALESCE(o.n_observed, 0) - tot.n AS DOUBLE) / 15.0
         AS n_estimated,
       CAST(20 * COALESCE(o.n_observed, 0) - tot.n AS DOUBLE) / 15.0
         - CAST(COALESCE(t.n_true, 0) AS DOUBLE) AS est_error
FROM truth t
FULL JOIN obs o ON t.event_type = o.event_type
CROSS JOIN tot
""",
    )(events_randomized_response)


_register_randomized_response()
