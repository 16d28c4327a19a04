"""Deduplication operators for LLM training-data pipelines.

Four families, each a registered oracle-checked query over the
``documents`` table (which contains planted near-duplicate pairs —
char-shingle Jaccard ≈0.99 vs a low random background):

- exact: md5 hash-groupBy — one shuffle on a 32-byte key.
- MinHash + LSH: K min-hashes over shingles, banded into bucket keys,
  candidate pairs from a bucket equi-join, then exact-Jaccard verify of
  candidates only. The *scale* path: all-pairs comparison is O(n²);
  LSH makes the shuffle O(n·bands) and the verify O(candidates).
- n-gram Jaccard: exact similarity via a shingle-inverted-index join —
  the ground-truth oracle for the LSH path. Shuffle-bounded two ways:
  pairs sharing no shingle never meet, and shingles hotter than
  MAX_SHINGLE_DF are dropped before the self-join so no single
  boilerplate shingle can fan out quadratically in corpus size.
- SimHash: 64-bit sign-aggregated token fingerprint; near-dups collide
  in Hamming space. Bit arithmetic is done portably (hex-digit → 4 bits
  via integer div/mod) so even this is oracle-checked.

MinHash portability + cost note: the usual "k independent integer
hash functions" aren't portable across engines (overflow semantics)
and cost k hashes per shingle. We use *one-permutation hashing* (Li,
Owen, Zhang, NIPS 2012): ONE md5 per shingle, binned by its first hex
digit, signature = the string-ordered min digest per bin. One hash
per shingle, identical in both engines, same banding semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as SqlWindow

from smart_meter_data_pipeline_spark.operators.text import (
    SHINGLE_WIDTH,
    _shingles_sql,
    shingles,
    tokens,
)
from smart_meter_data_pipeline_spark.plans.registry import register
from smart_meter_data_pipeline_spark.sources.readers import load_table

N_BINS = 16  # one-permutation bins = signature width
MAX_SHINGLE_DF = 64  # hot-shingle cap for the exact pair path: a
# shingle present in k docs emits k(k-1)/2 candidate pairs from the
# inverted-index self-join, so boilerplate shingles make the join
# quadratic in corpus size. Shingles with document frequency above
# this cap carry no discriminative signal (at 100 TB they are site
# chrome / license headers), so the pair path drops them from BOTH
# the intersection and the size counts — the measure becomes Jaccard
# over *discriminative* shingles, identical in Spark and the oracle,
# and the per-shingle pair fan-out is bounded by MAX_SHINGLE_DF².
BAND_SIZE = 4  # 4 bands of 4: measured on the testdata corpus —
# perfect recall of every exact-Jaccard≥0.8 pair at sf0.01 AND sf0.1
# with ~zero false candidates (256 candidates = 256 true pairs).
JACCARD_THRESHOLD = 0.8
_HEX = "0123456789abcdef"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id
    (deterministic canonical representative), count copies."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


register(
    "dedup_exact",
    """
SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
)(dedup_exact)


def _jaccard_for_candidates(sh: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set only.

    The intersection join touches just the candidates' shingles —
    O(|candidates| × shingles/doc) instead of the inverted-index
    blowup. This is the verify stage of the LSH path: at 100 TB the
    candidate set is tiny relative to the corpus, so this stays cheap
    no matter how hot the shingle vocabulary is."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(
        F.col("doc_id").alias("sb_doc"), F.col("shingle").alias("sb_shingle")
    )
    # The candidate-pair set is small by construction (LSH survivors),
    # so both joins fan out from a broadcast — statically, not left to
    # AQE's runtime demotion.
    inter = (
        F.broadcast(candidates)
        .join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("sb_doc"))
            & (F.col("shingle") == F.col("sb_shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )


def _pair_jaccard(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Exact Jaccard for every doc pair sharing ≥1 *discriminative*
    shingle, via an inverted-index self-join on the shingle (never
    all-pairs). Shingles with document frequency > ``max_df`` are
    dropped before the join (from sizes AND intersection — see
    MAX_SHINGLE_DF), which bounds the per-shingle pair fan-out at
    max_df² regardless of corpus size. The hot set itself is tiny
    (≤ total_shingle_rows / max_df entries), so it broadcasts."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )


# Capped variant — the ngram pair queries' oracle (hot shingles
# dropped before the self-join, mirroring _pair_jaccard).
_PAIR_JACCARD_SQL = f"""
sh0 AS ({_shingles_sql()}),
hot AS (
  SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > {MAX_SHINGLE_DF}
),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
         CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)"""

# Uncapped variant — the LSH family's oracle. The LSH path needs no
# df cap (banding bounds candidates, and its verify stage touches
# candidate pairs only), so its Spark side computes Jaccard over the
# FULL shingle sets and the oracle must match.
_PAIR_JACCARD_SQL_FULL = f"""
sh AS ({_shingles_sql()}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
         CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above the threshold."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _pair_jaccard(shingles(docs))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


register(
    "dedup_ngram_jaccard",
    f"""
WITH {_PAIR_JACCARD_SQL}
SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard
FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
""",
)(dedup_ngram_jaccard)


def minhash_signatures(sh: DataFrame, n_bins: int = N_BINS) -> DataFrame:
    """(doc_id, mh_0..mh_{n_bins-1}) via one-permutation hashing: ONE
    md5 per shingle, binned by its leading hex digit; the k-th
    signature slot is the min digest landing in bin k ('x' if the bin
    is empty — only possible for very short docs). Duplicate shingles
    are harmless (min is idempotent), so callers can feed the raw
    shingle stream without a distinct."""
    hashed = sh.select("doc_id", F.md5("shingle").alias("h")).withColumn(
        "bin", (F.expr(f"instr('{_HEX}', substr(h, 1, 1))") - 1) % n_bins
    )
    aggs = [
        F.coalesce(
            F.min(F.when(F.col("bin") == k, F.col("h"))), F.lit("x")
        ).alias(f"mh_{k}")
        for k in range(n_bins)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band table — the persistable dedup INDEX.

    One-pass signatures: explode → {N_BINS} partial-min aggs (map-side
    combine → doc-count-sized shuffle of short rows). No distinct, no
    persist — min() is insensitive to duplicate shingles, so the raw
    (non-distinct) shingle stream feeds the signature directly, and the
    global distinct shuffle the set-Jaccard ops need is skipped.
    Callers checkpoint/persist the result; :func:`minhash_save_index` /
    :func:`minhash_load_index` round-trip it through parquet so the
    corpus-sized scan is paid once per corpus version, not per probe
    batch (the production shape :func:`dedup_incremental` assumes)."""
    sh_raw = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (SHINGLE_WIDTH - 1))
        ).alias("pos"),
        "text",
    ).select("doc_id", F.expr(f"substr(text, pos, {SHINGLE_WIDTH})").alias("shingle"))
    sig = minhash_signatures(sh_raw)
    n_bands = N_BINS // BAND_SIZE
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh_{b * BAND_SIZE + i}")
                                for i in range(BAND_SIZE)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_save_index(band_table: DataFrame, path: str) -> None:
    """Persist the LSH band index as parquet, repartitioned by ``key``
    so a co-partitioned probe join can skip shuffling the index side
    (at cluster scale this would be a bucketed table write — the
    single-file parquet twin keeps the sandbox test cheap)."""
    band_table.repartition("key").write.mode("overwrite").parquet(path)


def minhash_load_index(spark: SparkSession, path: str) -> DataFrame:
    """Load a :func:`minhash_save_index` artifact."""
    return spark.read.parquet(path)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, verified.

    shingle → K minhashes → band keys → bucket equi-join for candidate
    pairs → exact-Jaccard verification of candidates only. Output =
    confirmed pairs (same schema as the exact query; at this SF LSH
    with 4×2 bands recalls all ≈0.99 planted dups).

    100 TB shape: signatures stream off the raw (non-distinct,
    non-cached) shingle explode in ONE scan — min() is insensitive to
    duplicate shingles, so the global distinct shuffle the set-Jaccard
    ops need is skipped entirely here, and nothing corpus-sized is
    persisted. The verify stage re-shingles only the candidate docs
    (a broadcast-semi-filtered scan), so its cost scales with the
    candidate count, not the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The explicit partition count spreads the md5-heavy explode across
    # all cores even when the source is a single file (a bare
    # repartition(col) would be AQE-coalesced back to one partition at
    # this row width); cost is a doc-count-sized shuffle of short rows.
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    band_rows = minhash_band_table(docs).localCheckpoint(eager=True)
    # ^ band table is n_docs × n_bands short rows — checkpointing it
    # runs the one-pass signature scan exactly once; without this the
    # self-join below would recompute the whole corpus scan per side.
    x = band_rows.alias("x")
    y = band_rows.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)  # cut the lineage: candidates are
        # tiny and feed two broadcast filters below
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Checkpoint the candidate docs' shingles: the verify consumes
    # them three times (two join sides + set sizes); without this each
    # consumer re-runs the scan + distinct.
    sh_cand = shingles(docs.join(F.broadcast(cand_ids), "doc_id")).localCheckpoint(
        eager=True
    )
    verified = (
        _jaccard_for_candidates(sh_cand, candidates)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )
    return verified


_MH_AGGS = ",\n         ".join(
    f"coalesce(min(CASE WHEN bin = {k} THEN h END), 'x') AS mh_{k}"
    for k in range(N_BINS)
)
_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || '|' || ".join(f"mh_{b * BAND_SIZE + i}" for i in range(BAND_SIZE))
    + " AS key FROM sig"
    for b in range(N_BINS // BAND_SIZE)
)
register(
    "dedup_minhash_lsh",
    f"""
WITH {_PAIR_JACCARD_SQL_FULL},
hashed AS (
  SELECT doc_id, md5(shingle) AS h,
         (strpos('{_HEX}', substr(md5(shingle), 1, 1)) - 1) % {N_BINS} AS bin
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_MH_AGGS}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
candidates AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
)
SELECT p.doc_a, p.doc_b, p.n_inter, p.n_a, p.n_b, p.jaccard
FROM pairs p JOIN candidates c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
WHERE p.jaccard >= {JACCARD_THRESHOLD}
""",
)(dedup_minhash_lsh)


# ---------------------------------------------------------------------------
# SimHash: 64-bit fingerprint, portable bit arithmetic.
# ---------------------------------------------------------------------------


def simhash_expr() -> list:
    """64 per-(doc,token) bit contributions from the first 16 hex chars
    of md5(token): hex digit → 4 bits via div/mod (portable — no
    engine-specific bit ops)."""
    cols = []
    for i in range(64):
        p, b = divmod(i, 4)
        w = 8 >> b
        d = f"(instr('{_HEX}', substr(h, {p + 1}, 1)) - 1)"
        cols.append(F.expr(f"CASE WHEN ({d} div {w}) % 2 = 1 THEN 1 ELSE -1 END"))
    return cols


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) with the 64-bit signature as a '0'/'1' string;
    near-dups differ in few bit positions (Hamming). The companion
    ``simhash_near_pairs`` library function bands the signature for
    join-based candidate search.

    Features are the distinct char-12-gram shingles (not tokens): this
    corpus draws from a ~30-word vocabulary, so token sets saturate and
    carry no signal, while shingle sets separate near-dups (≈0.99
    overlap) from background pairs sharply."""
    docs = load_table(spark, sf_dir, "documents")
    tok = shingles(docs).withColumn("h", F.md5("shingle"))
    bit_cols = simhash_expr()
    agg = tok.groupBy("doc_id").agg(
        *[F.sum(c).alias(f"s_{i}") for i, c in enumerate(bit_cols)]
    )
    sim = F.concat(
        *[
            F.when(F.col(f"s_{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(64)
        ]
    )
    return agg.select("doc_id", sim.alias("simhash"))


def _simhash_sql() -> str:
    sums = []
    for i in range(64):
        p, b = divmod(i, 4)
        w = 8 >> b
        d = f"(strpos('{_HEX}', substr(h, {p + 1}, 1)) - 1)"
        sums.append(
            f"SUM(CASE WHEN ({d} // {w}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        )
    concat = " || ".join(
        f"(CASE WHEN s_{i} > 0 THEN '1' ELSE '0' END)" for i in range(64)
    )
    return f"""
WITH sh AS ({_shingles_sql()}),
tok AS (
  SELECT doc_id, md5(shingle) AS h FROM sh
),
agg AS (
  SELECT doc_id, {", ".join(sums)}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, {concat} AS simhash FROM agg
"""


register("dedup_simhash", _simhash_sql())(dedup_simhash)


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Library operator (tested in pytest): band the 64-bit signature
    into 8×8-bit chunks; by pigeonhole any pair within Hamming ≤ 7
    shares at least one exact chunk, so a chunk equi-join finds all
    candidates without an all-pairs scan. (Smaller chunks → more false
    candidates but guaranteed recall at higher Hamming radii; the
    exact Hamming filter below prunes false candidates.)"""
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.substring("simhash", c * 8 + 1, 8).alias("key"),
                    )
                    for c in range(8)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("sim_a", ""),
                F.split("sim_b", ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    )


SIMHASH_MAX_HAMMING = 7


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pair search, end-to-end: signatures → 8×8-bit
    pigeonhole bands → chunk equi-join candidates → exact Hamming
    filter (≤ {SIMHASH_MAX_HAMMING})."""
    sig = dedup_simhash(spark, sf_dir)
    return simhash_near_pairs(sig, max_hamming=SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", "hamming"
    )


_SIMHASH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {c} AS chunk, substr(simhash, {c * 8 + 1}, 8) AS key"
    " FROM sig"
    for c in range(8)
)
_HAMMING_SQL = " + ".join(
    f"(CASE WHEN substr(sim_a, {i + 1}, 1) <> substr(sim_b, {i + 1}, 1)"
    " THEN 1 ELSE 0 END)"
    for i in range(64)
)

register(
    "dedup_simhash_pairs",
    f"""
WITH sig AS ({_simhash_sql()}),
bands AS ({_SIMHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS sim_a, y.simhash AS sim_b
  FROM bands x JOIN bands y
    ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST({_HAMMING_SQL} AS INT) AS hamming
FROM cand
WHERE {_HAMMING_SQL} <= {SIMHASH_MAX_HAMMING}
""",
)(dedup_simhash_pairs)


# ---------------------------------------------------------------------------
# Cluster formation: near-dup pairs → connected components → canonical doc
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    step that turns pairwise near-dup hits into dedup groups (keep the
    canonical member, drop the rest).

    Input: (a, b) undirected edges. Output: (node, component) with
    component = min node id in the component.

    Scale notes: each round is one join + one aggregation, shuffled on
    node id; rounds needed = O(log(diameter)) for the min-label scheme
    on near-dup graphs (components are tiny cliques, so 2-3 rounds in
    practice). Labels are checkpointed per round to cut lineage, and
    (r15, guide §2.4/§5) the convergence count RIDES the checkpoint
    materialization: the per-round ``localCheckpoint`` is LAZY, so the
    ``n_changed`` count action is the job that materializes it — one
    job per round instead of checkpoint-job + count-job. ``sym`` is
    materialized once up front instead of re-deriving the two-way
    union from ``edges`` in every round's join."""
    sym = (
        edges.selectExpr("a AS src", "b AS dst")
        .unionAll(edges.selectExpr("b AS src", "a AS dst"))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
                (
                    F.coalesce("nbr_component", F.col("component"))
                    < F.col("component")
                ).alias("_changed"),
            )
        ).localCheckpoint(eager=False)
        # This count is the FIRST action on the lazily-checkpointed
        # frame: it computes every partition, so it materializes the
        # checkpoint and returns the convergence scalar in one job.
        n_changed = updated.filter("_changed").count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the verified pair graph:
    (doc_id, cluster_id, cluster_size, is_canonical). Downstream
    dedup keeps ``is_canonical`` rows only.

    The pair graph comes from the MinHash-LSH path, whose candidates
    are verified with EXACT Jaccard — so its edge set equals the
    all-pairs exact graph whenever banding recall is complete
    (test-asserted on the planted dups at sf0.01 and sf0.1), at a
    fraction of the cost: the exact all-pairs query is ~4× slower at
    sf0.1 and quadratic-prone at scale, which is precisely why
    clustering must ride the LSH path at 100 TB."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)
    comp = connected_components(pairs)
    # Cluster sizes as a COUNT window over component (r15, guide §2.4):
    # the groupBy + join-back shape re-keyed the labels twice; the
    # window attaches the same bigint count with ONE component-keyed
    # exchange and no join.
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1))
        .over(SqlWindow.partitionBy("component"))
        .alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


register(
    "dedup_clusters",
    f"""
WITH {_PAIR_JACCARD_SQL_FULL},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
nodes AS (SELECT DISTINCT a AS node FROM sym),
reach AS (
  WITH RECURSIVE r(src, node) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT r.src, s.b FROM r JOIN sym s ON r.node = s.a
  )
  SELECT src, node FROM r
),
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY 1),
csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN csizes s ON c.cluster_id = s.cluster_id
""",
)(dedup_clusters)


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware canonical selection — the dedup step training
    pipelines actually ship: near-dup clusters (MinHash-LSH pair graph
    → connected components) keep their HIGHEST-QUALITY member, not an
    arbitrary one (reference pipelines drop all-but-first; quality-
    ranked keep is the standard refinement, cf. quality-filtered corpus
    construction). Docs in no cluster are singleton clusters and kept.

    Output: (doc_id, cluster_id, quality_score, keep) — one row per
    corpus doc; downstream filters ``keep``.

    Scale shape: clustering rides the LSH path (candidates only, never
    all-pairs); the winner-per-cluster is a map-side-combinable
    ``max(struct(quality, -doc_id))`` aggregation shuffled on
    cluster_id (bounded by n_clusters ≤ n_docs), then one equi-join
    back — no window sort over the corpus."""
    from smart_meter_data_pipeline_spark.operators.text import (
        doc_quality_score,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = doc_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    labeled = (
        docs.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .join(quality, "doc_id")
    )
    # highest quality wins, ties to the LOWEST doc_id (negate for max)
    best = labeled.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("q"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("s")
    )
    return labeled.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (
            (F.col("quality_score") == F.col("s.q"))
            & (F.col("doc_id") == -F.col("s.nid"))
        ).alias("keep"),
    )


def _keep_best_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.text import (
        QUALITY_SQL_CTES,
    )

    return f"""
WITH {_PAIR_JACCARD_SQL_FULL},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
nodes AS (SELECT DISTINCT a AS node FROM sym),
reach AS (
  WITH RECURSIVE r(src, node) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT r.src, s.b FROM r JOIN sym s ON r.node = s.a
  )
  SELECT src, node FROM r
),
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY 1),
{QUALITY_SQL_CTES},
labeled AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         q.quality_score
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
  JOIN quality q ON q.doc_id = d.doc_id
),
best AS (
  SELECT cluster_id,
         MAX(struct_pack(q := quality_score, nid := -doc_id)) AS s
  FROM labeled GROUP BY 1
)
SELECT l.doc_id, l.cluster_id, l.quality_score,
       (l.quality_score = b.s.q AND l.doc_id = -b.s.nid) AS keep
FROM labeled l JOIN best b ON l.cluster_id = b.cluster_id
"""


register("dedup_keep_best", _keep_best_oracle())(dedup_keep_best)


# ---------------------------------------------------------------------------
# Span-level (sub-document) exact dedup — keep-first reconstruction
# ---------------------------------------------------------------------------

SPAN_WORDS = 10


def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SUB-document dedup: chop every document into consecutive
    {SPAN_WORDS}-word spans, keep only the globally FIRST occurrence
    of each span text (ordered by doc_id, span position), and
    reconstruct documents from their surviving spans — the
    span/substring-level pass training pipelines run after doc-level
    dedup to strip boilerplate repeated across documents (cf. the
    suffix-array dedup of Lee et al., approximated at fixed word
    windows so it stays a pure aggregation problem).

    Scale shape: one explode (corpus × spans/doc), one groupBy
    span_text computing the min (doc_id, span_idx) owner — map-side
    combinable, shuffle keyed by span hash — then a join back and an
    ordered re-agg per doc. No all-pairs anything; skew-safe because
    identical spans collapse in the partial aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(words) / SPAN_WORDS).cast("int")
    spans = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(words, i * SPAN_WORDS + 1, SPAN_WORDS), " "
                ),
            )
        ).alias("span_idx", "span_text"),
    )
    owners = spans.groupBy("span_text").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("o")
    )
    kept = spans.join(owners, "span_text").filter(
        (F.col("doc_id") == F.col("o.doc_id"))
        & (F.col("span_idx") == F.col("o.span_idx"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span_text"))),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return (
        docs.select("doc_id", F.ceil(F.size(words) / SPAN_WORDS).cast("bigint").alias("n_spans"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )


register(
    "doc_span_dedup",
    f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
spans AS (
  SELECT doc_id,
         CAST(i AS INT) AS span_idx,
         array_to_string(words[i * {SPAN_WORDS} + 1 : i * {SPAN_WORDS} + {SPAN_WORDS}], ' ')
           AS span_text
  FROM w, range(0, 100000) t(i)
  WHERE i < CAST(ceil(len(words) / {SPAN_WORDS}.0) AS BIGINT)
),
owners AS (
  SELECT span_text,
         MIN(struct_pack(doc_id := doc_id, span_idx := span_idx)) AS o
  FROM spans GROUP BY 1
),
kept AS (
  SELECT s.doc_id, s.span_idx, s.span_text
  FROM spans s JOIN owners ow ON s.span_text = ow.span_text
  WHERE s.doc_id = ow.o.doc_id AND s.span_idx = ow.o.span_idx
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(span_text, ' ' ORDER BY span_idx) AS dedup_text
  FROM kept GROUP BY 1
)
SELECT w.doc_id,
       CAST(ceil(len(w.words) / {SPAN_WORDS}.0) AS BIGINT) AS n_spans,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.dedup_text, '') AS dedup_text
FROM w LEFT JOIN rebuilt r ON w.doc_id = r.doc_id
""",
)(doc_span_dedup)


CONTAINMENT_THRESHOLD = 0.8


def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs — |A∩B|/|A| per direction.
    Jaccard misses near-SUBSET relations (a short doc embedded in a
    long one scores low Jaccard but containment ≈ 1), which is exactly
    the boilerplate/quotation case sub-document dedup cares about;
    this is the Broder containment measure on the same inverted-index
    pair machinery as the Jaccard path (candidates = pairs sharing ≥1
    discriminative shingle; shingles hotter than MAX_SHINGLE_DF are
    dropped before the self-join, so the fan-out is df-bounded, never
    all-pairs even on boilerplate). Emits pairs where EITHER direction
    clears the threshold, with both directions for the consumer."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _pair_jaccard(shingles(docs))
    c_ab = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_inter").cast("double") / F.col("n_b").cast("double")
    return (
        pairs.withColumn("containment_a_in_b", F.round(c_ab, 9))
        .withColumn("containment_b_in_a", F.round(c_ba, 9))
        .filter(
            (F.col("containment_a_in_b") >= CONTAINMENT_THRESHOLD)
            | (F.col("containment_b_in_a") >= CONTAINMENT_THRESHOLD)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            "containment_a_in_b",
            "containment_b_in_a",
        )
    )


register(
    "dedup_ngram_containment",
    f"""
WITH {_PAIR_JACCARD_SQL}
SELECT doc_a, doc_b, n_inter, n_a, n_b,
       round(CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE), 9)
         AS containment_a_in_b,
       round(CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE), 9)
         AS containment_b_in_a
FROM pairs
WHERE round(CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE), 9)
        >= {CONTAINMENT_THRESHOLD}
   OR round(CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE), 9)
        >= {CONTAINMENT_THRESHOLD}
""",
)(dedup_ngram_containment)


# ---------------------------------------------------------------------------
# Incremental dedup: a new-arrival batch probed against the persisted
# corpus index — the production shape for CONTINUOUS corpus building,
# where re-running all-corpus dedup per crawl batch is not an option.
# ---------------------------------------------------------------------------

INCR_BATCH_MOD = 10  # deterministic batch split for the registered
INCR_BATCH_REM = 7  # query: doc_id % MOD == REM plays the "newly
#                     crawled" 10% batch; the rest is the standing corpus.


def dedup_incremental_verdicts(
    spark: SparkSession, batch: DataFrame, index: DataFrame, all_docs: DataFrame
) -> DataFrame:
    """Per-new-doc dup verdict against an existing corpus index.

    ``index`` is a :func:`minhash_band_table` over the standing corpus
    (in production: loaded via :func:`minhash_load_index`, built once
    per corpus version). Candidates come from probing the batch's band
    keys against the index — the corpus NEVER self-joins here, so the
    per-batch cost is O(batch bands ⋈ index buckets) + exact verify on
    the candidate pairs only. The batch side is broadcast (a crawl
    batch is tiny next to the corpus), so the index side never
    shuffles either: with a key-partitioned saved index this probe is
    a broadcast-hash join per index partition, zero wide exchanges.

    Returns one row per batch doc: (doc_id, dup_of, best_jaccard,
    is_dup) — ``dup_of`` the corpus doc with the highest verified
    Jaccard ≥ threshold (ties to the lowest doc_id), NULL if the doc
    is novel."""
    from pyspark.sql import Window

    probe = minhash_band_table(batch).localCheckpoint(eager=True)
    p = probe.alias("p")
    i = index.alias("i")
    candidates = (
        F.broadcast(p)
        .join(
            i,
            (F.col("p.band") == F.col("i.band"))
            & (F.col("p.key") == F.col("i.key")),
        )
        .select(
            F.col("p.doc_id").alias("doc_a"), F.col("i.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = shingles(all_docs.join(F.broadcast(cand_ids), "doc_id")).localCheckpoint(
        eager=True
    )
    best = (
        _jaccard_for_candidates(sh_cand, candidates)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_a").orderBy(
                    F.col("jaccard").desc(), F.col("doc_b")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            F.round("jaccard", 9).alias("best_jaccard"),
        )
    )
    return (
        batch.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            "best_jaccard",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-dedup query: the doc_id % {MOD} == {REM}
    slice plays a newly crawled batch, everything else the standing
    corpus; each new doc gets a keep/drop verdict against the corpus
    index (see :func:`dedup_incremental_verdicts` for the scale
    argument). Reference parity: the reference's idempotent-load path
    dedups redelivered rows exactly (consumer/meter_consumer.py:
    104-114, ON CONFLICT DO NOTHING); this is the near-dup analogue a
    training-corpus pipeline needs at ingest time."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    is_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    index = minhash_band_table(docs.filter(~is_batch)).localCheckpoint(eager=True)
    return dedup_incremental_verdicts(spark, docs.filter(is_batch), index, docs)


register(
    "dedup_incremental",
    f"""
WITH sh AS ({_shingles_sql()}),
hashed AS (
  SELECT doc_id, md5(shingle) AS h,
         (strpos('{_HEX}', substr(md5(shingle), 1, 1)) - 1) % {N_BINS} AS bin
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_MH_AGGS}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
candidates AS (
  SELECT DISTINCT p.doc_id AS doc_a, i.doc_id AS doc_b
  FROM bands p JOIN bands i ON p.band = i.band AND p.key = i.key
  WHERE p.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
    AND i.doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM candidates c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b,
         CAST(n_inter AS DOUBLE)
           / CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes na ON i.doc_a = na.doc_id
  JOIN sizes nb ON i.doc_b = nb.doc_id
),
best AS (
  SELECT doc_a, doc_b, jaccard,
         ROW_NUMBER() OVER (
           PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn
  FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id, b.doc_b AS dup_of, round(b.jaccard, 9) AS best_jaccard,
       b.doc_b IS NOT NULL AS is_dup
FROM documents d
LEFT JOIN best b ON b.doc_a = d.doc_id AND b.rn = 1
WHERE d.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
""",
)(dedup_incremental)


# ---------------------------------------------------------------------------
# Method-agreement audit across the text near-dup detectors
# ---------------------------------------------------------------------------


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the three text near-dup detectors agree? For each method
    pair (exact n-gram Jaccard, MinHash-LSH, SimHash bands) the pair
    sets are full-outer compared: |A|, |B|, |A∩B| and the Jaccard of
    the PAIR SETS themselves — the audit a data team runs before
    trusting a cheaper detector as a stand-in for the expensive one
    (LSH recall vs its exact oracle, SimHash drift vs both). On the
    planted-dup testdata all three should agree almost perfectly;
    production corpora show where the banded approximations diverge.

    Scale note: each input rides its own already-bounded machinery
    (df-capped inverted index / banded LSH / Hamming bands); the
    comparison joins tiny pair sets — the audit itself is free."""
    ng = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    mh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sh = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    legs = []
    for name_a, a, name_b, b in (
        ("ngram", ng, "minhash", mh),
        ("ngram", ng, "simhash", sh),
        ("minhash", mh, "simhash", sh),
    ):
        x = a.withColumn("in_a", F.lit(1)).alias("x")
        y = b.withColumn("in_b", F.lit(1)).alias("y")
        j = x.join(
            y,
            (F.col("x.doc_a") == F.col("y.doc_a"))
            & (F.col("x.doc_b") == F.col("y.doc_b")),
            "full_outer",
        ).agg(
            F.count("in_a").alias("n_a"),
            F.count("in_b").alias("n_b"),
            F.count(
                F.when(
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
                )
            ).alias("n_both"),
        )
        legs.append(
            j.select(
                F.lit(name_a).alias("method_a"),
                F.lit(name_b).alias("method_b"),
                "n_a",
                "n_b",
                "n_both",
            )
        )
    out = legs[0].unionByName(legs[1]).unionByName(legs[2])
    return out.select(
        "method_a",
        "method_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.col("n_both").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
            9,
        ).alias("pairset_jaccard"),
    )


def _agreement_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    ng = ORACLES["dedup_ngram_jaccard"]
    mh = ORACLES["dedup_minhash_lsh"]
    sh = ORACLES["dedup_simhash_pairs"]
    legs = []
    for name_a, a, name_b, b in (
        ("ngram", ng, "minhash", mh),
        ("ngram", ng, "simhash", sh),
        ("minhash", mh, "simhash", sh),
    ):
        legs.append(f"""
  SELECT '{name_a}' AS method_a, '{name_b}' AS method_b,
         COUNT(x.doc_a) AS n_a, COUNT(y.doc_a) AS n_b,
         COUNT(CASE WHEN x.doc_a IS NOT NULL AND y.doc_a IS NOT NULL
                    THEN 1 END) AS n_both
  FROM (SELECT doc_a, doc_b FROM ({a})) x
  FULL JOIN (SELECT doc_a, doc_b FROM ({b})) y
    ON x.doc_a = y.doc_a AND x.doc_b = y.doc_b""")
    union = "\n  UNION ALL\n".join(legs)
    return f"""
SELECT method_a, method_b, n_a, n_b, n_both,
       round(CAST(n_both AS DOUBLE)
             / CAST(n_a + n_b - n_both AS DOUBLE), 9) AS pairset_jaccard
FROM (
{union}
)
"""


register("dedup_method_agreement", _agreement_oracle())(dedup_method_agreement)


def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pressure per source: how many of each source's docs are
    entangled in verified near-dup pairs, and the rate — the
    provenance dashboard that tells a crawl team WHICH feed is
    producing duplicates (a source with a high rate gets its extractor
    fixed, not its docs hand-filtered). Rides the LSH-verified pair
    set, so the audit adds one broadcast join over a tiny doc-id set
    to the already-bounded detector cost."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(F.broadcast(dup_docs), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double"),
                9,
            ).alias("dup_rate"),
        )
    )


def _dedup_rate_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    mh = ORACLES["dedup_minhash_lsh"]
    return f"""
WITH dup_docs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM ({mh})
    UNION ALL
    SELECT doc_b AS doc_id FROM ({mh})
  )
)
SELECT d.source, COUNT(*) AS n_docs,
       COUNT(dd.doc_id) AS n_dup_docs,
       round(CAST(COUNT(dd.doc_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         AS dup_rate
FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
GROUP BY 1
"""


register("corpus_dedup_rate_by_source", _dedup_rate_oracle())(
    corpus_dedup_rate_by_source
)


SWEEP_THRESHOLDS = ("0.5", "0.7", "0.8", "0.9")  # shared literals


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning curve for the near-dup detector: how many
    pairs survive at each candidate Jaccard threshold — the audit run
    before changing JACCARD_THRESHOLD in production (a cliff between
    two thresholds means the corpus has a near-dup mode there; a flat
    curve means the threshold barely matters). One pass over the
    df-capped pair table; the sweep is a broadcast cross join against
    a {len(SWEEP_THRESHOLDS)}-row literal frame, grouped to
    {len(SWEEP_THRESHOLDS)} rows."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _pair_jaccard(shingles(docs)).select("jaccard")
    ts = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.expr(f"CAST({t} AS DOUBLE)")
                    for t in SWEEP_THRESHOLDS
                ]
            )
        ).alias("threshold")
    )
    return (
        pairs.crossJoin(F.broadcast(ts))
        .groupBy("threshold")
        .agg(
            F.count(F.when(F.col("jaccard") >= F.col("threshold"), 1)).alias(
                "n_pairs"
            )
        )
    )


register(
    "dedup_threshold_sweep",
    f"""
WITH {_PAIR_JACCARD_SQL},
ts AS (SELECT CAST(unnest([{", ".join(SWEEP_THRESHOLDS)}]) AS DOUBLE)
         AS threshold)
SELECT threshold,
       COUNT(CASE WHEN jaccard >= threshold THEN 1 END) AS n_pairs
FROM pairs CROSS JOIN ts
GROUP BY 1
""",
)(dedup_threshold_sweep)


def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-family size distribution: how many near-dup clusters exist
    at each size, and how many documents they absorb — the one-glance
    answer to 'is duplication pairwise noise or giant mirror
    families?' (pairwise → keep-best suffices; giant components at
    100 TB usually mean boilerplate leaking past the shingle df cap
    and deserve a detector fix, not mass deletion). Rides the
    connected-components output; the distribution is a two-level
    rollup over cluster-sized data."""
    clusters = dedup_clusters(spark, sf_dir)
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return (
        per_cluster.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "size",
            "n_clusters",
            (F.col("size") * F.col("n_clusters")).alias("n_docs_absorbed"),
        )
    )


def _cluster_size_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    return f"""
WITH clusters AS ({ORACLES["dedup_clusters"]}),
per_cluster AS (
  SELECT cluster_id, COUNT(*) AS size FROM clusters GROUP BY 1
)
SELECT size, COUNT(*) AS n_clusters,
       size * COUNT(*) AS n_docs_absorbed
FROM per_cluster GROUP BY 1
"""


register("dedup_cluster_size_dist", _cluster_size_oracle())(
    dedup_cluster_size_dist
)


PREFIX_DUP_LEN = 24  # leading characters compared for prefix-duplicate


def doc_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-boilerplate duplicate detection: documents whose first
    ``PREFIX_DUP_LEN`` characters match an earlier (lower doc_id)
    document are flagged as prefix-duplicates — the cheap first pass a
    crawl-curation pipeline runs before shingle/MinHash (mirrors the
    leading-boilerplate stripping in C4/RefinedWeb-style cleaners:
    identical page headers, mirrored articles, templated openings).

    Exact prefix match only — no shingling, no pair join: one window
    over the prefix key, so the whole operator is a single shuffle on
    a short string. At 100 TB the prefix groups are near-uniform
    (hash of 24 chars) and the window state per group is two scalars.

    Output per document: prefix-group size and the keep verdict
    (lowest doc_id in the group survives, the MinHash keep rule)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql import Window

    prefixed = docs.select(
        "doc_id", F.substring("text", 1, PREFIX_DUP_LEN).alias("prefix")
    )
    w = Window.partitionBy("prefix")
    return prefixed.select(
        "doc_id",
        F.count(F.lit(1)).over(w).alias("n_same_prefix"),
        (F.col("doc_id") == F.min("doc_id").over(w))
        .cast("int")
        .alias("kept"),
    )


_PREFIX_DUP_SQL = f"""
SELECT doc_id,
       CAST(COUNT(*) OVER (PARTITION BY substr(text, 1, {PREFIX_DUP_LEN}))
            AS BIGINT) AS n_same_prefix,
       CAST(doc_id = MIN(doc_id) OVER (
            PARTITION BY substr(text, 1, {PREFIX_DUP_LEN})) AS INT) AS kept
FROM documents
"""

register("doc_prefix_dup", _PREFIX_DUP_SQL)(doc_prefix_dup)


SUFFIX_DUP_LEN = PREFIX_DUP_LEN


def doc_suffix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-boilerplate duplicate detection — doc_prefix_dup's
    mirror for the OTHER place crawl templates live: shared footers,
    signature blocks, license tails. Key = last ``SUFFIX_DUP_LEN``
    characters (``right()``, same builtin both engines); one window
    over the suffix key, single short-string shuffle, near-uniform
    groups at 100 TB, two scalars of window state. Lowest doc_id per
    group survives (the MinHash keep rule), so prefix- and suffix-
    pass verdicts compose by AND-ing ``kept``."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffixed = docs.select(
        "doc_id", F.expr(f"right(text, {SUFFIX_DUP_LEN})").alias("suffix")
    )
    w = Window.partitionBy("suffix")
    return suffixed.select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_same_suffix"),
        (F.col("doc_id") == F.min("doc_id").over(w))
        .cast("int")
        .alias("kept"),
    )


_SUFFIX_DUP_SQL = f"""
SELECT doc_id,
       CAST(COUNT(*) OVER (PARTITION BY right(text, {SUFFIX_DUP_LEN}))
            AS BIGINT) AS n_same_suffix,
       CAST(doc_id = MIN(doc_id) OVER (
            PARTITION BY right(text, {SUFFIX_DUP_LEN})) AS INT) AS kept
FROM documents
"""

register("doc_suffix_dup", _SUFFIX_DUP_SQL)(doc_suffix_dup)


def doc_normalized_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-equivalence dedup: documents identical after
    casefolding and whitespace collapse — the cleaner pass between
    exact-hash dedup (misses trivial reformatting) and MinHash
    (overkill for it). Key = md5 of lower(text) with every whitespace
    run collapsed to one space and ends trimmed; both engines share
    the regex class semantics (``\\s+``) and md5, so the group key is
    byte-identical.

    Same scale shape as the prefix/suffix passes: one window over a
    32-char digest, near-uniform groups, two scalars of state; lowest
    doc_id survives so all three cheap passes compose by AND."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("norm_key"),
    )
    w = Window.partitionBy("norm_key")
    return keyed.select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_same_norm"),
        (F.col("doc_id") == F.min("doc_id").over(w))
        .cast("int")
        .alias("kept"),
    )


_NORMALIZED_DUP_SQL = r"""
SELECT doc_id,
       CAST(COUNT(*) OVER (PARTITION BY md5(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')
            ))) AS BIGINT) AS n_same_norm,
       CAST(doc_id = MIN(doc_id) OVER (PARTITION BY md5(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')
            ))) AS INT) AS kept
FROM documents
"""

register("doc_normalized_dup", _NORMALIZED_DUP_SQL)(doc_normalized_dup)


EDIT_SIM_MICRO = 900_000  # keep pairs with >= 0.9 normalized similarity


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs: the same one-pass
    MinHash-LSH banding as :func:`dedup_minhash_lsh` generates
    candidates, but the verify stage is CHARACTER-LEVEL Levenshtein
    instead of set-Jaccard — the complementary metric (Jaccard is
    blind to ordering/locality; edit distance catches
    transposition-style edits and is what fuzzy-match curation rules
    are usually written in). Output: candidate pairs with
    sim_micro = 1e6 − (1e6·dist) div max(len) ≥ {EDIT_SIM_MICRO}.

    Scale shape: identical candidate economics to the LSH query (the
    corpus is scanned once for signatures; candidates are
    bucket-equi-join survivors), and the O(len²) Levenshtein runs
    ONLY on candidate pairs — never all-pairs. The candidate set
    broadcasts into the text fetch, so the fact-sized documents table
    is filtered, not shuffled. Integer output only (distance and
    micro-similarity; both engines implement unit-cost Levenshtein)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    band_rows = minhash_band_table(docs).localCheckpoint(eager=True)
    x = band_rows.alias("x")
    y = band_rows.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    texts = docs.select("doc_id", "text")
    pa = texts.join(
        F.broadcast(candidates), texts.doc_id == candidates.doc_a
    ).select("doc_a", "doc_b", F.col("text").alias("text_a"))
    pb = texts.join(
        F.broadcast(pa), texts.doc_id == F.col("doc_b")
    ).select("doc_a", "doc_b", "text_a", F.col("text").alias("text_b"))
    scored = pb.select(
        "doc_a",
        "doc_b",
        F.length("text_a").cast("bigint").alias("len_a"),
        F.length("text_b").cast("bigint").alias("len_b"),
        F.levenshtein("text_a", "text_b").cast("bigint").alias("edit_dist"),
    ).withColumn(
        "sim_micro",
        F.expr(
            "CAST(1000000 - (1000000 * edit_dist)"
            " div greatest(len_a, len_b) AS BIGINT)"
        ),
    )
    return scored.filter(F.col("sim_micro") >= EDIT_SIM_MICRO)


register(
    "dedup_edit_distance",
    f"""
WITH sh AS ({_shingles_sql()}),
hashed AS (
  SELECT doc_id, md5(shingle) AS h,
         (strpos('{_HEX}', substr(md5(shingle), 1, 1)) - 1) % {N_BINS} AS bin
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_MH_AGGS}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
candidates AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(length(a.text) AS BIGINT) AS len_a,
         CAST(length(b.text) AS BIGINT) AS len_b,
         CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
  FROM candidates c
  JOIN documents a ON c.doc_a = a.doc_id
  JOIN documents b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b, len_a, len_b, edit_dist,
       CAST(1000000 - CAST((1000000 * edit_dist)
                           // greatest(len_a, len_b) AS BIGINT)
            AS BIGINT) AS sim_micro
FROM scored
WHERE 1000000 - CAST((1000000 * edit_dist)
                     // greatest(len_a, len_b) AS BIGINT)
      >= {EDIT_SIM_MICRO}
""",
)(dedup_edit_distance)


TRIPLET_MUL = 9176  # deterministic negative-sampling stride


def train_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet generation: every LSH-verified
    near-dup pair becomes an (anchor, positive) example, and the
    negative is drawn deterministically from the corpus by a hash
    stride — the (a, p, n) triplets an embedding-model fine-tune
    consumes. Skips a candidate negative that collides with the
    anchor or positive by stepping once more (open addressing on the
    id ring).

    Scale shape: rides the already-bounded verified-pair set; the
    negative assignment is closed-form arithmetic on ids (no join
    against the corpus until the final id-resolution equi-join, keyed
    by doc_id); the 1-row corpus count broadcasts."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    with_neg = pairs.crossJoin(F.broadcast(n)).select(
        F.col("doc_a").alias("anchor_id"),
        F.col("doc_b").alias("positive_id"),
        F.expr(f"(doc_a * {TRIPLET_MUL} + 7) % n_docs").alias("neg0"),
        "n_docs",
    )
    neg = (
        F.when(
            (F.col("neg0") != F.col("anchor_id"))
            & (F.col("neg0") != F.col("positive_id")),
            F.col("neg0"),
        )
        .when(
            ((F.col("neg0") + 1) % F.col("n_docs") != F.col("anchor_id"))
            & ((F.col("neg0") + 1) % F.col("n_docs") != F.col("positive_id")),
            (F.col("neg0") + 1) % F.col("n_docs"),
        )
        .otherwise((F.col("neg0") + 2) % F.col("n_docs"))
    )
    trip = with_neg.select(
        "anchor_id", "positive_id", neg.alias("negative_id")
    )
    # resolve against real ids (documents' doc_ids are 0..N-1 in the
    # testdata; the semi-join keeps the op honest if they ever aren't)
    return trip.join(
        docs.select(F.col("doc_id").alias("negative_id")),
        "negative_id",
        "left_semi",
    ).select("anchor_id", "positive_id", "negative_id")


def _triplet_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    mh = ORACLES["dedup_minhash_lsh"]
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({mh})),
nn AS (SELECT COUNT(*) AS n_docs FROM documents),
base AS (
  SELECT doc_a AS anchor_id, doc_b AS positive_id,
         (doc_a * {TRIPLET_MUL} + 7) % n_docs AS neg0, n_docs
  FROM pairs CROSS JOIN nn
),
trip AS (
  SELECT anchor_id, positive_id,
         CASE
           WHEN neg0 <> anchor_id AND neg0 <> positive_id THEN neg0
           WHEN (neg0 + 1) % n_docs <> anchor_id
                AND (neg0 + 1) % n_docs <> positive_id
             THEN (neg0 + 1) % n_docs
           ELSE (neg0 + 2) % n_docs
         END AS negative_id
  FROM base
)
SELECT t.anchor_id, t.positive_id, t.negative_id
FROM trip t
WHERE t.negative_id IN (SELECT doc_id FROM documents)
"""


register("train_contrastive_triplets", _triplet_oracle())(
    train_contrastive_triplets
)


def corpus_source_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level similarity via MERGED MinHash signatures: each
    source's signature is the elementwise min of its docs' shingle
    hashes (min-merge — the same re-aggregation property the HLL
    family proves for max), so source signatures can be maintained
    incrementally and compared without touching the corpus. For every
    source pair: the estimated Jaccard (matching signature slots /
    {N_BINS}) NEXT TO the exact shingle-set Jaccard — the
    estimator-vs-truth audit at the provenance level (two sources
    with high overlap usually share a mirror or a common upstream
    dump).

    Scale shape: one shingle scan builds both the per-source
    signatures (a sources×{N_BINS} table) and the per-source distinct
    sets; the exact intersection pairs sources PER SHINGLE (bounded
    by sources-per-shingle, never |sources|²·|shingles|); all pair
    math runs on source-sized rollups. Integer milli outputs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sh = (
        docs.select(
            "source",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("text") - (SHINGLE_WIDTH - 1)
                )
            ).alias("pos"),
            "text",
        )
        .select(
            "source",
            F.expr(f"substr(text, pos, {SHINGLE_WIDTH})").alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hashed = sh.withColumn("h", F.md5("shingle")).withColumn(
        "bin",
        (F.expr(f"instr('{_HEX}', substr(h, 1, 1))") - 1) % N_BINS,
    )
    sig = hashed.groupBy("source", "bin").agg(F.min("h").alias("mh"))
    a = sig.select(
        F.col("source").alias("source_a"), "bin", F.col("mh").alias("mh_a")
    )
    b = sig.select(
        F.col("source").alias("source_b"), "bin", F.col("mh").alias("mh_b")
    )
    est = (
        a.join(b, "bin")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)
            ).alias("n_match")
        )
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    pair_inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        est.join(pair_inter, ["source_a", "source_b"], "left")
        .join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_match").cast("bigint").alias("n_match"),
            F.expr(f"CAST((1000 * n_match) div {N_BINS} AS BIGINT)").alias(
                "est_jaccard_milli"
            ),
            F.coalesce(F.col("n_inter"), F.lit(0))
            .cast("bigint")
            .alias("n_inter"),
            F.expr(
                "CAST((1000 * coalesce(n_inter, 0))"
                " div (n_a + n_b - coalesce(n_inter, 0)) AS BIGINT)"
            ).alias("exact_jaccard_milli"),
        )
    )


register(
    "corpus_source_minhash_jaccard",
    f"""
WITH sh AS (
  SELECT DISTINCT source, substr(text, CAST(pos AS INT), {SHINGLE_WIDTH})
           AS shingle
  FROM documents, range(1, 100000) t(pos)
  WHERE pos <= length(text) - {SHINGLE_WIDTH - 1}
),
hashed AS (
  SELECT source, shingle, md5(shingle) AS h,
         (strpos('{_HEX}', substr(md5(shingle), 1, 1)) - 1) % {N_BINS} AS bin
  FROM sh
),
sig AS (
  SELECT source, bin, MIN(h) AS mh FROM hashed GROUP BY 1, 2
),
est AS (
  SELECT a.source AS source_a, b.source AS source_b,
         SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS n_match
  FROM sig a JOIN sig b ON a.bin = b.bin AND a.source < b.source
  GROUP BY 1, 2
),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY 1),
pair_inter AS (
  SELECT x.source AS source_a, y.source AS source_b, COUNT(*) AS n_inter
  FROM sh x JOIN sh y
    ON x.shingle = y.shingle AND x.source < y.source
  GROUP BY 1, 2
)
SELECT e.source_a, e.source_b,
       CAST(e.n_match AS BIGINT) AS n_match,
       CAST((1000 * e.n_match) // {N_BINS} AS BIGINT) AS est_jaccard_milli,
       CAST(COALESCE(p.n_inter, 0) AS BIGINT) AS n_inter,
       CAST((1000 * COALESCE(p.n_inter, 0))
            // (sa.n_sh + sb.n_sh - COALESCE(p.n_inter, 0)) AS BIGINT)
         AS exact_jaccard_milli
FROM est e
LEFT JOIN pair_inter p
  ON e.source_a = p.source_a AND e.source_b = p.source_b
JOIN sizes sa ON e.source_a = sa.source
JOIN sizes sb ON e.source_b = sb.source
""",
)(corpus_source_minhash_jaccard)


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------

# Token-3gram Jaccard threshold for the prefix-filter path. 3-grams of
# word tokens (not char shingles) keep the sets small (~n_tokens per
# doc) while staying discriminative enough that the background corpus
# sits far below the threshold.
PREFIX_JACCARD_MILLI = 800


def _token_3grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g) — DISTINCT word-token 3-grams per document."""
    w = docs.select("doc_id", tokens().alias("w")).filter(F.size("w") >= 3)
    return w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2), i ->"
                " concat(element_at(w, i), ' ', element_at(w, i + 1),"
                " ' ', element_at(w, i + 2)))"
            )
        ).alias("g"),
    ).distinct()


def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join via prefix filtering (PPJoin family —
    Xiao, Wang, Lin, Yu, WWW 2008): order each document's token-3gram
    set by GLOBAL rarity (document frequency asc, gram asc), keep only
    the first |x| − ⌈t·|x|⌉ + 1 grams as the *prefix*, and generate
    candidate pairs from a prefix⋈prefix equi-join. The prefix-filter
    theorem guarantees every pair with Jaccard ≥ t shares at least one
    prefix gram, so recall is exact; candidates are then verified with
    an exact intersection count and pure-integer Jaccard test
    (1000·∩ ≥ {t_milli}·∪).

    Contrast with the MinHash/LSH path above: LSH is probabilistic
    (recall < 1 by construction) and hash-sized; prefix filtering is
    EXACT with a candidate volume bounded by the df of the rarest
    grams — at 100 TB the join key distribution is exactly the rare
    tail of the gram table, so fan-out per key stays tiny while hot
    boilerplate grams never enter any prefix (they sort last). The
    size filter (t ≤ |a|/|b| ≤ 1/t) prunes cross-size pairs before
    the verify join.

    Scale shape: one corpus scan → distinct gram table; df rollup and
    per-doc rarity rank are map-side-combining aggregations / one
    window keyed by doc; candidate generation joins only PREFIX rows;
    verification is an equi-join on (doc, gram). No all-pairs stage
    anywhere.
    """
    from pyspark.sql import Window

    t = PREFIX_JACCARD_MILLI  # milli-units
    grams = _token_3grams(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_tab = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        grams.join(df_tab, "g")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
        .join(sizes, "doc_id")
        # prefix length = n − ⌈t·n⌉ + 1, all-integer ceil
        .filter(F.expr(f"pos <= n - ((({t}) * n + 999) div 1000) + 1"))
        .select("doc_id", "g", "n")
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"), "g", F.col("n").alias("n_a")
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("g").alias("g_b"),
        F.col("n").alias("n_b"),
    )
    candidates = (
        a.join(
            b,
            (F.col("g") == F.col("g_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # size filter: J ≥ t ⇒ t·max(|a|,|b|) ≤ min(|a|,|b|)
            & (F.col("n_a") * t <= F.col("n_b") * 1000)
            & (F.col("n_b") * t <= F.col("n_a") * 1000),
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b2"), F.col("g").alias("g_b"))
    inter = (
        candidates.join(ga, "doc_a")
        .join(gb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("g") == F.col("g_b")))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.filter(
            F.col("n_inter") * 1000
            >= F.lit(t) * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("(1000 * n_inter) div (n_a + n_b - n_inter)")
            .cast("bigint")
            .alias("jaccard_milli"),
        )
    )


register(
    "dedup_prefix_filter_join",
    f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 for i in range(1, len(w) - 1)]) AS g
  FROM toks WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
df_tab AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1),
ranked AS (
  SELECT gr.doc_id, gr.g, s.n,
         ROW_NUMBER() OVER (PARTITION BY gr.doc_id ORDER BY d.df, gr.g)
           AS pos
  FROM grams gr JOIN df_tab d ON gr.g = d.g
  JOIN sizes s ON gr.doc_id = s.doc_id
),
prefix AS (
  SELECT doc_id, g, n FROM ranked
  WHERE pos <= n - CAST(({PREFIX_JACCARD_MILLI} * n + 999) // 1000 AS BIGINT) + 1
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n AS n_a, b.n AS n_b
  FROM prefix a JOIN prefix b
    ON a.g = b.g AND a.doc_id < b.doc_id
   AND a.n * {PREFIX_JACCARD_MILLI} <= b.n * 1000
   AND b.n * {PREFIX_JACCARD_MILLI} <= a.n * 1000
),
inter AS (
  SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, COUNT(*) AS n_inter
  FROM candidates c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST((1000 * n_inter) // (n_a + n_b - n_inter) AS BIGINT)
         AS jaccard_milli
FROM inter
WHERE n_inter * 1000 >= {PREFIX_JACCARD_MILLI} * (n_a + n_b - n_inter)
""",
)(dedup_prefix_filter_join)


# ---------------------------------------------------------------------------
# Sorted-neighborhood (SNM) candidate generation
# ---------------------------------------------------------------------------

SNM_WINDOW = 3  # compare each doc with its next w sort neighbors
SNM_KEY_LEN = 32  # normalized sort-key prefix
SNM_BLOCK_LEN = 2  # block = leading key chars; windows stay inside a block


def _snm_key():
    from pyspark.sql import functions as F

    return F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        1,
        SNM_KEY_LEN,
    )


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (Hernández-Stolfo) candidate generation:
    sort the corpus by a normalized key, compare each record only with
    its next {SNM_WINDOW} sort neighbors — O(n·w) candidates instead
    of the O(n²) all-pairs — then verify each candidate with exact
    token Jaccard (reported in milli-units, integer division).

    The complement to the blocking families already here: LSH bounds
    candidates probabilistically, PPJoin by rare-gram prefixes; SNM
    bounds them POSITIONALLY, catching near-dups whose edit noise
    keeps shared grams rare but leaves the sort key close (the
    classic merge/purge shape for name-and-address style data).

    Scale shape: ranking runs per BLOCK (leading {SNM_BLOCK_LEN} key
    chars) — windows are partitioned, never global, and the
    cross-block boundary pairs the single-pass variant misses are the
    documented SNM recall trade (production runs multi-pass with
    rotated keys). The neighbor join is an equi-join on
    (block, rank + offset) — offsets exploded, no theta-join — and
    the verify stage touches candidate pairs only."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id", _snm_key().alias("key")
    ).withColumn("blk", F.substring("key", 1, SNM_BLOCK_LEN))
    w = Window.partitionBy("blk").orderBy("key", "doc_id")
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    probes = ranked.select(
        "blk",
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array(*[F.lit(o) for o in range(1, SNM_WINDOW + 1)])
        ).alias("off"),
    ).select(
        "blk",
        "doc_a",
        "rn_a",
        (F.col("rn_a") + F.col("off")).alias("rn_b"),
    )
    pairs = probes.join(
        ranked.select(
            "blk", F.col("doc_id").alias("doc_b"), F.col("rn").alias("rn_b")
        ),
        ["blk", "rn_b"],
    ).select(
        "doc_a", "doc_b", (F.col("rn_b") - F.col("rn_a")).alias("gap")
    )
    from smart_meter_data_pipeline_spark.operators.text import tokens

    tok = docs.select(
        "doc_id", F.explode(tokens()).alias("token")
    ).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(
            tok.select(F.col("doc_id").alias("doc_a"), "token"), "doc_a"
        )
        .join(
            tok.select(F.col("doc_id").alias("doc_b"), "token"),
            ["doc_b", "token"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
            "left",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("gap").cast("int").alias("gap"),
            F.coalesce("n_inter", F.lit(0)).cast("bigint").alias("n_inter"),
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        )
        .withColumn(
            "jaccard_milli",
            F.when(
                F.col("n_a") + F.col("n_b") - F.col("n_inter") > 0,
                F.expr(
                    "CAST((1000 * n_inter) div (n_a + n_b - n_inter) AS BIGINT)"
                ),
            ).otherwise(F.lit(0).cast("bigint")),
        )
    )
    return out


register(
    "dedup_sorted_neighborhood",
    f"""
WITH norm AS (
  SELECT doc_id,
         substr(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')),
                1, {SNM_KEY_LEN}) AS key
  FROM documents
),
ranked AS (
  SELECT doc_id, key, substr(key, 1, {SNM_BLOCK_LEN}) AS blk,
         row_number() OVER (PARTITION BY substr(key, 1, {SNM_BLOCK_LEN})
                            ORDER BY key, doc_id) AS rn
  FROM norm
),
offs AS (SELECT UNNEST(generate_series(1, {SNM_WINDOW})) AS off),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, o.off AS gap
  FROM ranked a
  CROSS JOIN offs o
  JOIN ranked b ON b.blk = a.blk AND b.rn = a.rn + o.off
),
tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS token
    FROM documents
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN tok ta ON ta.doc_id = p.doc_a
  JOIN tok tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, CAST(p.gap AS INT) AS gap,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       CAST(COALESCE(sa.n, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(sb.n, 0) AS BIGINT) AS n_b,
       CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                 - COALESCE(i.n_inter, 0) > 0
            THEN CAST((1000 * COALESCE(i.n_inter, 0))
                      // (COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                          - COALESCE(i.n_inter, 0)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS jaccard_milli
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
LEFT JOIN sizes sa ON sa.doc_id = p.doc_a
LEFT JOIN sizes sb ON sb.doc_id = p.doc_b
""",
)(dedup_sorted_neighborhood)


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (round 9)
# ---------------------------------------------------------------------------

FS_BLOCK_CAP = 50  # blocks larger than this are non-discriminative: drop
FS_BAL_EPS_CENTI = 1_000   # acctbal agreement band: within 10.00
FS_ID_EPS = 50             # name-suffix agreement band
# per-field likelihood ratios m/u as exact small-integer rationals
# (log-free: the score is a rational product, never a float sum of logs)
FS_RATIOS = {
    "segment": ((9, 2), (1, 4)),
    "balance": ((8, 1), (1, 2)),
    "name_id": ((3, 1), (2, 3)),
}
FS_SCORE_MIN_MILLI = 1_000  # emit pairs whose composite ratio >= 1.0


def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the customer
    table: blocked candidate pairs scored by a product of per-field
    m/u likelihood ratios — the classical entity-resolution scoring
    model, complementing the similarity-driven dedup family with a
    FIELD-AGREEMENT one (match weights, not distances).

    Spark-first mechanics: blocking is an equi-self-join on
    (nationkey, shifted-balance bucket); blocks larger than
    {FS_BLOCK_CAP} are dropped first via an aggregated block-size
    semi-join — oversized blocks are non-discriminative by definition
    in FS, and the cap is what bounds the pair fan-out at 100 TB (the
    hot-shingle-df-cap pattern). Every weight is an exact integer
    rational: score_milli = 1000·Πnum div Πden, so the composite
    ratio hashes identically cross-engine with no log-sum float path
    (ln(m/u) differs in the last bit between JVM and libm).

    Determinism notes: balance centi-units are shifted +100000 before
    bucketing so the integer division never sees a negative dividend
    (Spark div truncates, DuckDB // floors); the name-id field parses
    the reference-style fixed-width numeric suffix."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("bal_centi"),
        F.substring("c_name", 10, 9).cast("bigint").alias("name_id"),
    ).withColumn(
        "block",
        F.expr("(bal_centi + 100000) div 10000"),
    )
    sizes = (
        cust.groupBy("c_nationkey", "block")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= FS_BLOCK_CAP)
        .select("c_nationkey", "block")
    )
    small = cust.join(sizes, ["c_nationkey", "block"])
    a = small.select(
        "c_nationkey",
        "block",
        F.col("c_custkey").alias("a_key"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("bal_centi").alias("a_bal"),
        F.col("name_id").alias("a_id"),
    )
    b = small.select(
        "c_nationkey",
        "block",
        F.col("c_custkey").alias("b_key"),
        F.col("c_mktsegment").alias("b_seg"),
        F.col("bal_centi").alias("b_bal"),
        F.col("name_id").alias("b_id"),
    )
    (sn, sd), (sdn, sdd) = FS_RATIOS["segment"]
    (bn, bd), (bdn, bdd) = FS_RATIOS["balance"]
    (nn, nd), (ndn, ndd) = FS_RATIOS["name_id"]
    pairs = (
        a.join(b, ["c_nationkey", "block"])
        .filter(F.col("a_key") < F.col("b_key"))
        .withColumn(
            "agree_segment",
            (F.col("a_seg") == F.col("b_seg")).cast("int"),
        )
        .withColumn(
            "agree_balance",
            (
                F.abs(F.col("a_bal") - F.col("b_bal"))
                <= FS_BAL_EPS_CENTI
            ).cast("int"),
        )
        .withColumn(
            "agree_name_id",
            (F.abs(F.col("a_id") - F.col("b_id")) <= FS_ID_EPS).cast(
                "int"
            ),
        )
        .withColumn(
            "num",
            F.when(F.col("agree_segment") == 1, F.lit(sn)).otherwise(
                F.lit(sdn)
            )
            * F.when(F.col("agree_balance") == 1, F.lit(bn)).otherwise(
                F.lit(bdn)
            )
            * F.when(F.col("agree_name_id") == 1, F.lit(nn)).otherwise(
                F.lit(ndn)
            ),
        )
        .withColumn(
            "den",
            F.when(F.col("agree_segment") == 1, F.lit(sd)).otherwise(
                F.lit(sdd)
            )
            * F.when(F.col("agree_balance") == 1, F.lit(bd)).otherwise(
                F.lit(bdd)
            )
            * F.when(F.col("agree_name_id") == 1, F.lit(nd)).otherwise(
                F.lit(ndd)
            ),
        )
        .withColumn(
            "score_milli",
            F.expr("CAST(1000 * num AS BIGINT) div CAST(den AS BIGINT)"),
        )
        .filter(F.col("score_milli") >= FS_SCORE_MIN_MILLI)
    )
    return pairs.select(
        "a_key",
        "b_key",
        F.col("agree_segment").cast("int").alias("agree_segment"),
        F.col("agree_balance").cast("int").alias("agree_balance"),
        F.col("agree_name_id").cast("int").alias("agree_name_id"),
        F.col("score_milli").cast("bigint").alias("score_milli"),
    )


def _fs_oracle() -> str:
    (sn, sd), (sdn, sdd) = FS_RATIOS["segment"]
    (bn, bd), (bdn, bdd) = FS_RATIOS["balance"]
    (nn, nd), (ndn, ndd) = FS_RATIOS["name_id"]
    return f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
           AS bal_centi,
         CAST(substring(c_name, 10, 9) AS BIGINT) AS name_id,
         CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               + 100000) // 10000 AS BIGINT) AS block
  FROM customer
),
sizes AS (
  SELECT c_nationkey, block FROM cust
  GROUP BY 1, 2 HAVING COUNT(*) <= {FS_BLOCK_CAP}
),
small AS (
  SELECT c.* FROM cust c JOIN sizes s
    ON c.c_nationkey = s.c_nationkey AND c.block = s.block
),
pairs AS (
  SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
         CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
           AS agree_segment,
         CASE WHEN abs(a.bal_centi - b.bal_centi)
                   <= {FS_BAL_EPS_CENTI} THEN 1 ELSE 0 END
           AS agree_balance,
         CASE WHEN abs(a.name_id - b.name_id) <= {FS_ID_EPS}
              THEN 1 ELSE 0 END AS agree_name_id
  FROM small a JOIN small b
    ON a.c_nationkey = b.c_nationkey AND a.block = b.block
   AND a.c_custkey < b.c_custkey
),
scored AS (
  SELECT *,
         (CASE WHEN agree_segment = 1 THEN {sn} ELSE {sdn} END
          * CASE WHEN agree_balance = 1 THEN {bn} ELSE {bdn} END
          * CASE WHEN agree_name_id = 1 THEN {nn} ELSE {ndn} END)
           AS num,
         (CASE WHEN agree_segment = 1 THEN {sd} ELSE {sdd} END
          * CASE WHEN agree_balance = 1 THEN {bd} ELSE {bdd} END
          * CASE WHEN agree_name_id = 1 THEN {nd} ELSE {ndd} END)
           AS den
  FROM pairs
)
SELECT a_key, b_key,
       CAST(agree_segment AS INT) AS agree_segment,
       CAST(agree_balance AS INT) AS agree_balance,
       CAST(agree_name_id AS INT) AS agree_name_id,
       CAST(CAST(1000 * num AS BIGINT) // CAST(den AS BIGINT) AS BIGINT)
         AS score_milli
FROM scored
WHERE CAST(CAST(1000 * num AS BIGINT) // CAST(den AS BIGINT) AS BIGINT)
      >= {FS_SCORE_MIN_MILLI}
"""


register("dedup_fellegi_sunter", _fs_oracle())(dedup_fellegi_sunter)


# ---------------------------------------------------------------------------
# LSH candidate-quality evaluation (round 9)
# ---------------------------------------------------------------------------


def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure-don't-guess for the dedup pipeline — the recall
    report of near-duplicate detection: the banded
    MinHash-LSH pair set is scored against the exact n-gram Jaccard
    ground truth (full outer join on the pair key), emitting
    tp/fp/fn and integer milli precision/recall. A recall drop here
    is the first sign the band/row configuration stopped matching the
    corpus' similarity profile; at 100 TB this is the audit you run
    on a sample BEFORE trusting the banded pass on the whole corpus.

    Both sides reuse the registered operators unchanged; the oracle
    composes their oracle SQL verbatim, so constituent fixes
    propagate."""
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    joined = lsh.join(exact, ["doc_a", "doc_b"], "full_outer")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_union"),
        F.sum(F.coalesce("in_exact", F.lit(0)))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.coalesce("in_lsh", F.lit(0)))
        .cast("bigint")
        .alias("n_lsh"),
        F.sum(
            F.coalesce("in_lsh", F.lit(0))
            * F.coalesce("in_exact", F.lit(0))
        )
        .cast("bigint")
        .alias("tp"),
    ).select(
        "n_pairs_union",
        "n_exact",
        "n_lsh",
        "tp",
        (F.col("n_lsh") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_exact") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr(
            "CAST((1000 * tp) div greatest(n_exact, 1) AS BIGINT)"
        ).alias("recall_milli"),
        F.expr(
            "CAST((1000 * tp) div greatest(n_lsh, 1) AS BIGINT)"
        ).alias("precision_milli"),
    )


def _lsh_eval_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    return f"""
WITH l AS (
  SELECT doc_a, doc_b, 1 AS in_lsh
  FROM ({ORACLES["dedup_minhash_lsh"]}) t
),
e AS (
  SELECT doc_a, doc_b, 1 AS in_exact
  FROM ({ORACLES["dedup_ngram_jaccard"]}) t
),
j AS (
  SELECT COALESCE(l.doc_a, e.doc_a) AS doc_a,
         COALESCE(l.doc_b, e.doc_b) AS doc_b,
         COALESCE(in_lsh, 0) AS in_lsh,
         COALESCE(in_exact, 0) AS in_exact
  FROM l FULL OUTER JOIN e
    ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_union,
         CAST(SUM(in_exact) AS BIGINT) AS n_exact,
         CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
         CAST(SUM(in_lsh * in_exact) AS BIGINT) AS tp
  FROM j
)
SELECT n_pairs_union, n_exact, n_lsh, tp,
       CAST(n_lsh - tp AS BIGINT) AS fp,
       CAST(n_exact - tp AS BIGINT) AS fn,
       CAST((1000 * tp) // greatest(n_exact, 1) AS BIGINT)
         AS recall_milli,
       CAST((1000 * tp) // greatest(n_lsh, 1) AS BIGINT)
         AS precision_milli
FROM agg
"""


def _register_lsh_eval() -> None:
    register("dedup_lsh_eval", _lsh_eval_oracle())(dedup_lsh_eval)


_register_lsh_eval()


def connected_components_star(
    edges: DataFrame, max_iter: int = 14, return_rounds: bool = False
):
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the scale path next to :func:`connected_components`'s min-label
    propagation. Min-label needs O(diameter) rounds: fine for the
    near-dup clique graphs LSH emits, but the PATH-shaped graphs
    sorted-neighborhood dedup produces (adjacent-pair edges → chains
    as long as the duplicate run) make diameter the corpus run
    length. Star alternation contracts chains in O(log n) rounds
    regardless of diameter, each round two joins + one aggregation
    shuffled on node id, with the edge set only ever SHRINKING toward
    the final stars.

    large-star(u): m = min(N(u) ∪ {u}); every neighbor v > u
    re-points to m. small-star(u) over (u > v)-oriented edges:
    m = min(Γ⁻(u)); u and its smaller neighbors re-point to m.
    Fixed point = stars centered at component minima (the paper's
    invariant: both ops preserve connectivity and never raise a
    node's reachable minimum).

    Input: (a, b) undirected edges. Output: (node, component) with
    component = min node id in the component (identical relation to
    :func:`connected_components` — test-pinned)."""
    e = (
        edges.selectExpr("a AS u", "b AS v")
        .filter("u <> v")
        .selectExpr(
            "CASE WHEN u > v THEN u ELSE v END AS u",
            "CASE WHEN u > v THEN v ELSE u END AS v",
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.selectExpr("a AS node")
        .unionAll(edges.selectExpr("b AS node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        # large-star over symmetric neighborhoods
        sym = e.unionAll(e.selectExpr("v AS u", "u AS v"))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select(
            "u", F.least("mn", F.col("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter("v > u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter("u <> v")
            .distinct()
        )
        # small-star over (u > v)-oriented edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        e_new = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter("u <> v")
            .unionAll(mins2.selectExpr("u", "m AS v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        if (
            e_new.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(e_new).limit(1).count() == 0
        ):
            e = e_new
            converged = True
            break
        e = e_new
    else:
        converged = False
    if not converged:
        # Exhausting max_iter without the fixed point means e is NOT
        # a star set: nodes can hold multiple outgoing pointers, so
        # the join below would emit duplicate (node, component) rows
        # with non-minimal labels — silently wrong (round-11 advice).
        # Alternation converges in O(log² n) rounds w.h.p. (Kiveris
        # et al. Thm 3), so 14 covers any real graph; exhaustion
        # signals a pathological input or a too-small override — fail
        # loudly, never return garbage labels. (Min-label propagation
        # is NOT a safe fallback here: it needs O(diameter) rounds,
        # which is exactly the regime this operator exists to avoid.)
        raise RuntimeError(
            "connected_components_star: no fixed point after "
            f"{max_iter} large-star/small-star alternations — raise "
            "max_iter (convergence is O(log^2 n) rounds w.h.p.)"
        )
    labels = nodes.join(
        e.selectExpr("u AS node", "v AS _ptr"), "node", "left"
    ).select(
        "node", F.coalesce("_ptr", F.col("node")).alias("component")
    )
    return (labels, rounds) if return_rounds else labels


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` served through the star-alternation CC —
    the same relation reached by a diameter-independent physical
    algorithm (proof pattern: different execution path, identical
    oracle, like ``meter_sim_source_scan``). At 100 TB this is the
    variant that survives chain-shaped duplicate runs; the oracle is
    ``dedup_clusters``'s recursive-CTE reachability verbatim."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


def _register_clusters_star() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("dedup_clusters_star", ORACLES["dedup_clusters"])(
        dedup_clusters_star
    )


_register_clusters_star()
