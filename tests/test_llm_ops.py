"""LLM-pipeline operator tests: LSH recall vs brute force, SimHash
banding, multimodal batch plumbing, stub contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators import dedup, multimodal
from smart_meter_data_pipeline_spark.operators.text import shingles
from smart_meter_data_pipeline_spark.sources.readers import load_table


@pytest.mark.slow
def test_minhash_lsh_recalls_exact_pairs(spark, sf_dir):
    """Every pair the exact n-gram Jaccard finds above threshold must
    be recalled by the MinHash-LSH path at these settings (planted
    dups sit at jaccard ≈0.99 — band collision probability ≈1)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert exact, "testdata should contain planted near-duplicates"
    assert lsh == exact


@pytest.mark.slow
def test_simhash_near_pairs_cover_planted_dups(spark, sf_dir):
    """Planted near-dups (≈0.99 shingle jaccard) must collide within
    Hamming ≤ 7 on the simhash; random pairs must not (background
    Hamming ≥ 19 on this corpus)."""
    sig = dedup.dedup_simhash(spark, sf_dir)
    near = dedup.simhash_near_pairs(sig, max_hamming=7)
    found = {(r["doc_a"], r["doc_b"]) for r in near.collect()}
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert exact <= found
    # banding must not degenerate into all-pairs
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(found) < n_docs * (n_docs - 1) / 4


def test_multimodal_byte_sum_and_stub(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    feats = multimodal.extract_features(multimodal.with_binary_content(docs))
    rows = feats.collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in rows:
        raw = texts[r["doc_id"]].encode("utf-8")
        assert r["n_bytes"] == len(raw)
        assert r["byte_sum"] == sum(raw)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF")


def test_shingles_cover_text(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    sh = shingles(docs)
    row = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).first()
    assert row["n"] > 0
    assert sh.filter(F.length("shingle") != 12).count() == 0


def test_resize_fixed_output_contract(spark, sf_dir):
    """Resize is 1→1 with constant output dims regardless of source
    size; thumb hashes are deterministic across runs."""
    docs = load_table(spark, sf_dir, "documents")
    binary = multimodal.with_binary_content(docs)
    r1 = multimodal.resize_images(binary)
    assert r1.count() == docs.count()
    dims = r1.select("out_w", "out_h").distinct().collect()
    assert len(dims) == 1
    assert (dims[0]["out_w"], dims[0]["out_h"]) == (
        multimodal.THUMB_W,
        multimodal.THUMB_H,
    )
    a = {r["doc_id"]: r["thumb_md5"] for r in r1.collect()}
    b = {
        r["doc_id"]: r["thumb_md5"]
        for r in multimodal.resize_images(binary).collect()
    }
    assert a == b


def test_frame_sample_expansion(spark, sf_dir):
    """Frame sampling is 1→N: per doc, rows = ceil(n_frames/stride),
    frame indexes are 0, stride, 2*stride, ..."""
    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(multimodal.with_binary_content(docs))
    per_doc = (
        frames.groupBy("doc_id", "n_frames")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.collect_list("frame_idx").alias("idxs"),
        )
        .collect()
    )
    assert per_doc
    s = multimodal.FRAME_STRIDE
    for row in per_doc:
        expect = list(range(0, row["n_frames"], s))
        assert sorted(row["idxs"]) == expect, row["doc_id"]
        assert row["n_rows"] == len(expect)


def test_repetition_ratio_bounds(spark, sf_dir):
    """repetition_ratio ∈ [0,1), top token can't be rarer than uniform,
    distinct ≤ total."""
    from smart_meter_data_pipeline_spark.operators.text import (
        doc_repetition_ratio,
    )

    rows = doc_repetition_ratio(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["repetition_ratio"] < 1
        assert r["n_distinct_tokens"] <= r["n_tokens"]
        assert r["top_token_frac"] >= 1.0 / r["n_distinct_tokens"] - 1e-12


def test_ngram_novelty_bounds(spark, sf_dir):
    """novelty ∈ [0,1]; unique-shingle count bounded by total."""
    from smart_meter_data_pipeline_spark.operators.text import (
        doc_ngram_novelty,
    )

    rows = doc_ngram_novelty(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["novelty"] <= 1.0
        assert r["n_unique_shingles"] <= r["n_shingles"]


def test_split_fractions(spark, sf_dir):
    """Hash split must be ~80/10/10 by doc count and cover every doc."""
    from smart_meter_data_pipeline_spark.operators.curation import (
        train_val_test_split,
    )
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    rows = train_val_test_split(spark, sf_dir).collect()
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(by_split.values()) == total
    assert set(by_split) == {"train", "val", "test"}
    assert 0.7 < by_split["train"] / total < 0.9
    assert 0.05 < by_split["val"] / total < 0.16
    assert 0.05 < by_split["test"] / total < 0.16


def test_shard_manifest_balance(spark, sf_dir):
    """All shards populated; hash assignment keeps them within 2x of
    uniform; manifest accounts for every doc."""
    from smart_meter_data_pipeline_spark.operators.curation import (
        N_SHARDS,
        corpus_shard_manifest,
    )
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    rows = corpus_shard_manifest(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == N_SHARDS
    assert sum(r["n_docs"] for r in rows) == total
    uniform = total / N_SHARDS
    for r in rows:
        assert 0.5 * uniform < r["n_docs"] < 2.0 * uniform, r


def test_pii_scrub_planted(spark):
    """The scrub expression must mask planted emails/phones/IPs and
    leave clean text untouched."""
    from smart_meter_data_pipeline_spark.operators.text import scrub_expr

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example.com thanks"),
            (2, "call 555-123-4567 or 555 987 6543 now"),
            (3, "server at 10.0.255.7 timed out"),
            (4, "perfectly clean sentence with no pii at all"),
        ],
        "doc_id int, text string",
    )
    clean, n = scrub_expr("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", clean.alias("clean"), n.alias("n")
        ).collect()
    }
    assert rows[1]["clean"] == "mail me at <EMAIL> thanks"
    assert rows[1]["n"] == 1
    assert rows[2]["clean"] == "call <PHONE> or <PHONE> now"
    assert rows[2]["n"] == 2
    assert rows[3]["clean"] == "server at <IP> timed out"
    assert rows[3]["n"] == 1
    assert rows[4]["clean"] == "perfectly clean sentence with no pii at all"
    assert rows[4]["n"] == 0


def test_connected_components_shapes(spark):
    """Chain, triangle, and isolated pair must cluster correctly with
    min-id labels."""
    from smart_meter_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a int, b int",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_span_dedup_invariants(spark, sf_dir):
    """Structural invariants of the keep-first span dedup, independent
    of the SQL oracle: (a) kept ≤ total spans per doc; (b) the corpus
    loses spans iff some span text repeats; (c) every surviving span
    is a verbatim substring of the owning doc; (d) the globally first
    document (doc_id 0) keeps every FIRST occurrence among its own
    spans — its dedup_text only drops spans IT already used."""
    from smart_meter_data_pipeline_spark.operators.dedup import (
        SPAN_WORDS,
        doc_span_dedup,
    )

    out = dedup.doc_span_dedup(spark, sf_dir).cache()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    assert out.filter(F.col("n_kept") > F.col("n_spans")).count() == 0
    total = out.agg(F.sum("n_spans"), F.sum("n_kept")).first()
    n_distinct_spans = (
        docs.select(
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(F.split("text", " ")) / SPAN_WORDS).cast(
                            "int"
                        )
                        - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(
                            F.split("text", " "), i * SPAN_WORDS + 1, SPAN_WORDS
                        ),
                        " ",
                    ),
                )
            ).alias("i", "span")
        )
        .select("span")
        .distinct()
        .count()
    )
    assert total[1] == n_distinct_spans  # kept == distinct span texts

    # (c) surviving text's spans all appear in the original document
    joined = out.join(docs, "doc_id").filter(F.col("n_kept") > 0)
    bad = joined.filter(
        ~F.expr(
            f"forall(transform(sequence(0, CAST(ceil(size(split(dedup_text,' '))/{SPAN_WORDS}.0) AS INT) - 1),"
            f" i -> array_join(slice(split(dedup_text, ' '), i*{SPAN_WORDS}+1, {SPAN_WORDS}), ' ')),"
            " s -> contains(text, s))"
        )
    )
    assert bad.count() == 0


def test_keep_best_one_winner_per_cluster(spark, sf_dir):
    """dedup_keep_best: every cluster keeps exactly one member, every
    corpus doc appears exactly once, and the winner has the cluster's
    max quality score."""
    out = dedup.dedup_keep_best(spark, sf_dir).cache()
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.max("quality_score").alias("max_q"),
    )
    assert per.filter("n_keep <> 1").count() == 0
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    bad = (
        out.filter("keep")
        .join(per, "cluster_id")
        .filter(F.col("quality_score") != F.col("max_q"))
    )
    assert bad.count() == 0
    out.unpersist()


def test_pair_jaccard_hot_shingle_df_bounded(spark):
    """The exact n-gram pair path must be df-bounded: a boilerplate
    shingle shared by k docs (k > MAX_SHINGLE_DF) must NOT fan out
    into its k(k-1)/2 candidate pairs — it is dropped before the
    self-join, so the capped output must equal the pair set computed
    over a manually hot-filtered shingle table, and must be far below
    the uncapped all-pairs blow-up."""

    import hashlib

    k = dedup.MAX_SHINGLE_DF + 36
    # one shared 12-char boilerplate prefix (df = k, hot), then a
    # per-doc-unique md5 tail; boundary windows mixing 11 shared chars
    # with 1 hex char collide across docs at df ≈ k/16 (cool — they
    # stay, proving the filter is per-shingle, not per-document).
    corpus = spark.createDataFrame(
        [
            (i, "BOILERPLATE." + hashlib.md5(str(i).encode()).hexdigest())
            for i in range(k)
        ],
        "doc_id int, text string",
    )
    sh = shingles(corpus)
    uncapped = dedup._pair_jaccard(sh, max_df=10**9).count()
    assert uncapped >= k * (k - 1) / 2  # the hot shingle alone makes all-pairs
    hot_set = (
        sh.groupBy("shingle")
        .count()
        .filter(F.col("count") > dedup.MAX_SHINGLE_DF)
        .select("shingle")
    )
    expected = dedup._pair_jaccard(
        sh.join(hot_set, "shingle", "left_anti"), max_df=10**9
    ).count()
    capped = dedup._pair_jaccard(sh).count()
    assert capped == expected
    assert capped < uncapped / 2


def test_bm25_mlt_ranking_contract(spark, sf_dir):
    """BM25 MLT: per query, ranks are 1..k contiguous, scores
    non-increasing along rank, no self-matches, all scores positive
    (rational idf is positive once df <= N/4)."""
    from smart_meter_data_pipeline_spark.operators.text import doc_bm25_mlt

    rows = doc_bm25_mlt(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["doc_id"] != r["query_id"]
        assert r["score"] > 0
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["score"]))
    for qid, rs in by_q.items():
        rs.sort()
        assert [r for r, _ in rs] == list(range(1, len(rs) + 1)), qid
        scores = [s for _, s in rs]
        assert scores == sorted(scores, reverse=True), qid


def test_temperature_sample_flattens_sources(spark, sf_dir):
    """Alpha=0.5 mixing: keep_prob is monotone non-increasing in
    source size (small sources up-weighted), n_kept <= n_source,
    shares sum to ~1, and the realized sample tracks keep_prob."""
    from smart_meter_data_pipeline_spark.operators.curation import (
        source_temperature_sample,
    )

    rows = source_temperature_sample(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-6
    for r in rows:
        assert 0 < r["keep_prob"] <= 1.0
        assert 0 <= r["n_kept"] <= r["n_source"]
    by_size = sorted(rows, key=lambda r: r["n_source"])
    probs = [r["keep_prob"] for r in by_size]
    assert probs == sorted(probs, reverse=True)


def test_scd2_history_invariants(spark, sf_dir):
    """SCD2 merge: every customer has exactly one current row; changed
    customers carry exactly two rows (closed + open) with contiguous
    validity; unchanged customers carry one open row."""
    from smart_meter_data_pipeline_spark.operators.extended import (
        dim_scd2_history,
    )

    rows = dim_scd2_history(spark, sf_dir).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["c_custkey"], []).append(r)
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert len(by_cust) == n_cust
    n_changed = 0
    for ck, rs in by_cust.items():
        current = [r for r in rs if r["is_current"]]
        assert len(current) == 1, ck
        assert current[0]["valid_to"] is None, ck
        if len(rs) == 2:
            n_changed += 1
            closed = next(r for r in rs if not r["is_current"])
            assert closed["valid_to"] == current[0]["valid_from"], ck
            assert current[0]["segment"] == closed["segment"] + "_V2", ck
        else:
            assert len(rs) == 1, ck
    assert 0 < n_changed < n_cust


def test_minhash_index_roundtrip_and_incremental_verdicts(spark, sf_dir, tmp_path):
    """Incremental dedup against a parquet-persisted corpus index gives
    the same verdicts as against the in-session band table, and every
    batch doc gets exactly one verdict row."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % dedup.INCR_BATCH_MOD) == dedup.INCR_BATCH_REM
    corpus, batch = docs.filter(~is_batch), docs.filter(is_batch)

    index = dedup.minhash_band_table(corpus).localCheckpoint(eager=True)
    path = str(tmp_path / "minhash_index")
    dedup.minhash_save_index(index, path)
    loaded = dedup.minhash_load_index(spark, path)
    assert loaded.count() == index.count()

    live = dedup.dedup_incremental_verdicts(spark, batch, index, docs)
    persisted = dedup.dedup_incremental_verdicts(spark, batch, loaded, docs)
    rows_live = sorted(map(tuple, live.collect()))
    rows_pers = sorted(map(tuple, persisted.collect()))
    assert rows_live == rows_pers
    assert len(rows_live) == batch.count()
    # every claimed dup_of really lives in the corpus, never the batch
    for _, dup_of, _, is_dup in rows_live:
        assert is_dup == (dup_of is not None)
        if dup_of is not None:
            assert dup_of % dedup.INCR_BATCH_MOD != dedup.INCR_BATCH_REM


def test_heavy_hitters_rank_contract(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        HH_TOPK,
        corpus_heavy_hitters,
    )

    rows = corpus_heavy_hitters(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= HH_TOPK
        freqs = [r["freq"] for r in rs]
        assert freqs == sorted(freqs, reverse=True)


def test_mixture_rebalance_hits_targets(spark, sf_dir):
    """Expected emitted counts equal target_share*N exactly up to the
    Bernoulli residual: |achieved - target| is bounded by the worst
    case where every fractional coin flips one way."""
    from smart_meter_data_pipeline_spark.operators.curation import (
        mixture_rebalance,
    )

    rows = mixture_rebalance(spark, sf_dir).collect()
    assert rows
    n_total = sum(r["n_docs"] for r in rows)
    tot_emitted = sum(r["n_emitted"] for r in rows)
    for r in rows:
        # floor(r)*n <= emitted <= ceil(r)*n
        import math

        lo = math.floor(r["repeat_factor"]) * r["n_docs"]
        hi = math.ceil(r["repeat_factor"]) * r["n_docs"]
        assert lo <= r["n_emitted"] <= hi
        # expected emitted = target*N; realized within the coin margin
        assert abs(r["n_emitted"] - r["target_share"] * n_total) <= r["n_docs"]
        assert abs(r["achieved_share"] - r["n_emitted"] / tot_emitted) < 1e-8


def test_phash_block_quantized_bit_stays_discriminative(spark, sf_dir):
    """VERDICT r9 #7: a block-MEAN pHash bit is non-discriminative on
    flat text payloads (uniform byte mass collapsed the corpus onto a
    handful of signatures — 15.8k false pairs vs 23 true at sf0.01
    before the quantized fix). Pin the shipped block-QUANTIZED bit
    ((sum >> 1) & 1) at both symptom sites so a future
    "simplification" back to block means cannot silently regress:

    - signature DIVERSITY: distinct signatures ~ distinct documents
      (the mean bit collapses this to a few percent);
    - pair count stays within the near-dup regime (tens on the
      fixture corpus, never thousands)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = multimodal.phash_signatures(multimodal.with_binary_content(docs))
    n_docs = docs.count()
    n_sigs = sig.select("phash").distinct().count()
    assert n_sigs >= 0.9 * n_docs, (n_sigs, n_docs)

    pairs = multimodal.multimodal_phash_neardup(spark, sf_dir)
    n_pairs = pairs.count()
    # sf0.001: 27 pairs / 500 docs; sf0.01: 23 pairs / 5000 docs.
    # block-mean regression produced O(10^4) pairs at sf0.01.
    assert n_pairs <= max(100, n_docs // 5), n_pairs
    # every reported pair sits inside the pigeonhole radius
    assert pairs.filter(
        F.col("hamming") > multimodal.PHASH_MAX_HAMMING
    ).count() == 0


@pytest.mark.slow
def test_phash_oracle_is_byte_true_on_non_ascii(spark, tmp_path):
    """ADVICE r10: the DuckDB oracle must hash BYTES, not characters —
    block size came from octet_length(encode(text)) but the old
    per-position values used ascii(substring(text, i, 1)), which
    indexes characters and returns codepoints, diverging from the
    Python byte hash on any non-ASCII document. The oracle now decodes
    each byte from hex(encode(text)) nibbles; pin it with a corpus
    where byte length != char length."""
    import duckdb

    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    texts = [
        (1, "héllo wörld — ünïcode pâyload"),
        (2, "héllo wörld — ünïcode pâyload"),  # exact dup of 1
        (3, "plain ascii payload of similar length"),
        (4, "héllo wörld — ünïcode pàyload"),  # 1-char accent edit
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts], "doc_id BIGINT, text STRING"
    )
    pdir = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(pdir)

    got = sorted(
        map(
            tuple,
            multimodal.multimodal_phash_neardup(spark, str(tmp_path))
            .collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pdir}/*.parquet')"
    )
    want = sorted(
        map(tuple, con.execute(ORACLES["multimodal_phash_neardup"]).fetchall())
    )
    assert got == want, (got, want)
    # the exact unicode duplicate must land at hamming 0
    assert (1, 2, 0) in got


def test_star_cc_matches_minlabel_and_contracts_chains(spark):
    """Large-star/small-star CC: (a) identical labels to min-label
    propagation on a mixed graph; (b) a 256-node PATH — where
    min-label needs ~diameter rounds — converges in O(log n)
    alternations with every node labeled 0."""
    from smart_meter_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a int, b int",
    )
    star = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    mini = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert star == mini

    n = 256
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a int, b int"
    )
    labels, rounds = connected_components_star(
        path, max_iter=14, return_rounds=True
    )
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    # diameter is 255; star alternation must be way under it
    assert rounds <= 12, rounds


@pytest.mark.slow
def test_star_cc_exhaustion_raises_not_garbage(spark):
    """max_iter too small to reach the fixed point: the function must
    NOT return the intermediate (non-star) edge set as labels — it
    raises instead (round-11 advice: the silent exhaustion returned
    wrong labels, including duplicate rows per node)."""
    import pytest

    from smart_meter_data_pipeline_spark.operators.dedup import (
        connected_components_star,
    )

    n = 64
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a int, b int"
    )
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components_star(path, max_iter=1)
    # and a sufficient budget on the same input stays correct
    labels = connected_components_star(path)
    rows = labels.collect()
    assert len(rows) == n
    assert {r["node"]: r["component"] for r in rows} == {
        i: 0 for i in range(n)
    }


def test_star_cc_empty_and_selfloop(spark):
    from smart_meter_data_pipeline_spark.operators.dedup import (
        connected_components_star,
    )

    edges = spark.createDataFrame([(5, 5), (7, 8)], "a int, b int")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    # the self-loop node is still a (singleton) node; 7-8 cluster to 7
    assert got == {5: 5, 7: 7, 8: 7}



def test_shingle_distribute_hot_shingle_bounded_and_identical(spark):
    """r15 skew fix (VERDICT r14 #3): the distribute_by_shingle path
    dedups shingles WITHIN each doc before the shingle-keyed exchange,
    so a hyper-common shingle ships <= one row per containing doc —
    never its raw occurrence count — while the output stays identical
    to the plain formulation."""
    from smart_meter_data_pipeline_spark.operators.text import (
        _doc_distinct_shingles,
        shingles,
    )

    # doc 1: pathological hot shingle — 'ab' * 3000 has ~6000 raw
    # 12-gram occurrences but only 2 distinct shingles; docs 2/3 share
    # fragments so cross-doc df > 1 paths are exercised too.
    docs = spark.createDataFrame(
        [
            (1, "ab" * 3000),
            (2, "ab" * 20 + "the quick brown fox jumps over it"),
            (3, "the quick brown fox naps under it"),
        ],
        "doc_id int, text string",
    )
    pre_exchange = _doc_distinct_shingles(docs, 12)
    per_doc_distinct = (
        docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 11)
            ).alias("pos"),
            "text",
        )
        .select("doc_id", F.expr("substr(text, pos, 12)").alias("shingle"))
        .distinct()
        .count()
    )
    # bounded: exactly one row per (doc, distinct shingle) reaches the
    # exchange — the hot doc contributes 2 rows, not ~6000
    assert pre_exchange.count() == per_doc_distinct
    assert (
        pre_exchange.filter(F.col("doc_id") == 1).count() == 2
    )
    plain = shingles(docs)
    distributed = shingles(docs, distribute_by_shingle=True)
    assert distributed.exceptAll(plain).count() == 0
    assert plain.exceptAll(distributed).count() == 0
