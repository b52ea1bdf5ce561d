"""Property/behavior tests for LLM-pipeline operators that are not (fully)
oracle-checkable: approx distinct bound, IVF recall, SimHash invariants,
MinHash-LSH recall vs exact Jaccard."""

from __future__ import annotations

from pyspark.sql import functions as F

from shardpack_spark.operators import dedup, similarity
from shardpack_spark.queries import load_all
from shardpack_spark.tables import load_table

REG = load_all()



def _exact_top5(spark, sf_dir):
    """Brute-force exact cosine top-5 to vec_id=0 (was registry q30)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk(emb, query, k=5, exclude_ids=[0])

def test_approx_count_distinct_within_bound(spark, sf_dir):
    """q01 embeds the HLL++ 5% bound check as the approx_ok flag."""
    row = REG["q01_scan_count"].builder(spark, sf_dir).head()
    assert row["approx_ok"] == 1


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with pruned nprobe=3 must keep >=3/5 of the exact top-5 (the
    declared q30b runs full-probe; this covers the approximate regime)."""
    exact = {r["vec_id"] for r in _exact_top5(spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    centroids = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    topk = similarity.ivf_topk(emb.filter(F.col("vec_id") != 0), query, centroids, k=5, nprobe=3)
    approx = {r["vec_id"] for r in topk.collect()}
    assert len(exact & approx) >= 3, f"recall too low: {exact} vs {approx}"


def test_rp_lsh_recall_vs_brute_force(spark, sf_dir):
    """Hyperplane LSH at a pruned Hamming radius keeps part of the exact
    top-5 even on this near-orthogonal synthetic data (max cosine ~0.47,
    so the method's selectivity is inherently weak here — see the
    operator docstring).  The declared q30c runs full-radius."""
    exact = {r["vec_id"] for r in _exact_top5(spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    topk = similarity.rp_lsh_topk(emb.filter(F.col("vec_id") != 0), query, k=5,
                                  n_planes=8, max_hamming=3)
    approx = {r["vec_id"] for r in topk.collect()}
    assert len(exact & approx) >= 2, f"recall too low: {exact} vs {approx}"


def test_simhash_identical_docs_collide(spark, sf_dir):
    """Exact duplicate texts must produce identical simhashes."""
    docs = load_table(spark, sf_dir, "documents")
    sim = dedup.simhash(docs)
    joined = (
        docs.select(F.col("doc_id").alias("sid"), "text")
        .join(sim, "sid")
        .groupBy("text")
        .agg(
            F.countDistinct(F.concat_ws(":", "sim_hi", "sim_lo")).alias("nh"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("n") > 1) & (F.col("nh") > 1))
    )
    assert joined.count() == 0


def test_minhash_lsh_recall_matches_exact(spark, sf_dir):
    """LSH candidates + exact verification == exhaustive exact pairs
    (both variants live in the one q29 result, tagged)."""
    rows = REG["q29_fuzzy_dedup"].builder(spark, sf_dir).collect()
    exact = {(r["sid_a"], r["sid_b"]) for r in rows if r["variant"] == "exact"}
    lsh = {(r["sid_a"], r["sid_b"]) for r in rows if r["variant"] == "lsh"}
    assert lsh == exact, f"missed: {exact - lsh}; extra: {lsh - exact}"


def test_embedding_near_dup_symmetric_block(spark, sf_dir):
    """Blocked pair generation yields each unordered pair once."""
    pairs = REG["q38_embedding_near_dup"].builder(spark, sf_dir)
    dup = pairs.groupBy("id_a", "id_b").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_connected_components_resolves_clusters(spark):
    """Min-label propagation: a 4-chain, a 2-pair, and a triangle resolve
    to min-id clusters; a path forces multiple propagation rounds."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # path 1-2-3-4 (needs >1 round)
         (10, 11),                    # isolated pair
         (20, 21), (21, 22), (20, 22)],  # triangle
        "sid_a long, sid_b long",
    )
    got = {
        (r["sid"], r["cluster"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_hash_sampling_partitioning_independent(spark, sf_dir):
    """The sample is a pure function of the data: identical keep set
    regardless of partitioning, every stratum capped, fraction in range."""
    from shardpack_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.1).collect()}
    b = {
        r["doc_id"]
        for r in sampling.hash_sample(docs.repartition(7), "doc_id", 0.1).collect()
    }
    assert a == b and 0 < len(a) < docs.count()

    strat = sampling.stratified_sample(docs, ["lang", "source"], 2, "doc_id")
    per = strat.groupBy("lang", "source").count().collect()
    assert per and all(r["count"] <= 2 for r in per)

    top = sampling.hash_sample_n(docs, "doc_id", 5).collect()
    top2 = sampling.hash_sample_n(docs.repartition(7), "doc_id", 5).collect()
    assert [r["doc_id"] for r in top] == [r["doc_id"] for r in top2]
    assert len(top) == 5


def test_oph_minhash_densification_and_agreement(spark):
    """One-permutation hashing with rotation densification: tiny docs
    (fewer shingles than bins) densify deterministically; identical docs
    agree on every slot; distinct docs don't."""
    from shardpack_spark.operators.dedup import minhash_oph_profiles

    rows = [
        (1, "abcdefgh"),          # 4 shingles in 64 bins: ~60 borrowed slots
        (2, "abcdefgh"),          # identical to 1
        (3, "zzzzzzzzyxwvuts"),   # different content
        (4, "the quick brown fox jumps over the lazy dog " * 30),  # dense
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs_df = minhash_oph_profiles(df, k=5, n_bins=64).select("sid", "sig")
    sigs = {r["sid"]: r["sig"] for r in sigs_df.collect()}
    assert all(len(s) == 64 and all(v is not None for v in s) for s in sigs.values())
    assert sigs[1] == sigs[2]                     # identical docs: full agreement
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree_13 <= 8                          # disjoint shingle sets
    # deterministic across recomputation
    again = {r["sid"]: r["sig"] for r in sigs_df.collect()}
    assert again == sigs


def test_oph_pairs_match_classic_on_sf(spark, sf_dir):
    """The OPH scale path finds exactly the pairs classic minhash finds
    on the test corpus (the property q29's oracle enforces per-round)."""
    from shardpack_spark.operators import dedup
    from shardpack_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").repartition(8)
    sh = dedup.char_shingles(docs, k=5, hashed=True).persist()
    try:
        def pairs(sigs):
            cand = dedup.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
            cand = dedup.filter_candidates_by_signature(cand, sigs, min_estimate=0.6)
            return {
                (r["sid_a"], r["sid_b"])
                for r in dedup.jaccard_pairs_exact(sh, 0.8, candidates=cand).collect()
            }

        classic = pairs(dedup.minhash_signatures(sh, 64).persist())
        oph = pairs(dedup.minhash_oph_profiles(docs, n_bins=64).select("sid", "sig").persist())
        assert classic == oph and len(classic) > 0
    finally:
        sh.unpersist()


def test_lsh_bucket_skew_report_names_what_the_cap_drops(spark):
    """Adversarial duplicate cluster vs the max_bucket_size skew guard:
    a 30-doc template cluster shares EVERY band bucket, so capping at 10
    silently loses the whole cluster's pairs (candidate loss, probed
    here) while small genuine pairs survive.  lsh_bucket_skew_report
    must name exactly those buckets — size 30, sampled members from the
    cluster — so the loss is measured, never silent."""
    from shardpack_spark.operators import dedup

    template = "all work and no play makes jack a dull boy " * 4
    rows = [(i, template) for i in range(30)]                  # mega-cluster
    rows += [(100, "the quick brown fox jumps over the lazy dog tonight"),
             (101, "the quick brown fox jumps over the lazy dog tonite")]
    rng_texts = [
        ("".join(chr(97 + (i * 7 + j * 13) % 26) for j in range(60)))
        for i in range(8)
    ]
    rows += [(200 + i, t) for i, t in enumerate(rng_texts)]    # unrelated
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(
        dedup.char_shingles(df, k=5, hashed=True), n_hashes=64
    ).persist()
    try:
        uncapped = {
            (r.sid_a, r.sid_b)
            for r in dedup.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4).collect()
        }
        capped = {
            (r.sid_a, r.sid_b)
            for r in dedup.minhash_lsh_candidates(
                sigs, bands=16, rows_per_band=4, max_bucket_size=10
            ).collect()
        }
        cluster_pairs = {(a, b) for a in range(30) for b in range(30) if a < b}
        assert cluster_pairs <= uncapped
        assert not (cluster_pairs & capped), "cap drops the mega-cluster"
        assert (100, 101) in capped, "small genuine pair survives the cap"

        report = dedup.lsh_bucket_skew_report(
            sigs, bands=16, rows_per_band=4, threshold=10, sample_ids=5
        ).collect()
        assert len(report) == 16, "identical docs share all 16 band buckets"
        for r in report:
            assert r.bucket_size == 30
            assert len(r.sample_sids) == 5
            assert set(r.sample_sids) <= set(range(30))
        # nothing else is hot
        assert dedup.lsh_bucket_skew_report(sigs, threshold=30).count() == 0
    finally:
        sigs.unpersist()


def test_repetition_signals_zero_shuffle_plan(spark, sf_dir):
    """Every repetition/Gopher signal is document-local, so the plan
    must contain NO exchange: grams build and count inside the row via
    sorted-array folds (the previous shape shuffled every distinct
    (doc, gram) pair of the corpus, twice)."""
    from shardpack_spark.operators.text import gopher_quality_filter, repetition_signals
    from shardpack_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for fn in (repetition_signals, gopher_quality_filter):
        plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, fn.__name__


def test_minhash_against_corpus_side_cap(spark):
    """Incremental-ingest skew guard: a batch probing a corpus whose
    boilerplate cluster exceeds max_bucket_size loses matches INTO that
    cluster only; matches to normal corpus docs survive."""
    from shardpack_spark.operators import dedup

    template = "terms of service apply to all visitors of this site " * 3
    corpus_rows = [(i, template) for i in range(25)]
    corpus_rows += [(50, "a genuinely unique corpus document about spark internals today")]
    new_rows = [(100, template),
                (101, "a genuinely unique corpus document about spark internals todaX")]
    corpus = dedup.minhash_signatures(
        dedup.char_shingles(spark.createDataFrame(corpus_rows, "doc_id long, text string"),
                            k=5, hashed=True), n_hashes=64)
    new = dedup.minhash_signatures(
        dedup.char_shingles(spark.createDataFrame(new_rows, "doc_id long, text string"),
                            k=5, hashed=True), n_hashes=64)
    uncapped = {
        (r.sid_new, r.sid_corpus)
        for r in dedup.minhash_lsh_candidates_against(new, corpus).collect()
    }
    assert (100, 0) in uncapped and (101, 50) in uncapped
    capped = {
        (r.sid_new, r.sid_corpus)
        for r in dedup.minhash_lsh_candidates_against(
            new, corpus, max_bucket_size=10
        ).collect()
    }
    assert not any(c < 25 for _, c in capped), "mega-cluster matches capped away"
    assert (101, 50) in capped, "genuine near-dup survives the cap"


def test_ivf_bucket_skew_report_names_hot_centroid(spark):
    """A degenerate embedding mode (many near-identical vectors) lands
    in one centroid bucket; the report must name that centroid with its
    size and sampled members while balanced buckets stay silent — the
    signal for re-training k / splitting the bucket before nprobe
    pruning quietly stops paying."""
    import numpy as np

    from shardpack_spark.operators.similarity import (
        assign_to_centroids,
        ivf_bucket_skew_report,
    )

    rng = np.random.default_rng(21)
    rows = []
    for i in range(40):  # degenerate mode around +e0
        v = np.array([10.0, 0.0, 0.0]) + 0.01 * rng.standard_normal(3)
        rows.append((i, [float(x) for x in v]))
    for i in range(5):  # small healthy cluster around +e1
        v = np.array([0.0, 10.0, 0.0]) + 0.01 * rng.standard_normal(3)
        rows.append((100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cid long, cvec array<double>",
    )
    assigned = assign_to_centroids(df, cents)
    report = ivf_bucket_skew_report(assigned, threshold=10, sample_ids=4).collect()
    assert len(report) == 1
    r = report[0]
    assert r.cid == 0 and r.bucket_size == 40
    assert r.sample_ids == [0, 1, 2, 3], "row_number over id order"
    assert ivf_bucket_skew_report(assigned, threshold=40).count() == 0


def test_embedding_sketch_skew_guard_and_report(spark):
    """A degenerate embedding cluster (identical vectors -> identical
    rp-sketches) shares every band bucket; max_bucket_size drops those
    buckets while a distinct genuine near-pair survives, and
    embedding_sketch_skew_report names the loss."""
    import numpy as np

    from shardpack_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_sketch_skew_report,
    )

    rng = np.random.default_rng(33)
    base = rng.standard_normal(8)
    rows = [(i, [float(x) for x in base]) for i in range(20)]   # mega-cluster
    other = rng.standard_normal(8)
    rows += [(100, [float(x) for x in other]),
             (101, [float(x) for x in other + 0.001 * rng.standard_normal(8)])]
    rows += [(200 + i, [float(x) for x in rng.standard_normal(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.99, bands=8, rows_per_band=4)
    uncapped = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(df, **kw).collect()}
    cluster_pairs = {(a, b) for a in range(20) for b in range(20) if a < b}
    assert cluster_pairs <= uncapped and (100, 101) in uncapped
    capped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, max_bucket_size=10, **kw).collect()
    }
    assert not (cluster_pairs & capped), "cap drops the mega-cluster"
    assert (100, 101) in capped, "genuine near-pair survives"

    report = embedding_sketch_skew_report(
        df, bands=8, rows_per_band=4, threshold=10, sample_ids=5
    ).collect()
    assert len(report) == 8, "identical sketches share all 8 band buckets"
    for r in report:
        assert r.bucket_size == 20 and set(r.sample_ids) <= set(range(20))
    assert embedding_sketch_skew_report(df, bands=8, rows_per_band=4,
                                        threshold=20).count() == 0


def test_embedding_near_dup_against_ingest(spark):
    """Cross-corpus embedding ingest: candidates come only from
    new-vs-corpus (never within either side), exact-cosine verified,
    corpus-side cap drops matches into a degenerate corpus mode while
    genuine matches survive; plan keeps the corpus un-shuffled before
    the banded join when the batch broadcasts."""
    import numpy as np

    from shardpack_spark.operators.similarity import (
        embedding_near_dup_pairs_against,
    )

    rng = np.random.default_rng(44)
    mode = rng.standard_normal(8)          # degenerate corpus mode
    uniq = rng.standard_normal(8)
    corpus = [(i, [float(x) for x in mode]) for i in range(25)]
    corpus += [(50, [float(x) for x in uniq])]
    new = [(100, [float(x) for x in mode]),
           (101, [float(x) for x in uniq + 0.001 * rng.standard_normal(8)]),
           (102, [float(x) for x in rng.standard_normal(8)])]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    ndf = spark.createDataFrame(new, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.99, bands=8, rows_per_band=4)
    got = {(r.id_new, r.id_corpus)
           for r in embedding_near_dup_pairs_against(ndf, cdf, **kw).collect()}
    assert (101, 50) in got
    assert {(100, c) for c in range(25)} <= got
    assert not any(i == 102 for i, _ in got)
    capped = {(r.id_new, r.id_corpus)
              for r in embedding_near_dup_pairs_against(
                  ndf, cdf, max_bucket_size=10, **kw).collect()}
    assert capped == {(101, 50)}, "mode matches capped away, genuine kept"


# --- r9 optimization parity: pre-collected query/centroid state ------------

def test_query_vec_literal_parity(spark, sf_dir):
    """The r9 driver-state fast path (one collect feeding literal query
    vectors + shared centroid state) must be ROW-IDENTICAL to the
    DataFrame-query path it replaced in q30b: same ids, same cosines to
    the last bit (float32 -> double widening is exact on both paths)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    base = emb.filter(F.col("vec_id") != 0)
    centroids = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qv = list(query.select("embedding").head()[0])
    cstate = similarity.centroid_state(
        [(r[0], r[1]) for r in centroids.collect()]
    )

    def rows(df):
        return sorted((r[0], r[1]) for r in df.collect())

    assert rows(similarity.cosine_topk(emb, None, k=5, exclude_ids=[0], query_vec=qv)) == rows(
        similarity.cosine_topk(emb, query, k=5, exclude_ids=[0])
    )
    assert rows(
        similarity.ivf_topk(base, None, None, k=5, nprobe=3, state=cstate, query_vec=qv)
    ) == rows(similarity.ivf_topk(base, query, centroids, k=5, nprobe=3))
    # driver-side numpy sketch must equal the executor UDF's sketch:
    # identical candidate set, identical scores
    assert rows(
        similarity.rp_lsh_topk(base, None, k=5, n_planes=8, max_hamming=3, query_vec=qv)
    ) == rows(similarity.rp_lsh_topk(base, query, k=5, n_planes=8, max_hamming=3))


def test_minhash_oph_profile_parity(spark, sf_dir):
    """The row-local profile must reproduce the two-level corpus
    aggregate it replaced: per-(sid, bin) minima over the exploded
    hashed shingles, pivoted per sid and densified, exactly; and the
    verify-side (shset, n) fold up to set order."""
    docs = load_table(spark, sf_dir, "documents").limit(200).persist()
    sh = dedup.char_shingles(docs, k=5, hashed=True)
    h = F.xxhash64("shingle", F.lit(42 * dedup._SEED_MIX))
    per_bin = sh.groupBy("sid", F.pmod(h, F.lit(64)).alias("bin")).agg(
        F.min(h).alias("mh")
    )
    sigs = {
        r["sid"]: list(r["sig"])
        for r in per_bin.groupBy("sid")
        .agg(F.map_from_entries(F.collect_list(F.struct("bin", "mh"))).alias("m"))
        .select("sid", F.expr(dedup._oph_densify_sql("m", 64)).alias("sig"))
        .collect()
    }
    sets = {
        r["sid"]: (sorted(r["shset"]), r["n"])
        for r in sh.groupBy("sid")
        .agg(F.collect_set("shingle").alias("shset"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    prof = {
        r["sid"]: (list(r["sig"]), sorted(r["shset"]), r["n"])
        for r in dedup.minhash_oph_profiles(docs, k=5, n_bins=64, seed=42).collect()
    }
    docs.unpersist()
    assert set(prof) == set(sigs) == set(sets)
    for sid, (sig, shset, n) in prof.items():
        assert sig == sigs[sid], f"sig mismatch for {sid}"
        assert (shset, n) == sets[sid], f"set/count mismatch for {sid}"


def test_minhash_oph_profile_has_no_exchange(spark):
    """The profile is a function of each document's own row: its
    executed plan over a local DataFrame shuffles nothing, and duplicate
    ids are not merged (one row in, one profile out)."""
    rows = [(1, "the quick brown fox"), (1, "jumps over the lazy dog"), (2, "abc")]
    prof = dedup.minhash_oph_profiles(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    assert sorted(r["sid"] for r in prof.collect()) == [1, 1]
    assert "Exchange" not in prof._jdf.queryExecution().executedPlan().toString()


def test_tf_idf_matches_python_reference(spark, sf_dir):
    """Row-for-row check of text.tf_idf against a pure-Python
    recomputation at sf0.001 — fast-lane coverage for the r10 df
    rewrite (partial-aggregated groupBy + join replacing the unbounded
    per-term window), independent of the slow-marked oracle sweeps."""
    import math
    from collections import Counter

    from shardpack_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
        for r in text_ops.tf_idf(docs).collect()
    }
    spark.catalog.clearCache()  # tf_idf persists its TF table

    raw = docs.select("doc_id", "text").collect()
    n_docs = len(raw)
    tf = {}
    dfreq = Counter()
    for r in raw:
        terms = [t for t in r["text"].strip().lower().split() if t]
        c = Counter(terms)
        for term, n in c.items():
            tf[(r["doc_id"], term)] = n
        dfreq.update(c.keys())
    assert set(got) == set(tf)
    for (doc, term), n in tf.items():
        df_ = dfreq[term]
        idf = math.log((n_docs + 1) / (df_ + 1)) + 1.0
        g_tf, g_df, g_tfidf = got[(doc, term)]
        assert g_tf == n and g_df == df_
        assert g_tfidf == float(n) * idf  # same IEEE op order, exact
