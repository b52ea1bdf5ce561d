"""LLM-data-pipeline declared checks (Q28-Q31 + extensions Q32-Q39).

Operators live in shardpack_spark.operators.{dedup,similarity,text}; this
module binds them to the driver tables and pairs each with DuckDB oracle
SQL where the semantics are SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shardpack_spark.operators import dedup, sampling, similarity, text
from shardpack_spark.operators.skew import spread_if_narrow
from shardpack_spark.queries import register
from shardpack_spark.queries.canon import round4d
from shardpack_spark.tables import load_table

# --- Q28 exact dedup --------------------------------------------------------

@register(
    "q28_exact_dedup",
    oracle="""
    SELECT sha256(text) AS text_hash, MIN(doc_id) AS survivor_id, COUNT(*) AS dup_cnt
    FROM documents GROUP BY 1
    """,
)
def q28_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: content hash, surviving doc, multiplicity (Q28)."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# --- Q29 fuzzy dedup --------------------------------------------------------

_JACCARD_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT sid, shingle FROM (
        SELECT doc_id AS sid, substring(text, i, 5) AS shingle
        FROM (SELECT doc_id, text, unnest(generate_series(1, length(text)-4)) AS i
              FROM documents WHERE length(text) >= 5)
      )
    ), sizes AS (
      SELECT sid, COUNT(*) AS n FROM sh GROUP BY sid
    ), inter AS (
      SELECT a.sid AS sid_a, b.sid AS sid_b, COUNT(*) AS ic
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY 1, 2
    )
    SELECT i.sid_a, i.sid_b,
           FLOOR(CAST(i.ic AS DOUBLE) / (na.n + nb.n - i.ic) * 10000.0 + 0.5) / 10000.0 AS jac
    FROM inter i
    JOIN sizes na ON na.sid = i.sid_a
    JOIN sizes nb ON nb.sid = i.sid_b
    WHERE CAST(i.ic AS DOUBLE) / (na.n + nb.n - i.ic) >= 0.8
"""


_WORD3_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id AS sid, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT sid, shingle FROM (
        SELECT sid, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
        FROM (SELECT sid, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)
      )
    ), sizes AS (
      SELECT sid, COUNT(*) AS n FROM sh GROUP BY sid
    ), inter AS (
      SELECT a.sid AS sid_a, b.sid AS sid_b, COUNT(*) AS ic
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY 1, 2
    )
    SELECT i.sid_a, i.sid_b,
           FLOOR(CAST(i.ic AS DOUBLE) / (na.n + nb.n - i.ic) * 10000.0 + 0.5) / 10000.0 AS jac
    FROM inter i
    JOIN sizes na ON na.sid = i.sid_a
    JOIN sizes nb ON nb.sid = i.sid_b
    WHERE CAST(i.ic AS DOUBLE) / (na.n + nb.n - i.ic) >= 0.8
"""


@register(
    "q29_fuzzy_dedup",
    oracle=f"""
    SELECT 'exact' AS variant, * FROM ({_JACCARD_ORACLE})
    UNION ALL
    SELECT 'lsh' AS variant, * FROM ({_JACCARD_ORACLE})
    UNION ALL
    SELECT 'oph' AS variant, * FROM ({_JACCARD_ORACLE})
    UNION ALL
    SELECT 'word3' AS variant, * FROM ({_WORD3_ORACLE})
    """,
    doc="Exact-Jaccard pairs, two MinHash scale paths (classic 64-hash "
    "and one-permutation hashing), and the word-3-gram token-level "
    "variant (formerly q55) in one tagged result; each hash family "
    "matching the exact pairs IS its recall check.",
)
def q29_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup three ways (Q29): exact 5-gram Jaccard >= 0.8 pairs
    ('exact' variant) and two 100 TB paths — classic 64-hash MinHash
    ('lsh') and one-permutation hashing with rotation densification
    ('oph', 1/64th the hashing work; Li/Owen/Zhang 2012 + Shrivastava &
    Li 2014) — both: signatures -> banded LSH candidates -> signature
    prefilter -> candidate-scoped exact verification.  All variants must
    agree pair for pair, which the shared oracle enforces.  The exact
    variant is the correctness anchor only — it joins on shared shingles
    without LSH blocking, so it is quadratic in cluster size and benched
    separately (bench measures fuzzy_dedup_lsh, the OPH path you'd run
    at scale)."""
    sh = _shingles(spark, sf_dir)
    exact = dedup.jaccard_pairs_exact(sh, threshold=0.8)
    lsh = _lsh_pairs(sh)
    oph = _oph_pairs(_spread_docs(spark, sf_dir))
    # word-3-gram token-level pairs (the n-gram Jaccard dedup family's
    # token variant, formerly its own query q55)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("sid"),
        F.split(F.trim(F.col("text")), r"\s+").alias("t"),
    ).filter(F.size("t") >= 3)
    # per-document dedup INSIDE the row (array_distinct before the
    # explode), exactly like char_shingles: a trailing .distinct() on the
    # exploded rows would re-shuffle every shingle of every document to
    # remove duplicates that are already local to the row
    wsh = toks.select(
        "sid",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.concat_ws(" ", F.slice("t", i, 3)),
                )
            )
        ).alias("shingle"),
    )
    word3 = dedup.jaccard_pairs_exact(wsh, threshold=0.8)

    def tag(variant: str, pairs: DataFrame) -> DataFrame:
        return pairs.select(
            F.lit(variant).alias("variant"),
            "sid_a",
            "sid_b",
            round4d(F.col("jac")).alias("jac"),
        )

    return (
        tag("exact", exact)
        .unionAll(tag("lsh", lsh))
        .unionAll(tag("oph", oph))
        .unionAll(tag("word3", word3))
    )


def _spread_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, spread across the cluster: the sf test tables
    arrive as ONE parquet split, which would serialize the per-row
    shingling and hashing (the dedup pipelines' dominant cost) onto one
    core.  On a many-split input the guard adds no repartition."""
    return spread_if_narrow(load_table(spark, sf_dir, "documents"))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted shingle table of the exact-Jaccard and classic-minhash
    pipelines, which read it many times (the exact variant's self-join
    side counts as two)."""
    # hashed shingles: longs through every downstream hash/join (see
    # char_shingles docstring) — same pairs, ~2x less hash+shuffle work
    return dedup.char_shingles(_spread_docs(spark, sf_dir), k=5, hashed=True).persist()


def _oph_pairs(docs: DataFrame) -> DataFrame:
    """One-permutation-hashing near-dup pairs of ``docs`` (1 hash per
    shingle into 64 bins: the scale path).  The profile is persisted:
    it has four readers (both banding and both verify sides), and
    recomputing it per reader measured over 2x slower (sf0.1, 4-core
    host)."""
    prof = dedup.minhash_oph_profiles(docs, k=5, n_bins=64, seed=42).persist()
    cand = dedup.minhash_lsh_candidates(
        prof.select("sid", "sig"), bands=16, rows_per_band=4
    )
    return dedup.verify_candidates_with_profiles(
        cand, prof, threshold=0.8, min_estimate=0.6
    )


def _lsh_pairs(sh: DataFrame) -> DataFrame:
    """Classic 64-hash minhash near-dup pairs of the shingle table ``sh``.

    The 64 codegen'd min() aggregates cannot host a collect_set without
    degrading the whole aggregate to interpreted ObjectHashAggregate, so
    the set fold is a separate pass, built once and persisted for both
    verify join sides."""
    sigs = dedup.minhash_signatures(sh, n_hashes=64, seed=42).persist()
    sets = (
        sh.groupBy("sid")
        .agg(F.collect_set("shingle").alias("shset"), F.count(F.lit(1)).alias("n"))
        .persist()
    )
    cand = dedup.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    # signature prefilter kills the false-positive bulk from dense buckets
    # before the (comparatively expensive) exact shingle intersection
    cand = dedup.filter_candidates_by_signature(cand, sigs, min_estimate=0.6)
    return dedup.jaccard_pairs_exact(sh, threshold=0.8, candidates=cand, sets=sets)


def fuzzy_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-only fuzzy dedup — the scale path alone, used by bench.py.
    Same pipeline as q29_fuzzy_dedup's 'oph' variant (one-permutation
    hashing: 1 hash per shingle instead of 64 — the configuration a
    100 TB dedup run would use; its pair output is held equal to the
    exact-Jaccard anchor by q29's oracle) and the same jac rounding.

    The profile persist is NOT unpersisted here (the returned plan
    references it); callers that rebuild this plan repeatedly must
    clear it between runs — bench.py clearCache()s before every timed
    pass (r10), which also re-materializes the profile inside the
    timed region."""
    return _oph_pairs(_spread_docs(spark, sf_dir)).selectExpr(
        # round4d(jac) as one selectExpr: FLOOR(double)/double — the
        # identical IEEE op sequence (D suffixes matter: un-suffixed
        # 10000.0 would parse as DECIMAL and change the arithmetic)
        "sid_a", "sid_b", "FLOOR(jac * 10000.0D + 0.5D) / 10000.0D AS jac"
    )


@register(
    "q33_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ), toks2 AS (
      SELECT doc_id, term FROM toks WHERE length(term) > 0
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS nd FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           FLOOR(CAST(tf.tf AS DOUBLE)
                 * (LN(CAST(n.nd + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0)
                 * 10000.0 + 0.5) / 10000.0 AS tfidf
    FROM tf JOIN dfreq USING (term), n
    """,
    doc="Per-(doc, term) TF-IDF with smoothed idf — tokenize once, two "
    "shuffles, vocabulary join.",
)
def q33_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF vectorization of the documents table (Q33): term frequency
    per (doc, term), document frequency per term, smoothed
    idf = ln((N+1)/(df+1)) + 1, all cross-checked against a full SQL
    reimplementation."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.tf_idf(docs)
    return out.select("doc_id", "term", "tf", "df", round4d(F.col("tfidf")).alias("tfidf"))


@register(
    "q43_contamination",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
      FROM documents
    ), ng AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS ng
      FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
            FROM w WHERE len(words) >= 5)
    ), bench AS (
      SELECT DISTINCT ng FROM ng WHERE doc_id % 10 = 0
    ), evald AS (SELECT * FROM ng WHERE doc_id % 10 <> 0)
    SELECT e.doc_id,
           COUNT(*) AS n_ngrams,
           COUNT(b.ng) AS n_matched,
           FLOOR(CAST(COUNT(b.ng) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0
             AS contamination
    FROM evald e LEFT JOIN bench b ON e.ng = b.ng
    GROUP BY e.doc_id
    """,
    doc="Word-5-gram benchmark-overlap decontamination check, "
    "hash-checked against an all-SQL reimplementation.",
)
def q43_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination (Q43): every tenth document plays the
    held-out benchmark; for each remaining document, the fraction of its
    distinct word 5-grams that appear anywhere in the benchmark.  The
    n-grams are built inside the row (no shuffle), matched with one join
    on the n-gram string, aggregated per doc."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    evald = docs.filter(F.col("doc_id") % 10 != 0)
    out = text.ngram_contamination(evald, bench, n=5)
    return out.select("doc_id", "n_ngrams", "n_matched", "contamination")


# --- Q30 similarity search --------------------------------------------------

_COS = (
    "LIST_REDUCE(LIST_TRANSFORM(e.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a, b) -> a + b)"
    " / (SQRT(LIST_REDUCE(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"
    " * SQRT(LIST_REDUCE(LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)))"
)


_EXACT_TOP5_ORACLE = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, {_COS} AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0
    )
    SELECT vec_id, FLOOR(cos * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM scored ORDER BY cos DESC, vec_id LIMIT 5
"""


@register(
    "q30b_ann_suite",
    oracle=f"""
    SELECT 'exact' AS variant, * FROM ({_EXACT_TOP5_ORACLE})
    UNION ALL
    SELECT 'ivf' AS variant, * FROM ({_EXACT_TOP5_ORACLE})
    UNION ALL
    SELECT 'rp_lsh' AS variant, * FROM ({_EXACT_TOP5_ORACLE})
    """,
    doc="Exact brute-force cosine top-k plus IVF and rp-LSH ANN at full "
    "probe depth/radius in one tagged result — assignment, bucket "
    "routing, sketching, and scoring hash-checked against exact top-k; "
    "pruned recall is pytest-checked.",
)
def q30b_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search three ways (Q30), tagged by variant.

    'exact' is the TakeOrdered brute-force baseline; 'ivf' probes EVERY
    centroid and 'rp_lsh' allows the full Hamming radius, so each must
    reproduce the exact top-5 — verifying centroid assignment, bucket
    routing, sketching, and scoring end to end.  Approximate settings
    (nprobe < n_centroids, radius < n_planes) are exercised for recall
    in tests/test_llm_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    # ONE driver job gathers the query vector AND the IVF centroid set
    # (both O(k*d) driver state by contract); the old shape ran four —
    # assignment's centroid collect, ivf's own, the query collect, and a
    # broadcast build with a dedicated Python sketch pass for the query.
    # Scores are bit-identical: literal query vectors widen float32 ->
    # double exactly like the broadcast path (similarity._query_arr_sql).
    pre = (
        emb.filter((F.col("vec_id") == 0) | (F.col("vec_id") % 50 == 7))
        .select("vec_id", "embedding")
        .collect()
    )
    qv = next(list(r["embedding"]) for r in pre if r["vec_id"] == 0)
    cstate = similarity.centroid_state(
        [(r["vec_id"], r["embedding"]) for r in pre if r["vec_id"] % 50 == 7]
    )
    exact = similarity.cosine_topk(emb, None, k=5, exclude_ids=[0], query_vec=qv)
    base = emb.filter(F.col("vec_id") != 0)
    ivf = similarity.ivf_topk(
        base, None, None, k=5, nprobe=1_000_000, state=cstate, query_vec=qv
    )
    lsh = similarity.rp_lsh_topk(
        base, None, k=5, n_planes=8, max_hamming=8, query_vec=qv
    )

    def tag(variant: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(variant).alias("variant"),
            "vec_id",
            round4d(F.col("cosine")).alias("cosine"),
        )

    return tag("exact", exact).unionAll(tag("ivf", ivf)).unionAll(tag("rp_lsh", lsh))


@register(
    "q30d_sampling",
    oracle="""
    SELECT 'bernoulli' AS variant, doc_id, lang, source FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 8) < '0ccccccc'
    UNION ALL
    SELECT 'stratified' AS variant, doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 3
    UNION ALL
    SELECT 'topn' AS variant, doc_id, lang, source FROM (
      SELECT doc_id, lang, source FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id LIMIT 20
    )
    UNION ALL
    SELECT 'mixture' AS variant, doc_id, lang, source FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 8) <
          CASE lang WHEN 'en' THEN 'e6666666' WHEN 'zh' THEN '33333333'
                    ELSE '80000000' END
    UNION ALL
    SELECT 'split_' || CASE
             WHEN substring(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 8) < '19999999' THEN 'test'
             WHEN substring(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 8) < 'e6666666' THEN 'train'
             ELSE 'val'
           END AS variant, doc_id, lang, source
    FROM documents
    """,
    doc="Deterministic hash-keyed sampling: Bernoulli filter, "
    "per-(lang,source) stratified top-3, a global top-20 reservoir "
    "stand-in, and a per-language mixture down-sample hitting a target "
    "corpus mix — all reproducible pure functions of the data.",
)
def q30d_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling suite over documents (training-pipeline
    subsetting).  'bernoulli' keeps ~5% by md5 hash threshold (codegen
    filter, no shuffle); 'stratified' keeps up to 3 docs per
    (lang, source) stratum (one window shuffle); 'topn' is the 20
    smallest hashes globally (TakeOrdered, no global sort).  All three
    are partitioning-independent, so the oracle reproduces them exactly
    — something rand()/df.sample() can never offer."""
    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source"]

    def tag(variant: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(variant).alias("variant"), *cols)

    return (
        tag("bernoulli", sampling.hash_sample(docs, "doc_id", 0.05, seed=42))
        .unionAll(
            tag(
                "stratified",
                sampling.stratified_sample(docs, ["lang", "source"], 3, "doc_id", seed=42),
            )
        )
        .unionAll(tag("topn", sampling.hash_sample_n(docs, "doc_id", 20, seed=42)))
        .unionAll(
            tag(
                "mixture",
                sampling.mixture_sample(
                    docs,
                    "lang",
                    {"en": 0.9, "zh": 0.2},
                    "doc_id",
                    seed=42,
                    default_rate=0.5,
                ),
            )
        )
        .unionAll(
            # every row labeled: the oracle reproduces the exact cumulative
            # hash thresholds, proving split membership is engine-portable
            sampling.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
            .select(F.concat(F.lit("split_"), F.col("split")).alias("variant"), *cols)
        )
    )


@register(
    "q38_embedding_near_dup",
    oracle=f"""
    SELECT e.vec_id AS id_a, b.vec_id AS id_b,
           FLOOR(
             LIST_REDUCE(LIST_TRANSFORM(e.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (a, c) -> a + c)
             / (SQRT(LIST_REDUCE(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, c) -> a + c))
                * SQRT(LIST_REDUCE(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, c) -> a + c)))
             * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM embeddings e JOIN embeddings b
      ON e.vec_id < b.vec_id
    WHERE LIST_REDUCE(LIST_TRANSFORM(e.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (a, c) -> a + c)
          / (SQRT(LIST_REDUCE(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, c) -> a + c))
             * SQRT(LIST_REDUCE(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, c) -> a + c))) >= 0.4
    """,
)
def q38_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via rp-LSH *sketch* blocking (Q38).

    No semantic block column: vectors are banded by random-hyperplane
    sign sketches and only same-bucket candidates get the exact cosine
    verification.  The oracle is the UNBLOCKED all-pairs reference, so a
    hash match proves the sketch blocking lost no qualifying pair.
    Threshold 0.4 fits the synthetic data (max cosine ~0.47) — a
    deliberately adversarial setting for LSH, hence 48 bands; realistic
    >= 0.9 near-dup thresholds need far fewer.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4)
    return pairs.select("id_a", "id_b", round4d(F.col("cosine")).alias("cosine"))


# --- Q31-Q35 text analysis --------------------------------------------------

@register(
    "q31_text_stats",
    oracle=r"""
    SELECT lang, COUNT(*) AS doc_cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           FLOOR(CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
                 / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def q31_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc count, char volume, mean token count (Q31)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_chars").alias("sum_chars"),
        round4d(F.sum(toks).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


# lower(text): the Spark side tokenizes LOWERCASED text, so 'The' counts —
# the oracle must match (latent divergence found by the adversarial-corpus
# fuzz; the driver corpus is all-lowercase and never exposed it)
_STOP_SQL = " + ".join(
    rf"len(regexp_extract_all(lower(text), '\b{w}\b'))" for w in text._STOPWORDS
)

_FEAT_ORACLE = rf"""
    WITH feat AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens,
             len(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt,
             len(regexp_extract_all(text, '[A-Za-z]')) AS alpha_cnt,
             {_STOP_SQL} AS stop_cnt,
             LIST_REDUCE(LIST_TRANSFORM(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                         (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint
      FROM documents
    )
    SELECT doc_id, n_chars, ws_tokens, bpe_tokens,
           FLOOR(CAST(punct_cnt AS DOUBLE) / n_chars * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
           FLOOR(CAST(alpha_cnt AS DOUBLE) / n_chars * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
           FLOOR((0.4 * (CAST(alpha_cnt AS DOUBLE) / n_chars)
                  + 0.4 * LEAST(CAST(stop_cnt AS DOUBLE) / ws_tokens * 2, 1.0)
                  - 0.2 * (CAST(punct_cnt AS DOUBLE) / n_chars)) * 10000.0 + 0.5) / 10000.0 AS quality,
           fingerprint
    FROM feat
"""

# The synthetic wrapping both engines build identically: paragraphs from
# the document's newlines, plus hostile bits — a <script> whose BODY
# contains markup (non-greedy block drop must not overrun), entities that
# must decode to literal text, and attributes on stripped tags.
_HTML_WRAP_SQL = """
    '<html><head><style>p{color:red}</style>'
    || '<script type="text/javascript">var s = "<p>not text</p>";</script>'
    || '</head><body><h1 class="t">Title</h1><p>'
    || replace(text, chr(10), '</p><p>')
    || '</p><div id="f">&amp; &lt;tag&gt; &quot;q&quot;&nbsp;&#39;s&#39;</div></body></html>'
"""

# DuckDB replay of text.html_to_text, generated from the same pattern
# constants (text.html_extract_sql) so the two engines cannot drift.
_HTML_EXTRACT_SQL = text.html_extract_sql(_HTML_WRAP_SQL)

_HTML_ORACLE = rf"""
    WITH x AS (
      SELECT doc_id, {_HTML_EXTRACT_SQL} AS xt FROM documents
    )
    SELECT doc_id,
           CAST(length(xt) AS BIGINT) AS n_chars,
           CAST(len(regexp_split_to_array(trim(xt), '\s+')) AS INT) AS ws_tokens,
           CAST(NULL AS INT) AS bpe_tokens,
           CAST(NULL AS DOUBLE) AS punct_ratio,
           CAST(NULL AS DOUBLE) AS alpha_ratio,
           CAST(NULL AS DOUBLE) AS quality,
           LIST_REDUCE(LIST_TRANSFORM(string_split(xt, ''), c -> CAST(ascii(c) AS BIGINT)),
                       (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint
    FROM x
"""


@register(
    "q32_doc_features",
    oracle=f"""
    SELECT 'feat' AS variant, * FROM ({_FEAT_ORACLE})
    UNION ALL
    SELECT 'html' AS variant, * FROM ({_HTML_ORACLE})
    """,
    doc="Per-doc text features in one scan (token counts Q32, quality "
    "Q33, fingerprint Q35) plus the 'html' variant: HTML-to-text "
    "extraction (script/style drop, tag strip, entity decode, whitespace "
    "canon) verified by char-count, token-count and a rolling hash of "
    "the EXTRACTED text — both engines build the same hostile markup "
    "wrapping and must extract bit-identical text.",
)
def q32_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-doc text features in one scan: whitespace/BPE-ish token
    counts (Q32), quality features + composite (Q33), rolling-hash
    fingerprint (Q35); 'html' variant certifies text.html_to_text."""
    docs = load_table(spark, sf_dir, "documents")
    feat = text.doc_features(docs)
    html = F.concat(
        F.lit('<html><head><style>p{color:red}</style>'),
        F.lit('<script type="text/javascript">var s = "<p>not text</p>";</script>'),
        F.lit('</head><body><h1 class="t">Title</h1><p>'),
        F.replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
        F.lit('</p><div id="f">&amp; &lt;tag&gt; &quot;q&quot;&nbsp;&#39;s&#39;</div></body></html>'),
    )
    xt = text.html_to_text(html)
    hf = docs.select(
        "doc_id",
        F.length(xt).cast("bigint").alias("n_chars"),
        F.size(F.split(F.trim(xt), r"\s+")).cast("int").alias("ws_tokens"),
        F.lit(None).cast("int").alias("bpe_tokens"),
        F.lit(None).cast("double").alias("punct_ratio"),
        F.lit(None).cast("double").alias("alpha_ratio"),
        F.lit(None).cast("double").alias("quality"),
        text.rolling_fingerprint(xt).alias("fingerprint"),
    )

    def tag(variant: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(variant).alias("variant"), "*")

    return tag("feat", feat).unionAll(tag("html", hf))


def _lang_score_sql(lang: str) -> str:
    return " + ".join(
        rf"len(regexp_extract_all(lower(text), '\b{w}\b'))" for w in text.LANG_MARKERS[lang]
    )

_LANGS = sorted(text.LANG_MARKERS)
_SCORES_SQL = ",\n           ".join(
    f"CAST({_lang_score_sql(lang)} AS INT) AS score_{lang}" for lang in _LANGS
)
_PRED_SQL = "CASE " + " ".join(
    f"WHEN score_{lang} = g THEN '{lang}'" for lang in _LANGS
) + " END"

@register(
    "q34_lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
           {_SCORES_SQL}
      FROM documents
    ), g AS (
      SELECT *, GREATEST({", ".join("score_" + lang for lang in _LANGS)}) AS g FROM s
    )
    SELECT doc_id, {", ".join("score_" + lang for lang in _LANGS)}, {_PRED_SQL} AS pred_lang
    FROM g
    """,
)
def q34_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-keyword language ID with deterministic tie-break (Q34).

    Scale-adaptive spread (guide §2.5 input skew): the sf fixtures are
    ONE single-row-group parquet file = one scan split, which serializes
    the 25-marker scoring (the dominant cost — ~100 us/doc) onto a single
    core.  When the scan under-parallelizes, shuffle the raw docs first;
    on a real many-split input the condition is false and no shuffle is
    added.  Measured (interleaved A/B at sf0.1): 0.67 -> 0.54 s min.
    The same guard deliberately does NOT apply to cheap-per-row scans
    (q28/q31: repartition moved full text just to hash/count and measured
    2-3x SLOWER)."""
    docs = spread_if_narrow(load_table(spark, sf_dir, "documents"))
    return text.lang_scores(docs)


# --- simhash ----------------------------------------------------------------
# Token hash = first 64 bits of sha256(token) as two 32-bit halves, so the
# ENTIRE simhash computation is expressible in DuckDB SQL and hash-checked
# (previously xxhash64-based and rows-only).

def _simhash_sim_cte() -> str:
    """DuckDB CTE chain computing (sid, sim_hi, sim_lo) like dedup.simhash."""
    vote_cols = []
    for b in range(64):
        src, sh = ("h_lo", b) if b < 32 else ("h_hi", b - 32)
        vote_cols.append(
            f"SUM(CASE WHEN ({src} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        )
    pack_hi = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << (b - 32)} ELSE 0 END)" for b in range(32, 64))
    pack_lo = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(0, 32))
    return rf"""
    toks AS (
      SELECT sid, tok FROM (
        SELECT doc_id AS sid, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ) WHERE length(tok) > 0
    ), th AS (
      SELECT sid,
             CAST(('0x' || substr(sha256(tok), 1, 8)) AS BIGINT) AS h_hi,
             CAST(('0x' || substr(sha256(tok), 9, 8)) AS BIGINT) AS h_lo
      FROM toks
    ), votes AS (
      SELECT sid, {", ".join(vote_cols)} FROM th GROUP BY sid
    ), sim AS (
      SELECT sid, CAST({pack_hi} AS BIGINT) AS sim_hi, CAST({pack_lo} AS BIGINT) AS sim_lo
      FROM votes
    )"""


@register(
    "q36_simhash",
    oracle=f"""
    WITH {_simhash_sim_cte()},
    bands AS (
      SELECT sid, sim_hi, sim_lo, b.band,
             CASE WHEN b.band < 2 THEN (sim_lo >> (16 * b.band)) & 65535
                  ELSE (sim_hi >> (16 * (b.band - 2))) & 65535 END AS key
      FROM sim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
    ),
    bsize AS (
      SELECT band, key, COUNT(*) AS bs FROM bands GROUP BY band, key
    ),
    kept AS (
      SELECT bands.sid, bands.band, bands.key, bands.sim_hi, bands.sim_lo
      FROM bands JOIN bsize USING (band, key) WHERE bs <= 8
    ),
    capped AS (
      SELECT DISTINCT a.sid AS sid_a, b.sid AS sid_b,
             bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS hamming
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.key = b.key AND a.sid < b.sid
    )
    SELECT 'hash' AS variant, sid AS id, sim_hi AS x, sim_lo AS y FROM sim
    UNION ALL
    SELECT 'pair' AS variant, a.sid AS id, b.sid AS x,
           CAST(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT) AS y
    FROM sim a JOIN sim b ON a.sid < b.sid
    WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3
    UNION ALL
    SELECT 'capped' AS variant, sid_a AS id, sid_b AS x, CAST(hamming AS BIGINT) AS y
    FROM capped WHERE hamming <= 3
    UNION ALL
    SELECT 'skew' AS variant, CAST(band AS BIGINT) AS id, CAST(key AS BIGINT) AS x,
           CAST(bs AS BIGINT) AS y
    FROM bsize WHERE bs > 8
    """,
    doc="SimHash values, banded near-dup pairs, skew-capped pairs, and "
    "the hot-bucket report in one tagged result.",
)
def q36_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash suite (Q36+Q37): 'hash' rows carry each doc's 64-bit
    SimHash as two 32-bit halves (id=sid, x=sim_hi, y=sim_lo),
    hash-checked against a full SQL reimplementation of the bit votes;
    'pair' rows are the banded near-dup candidates at Hamming <= 3
    (id=sid_a, x=sid_b, y=hamming) — the oracle checks the banded
    generation against ALL pairs, which is lossless at this radius
    (4 disjoint 16-bit bands); 'capped' rows re-run the banded join
    under the max_bucket_size=8 skew guard (the adversarial-corpus
    protection), whose exact drop semantics the oracle recomputes from
    explicit (band, key) bucket sizes; 'skew' rows are
    ``hamming_bucket_skew_report``'s hot buckets (id=band, x=slice key,
    y=bucket size) — the report that names what the cap drops."""
    from shardpack_spark.operators.perceptual import hamming_bucket_skew_report

    # four variants consume the same SimHash table; without the persist
    # each union leg re-runs the sha256-per-token + 64-vote aggregation
    # (the query's dominant cost) — cache it once per execution
    sim = dedup.simhash(load_table(spark, sf_dir, "documents")).persist()
    pairs = dedup.simhash_near_pairs(sim, bands=4)
    hash_rows = sim.select(
        F.lit("hash").alias("variant"),
        F.col("sid").alias("id"),
        F.col("sim_hi").alias("x"),
        F.col("sim_lo").alias("y"),
    )
    pair_rows = pairs.select(
        F.lit("pair").alias("variant"),
        F.col("sid_a").alias("id"),
        F.col("sid_b").alias("x"),
        F.col("hamming").cast("bigint").alias("y"),
    )
    capped_rows = dedup.simhash_near_pairs(sim, bands=4, max_bucket_size=8).select(
        F.lit("capped").alias("variant"),
        F.col("sid_a").alias("id"),
        F.col("sid_b").alias("x"),
        F.col("hamming").cast("bigint").alias("y"),
    )
    skew_rows = hamming_bucket_skew_report(sim, bands=4, threshold=8).select(
        F.lit("skew").alias("variant"),
        F.col("band").cast("bigint").alias("id"),
        F.col("key").cast("bigint").alias("x"),
        F.col("bucket_size").cast("bigint").alias("y"),
    )
    return hash_rows.unionAll(pair_rows).unionAll(capped_rows).unionAll(skew_rows)


@register(
    "q37_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT sid_a AS u, sid_b AS v FROM pairs
      UNION ALL
      SELECT sid_b AS u, sid_a AS v FROM pairs
    ),
    verts AS (SELECT DISTINCT u FROM edges),
    reach(u, v) AS (
      SELECT u, u FROM verts
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS sid, MIN(v) AS cluster,
           CAST(CASE WHEN MIN(v) = u THEN 1 ELSE 0 END AS INT) AS is_canonical
    FROM reach GROUP BY u
    """,
    doc="Near-dup pairs resolved to connected-component clusters; the "
    "oracle recomputes components with a recursive reachability CTE.",
)
def q37_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution (pairs -> clusters -> canonical
    survivor): exact Jaccard >= 0.8 pairs feed iterative min-label
    propagation (operators/dedup.connected_components); cluster id is
    the component's minimum doc id and is_canonical marks the row a
    dedup pipeline would keep."""
    sh = _shingles(spark, sf_dir)
    pairs = dedup.jaccard_pairs_exact(sh, threshold=0.8)
    clusters = dedup.connected_components(pairs)
    return clusters.select(
        "sid",
        "cluster",
        F.when(F.col("sid") == F.col("cluster"), 1).otherwise(0).cast("int").alias("is_canonical"),
    )
