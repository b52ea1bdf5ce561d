"""Deduplication operators for large-scale training-data pipelines.

All operators are shard-parallel DataFrame compositions — no driver-side
collects.  Scale notes per operator:

- exact_dedup:       one hash-shuffle on the 256-bit content hash.
- shingles/minhash:  explode is linear in total text size; the signature
                     aggregation is a single groupBy(doc) with N min()
                     partial aggregates (map-side combined).
- OPH profile:       row-local — signature, shingle set and count are
                     computed on each document's own row: no explode,
                     no aggregate, no shuffle.
- minhash_lsh_pairs: candidate generation shuffles on (band, band_hash) —
                     bucket sizes stay small for realistic data, and the
                     exact-Jaccard verification only touches candidates,
                     never the O(n^2) pair space.
- simhash:           64 conditional-sum partial aggregates per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Odd multiplier decorrelating the per-hash-function seeds fed to xxhash64.
_SEED_MIX = 0x9E3779B1


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_by: str | None = None,
) -> DataFrame:
    """Exact dedup on sha256(text): one surviving row per content hash.

    Default survivor is the minimum id.  ``keep_by`` names a column to
    maximize instead (highest quality score, most recent crawl, ...),
    with min-id as the deterministic tiebreak — a lexicographic struct
    max, so it stays ONE partial-aggregated shuffle on the hash, same as
    the min-id path.  Returns (text_hash, survivor_id, dup_cnt).
    """
    if keep_by is None:
        survivor = F.min(id_col)
    else:
        # struct MIN over (negated keep_by, id): best keep_by first, then
        # smallest id — negating the (numeric) SCORE instead of the id
        # keeps the id column type-agnostic (string/hash ids work, as in
        # the default path; unary minus on a string id would ANSI-fail)
        survivor = F.min(
            F.struct(
                (-F.col(keep_by).cast("double")).alias("nq"),
                F.col(id_col).alias("id"),
            )
        )["id"]
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash"))
        .agg(survivor.alias("survivor_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def _kgrams(text_col: str, k: int) -> Column:
    """The distinct character k-grams of ``text_col``, as an array built
    on the row (``length >= k`` is the caller's filter)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> substring({text_col}, i, {k}))"
        )
    )


def char_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    hashed: bool = False,
) -> DataFrame:
    """Distinct character k-gram shingles per document: (id, shingle).

    Per-document dedup happens INSIDE the row (array_distinct over the
    transform-built shingle array) before the explode: one document's
    shingles never leave their partition, so there is NO shuffle here —
    a trailing .distinct() on the exploded rows would re-shuffle every
    shingle of every document just to remove duplicates that are already
    local to the row.  Rows scale with total characters, never docs^2.

    ``hashed=True`` replaces each shingle string with its xxhash64 (a
    LONG): minhash then derives its n_hashes values from 8 fixed bytes
    instead of re-hashing the string n_hashes times, and the exact-
    Jaccard self-join shuffles fixed-width longs instead of UTF-8 —
    identical results up to 64-bit hash collisions (P < 1e-7 at a
    billion distinct shingles), the standard trade every production
    near-dup pipeline makes."""
    out = df.filter(F.length(text_col) >= k).select(
        F.col(id_col).alias("sid"), F.explode(_kgrams(text_col, k)).alias("shingle")
    )
    if hashed:
        out = out.select("sid", F.xxhash64("shingle").alias("shingle"))
    return out


def minhash_signatures(
    shingled: DataFrame, n_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(sid, sig: array<bigint>) minhash signature per document.

    One groupBy(sid) with n_hashes min() aggregates — partial aggregation
    (map-side combine) keeps the shuffle at one row per (doc, n_hashes).

    Each hash function is xxhash64 seeded differently via an extra mixed
    literal column — genuinely independent functions.  (A linear
    ``a_i*h + b_i mod M`` family with structured coefficients is NOT
    independent across i: one shingle can win the min for every i, making
    signature agreement all-or-nothing.)
    """
    mins = [
        F.min(F.xxhash64("shingle", F.lit((seed + i) * _SEED_MIX))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    agged = shingled.groupBy("sid").agg(*mins)
    return agged.select("sid", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def _oph_densify_sql(map_col: str, n_bins: int) -> str:
    """Rotation densification of the ``(bin -> min)`` map column
    ``map_col``, expanded to a sparse (NULL-holed) per-bin array.

    Runs over the doubled array: after one full cycle every slot has seen
    a non-empty bin (a doc always has >= 1), so the second half is fully
    dense.  A filled slot's value is xxhash64(borrowed value, borrow
    distance): two docs agree on a filled slot exactly when they borrowed
    EQUAL values at EQUAL distance (the rotation-densification agreement
    rule), and hashing avoids the long-overflow a wraparound add would
    hit under ANSI.  One parsed SQL string: a single py4j round trip
    instead of ~40 building the fold through the Column API."""
    sparse = (
        f"transform(sequence(0, {int(n_bins) - 1}), "
        f"j -> element_at({map_col}, CAST(j AS INT)))"
    )
    return (
        f"aggregate(concat({sparse}, {sparse}), "
        f"struct(CAST(array() AS array<bigint>) AS out, "
        f"CAST(NULL AS bigint) AS last, 0 AS dist), "
        f"(acc, x) -> struct("
        f"concat(acc.out, array(coalesce(x, xxhash64(acc.last, acc.dist)))) AS out, "
        f"coalesce(x, acc.last) AS last, "
        f"(CASE WHEN x IS NULL THEN acc.dist + 1 ELSE 0 END) AS dist), "
        f"acc -> slice(acc.out, {int(n_bins) + 1}, {int(n_bins)}))"
    )


def minhash_oph_profiles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_bins: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Per-document one-permutation-hashing dedup profile
    (sid, sig, shset, n), one row per input row.

    OPH (Li, Owen & Zhang 2012) hashes each shingle ONCE and keeps the
    minimum per ``hash mod n_bins`` bin — n_bins signature slots for
    1/n_bins of classic minhash's hashing work; empty bins are filled by
    rotation densification (``_oph_densify_sql``).  ``sig`` has
    ``minhash_signatures``' shape but another hash family: don't mix the
    two in one index.

    All of it is computed on the document's own row: the distinct
    character k-grams (``n`` counts them), their xxhash64 set ``shset``
    (the ``char_shingles(hashed=True)`` values) and the per-bin minima of
    a seeded rehash, the first entry of each bin in the sorted
    ``(bin, hash)`` array.  No explode, no aggregate, no shuffle — and no
    merge of duplicate ids: give each document a unique ``id_col``.

    Persist it, band ``select("sid", "sig")`` with
    ``minhash_lsh_candidates`` and verify with
    ``verify_candidates_with_profiles``: the chain of q29's 'oph'
    variant and ``queries.llm.fuzzy_dedup_lsh``."""
    rehash = f"transform(shset, x -> xxhash64(x, {int(seed) * _SEED_MIX}L))"
    return (
        df.filter(F.length(text_col) >= k)
        .select(F.col(id_col).alias("sid"), _kgrams(text_col, k).alias("g"))
        .selectExpr(
            "sid",
            "CAST(size(g) AS BIGINT) AS n",
            "array_distinct(transform(g, x -> xxhash64(x))) AS shset",
        )
        .selectExpr(
            "sid", "shset", "n",
            f"array_sort(transform({rehash}, h -> struct("
            f"pmod(h, {int(n_bins)}) AS bin, h AS mh))) AS s",
        )
        .selectExpr(
            "sid", "shset", "n",
            "map_from_entries(filter(s, (e, i) -> i = 0 OR s[i - 1].bin <> e.bin)) AS m",
        )
        .selectExpr("sid", f"{_oph_densify_sql('m', n_bins)} AS sig", "shset", "n")
    )


def _lsh_banded_rows(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(sid, band, bh) banded rows — the LSH shuffle key.  Shared by
    within- and cross-corpus candidate generation and the skew report so
    all see the SAME buckets.

    Built as ONE parsed SQL expression: the former per-band Column
    listcomp cost ~70 py4j round trips (~0.3 s of driver latency on
    every plan build).  Value-identical — ``b`` stays an INT (sequence
    of int literals), the band hash is the same ``xxhash64`` over the
    same ``slice`` of the signature."""
    bb = (
        f"explode(transform(sequence(0, {int(bands) - 1}), b -> struct("
        f"b AS band, "
        f"xxhash64(slice(sig, b * {int(rows_per_band)} + 1, {int(rows_per_band)})) AS bh)))"
    )
    return signatures.select("sid", F.expr(bb).alias("bb")).select(
        "sid", "bb.band", "bb.bh"
    )


def lsh_bucket_skew_report(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: int = 1000,
    sample_ids: int = 8,
) -> DataFrame:
    """Hot-bucket report for the banded LSH shuffle: one row per
    (band, bh) bucket holding more than ``threshold`` docs, with the
    bucket size and ``sample_ids`` member sids -> ``(band, bh,
    bucket_size, sample_sids)``.

    This is the observability side of ``minhash_lsh_candidates``'s
    ``max_bucket_size`` guard: run it with ``threshold =
    max_bucket_size`` to see exactly which buckets the cap WILL drop
    (count + representative documents) before trading completeness for
    skew protection — a mega-bucket is usually boilerplate (empty docs,
    a template, a crawler error page) and the samples name it.

    Scale shape: shared with every skew report in the package
    (``operators.skew.bucket_skew_report``): partial-agg bucket sizing,
    broadcast semi-join to hot rows only, and deterministic hash
    thinning before the ranking window so the report itself survives
    the mega-bucket it diagnoses.
    """
    from shardpack_spark.operators.skew import bucket_skew_report

    banded = _lsh_banded_rows(signatures, bands, rows_per_band)
    return bucket_skew_report(
        banded, ["band", "bh"], "sid", threshold, sample_ids,
        sample_col="sample_sids",
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (sid_a < sid_b) via LSH banding.

    Docs agreeing on ALL rows of any band land in the same bucket; the
    shuffle key is (band, hash(band slice)), so the pair space is never
    materialized globally.

    ``max_bucket_size`` (opt-in) drops mega-buckets before the self-join:
    a bucket of m docs costs m^2 pairs.  Beware: a genuine duplicate
    CLUSTER of more than max_bucket_size docs shares every band bucket,
    so capping silently drops that cluster's pairs — use it only as a
    skew guard on adversarial data, and pair it with
    ``lsh_bucket_skew_report(signatures, bands, rows_per_band,
    threshold=max_bucket_size)``, which names every bucket the cap will
    drop (size + sample members) so the loss is measured, never silent.
    Default None = exact candidate semantics.
    """
    banded = _lsh_banded_rows(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        from shardpack_spark.operators.skew import drop_hot_buckets

        # partial-agg count + broadcast anti-join (was a count-over-window,
        # which re-shuffled every banded row on the bucket key)
        banded = drop_hot_buckets(banded, ["band", "bh"], max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.sid") < F.col("r.sid")),
        )
        .select(F.col("l.sid").alias("sid_a"), F.col("r.sid").alias("sid_b"))
        .distinct()
    )


def minhash_lsh_candidates_against(
    new_signatures: DataFrame,
    corpus_signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    broadcast_new: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH candidates BETWEEN two corpora (never within one).

    The incremental-ingest pattern at 100 TB: the standing corpus's
    minhash signatures are computed once and stored (parquet/shardpack);
    each incoming batch is signed with the SAME (n_hashes, seed) and its
    banded rows are equi-joined against the corpus's banded rows on
    (band, band_hash).  The join space is new-vs-corpus only — ingesting
    a batch costs O(|batch| * bands) rows, not a self-join over the
    re-unioned corpus.  Returns distinct (sid_new, sid_corpus).

    ``broadcast_new`` is the steady-state ingest shape: with the batch
    side broadcast, the corpus's banded rows are SCANNED but never
    SHUFFLED — per-batch cost is one corpus read plus O(|batch|) work,
    independent of corpus size in shuffle terms.  Leave False when the
    "new" side is itself huge (a backfill merging two corpora).

    ``max_bucket_size`` (opt-in) caps CORPUS-side band buckets — the
    cross blowup is (hot corpus bucket) x (matching batch rows), and
    it is the standing corpus where boilerplate clusters accumulate
    over time.  The hot-bucket set comes from a partial-agg groupBy
    (the shuffle carries (band, bh, count), never corpus rows) and is
    removed by a broadcast anti-join, preserving the no-corpus-shuffle
    property.  Measure the loss first with ``lsh_bucket_skew_report``
    on the corpus signatures at ``threshold=max_bucket_size``.
    """

    new_banded = _lsh_banded_rows(
        new_signatures, bands, rows_per_band
    ).withColumnRenamed("sid", "sid_new")
    if broadcast_new:
        new_banded = F.broadcast(new_banded)
    corpus_banded = _lsh_banded_rows(
        corpus_signatures, bands, rows_per_band
    ).withColumnRenamed("sid", "sid_corpus")
    if max_bucket_size is not None:
        from shardpack_spark.operators.skew import drop_hot_buckets

        corpus_banded = drop_hot_buckets(corpus_banded, ["band", "bh"], max_bucket_size)
    return (
        new_banded.join(corpus_banded, ["band", "bh"])
        .select("sid_new", "sid_corpus")
        .distinct()
    )


def incremental_near_dup(
    new_df: DataFrame,
    corpus_signatures: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 64,
    seed: int = 42,
    k: int = 5,
    bands: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag incoming-batch documents that near-duplicate a standing corpus.

    The decision is the signature-estimated Jaccard (fraction of agreeing
    minhash components) — at scale the corpus's shingle sets are NOT
    retained, only its O(docs x n_hashes) signature table, so exact
    shingle verification is reserved for within-batch dedup.  With 64
    hashes the estimate's stderr at j=0.8 is ~0.05; pick ``threshold``
    below the true target (e.g. 0.7 for "dup at 0.8") and re-verify the
    survivors downstream if exactness matters.

    ``n_hashes``/``seed``/``k`` MUST match the run that produced
    ``corpus_signatures`` — signatures from different hash families never
    agree.  Returns (sid_new, dup_of, est): the smallest-id corpus match
    and the best estimate among matches at or above ``threshold``.
    """
    sh = char_shingles(new_df, text_col=text_col, id_col=id_col, k=k)
    new_sigs = minhash_signatures(sh, n_hashes=n_hashes, seed=seed)
    cand = minhash_lsh_candidates_against(
        new_sigs, corpus_signatures, bands=bands, rows_per_band=rows_per_band
    )
    a = new_sigs.select(F.col("sid").alias("sid_new"), F.col("sig").alias("__sa"))
    b = corpus_signatures.select(
        F.col("sid").alias("sid_corpus"), F.col("sig").alias("__sb")
    )
    return (
        cand.join(a, "sid_new")
        .join(b, "sid_corpus")
        .withColumn("est", F.expr(_sig_estimate_sql()))
        .filter(F.col("est") >= threshold)
        .groupBy("sid_new")
        .agg(F.min("sid_corpus").alias("dup_of"), F.max("est").alias("est"))
    )


def _sig_estimate_sql(sa: str = "__sa", sb: str = "__sb") -> str:
    """Fraction of agreeing signature components as one SQL string (the
    unbiased Jaccard estimator): INT 0/1 agreement, INT left-fold sum,
    INT/INT division yielding DOUBLE."""
    return (
        f"(aggregate(zip_with({sa}, {sb}, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        f"0, (acc, x) -> acc + x) / size({sa}))"
    )


def filter_candidates_by_signature(
    candidates: DataFrame,
    signatures: DataFrame,
    min_estimate: float = 0.6,
) -> DataFrame:
    """Prune LSH candidates by the signature-estimated Jaccard.

    The fraction of agreeing minhash components is an unbiased Jaccard
    estimator (stderr ~ sqrt(j(1-j)/n)); with 64 hashes, keeping
    estimate >= 0.6 loses essentially nothing above a true j of 0.8 while
    discarding the false-positive bulk from dense LSH buckets.  Cost is
    O(|candidates| x n_hashes) in codegen with two broadcast joins —
    orders cheaper than shingle-set intersection.
    """
    sa = signatures.selectExpr("sid AS sid_a", "sig AS __sa")
    sb = signatures.selectExpr("sid AS sid_b", "sig AS __sb")
    return (
        candidates.join(sa, "sid_a")
        .join(sb, "sid_b")
        .filter(F.expr(_sig_estimate_sql() + f" >= {float(min_estimate)!r}D"))
        .select("sid_a", "sid_b")
    )


def verify_candidates_with_profiles(
    candidates: DataFrame,
    profiles: DataFrame,
    threshold: float = 0.8,
    min_estimate: float = 0.6,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Fused signature prefilter + exact-Jaccard verify against a
    ``minhash_oph_profiles`` table ``(sid, sig, shset, n)``.

    Semantically identical to ``filter_candidates_by_signature`` followed
    by ``jaccard_pairs_exact(candidates=..., sets=...)`` — the estimate
    filter still runs BEFORE the (comparatively expensive)
    ``array_intersect``, so dense-bucket false positives never pay for a
    set intersection — but both decisions ride ONE candidate->profile
    join pair instead of two (the old chain attached signatures, filtered,
    then re-attached the sets with two more joins).  The profile side is
    streamed (candidates broadcast), so the heavier shset column costs no
    extra shuffle.  Each ``sid`` must name one profile row: the profile
    does not merge duplicate ids.  Returns (sid_a, sid_b, jac)."""
    hint = F.broadcast if broadcast_candidates else (lambda d: d)
    a = profiles.selectExpr(
        "sid AS sid_a", "sig AS __sa", "shset AS sa", "n AS na"
    )
    b = profiles.selectExpr(
        "sid AS sid_b", "sig AS __sb", "shset AS sb", "n AS nb"
    )
    # signature estimate + exact Jaccard as parsed exprs (one py4j round
    # trip each vs ~40 through the Column lambda API)
    return (
        hint(candidates)
        .join(a, "sid_a")
        .join(b, "sid_b")
        .filter(F.expr(_sig_estimate_sql() + f" >= {float(min_estimate)!r}D"))
        .selectExpr(
            "sid_a", "sid_b", "na", "nb",
            "size(array_intersect(sa, sb)) AS inter",
        )
        .selectExpr(
            "sid_a", "sid_b",
            "CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jac",
        )
        .filter(F.expr(f"jac >= {float(threshold)!r}D"))
        .select("sid_a", "sid_b", "jac")
    )


def jaccard_pairs_exact(
    shingled: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    broadcast_candidates: bool = True,
    sets: DataFrame | None = None,
) -> DataFrame:
    """All pairs (or candidate-restricted pairs) with Jaccard >= threshold.

    Without candidates, intersections come from a self-equi-join on the
    shingle value — the shuffle key is the shingle, so only docs actually
    sharing content meet.  (sid_a, sid_b, jac) with a deterministic
    double division.

    With ``candidates``, each doc's shingles are folded into ONE
    set-array row (a single collect_set shuffle over the corpus — the
    same cost as the size aggregation it subsumes), and every candidate
    pair computes its intersection with a codegen ``array_intersect``.
    Versus the former per-shingle expansion (pair x shingles-per-doc
    ROWS re-shuffled on (sid_b, shingle)), a hub doc in many pairs now
    moves one array reference per pair instead of its whole shingle
    list as rows — strictly less shuffle on duplicate-heavy corpora,
    and two corpus passes fewer (measured ~15% on the sf0.1 LSH path).
    Peak per-task memory is O(largest doc's shingle set), bounded by
    document size.

    ``broadcast_candidates`` (default True) hints the BARE candidate pair
    list — O(near-dup pairs), two longs per row — as broadcast for its
    joins against the per-doc set table, which is then streamed in place,
    never shuffled.  (The shingle-attached intermediate of the old shape
    was NEVER broadcast: a 10x scale probe showed a forced hint there
    building multi-GiB broadcast tables on duplicate-heavy corpora,
    exactly the plan that dies at 100 TB.)  Set
    broadcast_candidates=False when even the pair list outgrows the
    driver (a forced broadcast hint errors rather than falling back);
    the joins then shuffle on sid.
    """
    if candidates is not None:
        # Candidate-scoped intersections: per-doc shingle sets built in
        # one pass, intersected per candidate pair.  The full shingle
        # self-join (which blows up on frequent shingles) is never built.
        # ``sets`` lets the caller hand in a precomputed (sid, shset, n)
        # table (e.g. a persisted minhash_oph_profiles projection, built
        # on each document's row) so the corpus is not aggregated here —
        # once per join side — on top of the signature pass.
        hint = F.broadcast if broadcast_candidates else (lambda d: d)
        if sets is None:
            sets = shingled.groupBy("sid").agg(
                F.collect_set("shingle").alias("shset"),
                F.count(F.lit(1)).alias("n"),
            )
        a = sets.select(
            F.col("sid").alias("sid_a"), F.col("shset").alias("sa"), F.col("n").alias("na")
        )
        b = sets.select(
            F.col("sid").alias("sid_b"), F.col("shset").alias("sb"), F.col("n").alias("nb")
        )
        return (
            hint(candidates)
            .join(a, "sid_a")
            .join(b, "sid_b")
            .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
            .withColumn(
                "jac",
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            )
            .filter(F.col("jac") >= threshold)
            .select("sid_a", "sid_b", "jac")
        )
    sizes = shingled.groupBy("sid").agg(F.count(F.lit(1)).alias("n"))
    a = shingled.select(F.col("sid").alias("sid_a"), "shingle")
    b = shingled.select(F.col("sid").alias("sid_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("sid_a") < F.col("sid_b"))
        .groupBy("sid_a", "sid_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("sid").alias("sid_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("sid").alias("sid_b"), F.col("n").alias("nb"))
    out = (
        inter.join(na, "sid_a")
        .join(nb, "sid_b")
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select("sid_a", "sid_b", "jac")
    )
    return out


def connected_components(
    pairs: DataFrame,
    src: str = "sid_a",
    dst: str = "sid_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS.

    Returns (sid, cluster) for every vertex that appears in a pair, where
    ``cluster`` is the minimum member id of the vertex's connected
    component — the canonical survivor a dedup pipeline keeps.

    Iterative min-label propagation, entirely in DataFrame ops: each
    round every vertex adopts the smallest label among itself and its
    neighbors, converging in O(component diameter) rounds (LSH dup
    clusters are near-cliques, so 2-3 rounds in practice; a pathological
    path graph needs O(n) — bound by ``max_iterations``).  Each round is
    one shuffle-join on the vertex id plus a min-aggregate; lineage is
    truncated every round with localCheckpoint so the plan stays O(1)
    deep instead of growing per iteration.  The driver loop only ever
    compares a per-round scalar (changed-count) — no data is collected.

    The reference stops at pair output; cluster resolution is the
    training-pipeline step that turns pairs into keep/drop decisions.
    """
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
    labels = (
        sym.select("u").distinct().select("u", F.col("u").alias("label"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr = sym.join(
            labels.select(F.col("u").alias("v"), "label"), "v"
        ).select("u", "label")
        new_labels = (
            labels.unionAll(nbr).groupBy("u").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "__old"), "u")
            .filter(F.col("label") != F.col("__old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("u").alias("sid"), F.col("label").alias("cluster"))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens: (id, sim_hi, sim_lo).

    Per-token hash = first 64 bits of sha256(token), carried as two 32-bit
    halves (hi = hex chars 1-8, lo = chars 9-16).  Each output bit is the
    sign of the sum of that bit's +/-1 votes across tokens — 64
    conditional-sum partial aggregates, one shuffle on the doc id.

    sha256 (not xxhash64) makes the operator engine-portable: every SQL
    engine exposes the same sha256, so the full computation is
    oracle-checkable bit for bit.  Two unsigned 32-bit halves avoid
    BIGINT sign-overflow differences between engines.
    """
    tokens = df.select(
        F.col(id_col).alias("sid"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    hx = F.sha2(F.col("tok"), 256)
    h_hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    h_lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(h_hi if b >= 32 else h_lo, b % 32).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agged = tokens.groupBy("sid").agg(*votes)

    def pack(bits: range) -> F.Column:
        acc = None
        for i, b in enumerate(bits):
            bit = F.when(F.col(f"b{b}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            acc = bit if acc is None else acc + bit
        return acc.cast("long")

    return agged.select(
        "sid", pack(range(32, 64)).alias("sim_hi"), pack(range(0, 32)).alias("sim_lo")
    )


def simhash_near_pairs(
    sim: DataFrame, bands: int = 4, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-dup candidates: pairs agreeing on >=1 of `bands` disjoint
    slices (Hamming-distance blocking), verified to Hamming distance <= 3.

    Blocking guarantee: 4 disjoint 16-bit bands mean any pair at Hamming
    distance <= 3 differs in at most 3 bands, so it MUST agree on at least
    one — the candidate set provably contains every qualifying pair.

    ``max_bucket_size`` (opt-in) is the skew guard for boilerplate-heavy
    corpora, where one SimHash value (template pages, empty docs) puts m
    documents in a single slice bucket and the self-join pays m^2 rows on
    one key; measure what a cap drops first with
    ``perceptual.hamming_bucket_skew_report(sim, bands,
    threshold=max_bucket_size)``.

    Delegates to ``operators.perceptual.hamming_near_pairs``, the shared
    banded-join implementation for every 64-bit signature family (text
    SimHash, image dHash, audio fingerprints); it validates band tiling
    and rejects band counts too small for the <=3 guarantee."""
    from shardpack_spark.operators.perceptual import hamming_near_pairs

    return hamming_near_pairs(
        sim, bands=bands, max_hamming=3, max_bucket_size=max_bucket_size
    )


def substring_dedup(
    df: DataFrame,
    window: int = 20,
    max_doc_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-SPAN removal (suffix-array-dedup analog).

    Doc-level dedup (exact/MinHash) drops whole near-identical documents;
    line_dedup drops repeated lines.  This operator removes repeated
    *substrings* that cross line boundaries — licence boilerplate, quoted
    passages, templated paragraphs — the case the suffix-array dedup of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., 2021) targets.  The exact suffix-array construction is inherently
    single-node; the distributed approximation here works at token-window
    granularity:

    every ``window``-token sliding window is hashed; a window whose hash
    occurs in more than ``max_doc_freq`` distinct documents is a
    duplicated span.  The occurrence in the smallest owning ``id_col``
    is canonical and survives; every covered token of that span in any
    other document is removed.  Runs of overlapping duplicate windows
    merge naturally (their covered-token sets union), so a duplicated
    passage of any length >= ``window`` is removed wholesale, with a
    resolution of one window at the passage edges.

    Plan shape (all codegen, no driver collect):
    tokenize -> per-doc window hashes via transform(sequence)+xxhash64
    (linear in tokens x window) -> explode -> groupBy(hash) with
    min(doc)/distinct-doc partial aggs -> the DUP LIST (repeated windows
    only, a small fraction at web scale) -> join back on hash -> covered
    token indices (explode sequence, distinct) -> left_anti against
    posexploded tokens -> ordered per-doc reassembly.  Shuffle keys are
    window hashes and doc ids — never the pair space; corpus-wide cost is
    linear in total token count.

    Output ``text`` is whitespace-normalized (single-space joined
    surviving tokens).  Documents shorter than ``window`` tokens pass
    through untouched (also whitespace-normalized).  Returns
    (id, text, n_tokens, n_kept) so removal rates are auditable.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    from shardpack_spark.operators.text import ws_tokens

    toks = ws_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )

    # (doc, window start pos, window hash) — slice() is 1-indexed.
    windows = base.filter(F.col("__n") >= window).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - window),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__toks", i + 1, window))),
            )
        ).alias("__pos", "__whash"),
    )

    dup_list = (
        windows.groupBy("__whash")
        .agg(
            F.min(id_col).alias("__canon"),
            F.count_distinct(F.col(id_col)).alias("__df"),
        )
        .filter(F.col("__df") > max_doc_freq)
        .select("__whash", "__canon")
    )
    covered = (
        windows.join(dup_list, "__whash")
        .filter(F.col(id_col) != F.col("__canon"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + window - 1)
            ).alias("__tidx"),
        )
        .distinct()
    )

    tokens = base.select(id_col, F.posexplode("__toks").alias("__tidx", "__tok"))
    kept = tokens.join(covered, [id_col, "__tidx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("__tidx", "__tok"))).alias("__ord")
    )
    # re-join the doc spine: empty docs and fully-covered docs must survive
    # with empty text, not silently vanish from the corpus
    return (
        base.select(id_col, "__n")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.concat_ws(" ", F.transform("__ord", lambda s: s.getField("__tok"))),
                F.lit(""),
            ).alias(text_col),
            F.col("__n").alias("n_tokens"),
            F.coalesce(F.size("__ord"), F.lit(0)).alias("n_kept"),
        )
    )
