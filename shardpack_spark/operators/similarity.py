"""Similarity search over embedding columns (array<float>).

Scale design:
- ``cosine_scores`` broadcasts the (single-row) query vector — no shuffle
  at all; the scan streams through a codegen'd higher-order-function dot
  product.
- ``cosine_topk`` ends in orderBy+limit, which Spark executes as
  TakeOrderedAndProject (per-partition heaps + driver merge of k rows —
  no global sort).
- ``ivf_topk`` is the 100 TB path: vectors are pre-bucketed by nearest
  centroid; a query probes only ``nprobe`` buckets, so the scan touches
  |data| * nprobe / n_centroids rows.  Centroid assignment is a broadcast
  nested-loop over the (tiny) centroid set, never a cross join of data
  against data.

The dot product uses zip_with + a sequential left-fold (aggregate) so the
accumulation order is deterministic — required for oracle hash-matching
and, at scale, for reproducible reruns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# The cosine fold as parsed SQL strings: building the higher-order fold
# through the Column API costs ~30 py4j round trips EACH (lambda
# registration + nested calls); a query that scores three ways spent
# ~0.5 s of driver latency just constructing cosines.  One parsed expr
# string is a single round trip.
def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def _cosine_sql(vec: str, q: str) -> str:
    return f"({_dot_sql(vec, q)}) / (({_norm_sql(vec)}) * ({_norm_sql(q)}))"


def _query_arr_sql(query_vec) -> str:
    """A pre-collected query vector as a literal array<double>, as ONE
    SQL string (one py4j round trip instead of one per element).

    ``repr`` of a Python float is the shortest decimal that round-trips
    to the same IEEE double, and the SQL double literal parse is
    correctly rounded, so every element is bit-identical to
    ``F.lit(float(x))``.  Element-wise identical to broadcasting the
    source row too: the collected values are float32 widened exactly to
    Python floats, and ``_cosine_sql`` casts every element to double on
    both paths anyway — so a literal-vs-broadcast query cannot change a
    single bit of the scores, while removing the broadcast-build job
    (and, for sketched queries, its Python-worker round trip) from every
    probe."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in query_vec) + ")"


def cosine_scores(
    df: DataFrame,
    query: DataFrame | None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec=None,
) -> DataFrame:
    """(id, cosine) of every row in df against the single-row query df.

    ``query_vec`` (a pre-collected number sequence) replaces the
    broadcast crossJoin with a literal vector — one job fewer per probe;
    see :func:`_query_arr_sql` for the value-identity argument."""
    if query_vec is not None:
        # literal query inlined into ONE parsed cosine expr — no
        # intermediate __q projection, no per-element py4j chatter;
        # the constant q-norm subtree is folded by Catalyst exactly as
        # the literal-column shape was
        return df.select(
            F.col(id_col),
            F.expr(_cosine_sql(vec_col, _query_arr_sql(query_vec))).alias("cosine"),
        )
    q = F.broadcast(query.select(F.col(vec_col).alias("__q")))
    joined = df.crossJoin(q)
    return joined.select(
        F.col(id_col),
        F.expr(_cosine_sql(vec_col, "__q")).alias("cosine"),
    )


def cosine_topk(
    df: DataFrame,
    query: DataFrame | None,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_ids: list[int] | None = None,
    query_vec=None,
) -> DataFrame:
    """Brute-force exact top-k by cosine (TakeOrderedAndProject)."""
    scored = cosine_scores(df, query, vec_col, id_col, query_vec=query_vec)
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(exclude_ids))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def centroid_state(rows):
    """(ids sorted ascending, row-normalized matrix) from (id, vec) rows —
    the one piece of driver-side state an IVF index keeps.  Accepts any
    iterable of 2-sequences (Rows, tuples); build it ONCE per query from
    a single collect and hand it to :func:`assign_to_centroids` /
    :func:`ivf_topk` so each consumer does not re-run the collect job."""
    import numpy as np

    rows = sorted(((r[0], list(r[1])) for r in rows), key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    cmat = np.array([r[1] for r in rows], dtype=np.float64)
    return cids, cmat / np.linalg.norm(cmat, axis=1, keepdims=True)


def _collect_centroids(centroids: DataFrame, centroid_id: str, centroid_vec: str):
    """Collect the (tiny, O(k*d) by contract) centroid table once:
    (ids sorted ascending, row-normalized matrix)."""
    return centroid_state(centroids.select(centroid_id, centroid_vec).collect())


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "cid",
    centroid_vec: str = "cvec",
    state=None,
) -> DataFrame:
    """Tag each vector with its highest-cosine centroid (ties -> smallest
    centroid id).

    The centroid table is O(k*d) by contract — the one piece of state any
    IVF index keeps — so it is collected once and shipped to executors
    inside an Arrow-batched pandas_udf: the whole assignment is ONE numpy
    matmul per batch, per-row and shuffle-free at any data size.  (The
    previous shape — crossJoin(centroids) + row_number window — shuffled
    |data| * k joined rows just to argmax over k, which is exactly the
    plan you can't afford at 100 TB.)

    ``state``: a pre-built :func:`centroid_state` tuple — callers that
    already collected the centroids (ivf_topk does, for probe ranking)
    pass it through so assignment adds no second collect job.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.pandas.functions import pandas_udf

    globals().setdefault("pd", pd)

    cids, cn = state if state is not None else _collect_centroids(
        centroids, centroid_id, centroid_vec
    )

    @pandas_udf("long")
    def nearest(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cn.T
        return pd.Series(cids[np.argmax(sims, axis=1)])

    return df.withColumn(centroid_id, nearest(F.col(vec_col)))


def ivf_bucket_skew_report(
    assigned: DataFrame,
    threshold: int = 100_000,
    sample_ids: int = 8,
    id_col: str = "vec_id",
    centroid_id: str = "cid",
) -> DataFrame:
    """Hot-centroid report for an IVF layout: one row per centroid
    bucket holding more than ``threshold`` vectors, with the bucket size
    and ``sample_ids`` member ids -> ``(cid, bucket_size, sample_ids)``.

    The IVF analog of ``dedup.lsh_bucket_skew_report`` /
    ``perceptual.hamming_bucket_skew_report``: with skewed data (one
    dense mode, a degenerate all-zeros embedding cluster, k-means that
    under-fit k) a single centroid absorbs a disproportionate share of
    the corpus, and every probe that touches it scans that whole bucket
    — nprobe pruning quietly stops paying.  Run this against the stored
    assignment to decide whether to re-train with larger k, split the
    hot bucket, or route its ids to a brute-force side table.

    Scale shape: shared with every skew report in the package
    (``operators.skew.bucket_skew_report``): partial-agg bucket sizing,
    broadcast semi-join to hot rows only, and deterministic hash
    thinning before the ranking window so the report itself survives
    the mega-bucket it diagnoses.
    """
    from shardpack_spark.operators.skew import bucket_skew_report

    return bucket_skew_report(assigned, [centroid_id], id_col, threshold, sample_ids)


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    state=None,
    query_vec=None,
) -> DataFrame:
    """IVF-style ANN: probe the nprobe centroids nearest the query, then
    exact top-k within those buckets only.

    At 100 TB the assignment is precomputed once (a bucketed table
    partitioned by cid); the query-time scan reads only probed partitions.
    The probe set is ranked DRIVER-SIDE against the already-collected
    centroid matrix (one numpy matvec over O(k) centroids — the same
    state any IVF index holds) and applied as a `cid IN (...)` predicate:
    no join, and on a cid-partitioned/bucketed layout the predicate is
    exactly what partition pruning consumes.  (The previous shape ran a
    broadcast crossJoin + sort job to rank centroids and a broadcast
    semi-join to apply them — two extra exchanges for a list the driver
    already had in memory.)

    ``state`` / ``query_vec``: pre-collected :func:`centroid_state` and
    query vector.  Without them this function runs THREE driver jobs
    before the probe (assignment's centroid collect, its own, the query
    collect); a caller that gathers centroids+query in one collect cuts
    that to zero extra jobs.  The centroid state is also passed through
    to assignment, so it is never collected twice.
    """
    import numpy as np

    cids, cn = state if state is not None else _collect_centroids(
        centroids, "cid", "cvec"
    )
    assigned = assign_to_centroids(df, centroids, vec_col, id_col, state=(cids, cn))
    if query_vec is None:
        qrows = [list(r[0]) for r in query.select(vec_col).collect()]
        if len(qrows) != 1:
            raise ValueError(f"ivf_topk expects a single-row query, got {len(qrows)}")
        query_vec = qrows[0]
    qarr = np.array(list(query_vec), dtype=np.float64)
    q = qarr / (np.linalg.norm(qarr) or 1.0)
    sims = cn @ q
    # same ordering contract as before: cosine desc, centroid id asc
    order = sorted(range(len(cids)), key=lambda i: (-sims[i], cids[i]))
    probe = [int(cids[i]) for i in order[:nprobe]]
    bucketed = assigned.filter(F.col("cid").isin(probe))
    return cosine_topk(bucketed, query, k, vec_col, id_col, query_vec=query_vec)


def _sketch_udf(n_planes: int, seed: int):
    """Packed n-plane sign sketch as ONE numpy matmul per Arrow batch.

    Planes are drawn from a seeded numpy RNG inside the UDF — identical
    on every executor by construction, no matrix shipped in the plan.
    (The previous shape — n_planes codegen'd fold expressions with a
    per-element hash-derived weight — re-hashed plane*dim values for
    every row; the batched matmul is ~3x faster at 8 planes and the gap
    widens with plane count, same reasoning as _band_keys_udf below.)
    Returns a BIGINT column of packed sign bits."""
    import pandas as pd  # noqa: F401 (type hints resolve via module globals)
    from pyspark.sql.pandas.functions import pandas_udf

    globals().setdefault("pd", pd)

    @pandas_udf("long")
    def sketch(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        planes = np.random.RandomState(seed).uniform(-1.0, 1.0, size=(n_planes, mat.shape[1]))
        bits = (mat @ planes.T) > 0
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        return pd.Series((bits * weights).sum(axis=1))

    # the sketch IS deterministic (seeded planes), but Catalyst's
    # null-intolerance constraint propagation otherwise clones the UDF
    # into a pre-filter AND the projection — two Python-worker passes
    # over the full corpus per side (r6 verdict #3).  Nondeterministic
    # marking pins exactly one ArrowEvalPython per input; plan-audited.
    return sketch.asNondeterministic()


def rp_lsh_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    max_hamming: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    query_vec=None,
) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket vectors by the sign pattern of
    n_planes fixed pseudo-random projections, scan only buckets within
    max_hamming bits of the query's bucket.

    The planes are drawn from a numpy RNG seeded with ``seed`` inside an
    Arrow-batched pandas_udf, so driver and executors agree without
    shipping a matrix; the sketch is one matmul per batch.  Candidate
    fraction ~ sum_{i<=h} C(n,i)/2^n.

    ``query_vec`` (pre-collected): the query's sketch is then computed
    DRIVER-SIDE with the identical seeded planes and applied as a
    literal, removing the broadcast-build job and its dedicated
    Python-worker round trip (the corpus-side sketch keeps its one
    ArrowEvalPython pass).  Bit-identical by construction: same RNG,
    same matmul-sign-pack, and the exact cosine verify is unchanged.

    Parameter note: hyperplane LSH recall depends on the cosine gap —
    for near-orthogonal data (this repo's synthetic embeddings peak at
    ~0.47) use few planes and a generous Hamming radius; for clustered
    real embeddings raise n_planes and shrink the radius.
    """
    sketch = _sketch_udf(n_planes, seed)
    data = df.withColumn("__sk", sketch(F.col(vec_col)))
    if query_vec is not None:
        import numpy as np

        qarr = np.array(list(query_vec), dtype=np.float64)
        planes = np.random.RandomState(seed).uniform(
            -1.0, 1.0, size=(n_planes, qarr.shape[0])
        )
        bits = (qarr @ planes.T) > 0
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        qsk = int((bits * weights).sum())
        cand = data.filter(
            F.bit_count(F.col("__sk").bitwiseXOR(F.lit(qsk))) <= max_hamming
        )
        # literal query inlined into one parsed cosine expr (see
        # cosine_scores) — the __qv projection existed only to carry it
        scored = cand.select(
            F.col(id_col),
            F.expr(_cosine_sql(vec_col, _query_arr_sql(query_vec))).alias("cosine"),
        )
    else:
        q = F.broadcast(query.select(F.col(vec_col).alias("__qv")).withColumn("__qsk", sketch(F.col("__qv"))))
        cand = data.crossJoin(q).filter(
            F.bit_count(F.col("__sk").bitwiseXOR(F.col("__qsk"))) <= max_hamming
        )
        scored = cand.select(
            F.col(id_col),
            F.expr(_cosine_sql(vec_col, "__qv")).alias("cosine"),
        )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _band_keys_udf(bands: int, rows_per_band: int, seed: int):
    """Vectorized band-key computation: sign bits of bands*rows_per_band
    pseudo-random plane projections, packed per band.

    Planes are drawn once per executor from a seeded numpy RNG — identical
    everywhere by construction, no matrix shipped in the plan.  Returns
    array<long> of length `bands` (index = band id)."""
    import pandas as pd  # noqa: F401 (type hints resolve via module globals)
    from pyspark.sql.pandas.functions import pandas_udf

    globals().setdefault("pd", pd)

    n_planes = bands * rows_per_band
    weights = (1 << np_arange_cache(rows_per_band))  # bit weights within a band

    @pandas_udf("array<long>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim), fixed-dim col
        planes = np.random.RandomState(seed).uniform(-1.0, 1.0, size=(n_planes, mat.shape[1]))
        bits = (mat @ planes.T) > 0  # (n, n_planes)
        keys = (bits.reshape(len(mat), bands, rows_per_band) * weights).sum(axis=2)
        return pd.Series([row.tolist() for row in keys])

    # deterministic (seeded planes) but marked nondeterministic to stop
    # Catalyst duplicating the UDF into inferred null pre-filters — one
    # matmul pass per input, not two (see _sketch_udf)
    return band_keys.asNondeterministic()


def np_arange_cache(n: int):
    import numpy as np

    return np.arange(n, dtype=np.int64)


def _sketch_banded_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    bands: int,
    rows_per_band: int,
    seed: int,
) -> DataFrame:
    """(id, band, key) rp-sketch rows — the blocking shuffle key, shared
    by pair generation and the skew report so both see the SAME
    buckets."""
    band_keys = _band_keys_udf(bands, rows_per_band, seed)
    return df.select(
        F.col(id_col).alias(out_id), band_keys(F.col(vec_col)).alias("__keys")
    ).select(out_id, F.posexplode("__keys").alias("band", "key"))


def embedding_sketch_skew_report(
    df: DataFrame,
    bands: int = 48,
    rows_per_band: int = 4,
    seed: int = 42,
    threshold: int = 1000,
    sample_ids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hot-bucket report for rp-sketch blocking: one row per (band, key)
    bucket holding more than ``threshold`` vectors, with size and
    ``sample_ids`` member ids -> ``(band, key, bucket_size,
    sample_ids)``.

    The embedding analog of ``dedup.lsh_bucket_skew_report``: a
    degenerate embedding mode (zero vectors from a failed encoder, one
    dominant template) produces identical sign sketches, so m vectors
    share every band bucket and ``embedding_near_dup_pairs`` pays m^2
    candidate rows per band without its ``max_bucket_size`` cap.  Run
    with ``threshold = max_bucket_size`` to see exactly what a cap will
    drop.  Must use the same (bands, rows_per_band, seed).

    Scale shape: shared with every skew report in the package
    (``operators.skew.bucket_skew_report``): partial-agg bucket sizing,
    broadcast semi-join to hot rows only, and deterministic hash
    thinning before the ranking window so the report itself survives
    the mega-bucket it diagnoses.
    """
    from shardpack_spark.operators.skew import bucket_skew_report

    banded = _sketch_banded_rows(df, id_col, vec_col, "vid", bands, rows_per_band, seed)
    return bucket_skew_report(banded, ["band", "key"], "vid", threshold, sample_ids)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 48,
    rows_per_band: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Blocking strategies:
    - default (block_col=None): rp-LSH *sketch* blocking — vectors are
      keyed by (band, r-plane sign pattern) and only same-bucket pairs
      meet; every candidate is verified with the exact cosine, so
      precision is exact and only recall depends on the banding.  This is
      the general scale path: no semantic block column required, shuffle
      keyed on small band buckets, never an all-pairs join.
    - block_col='label' (or any column): semantic equi-join blocking —
      cheaper when a trustworthy partition key exists, but a crutch that
      misses cross-block pairs.
    - block_col='__cross__': the exact all-pairs reference (tiny inputs /
      tests only).

    Recall tuning: miss probability per qualifying pair is
    (1 - (1 - theta/pi)^r)^bands with theta = arccos(threshold).  The
    defaults (48 bands x 4 planes) give ~2.5e-4 even for a low 0.4
    threshold; for realistic >= 0.9 near-dup thresholds a handful of
    bands suffices.  Verification keeps precision exact regardless.

    ``max_bucket_size`` (opt-in) applies to the DEFAULT sketch blocking
    only — it caps (band, key) buckets before the self-join (see
    ``embedding_sketch_skew_report``).  Passing it with a ``block_col``
    raises: semantic blocks have no sketch buckets to cap, and silently
    ignoring the guard would leave the caller believing a degenerate
    block was protected when it wasn't.
    """
    if max_bucket_size is not None and block_col is not None:
        raise ValueError(
            "max_bucket_size applies to sketch blocking only "
            f"(block_col={block_col!r} was also given)"
        )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if block_col == "__cross__":
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    elif block_col:
        a = df.select(F.col(block_col), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(block_col), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        joined = a.join(b, on=block_col).filter(F.col("id_a") < F.col("id_b"))
    else:
        # rp-LSH sketch blocking: one (band, key) row per vector per band.
        # The bands*rows_per_band plane projections are one numpy matmul in
        # an Arrow-batched pandas_udf — a ~200-plane random projection as
        # codegen'd fold expressions compiles to megabytes of bytecode and
        # dominates wall-clock at small scale, while the matmul is O(free).
        rows = _sketch_banded_rows(df, id_col, vec_col, "__sid", bands, rows_per_band, seed)
        if max_bucket_size is not None:
            # skew guard (opt-in): drop (band, key) buckets over the cap
            # before the self-join — a degenerate sketch cluster is m^2
            # candidate rows per band otherwise.  Measure the loss first
            # with embedding_sketch_skew_report.  Applied once to the
            # shared table = the identical guard on both join sides.
            from shardpack_spark.operators.skew import drop_hot_buckets

            rows = drop_hot_buckets(rows, ["band", "key"], max_bucket_size)
        # both self-join sides are the SAME banded-rows table; Catalyst
        # does not share the common subplan, so without a persist the
        # ArrowEvalPython sketch pass (the projection matmul) runs twice
        # over the corpus.  The table is n x bands narrow int rows —
        # persist it and sketch once.
        rows = rows.persist()
        ab = rows.withColumnRenamed("__sid", "id_a")
        bb = rows.withColumnRenamed("__sid", "id_b")
        # dedupe candidates on ids BEFORE re-attaching vectors, so the
        # (up to `bands`-fold) redundant bucket co-occurrences never carry
        # vector payloads through the shuffle
        cand = (
            ab.join(bb, on=["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        joined = cand.join(a, "id_a").join(b, "id_b")
    return (
        joined.withColumn("cosine", F.expr(_cosine_sql("va", "vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 48,
    rows_per_band: int = 4,
    seed: int = 42,
    broadcast_new: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs BETWEEN two corpora (never within one):
    ``(id_new, id_corpus, cosine)`` with cosine >= ``threshold``.

    The incremental-ingest shape, completing the family alongside
    ``dedup.minhash_lsh_candidates_against`` and
    ``perceptual.hamming_near_pairs_against``: the standing corpus's
    sketch rows are derived from stored embeddings with the SAME
    (bands, rows_per_band, seed); each incoming batch is sketched
    identically and equi-joined against them on (band, key), then every
    candidate is verified with the exact cosine — precision exact,
    recall governed by the banding like the self-join variant.

    ``broadcast_new`` (default — a batch is small next to the corpus)
    keeps the corpus's banded rows SCANNED but never SHUFFLED: per-batch
    cost is one corpus read plus O(|batch|) work, independent of corpus
    size in shuffle terms.  ``max_bucket_size`` caps CORPUS-side sketch
    buckets (where degenerate modes accumulate over time) with the
    shared partial-agg + broadcast anti-join guard, preserving the
    no-corpus-shuffle property; measure the loss first with
    ``embedding_sketch_skew_report(corpus_df, ...)``.
    """
    from shardpack_spark.operators.skew import drop_hot_buckets

    nb = _sketch_banded_rows(new_df, id_col, vec_col, "id_new", bands, rows_per_band, seed)
    if broadcast_new:
        nb = F.broadcast(nb)
    cb = _sketch_banded_rows(corpus_df, id_col, vec_col, "id_corpus", bands, rows_per_band, seed)
    if max_bucket_size is not None:
        cb = drop_hot_buckets(cb, ["band", "key"], max_bucket_size)
    cand = nb.join(cb, ["band", "key"]).select("id_new", "id_corpus").distinct()
    a = new_df.select(F.col(id_col).alias("id_new"), F.col(vec_col).alias("va"))
    b = corpus_df.select(F.col(id_col).alias("id_corpus"), F.col(vec_col).alias("vb"))
    return (
        cand.join(a, "id_new")
        .join(b, "id_corpus")
        .withColumn("cosine", F.expr(_cosine_sql("va", "vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_new", "id_corpus", "cosine")
    )
