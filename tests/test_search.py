"""Inverted-index build + term search, checked against DuckDB.

The DuckDB side re-derives postings with the SAME tokenizer regex
(`[^a-z0-9_]+` split on lowercased text), so term stats, single-term
lookups, and AND/OR multi-term queries are value-checked end to end.
Pruning tests assert the `key IN (...)` and prefix pushdown actually cut
the shard list — the property that makes term lookup O(terms), not
O(index), at scale.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from shardpack_spark.operators.search import (
    build_inverted_index,
    search_terms,
    term_stats,
)
from shardpack_spark.tables import load_table

TOKEN_SQL = """
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS term
        FROM read_parquet('{pq}')
    )
    WHERE term <> ''
    GROUP BY doc_id, term
"""


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE tf AS " + TOKEN_SQL.format(pq=os.path.join(sf_dir, "documents.parquet"))
    )
    return c


@pytest.fixture(scope="module")
def index_path(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("invidx") / "idx")
    build_inverted_index(load_table(spark, sf_dir, "documents"), out)
    return out


def test_term_stats_match_duckdb(spark, con, index_path):
    got = {r["term"]: r["df"] for r in term_stats(spark, index_path).collect()}
    exp = dict(con.execute("SELECT term, COUNT(*) FROM tf GROUP BY term").fetchall())
    assert got == exp


def _pick_terms(con, lo=5, hi=400, n=2):
    rows = con.execute(
        f"""SELECT term FROM (SELECT term, COUNT(*) c FROM tf GROUP BY term)
            WHERE c BETWEEN {lo} AND {hi} ORDER BY term LIMIT {n}"""
    ).fetchall()
    return [r[0] for r in rows]


def test_single_term_matches_duckdb(spark, con, index_path):
    [term] = _pick_terms(con, n=1)
    got = {
        (r["doc_id"], r["n_terms"], r["score"])
        for r in search_terms(spark, index_path, [term]).collect()
    }
    exp = {
        (d, 1, t)
        for d, t in con.execute(
            "SELECT doc_id, tf FROM tf WHERE term = ?", [term]
        ).fetchall()
    }
    assert got == exp


def test_and_or_match_duckdb(spark, con, index_path):
    t1, t2 = _pick_terms(con, n=2)
    got_all = {
        (r["doc_id"], r["score"])
        for r in search_terms(spark, index_path, [t1, t2], mode="all").collect()
    }
    exp_all = set(
        con.execute(
            """SELECT doc_id, SUM(tf) FROM tf WHERE term IN (?, ?)
               GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2""",
            [t1, t2],
        ).fetchall()
    )
    assert got_all == exp_all

    got_any = {
        (r["doc_id"], r["score"])
        for r in search_terms(spark, index_path, [t1, t2], mode="any").collect()
    }
    exp_any = set(
        con.execute(
            "SELECT doc_id, SUM(tf) FROM tf WHERE term IN (?, ?) GROUP BY doc_id",
            [t1, t2],
        ).fetchall()
    )
    assert got_any == exp_any


def test_segmented_postings_same_answer(spark, sf_dir, con, tmp_path):
    out = str(tmp_path / "segidx")
    build_inverted_index(
        load_table(spark, sf_dir, "documents"), out, segment_docs=7
    )
    [term] = _pick_terms(con, lo=20, n=1)
    from shardpack_spark.format.datasource import read_shardpack

    nseg = (
        read_shardpack(spark, out)
        .filter(F.col("key") == term)
        .select(F.size("entries").alias("n"))
        .head()["n"]
    )
    assert nseg > 1  # the pick really is split across segments
    got = {
        (r["doc_id"], r["score"]) for r in search_terms(spark, out, [term]).collect()
    }
    exp = set(con.execute("SELECT doc_id, tf FROM tf WHERE term = ?", [term]).fetchall())
    assert got == exp


def test_max_df_drops_stopword_terms(spark, sf_dir, con, tmp_path):
    out = str(tmp_path / "capidx")
    build_inverted_index(load_table(spark, sf_dir, "documents"), out, max_df=50)
    got = {r["term"]: r["df"] for r in term_stats(spark, out).collect()}
    exp = dict(
        con.execute(
            "SELECT term, COUNT(*) c FROM tf GROUP BY term HAVING c <= 50"
        ).fetchall()
    )
    assert got == exp


def test_in_filter_prunes_index_shards(spark, con, index_path):
    """key IN (...) pushdown: a 2-term probe opens O(1) shards."""
    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import read_shardpack

    n_shards = len(codec.list_shards(index_path))
    if n_shards < 2:
        pytest.skip("index fits one shard at this SF")
    t1, t2 = _pick_terms(con, n=2)
    probed = read_shardpack(spark, index_path).filter(F.col("key").isin([t1, t2]))
    # an unpruned plan never has fewer than min(#shards, cores) tasks, so
    # binning cannot pass this without pruning
    cores = spark.sparkContext.defaultParallelism
    assert probed.rdd.getNumPartitions() < min(n_shards, cores)


def test_reader_in_and_prefix_pruning(spark, sf_dir, tmp_path):
    """Direct reader-level check of the In / StringStartsWith pruning."""
    from pyspark.sql.datasource import In, StringStartsWith

    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import ShardPackPruningReader, register

    register(spark)
    rows = [(f"{c}{i:03d}",) for c in "abcd" for i in range(60)]
    df = spark.createDataFrame(rows, "key string").select(
        "key",
        F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
        F.array(
            F.struct(
                F.lit("b.bin").alias("file_name"),
                F.lit("application/octet-stream").alias("content_type"),
                F.lit("none").alias("encoding"),
                F.lit(256).cast("long").alias("size"),
                F.encode(F.repeat(F.lit("x"), 256), "utf-8").alias("data"),
            )
        ).alias("entries"),
    )
    out = str(tmp_path / "pfx")
    df.orderBy("key").coalesce(1).write.format("shardpack").option(
        "target_shard_bytes", 4 * 1024
    ).mode("append").save(out)
    n_shards = len(codec.list_shards(out))
    assert n_shards >= 8

    def kept(filters):
        # shards the plan covers (binned partitions expanded)
        r = ShardPackPruningReader({"path": out})
        r.pushFilters(filters)
        return {m for p in r.partitions() for m in p.group or [p.path]}

    assert 1 <= len(kept([In(("key",), ("a005", "d055"))])) < n_shards
    assert 1 <= len(kept([StringStartsWith(("key",), "c")])) < n_shards

    # pruning is conservative: full reads agree with the filters
    from shardpack_spark.format.datasource import read_shardpack

    assert read_shardpack(spark, out).filter(F.col("key").isin(["a005", "d055"])).count() == 2
    assert read_shardpack(spark, out).filter(F.col("key").startswith("c")).count() == 60


def test_bm25_matches_python_reference(spark, con, index_path):
    import math

    t1, t2 = _pick_terms(con, n=2)
    k1, b = 1.2, 0.75
    tf = {
        (d, t): n
        for d, t, n in con.execute(
            "SELECT doc_id, term, tf FROM tf WHERE term IN (?, ?)", [t1, t2]
        ).fetchall()
    }
    dl = dict(con.execute("SELECT doc_id, SUM(tf) FROM tf GROUP BY doc_id").fetchall())
    df = dict(
        con.execute(
            "SELECT term, COUNT(*) FROM tf WHERE term IN (?, ?) GROUP BY term", [t1, t2]
        ).fetchall()
    )
    n_docs = con.execute("SELECT COUNT(DISTINCT doc_id) FROM tf").fetchone()[0]
    avgdl = sum(dl.values()) / n_docs

    def bm25(d):
        s = 0.0
        for t in (t1, t2):
            f = tf.get((d, t))
            if f is None:
                continue
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dl[d] / avgdl))
        return s

    docs_hit = sorted({d for (d, _t) in tf})
    exp = {d: bm25(d) for d in docs_hit}

    from shardpack_spark.operators.search import search_bm25

    got = search_bm25(spark, index_path, [t1, t2], k1=k1, b=b).collect()
    assert sorted(r["doc_id"] for r in got) == docs_hit
    for r in got:
        assert r["score"] == pytest.approx(exp[r["doc_id"]], rel=1e-9)
    # ranked best-first
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_bm25_topn_is_prefix_of_full(spark, con, index_path):
    from shardpack_spark.operators.search import search_bm25

    t1, t2 = _pick_terms(con, n=2)
    full = [r["doc_id"] for r in search_bm25(spark, index_path, [t1, t2]).collect()]
    top = [r["doc_id"] for r in search_bm25(spark, index_path, [t1, t2], top_n=5).collect()]
    assert top == full[:5]


# ------------------------------------------------------------- incremental


@pytest.mark.slow  # heavy (>=12 s); conclusive lane only
def test_incremental_update_equals_full_rebuild(spark, sf_dir, tmp_path):
    from shardpack_spark.format.patches import compact_patches, list_patches
    from shardpack_spark.operators.search import (
        corpus_stats,
        search_bm25,
        update_inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    full_path = str(tmp_path / "full")
    build_inverted_index(docs, full_path)
    inc_path = str(tmp_path / "inc")
    build_inverted_index(old, inc_path)
    name = update_inverted_index(new, inc_path)
    assert name and list_patches(inc_path) == [name]

    # stats merge exactly
    assert corpus_stats(spark, inc_path) == corpus_stats(spark, full_path)

    # df per term identical
    inc_stats = {r["term"]: r["df"] for r in term_stats(spark, inc_path).collect()}
    full_stats = {r["term"]: r["df"] for r in term_stats(spark, full_path).collect()}
    assert inc_stats == full_stats

    # search results identical; bm25 scores equal to float tolerance
    probe = sorted(full_stats, key=full_stats.get)[:2]
    a = {(r["doc_id"], r["score"]) for r in search_terms(spark, inc_path, probe, "any").collect()}
    b = {(r["doc_id"], r["score"]) for r in search_terms(spark, full_path, probe, "any").collect()}
    assert a == b
    bm_inc = {r["doc_id"]: r["score"] for r in search_bm25(spark, inc_path, probe).collect()}
    bm_full = {r["doc_id"]: r["score"] for r in search_bm25(spark, full_path, probe).collect()}
    assert set(bm_inc) == set(bm_full)
    for d, s in bm_full.items():
        assert bm_inc[d] == pytest.approx(s, rel=1e-12)

    # folding the patch into the base preserves everything
    compact_patches(spark, inc_path)
    assert list_patches(inc_path) == []
    after = {r["term"]: r["df"] for r in term_stats(spark, inc_path).collect()}
    assert after == full_stats
    bm_after = {r["doc_id"]: r["score"] for r in search_bm25(spark, inc_path, probe).collect()}
    for d, s in bm_full.items():
        assert bm_after[d] == pytest.approx(s, rel=1e-12)


def test_update_empty_batch_is_noop(spark, sf_dir, tmp_path):
    from shardpack_spark.format.patches import list_patches
    from shardpack_spark.operators.search import corpus_stats, update_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "idx")
    build_inverted_index(docs.limit(100), out)
    before = corpus_stats(spark, out)
    assert update_inverted_index(docs.limit(0), out) == ""
    assert list_patches(out) == []
    assert corpus_stats(spark, out) == before


@pytest.mark.slow  # heavy (>=12 s); conclusive lane only
def test_update_replay_with_batch_id_is_noop(spark, sf_dir, tmp_path):
    from shardpack_spark.format.patches import list_patches
    from shardpack_spark.operators.search import corpus_stats, update_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "idx")
    build_inverted_index(docs.filter(F.col("doc_id") < 100), out)
    new = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    assert update_inverted_index(new, out, batch_id=1) != ""
    after = corpus_stats(spark, out)
    # at-least-once replay of the same micro-batch: no double-count
    assert update_inverted_index(new, out, batch_id=1) == ""
    assert update_inverted_index(new, out, batch_id=0) == ""
    assert corpus_stats(spark, out) == after
    assert len(list_patches(out)) == 1


def test_update_refuses_df_cut_index(spark, sf_dir, tmp_path):
    from shardpack_spark.operators.search import update_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "cut")
    build_inverted_index(docs.limit(100), out, max_df=50)
    with pytest.raises(ValueError, match="df-cut"):
        update_inverted_index(docs.limit(10), out)


def test_max_df_cut_is_pre_aggregation(spark):
    """The stopword cut's plan shape: with max_df set, a broadcast
    LeftAnti join sits BELOW the posting-list aggregate (over-cap terms'
    rows are dropped before any list materializes); results match the
    post-filter model exactly."""
    from shardpack_spark.operators.search import _plist_agg, _term_tf

    docs = spark.createDataFrame(
        [(i, ("common " * 5 + f"rare{i} mid{i % 3} ")) for i in range(20)],
        "doc_id long, text string",
    )
    tfd = _term_tf(docs, "doc_id", "text")  # carries dl in-row

    cut = _plist_agg(tfd, min_df=2, max_df=10)
    plan = cut._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan and "strategy=broadcast" in plan

    got = {r["term"]: r["df"] for r in cut.collect()}
    # 'common' (df 20) exceeds max_df; rare terms (df 1) fall to min_df;
    # mid0/1/2 (df 6-7) survive
    assert "common" not in got and not any(t.startswith("rare") for t in got)
    assert set(got) == {"mid0", "mid1", "mid2"}
    model = {
        r["term"]: r["df"]
        for r in _plist_agg(tfd).collect()
        if 2 <= r["df"] <= 10
    }
    assert got == model
