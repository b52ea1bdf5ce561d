"""Pins for the parsed-SQL expression fragments.

Several higher-order fold expressions are built as single parsed SQL
strings (one py4j round trip instead of dozens through the Column API).
Where a Column-API form of the same expression still exists in the
package (query literal, marker count), the test evaluates BOTH forms over
the same data and requires exact equality, so an edit to either side that
silently diverges the values fails here first.  Where the SQL fragment is
the only implementation (OPH densification, cosine, signature estimate),
the test pins its known answers instead.  The OPH dedup pipeline itself
has one implementation, the operator chain; the last test ties bench.py's
q29 path to the oracle-certified q29 result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shardpack_spark.operators import dedup, similarity, text


def test_oph_densify_twins_bit_identical(spark):
    # per-bin minima with NULL holes, as (bin -> min) maps like the OPH
    # aggregation produces; include a single-bin doc (max densification
    # borrowing) and a full map (no borrowing)
    n_bins = 8
    full = {b: (b * 7919) - 4000 for b in range(n_bins)}
    rows = [(1, {0: 11, 3: -7, 7: 5}), (2, {4: 123456789}), (3, full)]
    df = spark.createDataFrame(rows, "sid INT, m MAP<INT, BIGINT>")
    out = {
        r["sid"]: r["sig"]
        for r in df.select(
            "sid", F.expr(dedup._oph_densify_sql("m", n_bins)).alias("sig")
        ).collect()
    }
    assert all(len(sig) == n_bins and None not in sig for sig in out.values())
    # non-empty bins keep their own minimum; only holes are filled
    assert [out[1][b] for b in (0, 3, 7)] == [11, -7, 5]
    assert out[3] == [full[b] for b in range(n_bins)]
    # the single-bin doc borrows its one value at 7 distinct distances
    assert out[2][4] == 123456789
    assert len(set(out[2])) == n_bins


def test_cosine_twins_bit_identical(spark):
    """_cosine_sql against a pure-Python reference with the same IEEE op
    sequence: double casts, left-fold sums from 0.0, sqrt, one division."""
    import math

    rows = [
        (1, [0.1, -0.25, 3.5], [1.0, 2.0, -0.5]),
        (2, [1e-8, 7.75, -2.125], [-0.3, 0.0, 9.5]),
        (3, [5.0, 5.0, 5.0], [5.0, 5.0, 5.0]),
        (4, [3.0, 4.0], [-6.0, -8.0]),
    ]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    got = {
        r["id"]: r["c"]
        for r in df.select(
            "id", F.expr(similarity._cosine_sql("a", "b")).alias("c")
        ).collect()
    }

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc = acc + x
        return acc

    want = {
        i: fold(x * y for x, y in zip(a, b))
        / (math.sqrt(fold(x * x for x in a)) * math.sqrt(fold(y * y for y in b)))
        for i, a, b in rows
    }
    assert got == want  # exact float equality: same fold, same order
    assert got[4] == -1.0


def test_query_literal_twin_bit_identical(spark):
    # repr() round-trips every IEEE double exactly; the SQL literal parse
    # must reproduce F.lit(float(x)) bit for bit, including "ugly" values
    vec = [0.1, -1.0 / 3.0, 2**-40, 123456.789012345, -0.0]
    df = spark.range(1)
    got_col = df.select(
        F.array(*[F.lit(float(x)) for x in vec]).alias("q")
    ).head()["q"]
    got_sql = df.select(F.expr(similarity._query_arr_sql(vec)).alias("q")).head()["q"]
    assert [x.hex() for x in got_col] == [x.hex() for x in got_sql]


def test_sig_estimate_twin_bit_identical(spark):
    rows = [
        (1, [1, 2, 3, 4], [1, 9, 3, 8]),
        (2, [7, 7, 7, 7], [7, 7, 7, 7]),
        (3, [1, 2, 3, 4], [5, 6, 7, 8]),
    ]
    df = spark.createDataFrame(rows, "id INT, __sa ARRAY<BIGINT>, __sb ARRAY<BIGINT>")
    got = {
        r["id"]: r["e"]
        for r in df.select("id", F.expr(dedup._sig_estimate_sql()).alias("e")).collect()
    }
    assert got == {1: 0.5, 2: 1.0, 3: 0.0}
    assert all(isinstance(v, float) for v in got.values())  # INT/INT -> DOUBLE


def test_marker_count_twin_bit_identical(spark):
    words = ["the", "and", "it's"]  # quote exercises SQL escaping
    rows = [(1, ["the", "the", "and", "xx"]), (2, ["it's", "nope"]), (3, [])]
    df = spark.createDataFrame(rows, "id INT, toks ARRAY<STRING>")
    got_col = {
        r["id"]: r["n"]
        for r in df.select(
            "id", text._marker_count(F.col("toks"), words).alias("n")
        ).collect()
    }
    got_sql = {
        r["id"]: r["n"]
        for r in df.select(
            "id", F.expr(text._marker_count_sql("toks", words)).alias("n")
        ).collect()
    }
    assert got_col == got_sql == {1: 3, 2: 1, 3: 0}


def test_fuzzy_dedup_lsh_matches_operator_chain(spark, sf_dir):
    """bench.py's q29 path (round4d as one selectExpr) must reproduce the
    'oph' rows of the registered q29 query row for row — the
    certification that the bench times the same computation q29's
    oracle certifies."""
    from shardpack_spark.queries import load_all
    from shardpack_spark.queries.llm import fuzzy_dedup_lsh

    spark.catalog.clearCache()
    q29 = sorted(
        (r["sid_a"], r["sid_b"], r["jac"])
        for r in load_all()["q29_fuzzy_dedup"].builder(spark, sf_dir).collect()
        if r["variant"] == "oph"
    )
    spark.catalog.clearCache()
    bench = sorted(tuple(r) for r in fuzzy_dedup_lsh(spark, sf_dir).collect())
    spark.catalog.clearCache()
    assert q29 == bench
    assert len(bench) > 0
