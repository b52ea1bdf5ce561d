"""Persistent IVF-PQ index: save/load round-trip and search identity.

The persisted search must return exactly what the in-session
``ivfpq_topk`` returns over the same build — same ids, same ADC
distances — and a probe must open only the probed buckets' shards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shardpack_spark.operators.ann_index import (
    ann_index_topk,
    load_ann_model,
    read_ann_codes,
    save_ann_index,
)
from shardpack_spark.operators.quantization import ivfpq_build, ivfpq_topk
from shardpack_spark.tables import load_table


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    df = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    encoded, coarse, books = ivfpq_build(df, coarse_k=8, m=4, k=8)
    path = str(tmp_path_factory.mktemp("annidx") / "idx")
    save_ann_index(encoded, coarse, books, path)
    yield encoded, coarse, books, path
    encoded.unpersist()


def test_model_round_trip_exact(spark, built):
    encoded, coarse, books, path = built
    model = load_ann_model(spark, path)
    assert model["id_col"] == "vec_id"
    assert model["coarse"] == [(p, [float(x) for x in c]) for p, c in coarse]
    assert model["codebooks"] == books


def test_codes_round_trip_exact(spark, built):
    encoded, _, _, path = built
    got = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"]))
        for r in read_ann_codes(spark, path).collect()
    }
    exp = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"]))
        for r in encoded.collect()
    }
    assert got == exp


def test_persisted_search_equals_in_session(spark, built):
    encoded, coarse, books, path = built
    df = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = [
        [float(x) for x in r["embedding"]]
        for r in df.orderBy("vec_id").limit(3).collect()
    ]
    for q in queries:
        mem = [
            (r["vec_id"], r["adc_dist"])
            for r in ivfpq_topk(encoded, coarse, books, q, k=5, nprobe=3).collect()
        ]
        disk = [
            (r["vec_id"], r["adc_dist"])
            for r in ann_index_topk(spark, path, q, k=5, nprobe=3).collect()
        ]
        assert disk == mem


def test_probe_reads_subset_of_shards(spark, built):
    from pyspark.sql.datasource import EqualTo

    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import ShardPackPruningReader

    _, coarse, _, path = built
    n_shards = len(codec.list_shards(path))
    if n_shards < 3:
        pytest.skip("index fits too few shards at this SF")
    probed = read_ann_codes(spark, path, [coarse[0][0]])
    cores = spark.sparkContext.defaultParallelism
    r = ShardPackPruningReader({"path": path, "prune_by_key": "true"}, cores)
    r.pushFilters([EqualTo(("key",), f"b/{int(coarse[0][0]):08d}")])
    # the probe plans the reader-level pruned plan, which has fewer tasks
    # than the min(#shards, cores) an unpruned plan never goes below
    assert probed.rdd.getNumPartitions() == len(r.partitions()) < min(n_shards, cores)
    assert probed.count() > 0


@pytest.mark.slow  # heavy (>=12 s); conclusive lane only
def test_incremental_vector_append(spark, sf_dir, tmp_path):
    from shardpack_spark.operators.ann_index import (
        encode_with_model,
        update_ann_index,
    )

    df = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    old = df.filter(F.col("vec_id") % 2 == 0)
    new = df.filter(F.col("vec_id") % 2 == 1)
    encoded, coarse, books = ivfpq_build(old, coarse_k=8, m=4, k=8)
    path = str(tmp_path / "idx")
    save_ann_index(encoded, coarse, books, path)

    n_added = update_ann_index(new, path)
    assert n_added == new.count()

    # the on-disk codes are base + frozen-model encodes of the new batch
    model = load_ann_model(spark, path)
    exp_new = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"]))
        for r in encode_with_model(new, model).collect()
    }
    exp_old = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"])) for r in encoded.collect()
    }
    got = {
        r["vec_id"]: (r["cid"], tuple(r["pq_code"]))
        for r in read_ann_codes(spark, path).collect()
    }
    assert got == {**exp_old, **exp_new}

    # a new vector's self-query finds it (its residual is near-exactly
    # representable, so it lands in the top results of its own bucket)
    probe = new.orderBy("vec_id").head()
    q = [float(x) for x in probe["embedding"]]
    hits = ann_index_topk(spark, path, q, k=5, nprobe=3).collect()
    assert probe["vec_id"] in [r["vec_id"] for r in hits]

    # empty update is a no-op
    assert update_ann_index(new.limit(0), path) == 0
    encoded.unpersist()
