"""DataSource V2 round-trip + pushdown/partition tests for format("shardpack")."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from shardpack_spark.format import codec
from shardpack_spark.format.datasource import MANIFEST_NAME, register
from shardpack_spark.tables import load_table


@pytest.fixture(scope="session")
def spark_ds(spark):
    register(spark)
    return spark


def _planned_shards(parts) -> set[str]:
    """Shard names a plan covers (grouped partitions expanded; the empty
    sentinel covers none) — a pruning count independent of binning."""
    return {
        full.rsplit("/", 1)[-1] for p in parts if p.path for full in p.group or [p.path]
    }


def _docs_as_records(spark, sf_dir):
    """documents table -> shardpack row shape (text as a JSON entry)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("doc/"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("key"),
        F.create_map(
            F.lit("lang"), F.col("lang"),
            F.lit("source"), F.col("source"),
            F.lit("n_chars"), F.col("n_chars").cast("string"),
        ).alias("metadata"),
        F.array(
            F.struct(
                F.lit("text.txt").alias("file_name"),
                F.lit("text/plain").alias("content_type"),
                F.lit("none").alias("encoding"),
                F.length("text").cast("long").alias("size"),
                F.encode("text", "utf-8").alias("data"),
            )
        ).alias("entries"),
    )


def test_write_read_round_trip(spark_ds, sf_dir, tmp_path):
    """Q2 shape: documents -> shardpack -> read back, counts + bytes equal."""
    out = str(tmp_path / "ds")
    src = _docs_as_records(spark_ds, sf_dir)
    src.write.format("shardpack").option("target_shard_bytes", 64 * 1024).mode("append").save(out)

    assert os.path.exists(os.path.join(out, MANIFEST_NAME))
    back = spark_ds.read.format("shardpack").load(out)
    assert back.count() == src.count()

    src_sum = src.select(F.sum(F.element_at("entries", 1)["size"]).alias("s")).head()["s"]
    back_sum = back.select(F.sum(F.element_at("entries", 1)["size"]).alias("s")).head()["s"]
    assert src_sum == back_sum

    # payload fidelity on a sample key
    row = back.filter(F.col("key") == "doc/00000007").head()
    assert bytes(row["entries"][0]["data"]).decode("utf-8") == (
        load_table(spark_ds, sf_dir, "documents").filter(F.col("doc_id") == 7).head()["text"]
    )
    assert row["metadata"]["lang"] in {"en", "de", "fr", "es", "zh"}


def test_multiple_shards_multiple_partitions(spark_ds, sf_dir, tmp_path):
    """16 KiB shards pack into bins by bytes per core: fewer tasks than
    shards, never fewer than min(#shards, cores), every record read once."""
    from shardpack_spark.format.datasource import ShardPackReader, read_shardpack

    out = str(tmp_path / "ds")
    src = _docs_as_records(spark_ds, sf_dir)
    src.coalesce(1).write.format("shardpack").option(
        "target_shard_bytes", 16 * 1024
    ).mode("append").save(out)
    shards = codec.list_shards(out)
    assert len(shards) > 3
    two = ShardPackReader({"path": out}, 2).partitions()
    assert 2 <= len(two) < len(shards)
    assert _planned_shards(two) == {os.path.basename(s) for s in shards}
    # read_shardpack and a plain load both plan for the session's cores,
    # which register() records on the data source
    cores = spark_ds.sparkContext.defaultParallelism
    planned = len(ShardPackReader({"path": out}, cores).partitions())
    assert min(len(shards), cores) <= planned <= len(shards)
    for df in (read_shardpack(spark_ds, out), spark_ds.read.format("shardpack").load(out)):
        assert df.rdd.getNumPartitions() == planned
        assert df.count() == src.count()


def test_overwrite_mode(spark_ds, sf_dir, tmp_path):
    out = str(tmp_path / "ds")
    src = _docs_as_records(spark_ds, sf_dir).limit(50)
    src.write.format("shardpack").mode("append").save(out)
    src.write.format("shardpack").mode("overwrite").save(out)
    assert spark_ds.read.format("shardpack").load(out).count() == 50


def test_compressed_round_trip(spark_ds, sf_dir, tmp_path):
    out = str(tmp_path / "gz")
    src = _docs_as_records(spark_ds, sf_dir).limit(100)
    src.write.format("shardpack").option("compression", "gzip").mode("append").save(out)
    back = spark_ds.read.format("shardpack").load(out)
    assert back.count() == 100
    assert back.select(F.element_at("entries", 1)["encoding"].alias("e")).distinct().head()["e"] == "gzip"


def test_key_filter_prunes_partitions(spark_ds, sf_dir, tmp_path):
    """EqualTo('key') pushdown prunes shards via manifest key ranges."""
    out = str(tmp_path / "ds")
    # sorted keys -> disjoint key ranges per shard -> pruning is effective
    _docs_as_records(spark_ds, sf_dir).orderBy("key").coalesce(1).write.format(
        "shardpack"
    ).option("target_shard_bytes", 16 * 1024).mode("append").save(out)
    n_shards = len(codec.list_shards(out))
    from shardpack_spark.format.datasource import read_shardpack

    filtered = read_shardpack(spark_ds, out).filter(F.col("key") == "doc/00000007")
    assert filtered.count() == 1
    assert n_shards > 1 and filtered.rdd.getNumPartitions() == 1  # one shard survives

    from shardpack_spark.format.datasource import _load_manifest

    manifest = _load_manifest(out)  # merged across manifest parts
    assert all("min_key" in s and "max_key" in s for s in manifest["shards"])


def test_range_filter_prunes_partitions(spark_ds, sf_dir, tmp_path):
    """key >/>=/</<= comparisons prune via manifest [min,max] intersection
    — the range-scan access path over a sorted layout."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    from shardpack_spark.format.datasource import (
        ShardPackPruningReader,
        _load_manifest,
        read_shardpack,
    )

    out = str(tmp_path / "sorted")
    _docs_as_records(spark_ds, sf_dir).orderBy("key").coalesce(1).write.format(
        "shardpack"
    ).option("target_shard_bytes", 16 * 1024).mode("append").save(out)
    shards = _load_manifest(out)["shards"]
    assert len(shards) > 4

    # end-to-end: Spark pushes the BETWEEN conjuncts through pushFilters
    lo, hi = "doc/00000100", "doc/00000120"
    rng = read_shardpack(spark_ds, out).filter(
        (F.col("key") >= lo) & (F.col("key") < hi)
    )
    assert rng.count() == 20
    # an unpruned plan never has fewer than min(#shards, cores) tasks, so
    # binning cannot pass this without pruning
    cores = spark_ds.sparkContext.defaultParallelism
    assert rng.rdd.getNumPartitions() < min(len(shards), cores)

    def kept(filters):
        # the shard set the plan covers, not its (binned) partition count
        r = ShardPackPruningReader({"path": out, "prune_by_key": "true"})
        r.pushFilters(filters)
        return _planned_shards(r.partitions())

    all_n = len(kept([]))
    assert all_n == len(shards)
    mid_n = len(kept([GreaterThanOrEqual(("key",), lo), LessThan(("key",), hi)]))
    assert 0 < mid_n < all_n

    # boundary semantics: an EXCLUSIVE bound at exactly a shard's edge
    # prunes the touching shard; the inclusive form keeps it
    edge = shards[0]["max_key"]
    assert len(kept([LessThan(("key",), shards[0]["min_key"])])) == 0
    assert len(kept([GreaterThan(("key",), shards[-1]["max_key"])])) == 0
    excl = len(kept([GreaterThan(("key",), edge)]))
    incl = len(kept([GreaterThanOrEqual(("key",), edge)]))
    assert incl == excl + 1

    # conflicting conjuncts (empty interval) prune everything
    assert len(kept([GreaterThan(("key",), hi), LessThanOrEqual(("key",), lo)])) == 0

    # range + equality compose as a conjunction: a key OUTSIDE the range
    # keeps nothing even though its own shard exists
    assert (
        len(
            kept(
                [
                    EqualTo(("key",), shards[-1]["max_key"]),
                    LessThan(("key",), shards[0]["max_key"]),
                ]
            )
        )
        == 0
    )

    # pruning is an optimization only: values match an unpruned filter run
    full = (
        spark_ds.read.format("shardpack")
        .load(out)
        .filter((F.col("key") >= lo) & (F.col("key") < hi))
    )
    assert sorted(r["key"] for r in rng.collect()) == sorted(
        r["key"] for r in full.collect()
    )


def test_pruned_self_union_per_leg_loads(spark_ds, sf_dir, tmp_path):
    """Differently-filtered legs of a union MUST come from separate
    read_shardpack calls: Spark 4.1 dedups plan-equal Python DSv2 scans
    ignoring pushed filters, so legs sharing ONE DataFrame all execute
    the last-planned leg's pruned partitions (documented hazard in
    read_shardpack).  Pins the safe pattern stays correct under pruning."""
    from shardpack_spark.format.datasource import read_shardpack

    out = str(tmp_path / "sorted")
    _docs_as_records(spark_ds, sf_dir).orderBy("key").coalesce(1).write.format(
        "shardpack"
    ).option("target_shard_bytes", 16 * 1024).mode("append").save(out)

    point = (
        read_shardpack(spark_ds, out)
        .filter(F.col("key") == "doc/00000007")
        .select("key")
    )
    rng = (
        read_shardpack(spark_ds, out)
        .filter((F.col("key") >= "doc/00000100") & (F.col("key") < "doc/00000103"))
        .select("key")
    )
    got = sorted(r["key"] for r in point.unionAll(rng).collect())
    assert got == [
        "doc/00000007",
        "doc/00000100",
        "doc/00000101",
        "doc/00000102",
    ]


def test_bloom_prunes_hash_placed_keys(spark_ds, sf_dir, tmp_path):
    """Hash-placed keys overlap every shard's [min,max] range, so range
    pruning keeps everything — the per-shard Bloom filter must still cut a
    point lookup down to ~1 shard (the 100 TB content-hash layout)."""
    from pyspark.sql.datasource import EqualTo

    from shardpack_spark.format.datasource import (
        ShardPackPruningReader,
        read_shardpack,
    )

    out = str(tmp_path / "hashed")
    docs = _docs_as_records(spark_ds, sf_dir).withColumn(
        "key", F.sha2(F.col("key"), 256)
    )
    docs.repartition(4).write.format("shardpack").option(
        "target_shard_bytes", 16 * 1024
    ).mode("append").save(out)

    from shardpack_spark.format.datasource import _load_manifest

    manifest = _load_manifest(out)  # merged across manifest parts
    shards = manifest["shards"]
    assert len(shards) > 8
    assert all("bloom" in s for s in shards)
    # hash placement: every shard's range spans ~the whole keyspace, so
    # range-only pruning would keep every shard for any probe key
    probe = "80"  # mid-keyspace hex prefix
    overlapping = sum(1 for s in shards if s["min_key"] <= probe <= s["max_key"])
    assert overlapping >= 0.9 * len(shards)

    some_key = read_shardpack(spark_ds, out).select("key").head()["key"]
    reader = ShardPackPruningReader({"path": out, "prune_by_key": "true"})
    reader.pushFilters([EqualTo(("key",), some_key)])
    kept = reader.partitions()
    # 10 bits/key -> <1% false positives: expect 1 shard, allow a couple
    assert 1 <= len(kept) <= max(2, len(shards) // 8)

    # absent key: definitely-absent answers from every bloom -> zero shards
    reader2 = ShardPackPruningReader({"path": out, "prune_by_key": "true"})
    reader2.pushFilters([EqualTo(("key",), "no-such-key")])
    assert len(reader2.partitions()) == 0

    # pruning is an optimization only: full read still finds the record
    assert read_shardpack(spark_ds, out).filter(F.col("key") == some_key).count() == 1


def test_sql_access_and_file_uri_paths(spark_ds, sf_dir, tmp_path):
    """SQL over shardpack data via a temp view, and file: URI paths (what
    SQL DDL / catalog layers hand over as the table location)."""
    from shardpack_spark.format.datasource import read_shardpack

    out = str(tmp_path / "sqlds")
    _docs_as_records(spark_ds, sf_dir).limit(50).write.format("shardpack").mode(
        "overwrite"
    ).save(out)

    read_shardpack(spark_ds, out).createOrReplaceTempView("sp_docs")
    row = spark_ds.sql(
        "SELECT COUNT(*) AS n, MIN(key) AS mn FROM sp_docs"
    ).head()
    assert row["n"] == 50 and row["mn"].startswith("doc/")

    # file: URI forms resolve to the same dataset
    for uri in (f"file:{out}", f"file://{out}"):
        assert spark_ds.read.format("shardpack").load(uri).count() == 50


def test_streaming_source_incremental(spark_ds, tmp_path):
    """New shard files appearing in the directory arrive as new batches."""
    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)

    def add_shard(i):
        w = codec.ShardWriter(os.path.join(src_dir, codec.shard_name("s", i)))
        for j in range(3):
            w.write_record(
                codec.Record(
                    key=f"k{i}-{j}",
                    entries=[codec.FileEntry("a.txt", "text/plain", f"v{i}{j}".encode())],
                )
            )
        w.close()

    add_shard(0)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            spark_ds.readStream.format("shardpack")
            .load(src_dir)
            .select("key")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"
        return {r["key"] for r in spark_ds.read.parquet(out_dir).collect()}

    got1 = drain()
    assert got1 == {"k0-0", "k0-1", "k0-2"}
    add_shard(1)
    got2 = drain()
    # incremental: second drain appends ONLY the new shard's records
    assert got2 == {"k0-0", "k0-1", "k0-2", "k1-0", "k1-1", "k1-2"}


def test_spec_naming_sequential_shards(spark_ds, sf_dir, tmp_path):
    """spec_naming=name commits shards as name-000000.shardpack,
    name-000001.shardpack, ... (reference draft.md:23-30), appends
    continuing the sequence, with reads unchanged."""
    out = str(tmp_path / "spec_ds")
    docs = _docs_as_records(spark_ds, sf_dir)
    docs.repartition(3).write.format("shardpack").option(
        "spec_naming", "docs-train"
    ).option("target_shard_bytes", 64 * 1024).mode("overwrite").save(out)
    names = sorted(os.path.basename(p) for p in codec.list_shards(out))
    assert names[0] == "docs-train-000000.shardpack"
    assert all(
        n == f"docs-train-{i:06d}.shardpack" for i, n in enumerate(names)
    ), names
    n0 = spark_ds.read.format("shardpack").load(out).count()
    docs.limit(7).repartition(1).write.format("shardpack").option(
        "spec_naming", "docs-train"
    ).mode("append").save(out)
    names2 = sorted(os.path.basename(p) for p in codec.list_shards(out))
    assert names2[len(names)] == f"docs-train-{len(names):06d}.shardpack"
    assert spark_ds.read.format("shardpack").load(out).count() == n0 + 7


def test_streaming_rate_limit_bounds_batch_size(spark_ds, tmp_path):
    """max_shards_per_batch=1 bounds STEADY-STATE micro-batches: shards
    appended mid-stream drain one per batch, every record exactly once.

    The FIRST trigger of a reader instance is deliberately uncapped
    (round-6 review): the engine may ask for latestOffset before
    anything reveals the checkpoint, and a capped offset sorting below
    it would be logged and, across a crash, re-deliver the gap —
    regression-proof beats bounded on that one batch (see
    format/stream_offsets.py).  So the pre-existing shard arrives in
    batch 1 regardless of the cap; the cap governs every later batch."""

    def add_shard(i: int) -> None:
        w = codec.ShardWriter(os.path.join(src_dir, codec.shard_name("s", i)))
        for j in range(2):
            w.write_record(
                codec.Record(
                    key=f"k{i}-{j}",
                    entries=[codec.FileEntry("a.txt", "text/plain", b"v")],
                )
            )
        w.close()

    src_dir = str(tmp_path / "rl_src")
    os.makedirs(src_dir)
    add_shard(0)
    out_dir = str(tmp_path / "rl_out")
    q = (
        spark_ds.readStream.format("shardpack")
        .option("max_shards_per_batch", 1)
        .load(src_dir)
        .select("key")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    import time

    def keys_now():
        try:
            return sorted(r["key"] for r in spark_ds.read.parquet(out_dir).collect())
        except Exception:
            return []

    try:
        deadline = time.time() + 120
        while time.time() < deadline and keys_now() != ["k0-0", "k0-1"]:
            time.sleep(0.5)
        assert keys_now() == ["k0-0", "k0-1"]
        # backlog lands mid-stream: 3 shards, cap 1 -> three 2-row batches
        for i in range(1, 4):
            add_shard(i)
        want = sorted(f"k{i}-{j}" for i in range(4) for j in range(2))
        while time.time() < deadline and keys_now() != want:
            time.sleep(0.5)
        assert keys_now() == want
        nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(nonempty) >= 4, [p["numInputRows"] for p in q.recentProgress]
        assert all(p["numInputRows"] <= 2 for p in nonempty)
    finally:
        q.stop()


def test_streaming_exactly_once_across_batch_appends(spark_ds, sf_dir, tmp_path):
    """The round-1 bug: uuid basenames sorted non-monotonically across
    commits, so a count-based offset skipped new files and re-emitted old
    ones.  Commit-sequence naming + name-watermark offsets make every
    append arrive exactly once regardless of uuid sort order."""
    src_dir = str(tmp_path / "eo_src")
    ckpt = str(tmp_path / "eo_ckpt")
    out_dir = str(tmp_path / "eo_out")
    docs = _docs_as_records(spark_ds, sf_dir)

    def append(lo, hi):
        (
            docs.filter((F.col("key") >= f"doc/{lo:08d}") & (F.col("key") < f"doc/{hi:08d}"))
            .write.format("shardpack")
            .mode("append")
            .save(src_dir)
        )

    def drain():
        q = (
            spark_ds.readStream.format("shardpack")
            .load(src_dir)
            .select("key")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"
        rows = [r["key"] for r in spark_ds.read.parquet(out_dir).collect()]
        return rows

    append(0, 10)
    rows = drain()
    assert sorted(rows) == [f"doc/{i:08d}" for i in range(10)]
    append(10, 20)
    append(20, 25)
    rows = drain()
    # exactly-once: no duplicates, no losses, across multiple appends
    assert sorted(rows) == [f"doc/{i:08d}" for i in range(25)]
    assert len(rows) == len(set(rows))


def test_partial_and_uncommitted_files_are_invisible(spark_ds, sf_dir, tmp_path):
    """A killed task's partial file and an uncommitted orphan shard must
    not poison or pollute reads of a committed dataset."""
    out = str(tmp_path / "ds")
    src = _docs_as_records(spark_ds, sf_dir).limit(20)
    src.write.format("shardpack").mode("append").save(out)

    # footer-less partial file under a temp name (killed mid-write)
    with open(os.path.join(out, "c99999999-part-00000-dead.shardpack.inprogress"), "wb") as f:
        f.write(b"\x01\x02\x03")
    # complete-but-uncommitted shard (task finished, job failed before commit)
    w = codec.ShardWriter(os.path.join(out, "c00000099-orphan-000000.shardpack"))
    w.write_record(codec.Record(key="ORPHAN", entries=[], metadata={}))
    w.close()

    back = spark_ds.read.format("shardpack").load(out)
    keys = {r["key"] for r in back.select("key").collect()}
    assert back.count() == 20
    assert "ORPHAN" not in keys


def test_append_merges_manifest_stats(spark_ds, sf_dir, tmp_path):
    """ADVICE: append must keep prior shards' key-range stats and record
    counts in the manifest instead of overwriting it wholesale."""
    out = str(tmp_path / "ds")
    docs = _docs_as_records(spark_ds, sf_dir)
    docs.filter(F.col("key") < "doc/00000100").orderBy("key").coalesce(1).write.format(
        "shardpack"
    ).mode("append").save(out)
    docs.filter((F.col("key") >= "doc/00000100") & (F.col("key") < "doc/00000200")).orderBy(
        "key"
    ).coalesce(1).write.format("shardpack").mode("append").save(out)

    from shardpack_spark.format.datasource import _load_manifest

    manifest = _load_manifest(out)  # merged view across manifest parts
    n_total = spark_ds.read.format("shardpack").load(out).count()
    assert manifest["total_records"] == n_total
    assert all("min_key" in s and "max_key" in s for s in manifest["shards"])
    assert len(manifest["shards"]) >= 2


def test_skip_payload_and_metadata_only_reads(spark_ds, sf_dir, tmp_path):
    """Metadata-only access path (R4): entry headers / key+metadata without
    decoding payload bytes."""
    out = str(tmp_path / "ds")
    src = _docs_as_records(spark_ds, sf_dir).limit(30)
    src.write.format("shardpack").mode("append").save(out)

    full = spark_ds.read.format("shardpack").load(out)
    skipped = spark_ds.read.format("shardpack").option("skip_payload", "true").load(out)
    row = skipped.select(F.explode("entries").alias("e")).select("e.*").head()
    assert row["data"] is None
    assert row["size"] > 0  # true uncompressed size, from the entry header
    assert (
        skipped.select(F.sum(F.element_at("entries", 1)["size"]).alias("s")).head()["s"]
        == full.select(F.sum(F.element_at("entries", 1)["size"]).alias("s")).head()["s"]
    )

    meta = spark_ds.read.format("shardpack").option("metadata_only", "true").load(out)
    assert meta.count() == 30
    got = meta.select("key", "metadata").orderBy("key").collect()
    want = full.select("key", "metadata").orderBy("key").collect()
    assert [(r["key"], dict(r["metadata"])) for r in got] == [
        (r["key"], dict(r["metadata"])) for r in want
    ]
    assert all(r["entries"] is None for r in meta.collect())


def test_entry_names_selective_decode_spark(spark_ds, tmp_path):
    """Modality-selective Spark reads: entry_names decompresses only the
    named entries; unselected ones ride header-only with data NULL and
    their true size."""
    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import read_shardpack
    from shardpack_spark.format.writer import write_records

    out = str(tmp_path / "modal")
    write_records(
        out,
        [
            codec.Record(
                key=f"m/{i}",
                entries=[
                    codec.FileEntry("caption.txt", "text/plain", f"cap {i}".encode()),
                    codec.FileEntry("image.bin", "image/png", b"\x89" * 4096),
                ],
            )
            for i in range(10)
        ],
        compression="gzip",
    )
    df = read_shardpack(spark_ds, out, entry_names=["caption.txt"])
    rows = df.select(F.explode("entries").alias("e")).select("e.*").collect()
    caps = [r for r in rows if r["file_name"] == "caption.txt"]
    imgs = [r for r in rows if r["file_name"] == "image.bin"]
    assert len(caps) == 10 and len(imgs) == 10
    assert all(bytes(r["data"]).startswith(b"cap ") for r in caps)
    assert all(r["data"] is None and r["size"] == 4096 for r in imgs)


def test_stream_sink_replay_discards_duplicate_batch(spark_ds, tmp_path):
    """A replayed micro-batch (marker already present) must not duplicate
    records: commit() discards the replayed staging output."""
    from shardpack_spark.format.datasource import ShardCommitMessage, ShardPackStreamWriter

    out = str(tmp_path / "sink")
    os.makedirs(out)
    writer = ShardPackStreamWriter({"path": out})

    def staged_message(tag):
        task_dir = os.path.join(out, "_staging", f"task-{tag}")
        os.makedirs(task_dir)
        w = codec.ShardWriter(os.path.join(task_dir, f"part-{tag}-000000.shardpack"))
        w.write_record(codec.Record(key=f"k-{tag}", entries=[], metadata={}))
        res = w.close()
        return ShardCommitMessage(
            shards=[
                {
                    "path": os.path.basename(res["path"]),
                    "staging": os.path.relpath(task_dir, out),
                    "records": 1,
                    "bytes": res["bytes"],
                }
            ]
        )

    writer.commit([staged_message("a")], batchId=7)
    # replay of batch 7 with fresh uuids (as Spark would after a restart)
    writer.commit([staged_message("b")], batchId=7)

    keys = [r.key for p in codec.list_shards(out) for r in codec.iter_records(p)]
    assert keys == ["k-a"]  # the replay's output was discarded
    assert not os.listdir(os.path.join(out, "_staging")) if os.path.isdir(
        os.path.join(out, "_staging")
    ) else True


def test_read_helper_projection_triggers_metadata_only(spark_ds, sf_dir, tmp_path):
    """read_shardpack(columns=[...]) without 'entries' must take the
    index-only path automatically — same rows, no payload decode."""
    from shardpack_spark.format.datasource import read_shardpack

    out = str(tmp_path / "ds")
    _docs_as_records(spark_ds, sf_dir).limit(25).write.format("shardpack").mode(
        "append"
    ).save(out)

    meta = read_shardpack(spark_ds, out, columns=["key", "metadata"])
    assert meta.columns == ["key", "metadata"]
    full = spark_ds.read.format("shardpack").load(out).select("key", "metadata")
    got = [(r["key"], dict(r["metadata"])) for r in meta.orderBy("key").collect()]
    want = [(r["key"], dict(r["metadata"])) for r in full.orderBy("key").collect()]
    assert got == want
    # requesting entries keeps the full read path
    both = read_shardpack(spark_ds, out, columns=["key", "entries"])
    assert both.select(F.explode("entries").alias("e")).select("e.data").head()["data"] is not None


def test_stream_reader_restart_never_redelivers_consumed_shards(tmp_path):
    """Checkpoint-restart edge of admission control: the engine may call
    latestOffset() on a fresh reader with NO initialOffset() first, so the
    capped offset can sort below the committed watermark.  The consumed
    floor (learned from the engine's start offsets) must turn the
    regressed batch into an EMPTY batch — never a re-delivery — and the
    stream must still drain the remaining shards exactly once."""
    from shardpack_spark.format.datasource import ShardPackStreamReader

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(4):
        w = codec.ShardWriter(os.path.join(src, codec.shard_name("s", i)))
        w.write_record(
            codec.Record(key=f"k{i}", entries=[codec.FileEntry("a", "text/plain", b"v")])
        )
        w.close()
    names = sorted(os.path.basename(p) for p in codec.list_shards(src))

    def drain(reader, committed):
        """One engine cycle: plan (committed, latest], return shard names."""
        latest = reader.latestOffset()
        if latest == committed:
            return committed, []
        parts = reader.partitions(committed, latest)
        reader.commit(latest)
        return latest, sorted(os.path.basename(p.path) for p in parts)

    # run 1 (fresh start): cap=1 admits one shard per batch
    r1 = ShardPackStreamReader({"path": src, "max_shards_per_batch": 1})
    committed = r1.initialOffset()
    committed, b1 = drain(r1, committed)
    committed, b2 = drain(r1, committed)
    assert b1 == [names[0]] and b2 == [names[1]]
    checkpoint = committed  # engine has committed through names[1]

    # run 2 (restart): fresh reader, latestOffset called FIRST — its capped
    # answer may regress below the checkpoint
    r2 = ShardPackStreamReader({"path": src, "max_shards_per_batch": 1})
    delivered = []
    committed = checkpoint
    for _ in range(8):  # engine keeps cycling
        committed, batch = drain(r2, committed)
        assert all(n > checkpoint["last"] for n in batch), f"re-delivered {batch}"
        delivered += batch
        if sorted(delivered) == names[2:]:
            break
    assert sorted(delivered) == names[2:], delivered


def test_bloom_no_false_negatives_property():
    """Every inserted key answers maybe-present (zero false negatives),
    and false-positive rate on absent keys stays near the design point."""
    import base64 as b64

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from shardpack_spark.format.manifest import (
        _bloom_build,
        _bloom_key_hashes,
        _bloom_maybe_contains,
    )

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=300))
    def check(keys):
        bloom = _bloom_build([_bloom_key_hashes(k) for k in keys])
        bits = b64.b64decode(bloom["bits"])
        assert all(_bloom_maybe_contains(bloom, bits, k) for k in keys)

    check()

    # FP rate: 10 bits/key, k=7 -> ~0.8% theoretical; allow generous slack
    keys = [f"present/{i}" for i in range(5000)]
    bloom = _bloom_build([_bloom_key_hashes(k) for k in keys])
    bits = b64.b64decode(bloom["bits"])
    probes = [f"absent/{i}" for i in range(20000)]
    fp = sum(1 for p in probes if _bloom_maybe_contains(bloom, bits, p))
    assert fp / len(probes) < 0.03


def test_bloom_malformed_never_prunes():
    from shardpack_spark.format.manifest import _bloom_maybe_contains

    assert _bloom_maybe_contains({}, b"", "k") is True
    assert _bloom_maybe_contains({"m": "x", "k": 7}, b"", "k") is True
    assert _bloom_maybe_contains({"m": 1024, "k": 7}, b"\x00", "k") is True  # short bits


def test_undecodable_bloom_bits_never_prune(spark_ds, tmp_path):
    """Pruning stays a pure optimization on both read paths: with every
    manifest Bloom filter's bits undecodable base64, the facade lookup,
    the DSv2 planner and a key-filtered read_shardpack all still find the
    record (the planner used to raise binascii.Error)."""
    from pyspark.sql.datasource import EqualTo

    from shardpack_spark.format.datasource import ShardPackPruningReader, read_shardpack
    from shardpack_spark.format.reader import open_dataset
    from shardpack_spark.format.writer import write_records

    out = str(tmp_path / "badbloom")
    for s in range(11):  # one commit, one shard each
        write_records(
            out,
            [codec.Record(key=f"k{1000 + 10 * s + i}", entries=[], metadata={}) for i in range(10)],
        )

    def spoil(node) -> int:
        if isinstance(node, dict):
            n = 0
            if isinstance(node.get("bloom"), dict):
                node["bloom"]["bits"] = "abc"
                n = 1
            return n + sum(spoil(v) for k, v in node.items() if k != "bloom")
        if isinstance(node, list):
            return sum(spoil(v) for v in node)
        return 0

    spoiled = 0
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".json"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    doc = json.load(fh)
                spoiled += spoil(doc)
                with open(p, "w") as fh:
                    json.dump(doc, fh)
    assert spoiled >= 11

    assert [r.key for r in open_dataset(out).lookup("k1007")] == ["k1007"]
    reader = ShardPackPruningReader({"path": out, "prune_by_key": "true"})
    reader.pushFilters([EqualTo(("key",), "k1007")])
    assert len(_planned_shards(reader.partitions())) == 1  # the [min,max] range still prunes
    rows = read_shardpack(spark_ds, out).filter(F.col("key") == "k1007").collect()
    assert [r["key"] for r in rows] == ["k1007"]


def _land_stream_batch(root: str, batch_id: int, keys) -> None:
    """Commit ``keys`` as stream-sink micro-batch ``batch_id``: shards
    staged with their pruning stats, as a sink task stages them."""
    from shardpack_spark.format import storage
    from shardpack_spark.format.datasource import (
        STAGING_DIR,
        ShardCommitMessage,
        ShardPackStreamWriter,
        ShardSink,
    )

    task_dir = os.path.join(root, STAGING_DIR, f"task-{batch_id:05d}")
    sink = ShardSink(task_dir, f"part-{batch_id:05d}")
    for k in keys:
        sink.write(codec.Record(key=k, entries=[], metadata={"lang": "en"}))
    staging = storage.relpath(task_dir, root)
    staged = [{**s, "staging": staging} for s in sink.close()]
    ShardPackStreamWriter({"path": root}).commit(
        [ShardCommitMessage(shards=staged)], batchId=batch_id
    )


def test_each_plan_parses_each_stream_marker_once(tmp_path, monkeypatch):
    """A planning call (or an opened facade Dataset) builds ONE live view:
    every `_batch_*.json` marker is read once, not once per question
    (visible names, pruning stats, sizes) as it was when each question
    had its own marker loop."""
    from collections import Counter

    from pyspark.sql.datasource import EqualTo

    from shardpack_spark.format import storage
    from shardpack_spark.format.datasource import (
        ShardPackPruningReader,
        ShardPackReader,
        ShardPackStreamReader,
    )
    from shardpack_spark.format.reader import open_dataset
    from shardpack_spark.format.writer import write_records

    out = str(tmp_path / "markers")
    write_records(
        out, [codec.Record(key=f"k{i}", entries=[], metadata={"lang": "en"}) for i in range(4)]
    )
    _land_stream_batch(out, 5, ["s5"])
    _land_stream_batch(out, 6, ["s6"])

    reads: Counter = Counter()
    real_read_bytes = storage.StorageBackend.read_bytes

    def counting_read_bytes(self, path, *args, **kwargs):
        if os.path.basename(path).startswith("_batch_"):
            reads[os.path.basename(path)] += 1
        return real_read_bytes(self, path, *args, **kwargs)

    monkeypatch.setattr(storage.StorageBackend, "read_bytes", counting_read_bytes)

    def pruned_batch_plan():
        r = ShardPackPruningReader({"path": out, "where_meta": json.dumps({"lang": "en"})})
        r.pushFilters([EqualTo(("key",), "s5")])
        assert len(_planned_shards(r.partitions())) == 1

    def plain_batch_plan():
        assert len(_planned_shards(ShardPackReader({"path": out}).partitions())) == 3

    stream = ShardPackStreamReader({"path": out})
    start = stream.initialOffset()

    def stream_batch():
        assert len(_planned_shards(stream.partitions(start, stream.latestOffset()))) == 3

    def facade_open_len_lookup():
        d = open_dataset(out)
        assert len(d) == 6
        assert [r.key for r in d.lookup("s6")] == ["s6"]

    for case in (pruned_batch_plan, plain_batch_plan, stream_batch, facade_open_len_lookup):
        reads.clear()
        case()
        assert reads == {"_batch_00000005.json": 1, "_batch_00000006.json": 1}, case.__name__


def test_facade_and_planner_keep_the_same_shards(tmp_path):
    """One shard predicate: for random per-shard key sets, with Bloom
    bits spoiled or key-range bounds dropped at random, the facade's
    lookup candidates and the DSv2 planner's pushed `key IN (...)` keep
    exactly the same shards, and neither drops a shard that holds a
    probed key."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.datasource import In

    from shardpack_spark.format.datasource import ShardPackPruningReader
    from shardpack_spark.format.reader import open_dataset
    from shardpack_spark.format.writer import write_records

    keys = st.text(alphabet="abcd", min_size=1, max_size=3)
    spoils = st.sampled_from(["none", "bits", "min_key", "max_key", "range"])
    runs = iter(range(1 << 30))

    def spoil(node, how: dict) -> int:
        """Apply ``how`` ({shard name: mode}) to the shard entries under
        ``node``; returns how many entries it spoiled."""
        if isinstance(node, list):
            return sum(spoil(v, how) for v in node)
        if not isinstance(node, dict):
            return 0
        mode = how.get(node.get("path"), "none")
        if mode == "bits":
            node["bloom"]["bits"] = "abc"
        if mode in ("min_key", "range"):
            del node["min_key"]
        if mode in ("max_key", "range"):
            del node["max_key"]
        return (mode != "none") + sum(spoil(v, how) for v in node.values())

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(st.tuples(st.sets(keys, min_size=1, max_size=8), spoils), min_size=1, max_size=5),
        st.sets(keys, min_size=1, max_size=6),
    )
    def check(shards, probes):
        out = str(tmp_path / f"d{next(runs)}")
        for held, _ in shards:  # one commit, one shard each
            write_records(out, [codec.Record(key=k, entries=[], metadata={}) for k in sorted(held)])
        names = [os.path.basename(p) for p in open_dataset(out).shards()]
        assert len(names) == len(shards)
        how = {n: mode for n, (_, mode) in zip(names, shards)}
        spoiled = 0
        for root, _, files in os.walk(out):
            for f in files:
                if f.endswith(".json"):
                    p = os.path.join(root, f)
                    with open(p) as fh:
                        doc = json.load(fh)
                    spoiled += spoil(doc, how)
                    with open(p, "w") as fh:
                        json.dump(doc, fh)
        assert spoiled == sum(mode != "none" for _, mode in shards)

        facade = {
            os.path.basename(sp) for sp, _ in open_dataset(out)._candidate_shards(probes)
        }
        reader = ShardPackPruningReader({"path": out})
        reader.pushFilters([In(("key",), tuple(sorted(probes)))])
        assert facade == _planned_shards(reader.partitions())
        holders = {n for n, (held, _) in zip(names, shards) if held & probes}
        assert holders <= facade

    check()


def test_commit_lock_exclusive_and_stale_breaking(tmp_path):
    import threading
    import time

    from shardpack_spark.format import codec as _codec
    from shardpack_spark.format.datasource import _CommitLock

    d = str(tmp_path)

    # exclusive: a held lock makes a second acquirer time out
    with _CommitLock(d):
        t0 = time.monotonic()
        try:
            with _CommitLock(d, timeout=0.3):
                raise AssertionError("second acquire must not succeed")
        except _codec.ShardPackIOError:
            assert time.monotonic() - t0 >= 0.3

    # released: immediate re-acquire works
    with _CommitLock(d, timeout=0.3):
        pass

    # stale: a lock older than stale_after is broken, not waited on
    with open(os.path.join(d, "_commit.lock"), "w") as f:
        f.write("dead")
    old = time.time() - 1000
    os.utime(os.path.join(d, "_commit.lock"), (old, old))
    with _CommitLock(d, timeout=1.0, stale_after=300.0):
        pass

    # contention: N threads serialize through the lock without loss
    counter = {"n": 0}

    def bump():
        for _ in range(20):
            with _CommitLock(d, timeout=10.0):
                v = counter["n"]
                time.sleep(0.001)
                counter["n"] = v + 1

    threads = [threading.Thread(target=bump) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert counter["n"] == 80


def test_log_structured_manifest_appends(spark_ds, sf_dir, tmp_path):
    """v3 commits: each append adds ONE immutable part holding only its
    own shards (O(new shards) commit, never a full-manifest rewrite);
    overwrite collapses to a single part and removes orphans."""
    from shardpack_spark.format.datasource import (
        MANIFEST_PARTS_DIR,
        _load_manifest,
    )

    out = str(tmp_path / "lsm")
    src = _docs_as_records(spark_ds, sf_dir)
    src.limit(40).write.format("shardpack").mode("append").save(out)
    src.limit(25).write.format("shardpack").mode("append").save(out)
    src.limit(10).write.format("shardpack").mode("append").save(out)

    root = json.load(open(os.path.join(out, MANIFEST_NAME)))
    assert root["version"] == 3
    assert len(root["parts"]) == 3
    assert root["total_records"] == 75
    # each part holds exactly its commit's shards
    sizes = []
    for rel in root["parts"]:
        part = json.load(open(os.path.join(out, rel)))
        sizes.append(sum(s["records"] for s in part["shards"]))
    assert sizes == [40, 25, 10]
    # merged view serves reads + stats
    m = _load_manifest(out)
    assert sum(s["records"] for s in m["shards"]) == 75
    assert spark_ds.read.format("shardpack").load(out).count() == 75

    # overwrite: one part, orphans and old parts gone
    src.limit(7).write.format("shardpack").mode("overwrite").save(out)
    root2 = json.load(open(os.path.join(out, MANIFEST_NAME)))
    assert len(root2["parts"]) == 1 and root2["total_records"] == 7
    pd = os.path.join(out, MANIFEST_PARTS_DIR)
    files = sorted(os.listdir(pd))
    # exactly the current part + the current version's archived root
    assert len(files) == 2 and any(f.startswith("part-") for f in files) and any(
        f.startswith("root-") for f in files
    )
    assert spark_ds.read.format("shardpack").load(out).count() == 7


def test_v2_manifest_migration_on_append(spark_ds, sf_dir, tmp_path):
    """A dataset with a v2 inline manifest keeps working and migrates to
    parts on its first append."""
    from shardpack_spark.format.datasource import _load_manifest

    out = str(tmp_path / "v2")
    src = _docs_as_records(spark_ds, sf_dir)
    src.limit(30).write.format("shardpack").mode("append").save(out)

    # rewrite the root as v2-inline (what round-1 datasets look like)
    m = _load_manifest(out)
    v2 = {
        "version": 2,
        "compression": m["compression"],
        "target_shard_bytes": m["target_shard_bytes"],
        "shards": m["shards"],
        "total_records": m["total_records"],
    }
    with open(os.path.join(out, MANIFEST_NAME), "w") as f:
        json.dump(v2, f)
    import shutil as _sh

    _sh.rmtree(os.path.join(out, "_manifest"), ignore_errors=True)
    assert spark_ds.read.format("shardpack").load(out).count() == 30  # v2 read

    src.limit(12).write.format("shardpack").mode("append").save(out)
    root = json.load(open(os.path.join(out, MANIFEST_NAME)))
    assert root["version"] == 3 and len(root["parts"]) == 2  # migrated + new
    assert root["total_records"] == 42
    assert spark_ds.read.format("shardpack").load(out).count() == 42
    # prior stats (incl. key ranges) survived the migration
    m2 = _load_manifest(out)
    assert all("min_key" in s for s in m2["shards"])


def test_concurrent_appends_lose_nothing(spark_ds, sf_dir, tmp_path):
    """Two append jobs racing into one dataset: the commit lock serializes
    the manifest log update, so both commits' shards stay visible."""
    import threading

    from shardpack_spark.format.datasource import _load_manifest

    out = str(tmp_path / "race")
    src = _docs_as_records(spark_ds, sf_dir)
    errs = []

    def append(n):
        try:
            # Python data-source lookup resolves through the JVM's
            # thread-local active session, which fresh Python threads
            # don't inherit — re-assert it before writing
            spark_ds._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark_ds._jsparkSession
            )
            src.limit(n).write.format("shardpack").mode("append").save(out)
        except Exception as ex:  # surface failures to the main thread
            errs.append(ex)

    threads = [threading.Thread(target=append, args=(n,)) for n in (60, 40)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    m = _load_manifest(out)
    assert m["total_records"] == 100
    assert spark_ds.read.format("shardpack").load(out).count() == 100


def test_time_travel_versions(spark_ds, sf_dir, tmp_path):
    """Each batch commit archives its root: version N reads reproduce
    exactly that commit's rows; overwrite resets the history."""
    from shardpack_spark.format.datasource import list_versions, read_shardpack

    out = str(tmp_path / "tt")
    src = _docs_as_records(spark_ds, sf_dir)
    src.limit(30).write.format("shardpack").mode("append").save(out)
    src.limit(50).write.format("shardpack").mode("append").save(out)
    src.limit(20).write.format("shardpack").mode("append").save(out)

    vs = list_versions(out)
    assert [v["version"] for v in vs] == [1, 2, 3]
    assert [v["total_records"] for v in vs] == [30, 80, 100]

    assert read_shardpack(spark_ds, out, version=1).count() == 30
    assert read_shardpack(spark_ds, out, version=2).count() == 80
    assert read_shardpack(spark_ds, out).count() == 100  # live view
    # snapshot keys are exactly the first commit's
    v1_keys = {r["key"] for r in read_shardpack(spark_ds, out, version=1).select("key").collect()}
    assert len(v1_keys) == 30

    # unknown version: clear error
    with pytest.raises(Exception, match="version 9"):
        read_shardpack(spark_ds, out, version=9).count()

    # overwrite resets history (old shard files are deleted)
    src.limit(10).write.format("shardpack").mode("overwrite").save(out)
    vs2 = list_versions(out)
    assert len(vs2) == 1 and vs2[0]["total_records"] == 10
    with pytest.raises(Exception, match="version 1"):
        read_shardpack(spark_ds, out, version=1).count()


def test_read_version_delta(spark_ds, sf_dir, tmp_path):
    """Delta reads open only the shards appended between two snapshots."""
    from shardpack_spark.format.datasource import read_version_delta

    out = str(tmp_path / "delta")
    src = _docs_as_records(spark_ds, sf_dir)
    src.limit(30).write.format("shardpack").mode("append").save(out)   # v1
    src.limit(80).write.format("shardpack").mode("append").save(out)   # v2 (+80)
    src.limit(10).write.format("shardpack").mode("append").save(out)   # v3 (+10)

    assert read_version_delta(spark_ds, out, since_version=1).count() == 90
    assert read_version_delta(spark_ds, out, since_version=2).count() == 10
    assert read_version_delta(spark_ds, out, since_version=1, to_version=2).count() == 80
    assert read_version_delta(spark_ds, out, since_version=0, to_version=1).count() == 30
    # empty delta: same version twice
    assert read_version_delta(spark_ds, out, since_version=3).count() == 0
    # incremental consumer pattern: v1-rows + delta(1) == live view
    live = spark_ds.read.format("shardpack").load(out).count()
    v1 = read_version_delta(spark_ds, out, 0, 1).count()
    assert v1 + read_version_delta(spark_ds, out, 1).count() == live


def test_metadata_data_skipping(spark_ds, sf_dir, tmp_path):
    """where_meta prunes shards via the per-shard metadata value sets and
    still returns exactly the matching rows."""
    from shardpack_spark.format.datasource import (
        ShardPackReader,
        _load_manifest,
        read_shardpack,
    )

    out = str(tmp_path / "skip")
    # partition by lang so shards get disjoint low-cardinality value sets
    docs = _docs_as_records(spark_ds, sf_dir)
    docs.repartition(F.element_at("metadata", F.lit("lang"))).write.format(
        "shardpack"
    ).option("target_shard_bytes", 32 * 1024).mode("overwrite").save(out)

    m = _load_manifest(out)
    assert all("meta_values" in s and "lang" in s["meta_values"] for s in m["shards"])
    langs_per_shard = [set(s["meta_values"]["lang"]) for s in m["shards"]]
    assert any(len(v) == 1 for v in langs_per_shard)

    # pruning: reader plans strictly fewer partitions for one lang
    import json as _json

    all_parts = ShardPackReader({"path": out}).partitions()
    pruned = ShardPackReader(
        {"path": out, "where_meta": _json.dumps({"lang": "de"})}
    ).partitions()
    assert 0 < len(pruned) < len(all_parts)

    # semantics: exactly the de rows, independent of pruning
    want = docs.filter(F.element_at("metadata", F.lit("lang")) == "de").count()
    got = read_shardpack(spark_ds, out, where_meta={"lang": "de"}).count()
    assert got == want > 0

    # probing an untracked key never prunes (conservative)
    unpruned = ShardPackReader(
        {"path": out, "where_meta": _json.dumps({"nope": "x"})}
    ).partitions()
    assert len(unpruned) == len(all_parts)


def test_metadata_zone_map_skipping(spark_ds, sf_dir, tmp_path):
    """where_meta_range prunes shards via numeric metadata [min,max] zone
    maps; non-numeric keys are poisoned (never recorded, never pruned);
    row semantics never depend on pruning."""
    import json as _json

    from shardpack_spark.format.datasource import (
        ShardPackReader,
        _load_manifest,
        read_shardpack,
    )

    out = str(tmp_path / "zones")
    docs = _docs_as_records(spark_ds, sf_dir)
    # order by n_chars so shards carry disjoint numeric ranges
    docs.orderBy(F.element_at("metadata", F.lit("n_chars")).cast("int")).coalesce(
        1
    ).write.format("shardpack").option("target_shard_bytes", 16 * 1024).mode(
        "append"
    ).save(out)

    m = _load_manifest(out)
    assert len(m["shards"]) > 4
    for s in m["shards"]:
        mr = s["meta_ranges"]
        # numeric key -> float bounds; short string keys (lang) now get
        # LEXICOGRAPHIC bounds (the string zone-map domain)
        assert mr["n_chars"][0] <= mr["n_chars"][1]
        assert not isinstance(mr["n_chars"][0], str)
        if "lang" in mr:
            assert isinstance(mr["lang"][0], str)

    # pruning: a top-of-range cut plans strictly fewer partitions
    hi_cut = max(s["meta_ranges"]["n_chars"][0] for s in m["shards"])
    all_shards = _planned_shards(ShardPackReader({"path": out}).partitions())
    pruned = _planned_shards(
        ShardPackReader(
            {
                "path": out,
                "where_meta_range": _json.dumps({"n_chars": [hi_cut, None]}),
            }
        ).partitions()
    )
    assert 0 < len(pruned) < len(all_shards)
    # an impossible interval prunes everything (empty sentinel comes back)
    nothing = ShardPackReader(
        {"path": out, "where_meta_range": _json.dumps({"n_chars": [None, -1]})}
    ).partitions()
    assert len(nothing) == 1 and nothing[0].path == ""

    # poisoned / untracked keys never prune
    for probe in ({"lang": [0, 1]}, {"nope": [0, 1]}):
        kept = ShardPackReader(
            {"path": out, "where_meta_range": _json.dumps(probe)}
        ).partitions()
        assert _planned_shards(kept) == all_shards

    # semantics: exactly the rows a plain numeric filter returns
    want = docs.filter(
        F.element_at("metadata", F.lit("n_chars")).cast("double") >= hi_cut
    ).count()
    got = read_shardpack(
        spark_ds, out, where_meta_range={"n_chars": (hi_cut, None)}
    ).count()
    assert got == want > 0
    # two-sided interval
    want2 = docs.filter(
        F.element_at("metadata", F.lit("n_chars")).cast("double").between(100, 500)
    ).count()
    got2 = read_shardpack(
        spark_ds, out, where_meta_range={"n_chars": (100, 500)}
    ).count()
    assert got2 == want2


def test_string_zone_map_date_tailing(spark_ds, tmp_path):
    """VERDICT r3 item 6: event-time tailing on ISO DATE metadata —
    string (lexicographic) zone maps prune shards, the row filter still
    applies on top, and mixed numeric/string keys are poisoned."""
    import json as _json

    from shardpack_spark.format.datasource import (
        SCHEMA,
        ShardPackReader,
        _load_manifest,
        read_shardpack,
        register,
    )

    register(spark_ds)
    out = str(tmp_path / "dated")
    rows = [
        (
            f"ev/{i:05d}",
            {
                "event_date": f"2024-{1 + i // 100:02d}-{1 + (i % 100) % 28:02d}",
                # mixed-domain key: numeric for even rows, text for odd
                "mixed": str(i) if i % 2 == 0 else f"x{i}",
            },
            [],
        )
        for i in range(300)
    ]
    df = spark_ds.createDataFrame(rows, SCHEMA)
    # write sorted by date so shards hold disjoint date ranges
    df.orderBy(F.element_at("metadata", F.lit("event_date"))).coalesce(1).write.format(
        "shardpack"
    ).option("target_shard_bytes", 2048).mode("append").save(out)

    m = _load_manifest(out)
    assert len(m["shards"]) > 3
    for s in m["shards"]:
        mr = s["meta_ranges"]
        lo, hi = mr["event_date"]
        assert isinstance(lo, str) and lo <= hi
        assert "mixed" not in mr, "mixed numeric/string domain must poison"

    # pruning: tail from March plans strictly fewer partitions
    all_shards = _planned_shards(ShardPackReader({"path": out}).partitions())
    pruned = _planned_shards(
        ShardPackReader(
            {
                "path": out,
                "where_meta_range": _json.dumps({"event_date": ["2024-03-01", None]}),
            }
        ).partitions()
    )
    assert 0 < len(pruned) < len(all_shards)

    # semantics: exactly the rows a plain lexicographic filter returns,
    # including the boundary shard that straddles the cut
    for lo, hi in [("2024-03-01", None), ("2024-01-15", "2024-02-10"), (None, "2024-01-03")]:
        cond = F.lit(True)
        val = F.element_at("metadata", F.lit("event_date"))
        if lo is not None:
            cond = cond & (val >= lo)
        if hi is not None:
            cond = cond & (val <= hi)
        want = df.filter(cond).count()
        got = read_shardpack(
            spark_ds, out, where_meta_range={"event_date": (lo, hi)}
        ).count()
        assert got == want > 0, (lo, hi)

    # numeric probe against a string-recorded key: unprunable, row filter
    # (numeric cast) drops every row -> 0, never a wrong subset
    assert (
        read_shardpack(spark_ds, out, where_meta_range={"event_date": (0, 1)}).count()
        == 0
    )
    # mixing domains within ONE key's bounds is rejected
    with pytest.raises(Exception, match="mix"):
        read_shardpack(
            spark_ds, out, where_meta_range={"event_date": (5, "2024-02-01")}
        ).count()

    # Spark-free facade agrees shard-for-shard
    from shardpack_spark.format.reader import open_dataset

    ds_f = open_dataset(out)
    facade = sorted(
        r.key for r in ds_f.records(where_meta_range={"event_date": ("2024-03-01", None)})
    )
    spark_keys = sorted(
        r["key"]
        for r in read_shardpack(
            spark_ds, out, where_meta_range={"event_date": ("2024-03-01", None)}
        ).collect()
    )
    assert facade == spark_keys


def test_zone_maps_from_convert_to_dataset(spark_ds, sf_dir, tmp_path):
    """convert_to_dataset's distributed stats job records the same
    meta_ranges zone maps as the write path."""
    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import (
        _load_manifest,
        convert_to_dataset,
        read_shardpack,
    )

    out = str(tmp_path / "adhoc")
    w = codec.DatasetWriter(out, basename="t", target_shard_bytes=8 * 1024)
    for i in range(200):
        w.write(
            codec.Record(
                key=f"k{i:05d}",
                entries=[],
                metadata={"n_chars": str(i * 7), "lang": "en" if i % 2 else "de"},
            )
        )
    w.close()

    convert_to_dataset(spark_ds, out)
    m = _load_manifest(out)
    assert all(
        "meta_ranges" in s and "n_chars" in s["meta_ranges"] for s in m["shards"]
    )
    assert read_shardpack(spark_ds, out, where_meta_range={"n_chars": (0, None)}).count() == 200


def test_with_shard_column_provenance(spark_ds, sf_dir, tmp_path):
    """with_shard_column=true appends a `_shard` column naming the source
    shard file; values are real shard names and group records exactly as
    the manifest says."""
    from shardpack_spark.format.datasource import _load_manifest, read_shardpack

    out = str(tmp_path / "prov")
    _docs_as_records(spark_ds, sf_dir).limit(200).write.format("shardpack").option(
        "target_shard_bytes", 16 * 1024
    ).mode("append").save(out)
    manifest = _load_manifest(out)
    sizes = {s["path"]: s["records"] for s in manifest["shards"]}
    assert len(sizes) > 1

    df = read_shardpack(spark_ds, out, with_shard_column="true")
    assert df.columns == ["key", "metadata", "entries", "_shard"]
    got = {
        r["_shard"]: r["n"]
        for r in df.groupBy("_shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == sizes

    # plain reads are unchanged
    assert read_shardpack(spark_ds, out).columns == ["key", "metadata", "entries"]
    # composes with metadata_only
    mo = read_shardpack(spark_ds, out, metadata_only="true", with_shard_column="true")
    assert mo.filter(F.col("_shard").isNull()).count() == 0


def test_with_shard_column_streaming_read(spark_ds, sf_dir, tmp_path):
    """Streaming reads honor with_shard_column: batches carry the 4th
    column the advertised schema promises (was a schema-mismatch crash)."""
    from shardpack_spark.format import codec

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    os.makedirs(src)
    w = codec.ShardWriter(os.path.join(src, codec.shard_name("s", 0)))
    for i in range(5):
        w.write_record(codec.Record(key=f"k{i}", metadata={"i": str(i)}, entries=[]))
    w.close()

    q = (
        spark_ds.readStream.format("shardpack")
        .option("with_shard_column", "true")
        .load(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    back = spark_ds.read.parquet(out)
    assert "_shard" in back.columns
    rows = back.select("key", "_shard").collect()
    assert len(rows) == 5
    assert all(r["_shard"].endswith(".shardpack") for r in rows)


def test_columns_nested_entry_projection_keeps_headers(spark_ds, sf_dir, tmp_path):
    """A nested entries projection ('entries.size'-style) must read entry
    headers (skip_payload path), not null entries out (metadata_only)."""
    from shardpack_spark.format.datasource import read_shardpack

    out = str(tmp_path / "ds")
    _docs_as_records(spark_ds, sf_dir).limit(50).write.format("shardpack").mode(
        "append"
    ).save(out)

    full = {
        r["key"]: r["s"]
        for r in read_shardpack(spark_ds, out)
        .select("key", F.element_at("entries", 1)["size"].alias("s"))
        .collect()
    }
    # projection includes a nested entries path -> headers preserved
    nested = read_shardpack(
        spark_ds, out, columns=["key", "entries"]
    ).select("key", F.element_at("entries", 1)["size"].alias("s"))
    # 'entries' itself requested -> no option set, data present
    got = {r["key"]: r["s"] for r in nested.collect()}
    assert got == full

    # nested path -> headers kept (pre-fix this hit metadata_only and
    # every size came back NULL); select renames the path to 'size'
    hdr = read_shardpack(spark_ds, out, columns=["key", "entries.size"])
    assert {r["key"]: r["size"][0] for r in hdr.collect()} == full


def test_append_into_adhoc_dir_folds_existing_shards(spark_ds, tmp_path):
    """First datasource append over codec-written shards folds them into
    the manifest instead of silently hiding them."""
    from shardpack_spark.format.datasource import _load_manifest, read_shardpack

    out = str(tmp_path / "adhoc")
    os.makedirs(out)
    w = codec.ShardWriter(os.path.join(out, codec.shard_name("legacy", 0)))
    for i in range(7):
        w.write_record(codec.Record(key=f"old{i}", entries=[]))
    w.close()
    assert read_shardpack(spark_ds, out).count() == 7  # listing fallback

    rows = spark_ds.createDataFrame(
        [(f"new{i}", {}, []) for i in range(5)],
        "key string, metadata map<string,string>, "
        "entries array<struct<file_name:string,content_type:string,"
        "encoding:string,size:bigint,data:binary>>",
    )
    rows.write.format("shardpack").mode("append").save(out)

    m = _load_manifest(out)
    assert m["total_records"] == 12
    keys = {r["key"] for r in read_shardpack(spark_ds, out).select("key").collect()}
    assert keys == {f"old{i}" for i in range(7)} | {f"new{i}" for i in range(5)}


def test_spec_naming_overwrite_preserves_committed_data(spark_ds, tmp_path):
    """Overwriting a spec-named dataset never clobbers committed files
    before the new manifest is durable; post-commit reads see only the
    new data with correct stats."""
    from shardpack_spark.format.datasource import _load_manifest, read_shardpack

    out = str(tmp_path / "spec")

    def write(keys, mode):
        spark_ds.createDataFrame(
            [(k, {}, []) for k in keys],
            "key string, metadata map<string,string>, "
            "entries array<struct<file_name:string,content_type:string,"
            "encoding:string,size:bigint,data:binary>>",
        ).coalesce(1).write.format("shardpack").option(
            "spec_naming", "docs-train"
        ).mode(mode).save(out)

    write([f"a{i}" for i in range(10)], "overwrite")
    first = set(os.listdir(out))
    assert any(f.startswith("docs-train-") for f in first)

    write([f"b{i}" for i in range(4)], "overwrite")
    keys = {r["key"] for r in read_shardpack(spark_ds, out).select("key").collect()}
    assert keys == {f"b{i}" for i in range(4)}
    m = _load_manifest(out)
    assert m["total_records"] == 4
    # displaced trash is cleaned after the manifest swap
    assert not [f for f in os.listdir(out) if ".trash-" in f]


def test_read_exploded_entries_option(spark_ds, sf_dir, tmp_path):
    """SURVEY §1.3: the exploded one-row-per-entry view as a reader
    convenience (entry fields flattened, key/metadata repeated)."""
    from shardpack_spark.format.datasource import read_shardpack

    out = str(tmp_path / "ds")
    _docs_as_records(spark_ds, sf_dir).limit(20).write.format("shardpack").mode(
        "append"
    ).save(out)
    flat = read_shardpack(spark_ds, out, explode_entries=True)
    assert {"key", "metadata", "file_name", "content_type", "data"} <= set(flat.columns)
    assert flat.count() == 20  # one entry per record in this fixture
    row = flat.filter(F.col("key") == "doc/00000007").head()
    assert row["file_name"] == "text.txt" and row["content_type"] == "text/plain"
    # projection over the exploded view works
    assert read_shardpack(
        spark_ds, out, columns=["key", "file_name"], explode_entries=True
    ).columns == ["key", "file_name"]


def test_small_shard_coalescing(spark_ds, tmp_path):
    """300 one-record shards pack into ~one grouped partition per core
    (not one Python task per shard), while more cores than shards keep a
    task per shard; results are identical either way."""
    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import (
        ShardPackReader,
        convert_to_dataset,
        read_shardpack,
    )

    out = str(tmp_path / "tiny")
    w = codec.DatasetWriter(out, basename="t", target_shard_bytes=1)  # 1 rec/shard
    n = 300
    for i in range(n):
        w.write(codec.Record(key=f"k{i:05d}", entries=[], metadata={}))
    w.close()
    convert_to_dataset(spark_ds, out, key_stats=False)

    parts = ShardPackReader({"path": out}, 8).partitions()
    assert 8 <= len(parts) < 16  # ~one bin per core, not n tasks
    grouped = [p for p in parts if p.group]
    assert grouped and sum(len(p.group) for p in grouped) + (
        len(parts) - len(grouped)
    ) == n  # every shard read exactly once
    assert read_shardpack(spark_ds, out).count() == n

    # more cores than shards: bytes per core fall to the open cost, so
    # every shard keeps its own task
    wide = ShardPackReader({"path": out}, 2 * n).partitions()
    assert len(wide) == n and not any(p.group for p in wide)

    # grouped partitions compose with the payload-skipping projection
    # and metadata-only reads (group expansion forwards the flags)
    meta_rows = read_shardpack(spark_ds, out, columns=["key", "metadata"]).count()
    assert meta_rows == n
    keys = sorted(
        r["key"]
        for r in read_shardpack(spark_ds, out, metadata_only="true").select("key").collect()
    )
    assert keys == [f"k{i:05d}" for i in range(n)]


def test_plan_partitions_grouping_invariants(tmp_path):
    """Hypothesis fuzz of the bytes-per-core planner over shard sizes,
    record counts and parallelism.  Pure metadata: the dataset path does
    not exist, so any stat or index read would raise.  Every shard and
    record is planned exactly once, record ranges are contiguous and
    differ by at most one record, every multi-shard bin costs at most
    max_split, partitions follow name order, and a plan never has fewer
    tasks than min(#shards, parallelism)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from shardpack_spark.format.datasource import OPEN_COST, _plan_partitions

    SPLIT = 128 * 1024 * 1024
    absent = str(tmp_path / "absent")
    size = st.one_of(st.integers(0, 8 * 1024 * 1024), st.integers(0, 3 * SPLIT))

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.tuples(size, st.integers(1, 10**6)), min_size=1, max_size=300),
        st.integers(1, 64),
    )
    def run(shards, parallelism):
        names = [f"s{i:05d}.shardpack" for i in range(len(shards))]
        stats = dict(zip(names, shards))
        parts = _plan_partitions(absent, names, SPLIT, stats, parallelism)
        total = sum(sz + OPEN_COST for sz, _ in shards)
        max_split = min(SPLIT, max(OPEN_COST, total // parallelism))
        whole: list[str] = []
        ranges: dict[str, list[tuple[int, int]]] = {}
        order: list[str] = []
        for p in parts:
            assert p.offsets is None
            if p.rec_range is not None:
                assert p.group is None
                ranges.setdefault(os.path.basename(p.path), []).append(p.rec_range)
                order.append(os.path.basename(p.path))
                continue
            members = [os.path.basename(x) for x in p.group or [p.path]]
            assert p.path == os.path.join(absent, members[0])
            if len(members) > 1:
                assert sum(stats[m][0] + OPEN_COST for m in members) <= max_split
            assert all(stats[m][0] <= max_split for m in members)
            whole.extend(members)
            order.extend(members)
        assert order == sorted(order)  # ranges and bins interleave in name order
        assert sorted(whole + list(ranges)) == names and len(set(whole)) == len(whole)
        for name, rs in ranges.items():
            sz, records = stats[name]
            assert sz > max_split
            assert len(rs) == min(records, -(-sz // max_split))  # ceil split count
            assert rs[0][0] == 0 and rs[-1][1] == records
            assert all(a[1] == b[0] for a, b in zip(rs, rs[1:]))
            widths = [hi - lo for lo, hi in rs]
            assert min(widths) >= 1 and max(widths) - min(widths) <= 1
        assert len(parts) >= min(len(names), parallelism)

    run()


def test_plan_partitions_split_counts_round_up(tmp_path):
    """Oversized shards split into ceil(size / max_split) near-equal
    pieces on both paths: record ranges from manifest counts, and offset
    chunks from the index of a log-less shard."""
    from shardpack_spark.format.datasource import _plan_partitions

    MiB = 1024 * 1024
    absent = str(tmp_path / "absent")

    def rec_ranges(size, records):
        parts = _plan_partitions(absent, ["a"], 128 * MiB, {"a": (size, records)}, 1)
        return [p.rec_range for p in parts]

    assert rec_ranges(250 * MiB, 1000) == [(0, 500), (500, 1000)]  # not 1 whole range
    assert rec_ranges(3 * 128 * MiB - 1, 1000) == [(0, 333), (333, 666), (666, 1000)]

    d = str(tmp_path / "adhoc")
    w = codec.DatasetWriter(d, basename="t", target_shard_bytes=10**9)
    for i in range(10):
        w.write(
            codec.Record(
                key=f"k{i:02d}",
                entries=[codec.FileEntry("b.bin", "application/octet-stream", b"x" * 1000)],
            )
        )
    w.close()
    [shard] = codec.list_shards(d)
    size = os.path.getsize(shard)
    parts = _plan_partitions(d, [os.path.basename(shard)], -(-size // 3), None, 1)
    assert [len(p.offsets) for p in parts] == [3, 3, 4]  # not 5/5 or 3/3/3/1
    assert [o for p in parts for o in p.offsets] == codec.read_index(shard).offsets


def test_limit_records_tail_cut_survives_binning(spark_ds, tmp_path):
    """A limit_records prefix spanning more tiny shards than cores packs
    the prefix into bins, but the shard the limit cuts still plans its
    own [0, k) record range, and the row count is exact."""
    from shardpack_spark.format.datasource import (
        ShardPackReader,
        _load_manifest,
        convert_to_dataset,
        read_shardpack,
    )

    out = str(tmp_path / "tiny")
    w = codec.DatasetWriter(out, basename="t", target_shard_bytes=1024)
    for i in range(1600):
        w.write(
            codec.Record(
                key=f"k{i:04d}",
                entries=[codec.FileEntry("b.bin", "application/octet-stream", b"p" * 200)],
            )
        )
    w.close()
    convert_to_dataset(spark_ds, out, key_stats=False)
    shards = sorted(_load_manifest(out)["shards"], key=lambda s: s["path"])
    cores = spark_ds.sparkContext.defaultParallelism
    m = 3 * cores  # whole shards before the cut one
    assert len(shards) > m and shards[m]["records"] > 2
    n = sum(s["records"] for s in shards[:m]) + 2

    parts = ShardPackReader({"path": out, "limit_records": str(n)}, cores).partitions()
    assert any(p.group for p in parts)  # the prefix is binned
    assert parts[-1].rec_range == (0, 2)
    assert parts[-1].path == os.path.join(out, shards[m]["path"])
    assert _planned_shards(parts) == {s["path"] for s in shards[: m + 1]}
    assert read_shardpack(spark_ds, out, limit_records=n).count() == n


def _grouped_dataset(spark, sp_rows, out):
    """600 records over many shards per `lang` partition: one write and
    two appends, 1 KiB shards (more shards than a 32-core session's bins)."""
    rows = [
        (
            f"k{i:04d}",
            {"lang": ("en", "de", "fr")[i % 3], "i": str(i)},
            bytes([i % 251]) * (50 + i % 97),
        )
        for i in range(600)
    ]
    for lo, hi in ((0, 300), (300, 450), (450, 600)):
        sp_rows(spark, rows[lo:hi]).coalesce(1).write.format("shardpack").option(
            "partition_by", "lang"
        ).option("target_shard_bytes", 1024).mode("append").save(out)
    return len(rows)


def test_grouped_scan_matches_facade_and_shard_column(spark_ds, sp_rows, tmp_path):
    """A binned DSv2 full scan returns exactly the Spark-free reader's
    records, and each `_shard` value names the shard holding the record."""
    import hashlib
    from collections import Counter

    from shardpack_spark.format.datasource import ShardPackReader, read_shardpack
    from shardpack_spark.format.reader import open_dataset

    out = str(tmp_path / "grouped")
    n = _grouped_dataset(spark_ds, sp_rows, out)
    parts = ShardPackReader({"path": out}, spark_ds.sparkContext.defaultParallelism).partitions()
    assert any(p.group for p in parts)

    def digest(entries):
        h = hashlib.sha256()
        for name, ctype, data in entries:
            h.update(f"{name}\0{ctype}\0{len(data)}\0".encode() + bytes(data))
        return h.hexdigest()

    df = read_shardpack(spark_ds, out, with_shard_column="true")
    assert df.rdd.getNumPartitions() == len(parts)  # the binned plan
    rows = df.collect()
    got = Counter(
        (
            r["key"],
            tuple(sorted(r["metadata"].items())),
            digest((e["file_name"], e["content_type"], e["data"]) for e in r["entries"]),
        )
        for r in rows
    )
    want = Counter(
        (
            rec.key,
            tuple(sorted(rec.metadata.items())),
            digest((e.file_name, e.content_type, e.data) for e in rec.entries),
        )
        for rec in open_dataset(out).records()
    )
    assert got == want and sum(got.values()) == n

    holds: dict[str, set[str]] = {}
    for shard in codec.list_shards(out):
        for rec in codec.iter_records(shard):
            holds.setdefault(rec.key, set()).add(os.path.basename(shard))
    assert all(r["_shard"] in holds[r["key"]] for r in rows)


def test_grouped_plan_in_vanilla_session(spark_ds, sp_rows, tmp_path):
    """A binned plan pickles by value: a vanilla local[2] session started
    outside the repo (its Python workers cannot import the package) reads
    every record and every shard through grouped partitions.  Batch loads
    and readStream plan for the session's 2 cores, not the host's CPUs."""
    import subprocess
    import sys

    out = str(tmp_path / "grouped")
    n = _grouped_dataset(spark_ds, sp_rows, out)
    ckpt = str(tmp_path / "ckpt")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from shardpack_spark.format.datasource import ShardPackReader, read_shardpack
spark = SparkSession.builder.master("local[2]").getOrCreate()
opts = {{"split_target_bytes": str(1 << 40)}}  # bins sized by cores alone
parts = ShardPackReader({{"path": {out!r}, **opts}}, 2).partitions()
assert any(p.group for p in parts), parts
df = read_shardpack(spark, {out!r}, with_shard_column="true", **opts)
plain = spark.read.format("shardpack").options(**opts).load({out!r})
assert df.rdd.getNumPartitions() == plain.rdd.getNumPartitions() == len(parts)
seen = []
q = (
    spark.readStream.format("shardpack").options(**opts).load({out!r}).writeStream
    .foreachBatch(lambda b, _: seen.append(b.rdd.getNumPartitions()))
    .option("checkpointLocation", {ckpt!r})
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
assert seen == [len(parts)], (seen, len(parts))
print(df.count(), df.select("_shard").distinct().count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.split()[-2:] == [str(n), str(len(codec.list_shards(out)))]


def test_registered_source_and_reader_pickle_by_reference(spark_ds, tmp_path):
    """After register(spark) the package reaches workers as a zip, so
    plans pickle package code by reference: a source and a pruning reader
    are names plus options (a by-value copy of the package is ~260 KB,
    and the planner re-pickles both on every call)."""
    from pyspark import cloudpickle

    from shardpack_spark.format.datasource import ShardPackDataSource, ShardPackPruningReader

    opts = {"path": str(tmp_path / "ds"), "prune_by_key": "true"}
    assert len(cloudpickle.dumps(ShardPackDataSource(opts))) < 4096
    assert len(cloudpickle.dumps(ShardPackPruningReader(opts, 2))) < 4096


def test_reused_worker_skips_zip_directory_reloads(tmp_path):
    """After a shardpack write and read, the reused executor worker of a
    vanilla local[1] session (started outside the repo, so its workers
    import nothing from the package) no longer re-reads the zips on its
    path: importlib.invalidate_caches() there calls
    zipimport._read_directory zero times."""
    import subprocess
    import sys

    out = str(tmp_path / "tiny")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from shardpack_spark.format.datasource import SCHEMA, register

def probe(batches):
    import importlib, sys, zipimport
    import pyarrow as pa
    for _ in batches:
        pass
    real, reads = zipimport._read_directory, []
    zipimport._read_directory = lambda p: reads.append(p) or real(p)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict({{"zips": [zips], "reads": [len(reads)]}})

spark = SparkSession.builder.master("local[1]").getOrCreate()
register(spark)
spark.createDataFrame([("k1", {{"m": "v"}}, [])], SCHEMA).write.format("shardpack").mode("append").save({out!r})
assert spark.read.format("shardpack").load({out!r}).count() == 1
row = spark.range(1, numPartitions=1).mapInArrow(probe, "zips long, reads long").collect()[0]
print(row["zips"], row["reads"])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    zips, reads = map(int, r.stdout.split()[-2:])
    if zips == 0:
        pytest.skip("no zipimporter on the worker's path (pyspark without zips)")
    assert reads == 0


def test_shard_sample_deterministic_fraction(spark_ds, tmp_path):
    """shard_sample reads a deterministic, hash-stable subset of shards —
    the estimate-from-a-fraction scan for 100 TB profiling."""
    from shardpack_spark.format.datasource import ShardPackReader, read_shardpack

    out = str(tmp_path / "samp")
    w = codec.DatasetWriter(out, basename="s", target_shard_bytes=1)
    n = 200
    for i in range(n):
        w.write(codec.Record(key=f"k{i:04d}", entries=[], metadata={}))
    w.close()

    full = read_shardpack(spark_ds, out).count()
    assert full == n
    s1 = sorted(r["key"] for r in read_shardpack(spark_ds, out, shard_sample="0.25").collect())
    s2 = sorted(r["key"] for r in read_shardpack(spark_ds, out, shard_sample="0.25").collect())
    assert s1 == s2  # deterministic
    assert 0.1 * n < len(s1) < 0.45 * n  # ~25% of 1-record shards
    # monotone: a larger fraction is a superset
    s3 = set(r["key"] for r in read_shardpack(spark_ds, out, shard_sample="0.5").collect())
    assert set(s1) <= s3
    import pytest as _pytest

    with _pytest.raises(Exception):
        ShardPackReader({"path": out, "shard_sample": "1.5"})


def test_limit_records_head_preview(spark_ds, sf_dir, tmp_path):
    """limit_records truncates PLANNING at the shard-count prefix
    covering N (tail shard gets a [0, k) record range) and caps rows
    exactly; conservative (plans everything) when counts are unknown."""
    import json as _json

    from shardpack_spark.format.datasource import ShardPackReader, read_shardpack

    out = str(tmp_path / "head")
    docs = _docs_as_records(spark_ds, sf_dir)
    total = docs.count()
    docs.coalesce(1).write.format("shardpack").option(
        "target_shard_bytes", 16 * 1024
    ).mode("append").save(out)

    all_shards = _planned_shards(ShardPackReader({"path": out}).partitions())
    assert len(all_shards) > 4
    # tiny limit plans exactly one partition carrying a [0, k) range
    head = ShardPackReader({"path": out, "limit_records": "7"}).partitions()
    assert len(head) == 1
    assert head[0].rec_range is not None and head[0].rec_range[0] == 0
    assert head[0].rec_range[1] >= 7  # >= N records planned
    # limit past the dataset keeps the full plan
    over = ShardPackReader(
        {"path": out, "limit_records": str(total * 2)}
    ).partitions()
    assert _planned_shards(over) == all_shards

    # exact row cap, deterministic under re-read
    assert read_shardpack(spark_ds, out, limit_records=7).count() == 7
    a = sorted(r["key"] for r in read_shardpack(spark_ds, out, limit_records=7).collect())
    b = sorted(r["key"] for r in read_shardpack(spark_ds, out, limit_records=7).collect())
    assert a == b and len(a) == 7
    assert read_shardpack(spark_ds, out, limit_records=total * 2).count() == total

    # composes with zone-map pruning: filter applies AFTER the head cut
    got = read_shardpack(
        spark_ds, out, limit_records=50, where_meta_range={"n_chars": (0, None)}
    )
    assert got.count() <= 50

    # log-less ad-hoc dir: counts unknown -> conservative full plan, cap
    # still exact
    from shardpack_spark.format import codec

    adhoc = str(tmp_path / "adhoc")
    w = codec.DatasetWriter(adhoc, basename="t", target_shard_bytes=4 * 1024)
    for i in range(60):
        w.write(codec.Record(key=f"k{i:04d}", entries=[], metadata={"i": str(i)}))
    w.close()
    assert read_shardpack(spark_ds, adhoc, limit_records=9).count() == 9


def test_zone_map_fold_soundness_property():
    """Property fuzz of the zone-map building blocks (pure functions, no
    Spark): for ANY metadata value sequence, either the key is poisoned
    (None -> never prunes, always sound) or the recorded [min,max]
    contains every float-parseable value — so `range_may_match` can
    never prune a shard holding a row the equivalent Spark row filter
    would keep (Python float() accepts a superset of Spark's castable
    strings; NaN/inf/overflow all poison via the finite check)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from shardpack_spark.format.commit import (
        _META_RANGE_MAX_ABS,
        _META_STR_RANGE_MAX_LEN,
        _meta_range_add,
        _meta_ranges_kept,
    )

    values = st.one_of(
        st.integers(-(10**20), 10**20).map(str),
        st.floats(allow_nan=True, allow_infinity=True).map(repr),
        st.sampled_from(["", "x", "nan", "inf", "-inf", "1e400", " 12 ", "1_0", "0x1A"]),
        st.text(max_size=8),
    )

    def domain(v):
        """Mirror of the implementation's domain law: numeric iff float()
        parses AND the value sits inside ±2^53 (NaN fails); else string
        iff it fits the bound cap; else poison."""
        try:
            x = float(v)
            if -_META_RANGE_MAX_ABS <= x <= _META_RANGE_MAX_ABS:
                return ("num", x)
        except (TypeError, ValueError):
            pass
        if isinstance(v, str) and len(v) <= _META_STR_RANGE_MAX_LEN:
            return ("str", v)
        return ("poison", None)

    @settings(max_examples=300, deadline=None)
    @given(vals=st.lists(values, min_size=1, max_size=30))
    def check(vals):
        rng: dict = {}
        for v in vals:
            _meta_range_add(rng, "k", v)
        kept = _meta_ranges_kept(rng)
        doms = [domain(v) for v in vals]
        kinds = {d for d, _ in doms}
        if kinds != {"num"} and kinds != {"str"}:
            # mixed domains or any oversized value: unprunable, sound
            assert "k" not in kept
            return
        parsed = [x for _, x in doms]
        lo, hi = kept["k"]
        assert lo == min(parsed) and hi == max(parsed)
        # soundness: every value inside the recorded bounds, same domain
        assert all(lo <= p <= hi for p in parsed)
        assert isinstance(lo, str) == (kinds == {"str"})

    check()


def test_chunk_bytes_writer_option_roundtrip(spark_ds, tmp_path):
    """chunk_bytes threads through the DataSource writer: large entries
    land chunk-compressed (tagged encoding), reads are unchanged, and
    read_entry_slice serves ranged reads out of the written shards."""
    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import SCHEMA, read_shardpack, register

    register(spark_ds)
    out = str(tmp_path / "chunky")
    big = ("blk" + "x" * 61) * 2000  # 128 KB entry
    df = spark_ds.createDataFrame(
        [("k/big", {}, [("b.bin", "application/octet-stream", "none", len(big), bytearray(big.encode()))]),
         ("k/small", {}, [("s.bin", "application/octet-stream", "none", 4, bytearray(b"tiny"))])],
        SCHEMA,
    )
    df.write.format("shardpack").option("compression", "gzip").option(
        "chunk_bytes", 32 * 1024
    ).mode("overwrite").save(out)
    back = {r["key"]: bytes(r["entries"][0]["data"]) for r in read_shardpack(spark_ds, out).collect()}
    assert back == {"k/big": big.encode(), "k/small": b"tiny"}
    # physical layout: the big entry carries the chunked tag
    found = {}
    for p in codec.list_shards(out):
        for rec in codec.iter_records(p):
            found[rec.key] = (p, rec.entries[0].encoding)
    assert found["k/big"][1] == f"gzip;chunk={32 * 1024}"
    assert found["k/small"][1] == "gzip"
    # ranged read out of the Spark-written shard
    p = found["k/big"][0]
    idx = codec.read_index(p)
    for off in idx.offsets:
        rec = codec.read_record_at(p, off, skip_payload=True)
        if rec.key == "k/big":
            assert (
                codec.read_entry_slice(p, off, "b.bin", 40_000, 64)
                == big.encode()[40_000:40_064]
            )
            break
    else:
        raise AssertionError("k/big not found")
