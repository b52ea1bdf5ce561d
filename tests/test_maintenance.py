"""Compaction job + as-of join property test."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from shardpack_spark.format import codec
from shardpack_spark.format.datasource import compact_dataset, register
from shardpack_spark.operators.asof import asof_join


def test_compaction_preserves_data(spark, sf_dir, tmp_path):
    from tests.test_datasource import _docs_as_records

    register(spark)
    out = str(tmp_path / "ds")
    src = _docs_as_records(spark, sf_dir)
    # fragment: many tiny shards
    src.repartition(8).write.format("shardpack").option(
        "target_shard_bytes", 8 * 1024
    ).mode("append").save(out)
    before = len(codec.list_shards(out))
    keys_before = {r["key"] for r in spark.read.format("shardpack").load(out).select("key").collect()}

    stats = compact_dataset(spark, out, target_shard_bytes=1024 * 1024)
    after = len(codec.list_shards(out))
    keys_after = {r["key"] for r in spark.read.format("shardpack").load(out).select("key").collect()}

    assert keys_after == keys_before
    assert after < before
    assert stats["records"] == len(keys_before)


def test_sorted_compaction_gives_disjoint_key_ranges(spark, sf_dir, tmp_path):
    """sort_by_key compaction yields shards with non-overlapping manifest
    key ranges, so a key-equality lookup prunes to a single shard."""
    from shardpack_spark.format.datasource import (
        ShardPackPruningReader,
        _load_manifest,
    )
    from tests.test_datasource import _docs_as_records

    register(spark)
    out = str(tmp_path / "sorted_ds")
    _docs_as_records(spark, sf_dir).repartition(6).write.format("shardpack").option(
        "target_shard_bytes", 16 * 1024
    ).mode("overwrite").save(out)

    compact_dataset(spark, out, target_shard_bytes=48 * 1024, sort_by_key=True)
    shards = _load_manifest(out)["shards"]
    assert len(shards) > 1
    ranges = sorted((s["min_key"], s["max_key"]) for s in shards)
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping ranges {hi} vs {lo}"

    # point lookup now plans exactly one input partition
    reader = ShardPackPruningReader({"path": out, "prune_by_key": "true"})
    from pyspark.sql.datasource import EqualTo

    reader.pushFilters([EqualTo(("key",), ranges[1][0])])
    assert len(reader.partitions()) == 1


def test_compaction_crash_windows_leave_readable_dataset(spark, sf_dir, tmp_path):
    """A compaction (or overwrite) that dies in ANY window leaves a dataset
    that reads consistently: the manifest swap is the single commit point.

    Window A — new shards written, manifest NOT yet swapped: readers must
    see exactly the old rows (new files invisible — they are not in the
    manifest).  Window B — manifest swapped, old files not yet deleted:
    readers must see exactly the new rows (old files invisible).  A torn
    manifest temp file must never be read."""
    import os
    import shutil as _shutil

    from tests.test_datasource import _docs_as_records
    from shardpack_spark.format.commit import _write_manifest
    from shardpack_spark.format.datasource import _load_manifest, read_shardpack
    from shardpack_spark.format.manifest import live_view

    register(spark)
    out = str(tmp_path / "ds")
    src = _docs_as_records(spark, sf_dir)
    src.repartition(4).write.format("shardpack").option(
        "target_shard_bytes", 32 * 1024
    ).mode("overwrite").save(out)
    old_manifest = _load_manifest(out)
    old_keys = {r["key"] for r in read_shardpack(spark, out).select("key").collect()}

    # --- stage the compaction's output in a scratch dir, then replay the
    # crash windows by hand ---------------------------------------------
    scratch = str(tmp_path / "scratch")
    read_shardpack(spark, out).repartition(1).write.format("shardpack").option(
        "target_shard_bytes", 8 * 1024 * 1024
    ).mode("overwrite").save(scratch)
    new_manifest = _load_manifest(scratch)

    # Window A: copy the new shards in, manifest still the old one
    for s in new_manifest["shards"]:
        _shutil.copy(os.path.join(scratch, s["path"]), os.path.join(out, "c99999999-" + s["path"]))
    # also a torn manifest tmp from the "crash"
    with open(os.path.join(out, "manifest.json.tmp-dead0000"), "w") as f:
        f.write('{"shards": [{"pa')  # torn JSON
    assert {r["key"] for r in read_shardpack(spark, out).select("key").collect()} == old_keys
    assert set(live_view(out).names) == {s["path"] for s in old_manifest["shards"]}

    # Window B: swap the manifest to the new shard list; old files remain.
    # The hand-built root uses the v2 inline form (still supported) — the
    # scratch dataset's v3 "parts" point at scratch-relative files.
    swapped = {k: v for k, v in new_manifest.items() if k != "parts"}
    swapped["version"] = 2
    swapped["shards"] = [
        {**s, "path": "c99999999-" + s["path"]} for s in new_manifest["shards"]
    ]
    _write_manifest(out, swapped)
    assert {r["key"] for r in read_shardpack(spark, out).select("key").collect()} == old_keys
    visible = set(live_view(out).names)
    assert visible == {s["path"] for s in swapped["shards"]}
    # old shard files are still on disk (deletion never happened) but invisible
    leftovers = {os.path.basename(p) for p in codec.list_shards(out)} - visible
    assert leftovers, "old files should still exist in the crash window"


def test_asof_join_matches_bruteforce(spark):
    """Random (by, ts) data: union-window as-of == per-row brute force."""
    rng = random.Random(7)
    left = [(i, rng.randint(0, 5), rng.randint(0, 1000)) for i in range(300)]
    right = [(j, rng.randint(0, 5), rng.randint(0, 1000), rng.random()) for j in range(400)]
    ldf = spark.createDataFrame(left, "lid long, grp long, lts long")
    rdf = spark.createDataFrame(right, "rid long, rgrp long, rts long, val double")

    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            ldf, rdf,
            left_on="lts", right_on="rts",
            left_by="grp", right_by="rgrp",
            value_cols=["rid", "val"],
            tiebreak="rid",
        ).collect()
    }

    for lid, grp, lts in left:
        cands = [(rts, rid) for rid, rgrp, rts, _ in right if rgrp == grp and rts <= lts]
        want = max(cands)[1] if cands else None
        assert got[lid] == want, f"lid={lid}: got {got[lid]} want {want}"


def test_asof_join_no_rows_explosion(spark):
    """Plan sanity: no join node at all — union + window only."""
    ldf = spark.range(10).select(
        F.col("id").alias("lid"), (F.col("id") % 3).alias("grp"), F.col("id").alias("lts")
    )
    rdf = spark.range(10).select(
        F.col("id").alias("rid"), (F.col("id") % 3).alias("rgrp"), F.col("id").alias("rts")
    )
    out = asof_join(ldf, rdf, "lts", "rts", "grp", "rgrp", value_cols=["rid"], tiebreak="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Union" in plan and "Window" in plan


def test_asof_join_preserves_nulls_of_matched_row(spark):
    """If the matched (latest) right row has NULL in one value column, the
    output must keep that NULL — not leak an older row's non-null value
    (columns must all come from the same matched right row)."""
    ldf = spark.createDataFrame([(1, 0, 100)], "lid long, grp long, lts long")
    rdf = spark.createDataFrame(
        [(10, 0, 50, 1.5, "old"), (20, 0, 90, None, "new")],
        "rid long, rgrp long, rts long, val double, tag string",
    )
    row = asof_join(
        ldf, rdf, "lts", "rts", "grp", "rgrp",
        value_cols=["rid", "val", "tag"], tiebreak="rid",
    ).head()
    assert row["rid"] == 20 and row["tag"] == "new"
    assert row["val"] is None  # matched row's NULL preserved


def test_asof_join_forward_and_nearest_match_bruteforce(spark):
    rng = random.Random(13)
    left = [(i, rng.randint(0, 4), rng.randint(0, 500)) for i in range(250)]
    right = [(j, rng.randint(0, 4), rng.randint(0, 500)) for j in range(300)]
    ldf = spark.createDataFrame(left, "lid long, grp long, lts long")
    rdf = spark.createDataFrame(right, "rid long, rgrp long, rts long")

    def run(direction):
        return {
            r["lid"]: r["rid"]
            for r in asof_join(
                ldf, rdf, "lts", "rts", "grp", "rgrp",
                value_cols=["rid"], tiebreak="rid", direction=direction,
            ).collect()
        }

    fwd, near = run("forward"), run("nearest")
    for lid, grp, lts in left:
        after = [(rts, rid) for rid, rgrp, rts in right if rgrp == grp and rts >= lts]
        before = [(rts, rid) for rid, rgrp, rts in right if rgrp == grp and rts <= lts]
        # forward: smallest rts >= lts; rts ties -> largest rid wins
        want_f = max((r for r in after if r[0] == min(after)[0]))[1] if after else None
        assert fwd[lid] == want_f, f"forward lid={lid}"
        # nearest: closer of backward/forward, backward wins ties
        wb = max(before) if before else None
        wf = max((r for r in after if r[0] == min(after)[0])) if after else None
        if wb is None:
            want_n = wf[1] if wf else None
        elif wf is None or (lts - wb[0]) <= (wf[0] - lts):
            want_n = wb[1]
        else:
            want_n = wf[1]
        assert near[lid] == want_n, f"nearest lid={lid}: got {near[lid]} want {want_n}"


def test_asof_nearest_single_shuffle(spark):
    """Both direction passes must reuse ONE hash exchange on the by-key —
    the second window adds a sort, never another shuffle."""
    ldf = spark.range(100).select(
        F.col("id").alias("lid"), (F.col("id") % 3).alias("grp"), F.col("id").alias("lts")
    )
    rdf = spark.range(100).select(
        F.col("id").alias("rid"), (F.col("id") % 3).alias("rgrp"), F.col("id").alias("rts")
    )
    out = asof_join(
        ldf, rdf, "lts", "rts", "grp", "rgrp",
        value_cols=["rid"], tiebreak="rid", direction="nearest",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_asof_direction_validation(spark):
    ldf = spark.createDataFrame([(1, 0, 1)], "lid long, grp long, lts long")
    with pytest.raises(ValueError, match="direction"):
        asof_join(ldf, ldf, "lts", "lts", "grp", "grp", direction="sideways")


def test_verify_dataset_clean_and_broken(spark, sf_dir, tmp_path):
    """fsck: clean dataset passes; corruption, count mismatch, missing
    files, and orphans are each pinpointed."""
    import json as _json
    import os as _os

    from tests.test_datasource import _docs_as_records
    from shardpack_spark.format.datasource import (
        MANIFEST_NAME,
        _load_manifest,
        verify_dataset,
    )

    register(spark)
    out = str(tmp_path / "fsck")
    _docs_as_records(spark, sf_dir).limit(60).coalesce(1).write.format(
        "shardpack"
    ).option("target_shard_bytes", 16 * 1024).mode("append").save(out)

    rep = verify_dataset(spark, out)
    assert rep["ok"] and rep["shards_ok"] >= 2
    assert not (rep["corrupt"] or rep["mismatched"] or rep["missing"] or rep["orphans"])

    m = _load_manifest(out)
    names = sorted(s["path"] for s in m["shards"])

    # corrupt one payload byte mid-file
    victim = _os.path.join(out, names[0])
    size = _os.path.getsize(victim)
    with open(victim, "r+b") as f:
        f.seek(size // 2)
        b = f.read(1)
        f.seek(size // 2)
        f.write(bytes([b[0] ^ 0xFF]))

    # orphan: a stray shard not in any commit
    with open(_os.path.join(out, "stray-000.shardpack"), "wb") as f:
        f.write(b"junk")

    # missing: delete another committed shard
    _os.remove(_os.path.join(out, names[1]))

    rep2 = verify_dataset(spark, out)
    assert not rep2["ok"]
    assert rep2["corrupt"] == [names[0]]
    assert rep2["missing"] == [names[1]]
    assert rep2["orphans"] == ["stray-000.shardpack"]
