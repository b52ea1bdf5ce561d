"""Integration: shardpack directory as a streaming source feeding a
windowed aggregation — the full streaming-ingest path."""

from __future__ import annotations

import json
import os

import pytest

pytestmark = pytest.mark.slow  # heavy family: deselect with -m 'not slow'

from pyspark.sql import functions as F

from shardpack_spark.format import codec
from shardpack_spark.format.datasource import register


def _event_shard(path: str, shard_id: int, events: list[tuple[str, str, float]]) -> None:
    w = codec.ShardWriter(os.path.join(path, codec.shard_name("ev", shard_id)))
    for key, ts, value in events:
        w.write_record(
            codec.Record(
                key=key,
                entries=[
                    codec.FileEntry(
                        "event.json",
                        "application/json",
                        json.dumps({"ts": ts, "value": value}).encode(),
                    )
                ],
            )
        )
    w.close()


def test_shardpack_stream_windowed_agg(spark, tmp_path):
    register(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    _event_shard(src, 0, [("e1", "2024-01-01 01:05:00", 1.0), ("e2", "2024-01-01 01:20:00", 2.0)])
    _event_shard(src, 1, [("e3", "2024-01-01 02:10:00", 5.0)])

    stream = spark.readStream.format("shardpack").load(src)
    parsed = (
        stream.select(
            F.from_json(
                F.decode(F.element_at("entries", 1)["data"], "utf-8"),
                "ts timestamp, value double",
            ).alias("j")
        )
        .select("j.ts", "j.value")
        .withWatermark("ts", "1 day")
    )
    agg = parsed.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.select(F.col("w.start").cast("long").alias("b"), "s", "n")
        .writeStream.format("memory")
        .queryName("sp_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    rows = {r["b"]: (r["s"], r["n"]) for r in spark.sql("SELECT * FROM sp_win").collect()}
    assert rows == {1704070800: (3.0, 2), 1704074400: (5.0, 1)}


def test_fold_stream_markers(spark, tmp_path):
    """Marker folding keeps every record visible, trims the marker count,
    and leaves the replay-detection tail in place."""
    import glob as _glob
    import json as _json

    from shardpack_spark.format import codec as _codec
    from shardpack_spark.format.datasource import (
        _load_manifest,
        fold_stream_markers,
        read_shardpack,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    # simulate 8 committed micro-batches (marker + shard each)
    for b in range(8):
        name = f"c{b:08d}-s.shardpack"
        w = _codec.ShardWriter(os.path.join(out, name))
        w.write_record(_codec.Record(key=f"k{b}", entries=[
            _codec.FileEntry("a.txt", "text/plain", f"v{b}".encode())
        ]))
        w.close()
        with open(os.path.join(out, f"_batch_{b:08d}.json"), "w") as f:
            _json.dump({"batch": b, "shards": [
                {"path": name, "records": 1, "bytes": 100}
            ]}, f)

    assert read_shardpack(spark, out).count() == 8
    stats = fold_stream_markers(out, keep_last=3)
    assert stats == {"folded": 5, "shards": 5, "version": 1}
    # 3 newest markers remain for replay detection
    assert len(_glob.glob(os.path.join(out, "_batch_*.json"))) == 3
    m = _load_manifest(out)
    assert m["total_records"] == 5  # folded shards in the manifest log
    # every record still visible: manifest entries + remaining markers
    assert read_shardpack(spark, out).count() == 8
    # idempotent when nothing left to fold
    assert fold_stream_markers(out, keep_last=3) == {"folded": 0}


def test_stream_committed_shards_carry_pruning_stats(spark, tmp_path):
    """Shards written through the streaming sink carry the same manifest
    stats as batch writes, and survive marker folding."""
    import glob as _glob
    import json as _json

    from shardpack_spark.format.datasource import (
        _load_manifest,
        fold_stream_markers,
        register,
    )

    register(spark)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _event_shard(src, 0, [(f"k{i}", "2025-01-01T00:00:00", 1.0) for i in range(5)])

    assert (
        spark.readStream.format("shardpack")
        .load(src)
        .writeStream.format("shardpack")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(60)
    ), "stream did not finish in time"

    markers = _glob.glob(os.path.join(sink, "_batch_*.json"))
    assert markers
    marked = [s for m in markers for s in _json.load(open(m))["shards"]]
    assert all("min_key" in s and "bloom" in s for s in marked)

    # keep_last=0 would delete the newest batch's replay-detection marker
    # (a replayed batch would then double-commit) — rejected outright
    with pytest.raises(ValueError, match="keep_last"):
        fold_stream_markers(sink, keep_last=0)

    # write a second batch so folding with keep_last=1 folds batch 0's
    # marker while batch 1's stays as the replay guard
    _event_shard(src, 1, [(f"j{i}", "2025-01-02T00:00:00", 2.0) for i in range(3)])
    assert (
        spark.readStream.format("shardpack")
        .load(src)
        .writeStream.format("shardpack")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(60)
    ), "stream did not finish in time"
    fold_stream_markers(sink, keep_last=1)
    m = _load_manifest(sink)
    assert all("min_key" in s and "bloom" in s for s in m["shards"])
    assert len(_glob.glob(os.path.join(sink, "_batch_*.json"))) == 1


# --- crash injection in the sink's commit window -----------------------------
#
# The sink's commit is two steps: move staged shards to `c{batch:08d}-<name>`
# in the root, then write the `_batch_{id}.json` marker (the commit point).
# A driver crash anywhere before the marker write must leave the dataset
# readable with NO partial batch visible, and the engine's replay of the
# micro-batch (fresh task uuids, same records) must converge to exactly-once.
# Reference parity: the marker protocol replaces the reference's
# rename-is-commit assumption (/root/reference/src/storage.rs) which cannot
# hold on object stores.

from shardpack_spark.format import storage as _storage
from shardpack_spark.format.datasource import (
    STAGING_DIR,
    ShardCommitMessage,
    ShardPackStreamWriter,
    read_shardpack,
    vacuum,
)


def _stage(out: str, tag: str, keys: list[str]) -> ShardCommitMessage:
    """Simulate one task attempt's write(): staged shards + commit message
    (one record per shard via target_shard_bytes=1, so multi-move commits
    exercise the mid-move crash window)."""
    task_dir = os.path.join(out, STAGING_DIR, f"task-00000-{tag}")
    w = codec.DatasetWriter(task_dir, basename=f"part-00000-{tag}", target_shard_bytes=1)
    for k in keys:
        w.write(
            codec.Record(
                key=k,
                entries=[codec.FileEntry("b.bin", "application/octet-stream", k.encode())],
            )
        )
    results = w.close()
    return ShardCommitMessage(
        shards=[
            {
                "path": os.path.basename(r["path"]),
                "staging": _storage.relpath(os.path.dirname(r["path"]), out),
                "records": r["records"],
                "bytes": r["bytes"],
            }
            for r in results
        ]
    )


class _CrashingBackend:
    """Delegating backend that raises on the Nth call of one method."""

    def __init__(self, inner, method: str, calls_before_crash: int):
        self._inner = inner
        self._method = method
        self._left = calls_before_crash

    def __getattr__(self, name):
        real = getattr(self._inner, name)
        if name != self._method:
            return real

        def crashing(*a, **kw):
            if self._left <= 0:
                raise RuntimeError("injected crash")
            self._left -= 1
            return real(*a, **kw)

        return crashing


def _keys(spark, out: str) -> list[str]:
    return sorted(r["key"] for r in read_shardpack(spark, out).select("key").collect())


def _crash_commit(monkeypatch, writer, msg, batch_id, method, calls_before_crash):
    inner = _storage.for_path(writer.path)
    be = _CrashingBackend(inner, method, calls_before_crash)
    from shardpack_spark.format import datasource as _ds

    with monkeypatch.context() as m:
        m.setattr(_ds.storage, "for_path", lambda p: be)
        with pytest.raises(RuntimeError, match="injected crash"):
            writer.commit([msg], batch_id)


def test_stream_sink_crash_before_marker(spark, tmp_path, monkeypatch):
    """Crash AFTER all shard moves, BEFORE the marker write: the moved
    shards are orphans (never marker-listed), invisible to readers, the
    replay commits cleanly, and vacuum reclaims the orphans."""
    register(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    writer = ShardPackStreamWriter({"path": out})

    writer.commit([_stage(out, "b0a", ["a", "b"])], 0)
    assert _keys(spark, out) == ["a", "b"]

    # batch 1, attempt 1: crash at the marker write (all moves done)
    _crash_commit(monkeypatch, writer, _stage(out, "b1a", ["c", "d"]), 1,
                  "write_atomic", 0)
    assert not os.path.exists(os.path.join(out, "_batch_00000001.json"))
    orphans = [f for f in os.listdir(out) if f.startswith("c00000001-")]
    assert len(orphans) == 2, "crashed attempt should leave moved-but-unmarked shards"
    # no partial visibility: readers still see only batch 0
    assert _keys(spark, out) == ["a", "b"]

    # restart replays batch 1 with fresh task uuids — same records
    writer.commit([_stage(out, "b1b", ["c", "d"])], 1)
    assert _keys(spark, out) == ["a", "b", "c", "d"]

    # vacuum reclaims the orphaned first-attempt files (grace disabled)
    rep = vacuum(out, grace_seconds=0)
    assert sorted(rep["deleted_shards"]) == sorted(orphans)
    assert _keys(spark, out) == ["a", "b", "c", "d"]
    # a second replay of the committed batch is discarded via the marker
    writer.commit([_stage(out, "b1c", ["c", "d"])], 1)
    assert _keys(spark, out) == ["a", "b", "c", "d"]


def test_stream_sink_crash_mid_move(spark, tmp_path, monkeypatch):
    """Crash between the first and second shard move: one orphan in the
    root, one shard still staged, no marker — readers see nothing of the
    batch; replay converges; vacuum reclaims both leftovers."""
    register(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    writer = ShardPackStreamWriter({"path": out})

    writer.commit([_stage(out, "b0a", ["a"])], 0)

    _crash_commit(monkeypatch, writer, _stage(out, "b1a", ["c", "d", "e"]), 1,
                  "move", 1)
    assert not os.path.exists(os.path.join(out, "_batch_00000001.json"))
    orphans = [f for f in os.listdir(out) if f.startswith("c00000001-")]
    assert len(orphans) == 1, "exactly the first move should have landed"
    staged_dirs = os.listdir(os.path.join(out, STAGING_DIR))
    assert any("b1a" in d for d in staged_dirs), "unmoved shards stay staged"
    assert _keys(spark, out) == ["a"]

    writer.commit([_stage(out, "b1b", ["c", "d", "e"])], 1)
    assert _keys(spark, out) == ["a", "c", "d", "e"]

    rep = vacuum(out, grace_seconds=0)
    assert sorted(rep["deleted_shards"]) == sorted(orphans)
    assert any("b1a" in d for d in rep["deleted_debris"]), (
        "crashed attempt's staging dir is reclaimed as debris"
    )
    assert _keys(spark, out) == ["a", "c", "d", "e"]


def test_stream_starting_position_latest(spark, tmp_path):
    """starting_position=latest tails from query start: history committed
    before the first batch never flows; later commits do; restarts resume
    the checkpoint rather than re-evaluating 'latest'."""
    register(spark)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _event_shard(src, 0, [("old1", "2025-01-01T00:00:00", 1.0),
                          ("old2", "2025-01-01T00:00:01", 1.0)])

    sink = str(tmp_path / "sink")

    def drain(_):
        q = (
            spark.readStream.format("shardpack")
            .option("starting_position", "latest")
            .load(src)
            .writeStream.format("shardpack")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        try:
            return sorted(
                r["key"]
                for r in read_shardpack(spark, sink).select("key").collect()
            )
        except Exception:  # zero batches delivered -> no shards yet
            return []

    assert drain("tail1") == [], "pre-existing history must not flow"
    _event_shard(src, 1, [("new1", "2025-01-02T00:00:00", 2.0)])
    assert drain("tail2") == ["new1"], "only post-start commits flow"

    from shardpack_spark.format.datasource import ShardPackStreamReader

    with pytest.raises(Exception, match="earliest\\|latest"):
        ShardPackStreamReader({"path": src, "starting_position": "now"})


def test_stream_latest_capped_offset_never_regresses(tmp_path):
    """starting_position=latest with a cap: the latestOffset that follows
    initialOffset must not sort below it.  The engine logs that end
    offset, so a regressed one would make a restart re-deliver history
    committed before the query started, which 'latest' promises to skip."""
    from shardpack_spark.format.datasource import ShardPackStreamReader
    from shardpack_spark.format.writer import write_records

    src = str(tmp_path / "src")
    entry = codec.FileEntry("d.bin", "application/octet-stream", b"x")
    for i in range(3):
        write_records(src, [codec.Record(key=f"k{i}", entries=[entry])], mode="append")
    reader = ShardPackStreamReader(
        {"path": src, "starting_position": "latest", "max_shards_per_batch": "1"}
    )
    initial = reader.initialOffset()["last"]
    latest = reader.latestOffset()["last"]
    assert initial.startswith("c00000003-")
    assert latest >= initial
