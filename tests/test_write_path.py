"""The one write path: every writer builds its shards through
commit.ShardSink (sink_options parses its options on the driver), and
convert_to_dataset records the same _StatsTracker stats, so the four
ways of producing a committed shard agree on every pruning stat."""

from __future__ import annotations

import json
import os

import pyspark
import pytest

from shardpack_spark.format import codec
from shardpack_spark.format.datasource import (
    ShardPackStreamWriter,
    ShardPackWriter,
    _load_manifest,
    convert_to_dataset,
    register,
)
from shardpack_spark.format.writer import write_records

_STATS = ("records", "bytes", "min_key", "max_key", "bloom", "meta_values", "meta_ranges")
_TARGET = 4096


@pytest.mark.parametrize("writer_cls", [ShardPackStreamWriter, ShardPackWriter])
def test_sink_options_rejected_on_the_driver(tmp_path, writer_cls):
    """Both DataSource writers validate their sink options at
    construction (the driver), not in the first executor task."""

    def make(**opts):
        options = {"path": str(tmp_path / "out"), **opts}
        if writer_cls is ShardPackWriter:
            return writer_cls(options, False)
        return writer_cls(options)

    with pytest.raises(codec.ShardPackCodecError, match="bogus"):
        make(compression="bogus")
    with pytest.raises(ValueError):
        make(target_shard_bytes="lots")
    assert make(partition_by="lang, src").partition_by == ["lang", "src"]


class _Task:
    def partitionId(self):  # noqa: N802 (Spark API name)
        return 0


@pytest.mark.parametrize("partition_by", ["", "lang"])
def test_empty_stream_batch_commits_into_a_new_directory(tmp_path, monkeypatch, partition_by):
    """A sink opens its shard writer (and task dir) on the first record,
    so a first micro-batch with no rows must still find the dataset
    directory for its marker — the driver creates it."""
    out = str(tmp_path / "new")
    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: _Task()))
    sink = ShardPackStreamWriter({"path": out, "partition_by": partition_by})
    sink.commit([sink.write(iter(()))], 0)
    with open(os.path.join(out, "_batch_00000000.json")) as fh:
        assert json.load(fh)["shards"] == []


def _records() -> list[codec.Record]:
    return [
        codec.Record(
            key=f"doc{(i * 37) % 200:04d}",
            entries=[
                codec.FileEntry("data.bin", "application/octet-stream", b"x" * (40 + i % 90))
            ],
            metadata={"lang": ("en", "fr")[i % 2], "n_chars": str(40 + i % 90)},
        )
        for i in range(200)
    ]


def _shard_stats(entries: list[dict]) -> list[dict]:
    return [
        {k: e.get(k) for k in _STATS} for e in sorted(entries, key=lambda e: e["path"])
    ]


def test_shard_stats_match_across_write_paths(spark, sp_rows, tmp_path, monkeypatch):
    """The same 200 records written through the facade Writer, a
    one-task DataSource batch write, a stream-sink batch and
    convert_to_dataset of a codec-written copy carry identical
    per-shard counts, key ranges, Blooms, metadata value sets and zone
    maps."""
    register(spark)
    recs = _records()
    df = sp_rows(
        spark, [(r.key, r.metadata, r.entries[0].data) for r in recs]
    ).coalesce(1)  # one task, input order kept

    facade = str(tmp_path / "facade")
    write_records(facade, recs, target_shard_bytes=_TARGET)

    batch = str(tmp_path / "batch")
    df.write.format("shardpack").option("target_shard_bytes", _TARGET).mode(
        "append"
    ).save(batch)

    stream = str(tmp_path / "stream")
    arrow = df.toArrow().to_batches()
    with monkeypatch.context() as m:
        m.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: _Task()))
        sink = ShardPackStreamWriter(
            {"path": stream, "target_shard_bytes": str(_TARGET)}
        )
        sink.commit([sink.write(iter(arrow))], 0)
    with open(os.path.join(stream, "_batch_00000000.json")) as fh:
        streamed = json.load(fh)["shards"]

    adhoc = str(tmp_path / "adhoc")
    w = codec.DatasetWriter(adhoc, basename="copy", target_shard_bytes=_TARGET)
    for r in recs:
        w.write(r)
    w.close()
    convert_to_dataset(spark, adhoc)

    expected = _shard_stats(_load_manifest(facade)["shards"])
    assert len(expected) > 3
    assert all(e["bloom"] and e["meta_values"] and e["meta_ranges"] for e in expected)
    assert _shard_stats(_load_manifest(batch)["shards"]) == expected
    assert _shard_stats(streamed) == expected
    assert _shard_stats(_load_manifest(adhoc)["shards"]) == expected
