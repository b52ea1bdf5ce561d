"""Spark-free writer facade: pyspark-free module graph, commits
indistinguishable from DataSource commits (interleaved parity), the
transaction shape of the context manager, and partition routing."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from shardpack_spark.format import codec
from shardpack_spark.format.manifest import _load_manifest, list_versions
from shardpack_spark.format.reader import open_dataset
from shardpack_spark.format.writer import open_writer, write_records


def _recs(tag: str, n: int, **meta):
    return [
        codec.Record(
            key=f"{tag}/{i:04d}",
            entries=[
                codec.FileEntry(
                    file_name="body.txt",
                    content_type="text/plain",
                    data=f"{tag}-{i}".encode(),
                )
            ],
            metadata={"tag": tag, **{k: str(v) for k, v in meta.items()}},
        )
        for i in range(n)
    ]


def _state(ds, **kw):
    return {r.key: (dict(r.metadata), r.entries[0].data) for r in ds.records(**kw)}


def test_module_graph_is_pyspark_free():
    """Importing the writer facade must not load pyspark anywhere in its
    module graph (fresh interpreter, so this suite's own pyspark usage
    can't mask a leak)."""
    code = (
        "import sys; import shardpack_spark.format.writer; "
        "bad = [m for m in sys.modules if m.startswith('pyspark') or m == 'py4j']; "
        "assert not bad, bad; print('clean')"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        check=True,
    )
    assert out.stdout.strip() == "clean"


def test_roundtrip_with_stats(tmp_path):
    """write -> commit -> read back, with the same per-shard pruning
    stats a DataSource commit records (key range, bloom, value sets,
    zone maps)."""
    root = str(tmp_path / "ds")
    m = write_records(
        root,
        _recs("a", 20, n_chars=7, day="2026-08-15"),
        compression="gzip",
        dataset_metadata={"source": "facade"},
    )
    assert m["version_id"] == 1
    assert m["total_records"] == 20
    assert m["user_metadata"] == {"source": "facade"}
    ds = open_dataset(root)
    st = _state(ds)
    assert len(st) == 20
    assert st["a/0003"] == ({"tag": "a", "n_chars": "7", "day": "2026-08-15"}, b"a-3")
    # stats recorded like a Spark commit's
    (shard,) = _load_manifest(root)["shards"]
    assert shard["min_key"] == "a/0000" and shard["max_key"] == "a/0019"
    assert "bloom" in shard
    assert shard["meta_values"]["tag"] == ["a"]
    assert shard["meta_ranges"]["n_chars"] == [7.0, 7.0]
    assert shard["meta_ranges"]["day"] == ["2026-08-15", "2026-08-15"]
    assert shard["compression"] == "gzip"
    # pruned + exact row filtering through the reader facade
    assert len(_state(ds, where_meta={"tag": "a"})) == 20
    assert _state(ds, where_meta={"tag": "b"}) == {}
    # point lookup through bloom/range pruning
    assert [r.key for r in ds.lookup("a/0007")] == ["a/0007"]


def test_interleaved_with_spark_commits(spark, tmp_path):
    """Facade and DataSource commits interleave into ONE consistent
    version chain — each sees the other's state and appends on top."""
    from pyspark.sql import functions as F

    from shardpack_spark.format.datasource import read_shardpack, register

    register(spark)
    root = str(tmp_path / "mix")
    write_records(root, _recs("facade1", 5))  # v1, no JVM
    # Spark appends on top
    df = spark.createDataFrame([(i,) for i in range(5)], "id int").select(
        F.concat(F.lit("spark/"), F.col("id").cast("string")).alias("key"),
        F.create_map(F.lit("tag"), F.lit("spark")).alias("metadata"),
        F.array(
            F.struct(
                F.lit("body.txt").alias("file_name"),
                F.lit("text/plain").alias("content_type"),
                F.lit("none").alias("encoding"),
                F.lit(1).cast("long").alias("size"),
                F.encode(F.lit("s"), "utf-8").alias("data"),
            )
        ).alias("entries"),
    )
    df.write.format("shardpack").mode("append").save(root)  # v2
    write_records(root, _recs("facade2", 3))  # v3, no JVM
    # all three commits visible to BOTH readers
    spark_keys = {r["key"] for r in read_shardpack(spark, root).collect()}
    facade_keys = set(_state(open_dataset(root)))
    assert spark_keys == facade_keys
    assert len(spark_keys) == 13
    vs = list_versions(root)
    assert [v["version"] for v in vs] == [1, 2, 3]
    assert [v["total_records"] for v in vs] == [5, 10, 13]
    # time travel across the mixed chain
    assert len(_state(open_dataset(root, version=2))) == 10


def test_overwrite_resets(tmp_path):
    root = str(tmp_path / "ow")
    write_records(root, _recs("old", 8))
    m = write_records(root, _recs("new", 2), mode="overwrite")
    assert m["version_id"] == 2 and m["total_records"] == 2
    assert set(_state(open_dataset(root))) == {"new/0000", "new/0001"}


def test_partitioned_and_dynamic_overwrite(tmp_path):
    root = str(tmp_path / "part")
    with open_writer(root, partition_by=["lang"]) as w:
        for i in range(6):
            w.write(
                key=f"d/{i}",
                data=f"x{i}".encode(),
                metadata={"lang": "en" if i % 2 else "fr"},
            )
    parts = open_dataset(root).partitions()
    assert {(p["partition"]["lang"], p["records"]) for p in parts} == {
        ("en", 3),
        ("fr", 3),
    }
    # dynamic overwrite replaces ONLY the partition present in new data
    with open_writer(
        root,
        mode="overwrite",
        partition_by=["lang"],
        partition_overwrite_mode="dynamic",
    ) as w:
        w.write(key="d/new", data=b"y", metadata={"lang": "en"})
    st = _state(open_dataset(root))
    assert "d/new" in st
    assert {k for k in st if st[k][0]["lang"] == "en"} == {"d/new"}
    assert len({k for k in st if st[k][0]["lang"] == "fr"}) == 3
    # partition-pure pruning via where_meta
    assert all(m["lang"] == "fr" for m, _ in _state(open_dataset(root), where_meta={"lang": "fr"}).values())
    # missing partition key refuses
    with pytest.raises(codec.ShardPackIOError, match="partition_by"):
        with open_writer(root, partition_by=["lang"]) as w:
            w.write(key="bad", data=b"z", metadata={})


def test_abort_on_exception(tmp_path):
    root = str(tmp_path / "ab")
    write_records(root, _recs("base", 4))
    with pytest.raises(RuntimeError):
        with open_writer(root) as w:
            w.write(key="doomed", data=b"x" * 100)
            raise RuntimeError("boom")
    m = _load_manifest(root)
    assert m["version_id"] == 1 and m["total_records"] == 4
    assert set(_state(open_dataset(root))) == {f"base/{i:04d}" for i in range(4)}
    # no stray shard files beyond the committed one
    stray = [
        f
        for f in os.listdir(root)
        if f.endswith(".shardpack")
        and f not in {s["path"] for s in m["shards"]}
    ]
    assert stray == []


def test_concurrent_writers_cas_remerge(tmp_path):
    """Two open writers, interleaved close(): the CAS loser re-merges —
    both commits survive with dense version ids."""
    root = str(tmp_path / "race")
    wa = open_writer(root)
    wb = open_writer(root)
    wa.write(key="a", data=b"1")
    wb.write(key="b", data=b"2")
    ma = wa.close()
    mb = wb.close()
    assert {ma["version_id"], mb["version_id"]} == {1, 2}
    assert mb["total_records"] == 2
    assert set(_state(open_dataset(root))) == {"a", "b"}


def test_validation_and_limits(tmp_path):
    root = str(tmp_path / "val")
    with pytest.raises(codec.ShardPackIOError, match="mode"):
        open_writer(root, mode="upsert")
    with pytest.raises(codec.ShardPackCodecError, match="compression"):
        open_writer(root, compression="brotli")
    with pytest.raises(codec.ShardPackIOError, match="dataset_metadata"):
        open_writer(root, dataset_metadata={"k": 1})
    with pytest.raises(codec.ShardPackIOError, match="dynamic"):
        open_writer(root, mode="overwrite", partition_overwrite_mode="dynamic")
    w = open_writer(root, max_record_bytes=64)
    with pytest.raises(codec.ShardPackError):
        w.write(key="big", data=b"x" * 1000)
    w.abort()
    w = open_writer(root)
    w.write(key="k", data=b"v")
    with pytest.raises(codec.ShardPackIOError, match="not both"):
        w.write(codec.Record(key="r"), key="also")
    w.close()
    with pytest.raises(codec.ShardPackIOError, match="closed"):
        w.write(key="late", data=b"x")
    assert w.close() is w.manifest  # idempotent


def test_pack_files_parity_with_spark_ingest(spark, tmp_path):
    """The Spark-free pack_files and the distributed ingest_files must
    produce byte-identical record state on the same tree — including
    the pinned edge cases (spaces, dotted dirs, extensionless files,
    multi-suffix names)."""
    from shardpack_spark.format.datasource import ingest_files, read_shardpack
    from shardpack_spark.format.writer import pack_files

    src = tmp_path / "tree"
    files = {
        "img0001.jpg": b"\xff\xd8jpegdata",
        "img0001.json": b'{"label": 1}',
        "sub dir/note v2.txt": b"hello world",
        "sub dir/note v2.meta.json": b"{}",
        "v1.2/data.npy": b"\x93NUMPY",
        "README": b"no extension",
        "archive.tar.gz": b"gz",
    }
    for rel, data in files.items():
        p = src / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)

    for group in (True, False):
        a, b = str(tmp_path / f"facade{group}"), str(tmp_path / f"spark{group}")
        pack_files(str(src), a, group_by_stem=group, key_prefix="t/")
        ingest_files(spark, str(src), b, group_by_stem=group, key_prefix="t/")

        def state(root):
            return {
                r.key: (
                    dict(r.metadata),
                    [(e.file_name, e.content_type, e.data) for e in r.entries],
                )
                for r in open_dataset(root).records()
            }

        sa, sb = state(a), state(b)
        assert sa == sb, f"group_by_stem={group}: {set(sa) ^ set(sb)}"
        # spot the grouped sample+annotation shape
        if group:
            assert [e[0] for e in sa["t/img0001"][1]] == ["img0001.jpg", "img0001.json"]
            assert sa["t/img0001"][0]["n_entries"] == "2"
        # Spark reader agrees with the facade reader on the facade-written set
        rows = read_shardpack(spark, a).collect()
        assert {r["key"] for r in rows} == set(sa)


def test_cli_local_pack(tmp_path):
    """`pack --local` works end to end in a pyspark-free interpreter."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_bytes(b"aaa")
    (src / "b.txt").write_bytes(b"bbb")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.argv = ['shardpack_spark', 'pack', '--local', "
            f"{str(src)!r}, {str(tmp_path / 'out')!r}, '--compression', 'gzip']; "
            "import shardpack_spark.__main__ as m; rc = m.main(sys.argv[1:]); "
            "bad = [x for x in sys.modules if x.startswith('pyspark')]; "
            "assert not bad, bad; sys.exit(rc)",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    import json as _json

    rep = _json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["records"] == 2
    assert {r.key for r in open_dataset(str(tmp_path / "out")).records()} == {
        "a",
        "b",
    }


def test_fold_manifest_parts(tmp_path):
    """Planning cost bound: N append commits leave N parts; the fold
    publishes a metadata-only commit whose live root lists ONE part,
    with shards, records, time travel, and dropped lists intact."""
    from shardpack_spark.format.commit import fold_manifest_parts

    root = str(tmp_path / "fp")
    for i in range(4):
        write_records(root, _recs(f"c{i}", 3))
    live = _load_manifest(root)
    assert len(live["parts"]) == 4
    rep = fold_manifest_parts(root)
    assert rep == {"folded_parts": 4, "version": 5}
    live = _load_manifest(root)
    assert len(live["parts"]) == 1
    assert live["total_records"] == 12
    assert len(_state(open_dataset(root))) == 12
    # archived snapshots replay exactly (old parts untouched)
    assert len(_state(open_dataset(root, version=2))) == 6
    # idempotent / no-op on an already-folded root
    assert fold_manifest_parts(root) == {"folded_parts": 0}
    # appends continue on top of the folded root
    write_records(root, _recs("c9", 2))
    live = _load_manifest(root)
    assert len(live["parts"]) == 2 and live["total_records"] == 14


def test_manifest_checkpointing_bounds_parts(tmp_path):
    """With manifest_checkpoint_parts=N the live root never lists more
    than N+1 parts no matter how many commits land, and every commit's
    data + version chain survive (Delta-checkpoint semantics)."""
    root = str(tmp_path / "ckpt")
    for i in range(10):
        write_records(root, _recs(f"c{i}", 2), manifest_checkpoint_parts=3)
        live = _load_manifest(root)
        assert len(live["parts"]) <= 4, f"commit {i}: {live['parts']}"
    assert live["total_records"] == 20
    assert len(_state(open_dataset(root))) == 20
    # archived snapshots replay exactly, including pre-checkpoint ones
    for v, want in ((3, 6), (7, 14), (10, 20)):
        assert len(_state(open_dataset(root, version=v))) == want
    # dropped lists survive checkpointing: dynamic overwrite then more
    # appends past the threshold must not resurrect replaced shards
    root2 = str(tmp_path / "ckpt2")
    for i in range(3):
        write_records(
            root2, _recs(f"p{i}", 2, lang="en"), partition_by=["lang"],
            manifest_checkpoint_parts=2,
        )
    with open_writer(
        root2, mode="overwrite", partition_by=["lang"],
        partition_overwrite_mode="dynamic", manifest_checkpoint_parts=2,
    ) as w:
        w.write(key="only", data=b"x", metadata={"lang": "en"})
    for i in range(3):
        write_records(
            root2, _recs(f"q{i}", 1, lang="fr"), partition_by=["lang"],
            manifest_checkpoint_parts=2,
        )
    st = _state(open_dataset(root2))
    assert {k for k, (m, _) in st.items() if m["lang"] == "en"} == {"only"}
    assert len(st) == 4


def test_fold_manifest_parts_keeps_dropped_and_vacuums(tmp_path):
    from shardpack_spark.format.commit import fold_manifest_parts
    from shardpack_spark.format.datasource import vacuum

    root = str(tmp_path / "fdrop")
    # partitioned writes, then a dynamic overwrite that drops one side
    for tag, lang in (("a", "en"), ("b", "fr")):
        write_records(
            root, _recs(tag, 3, lang=lang), partition_by=["lang"]
        )
    with open_writer(
        root,
        mode="overwrite",
        partition_by=["lang"],
        partition_overwrite_mode="dynamic",
    ) as w:
        w.write(key="en/new", data=b"x", metadata={"lang": "en"})
    before = _state(open_dataset(root))
    rep = fold_manifest_parts(root)
    assert rep["folded_parts"] == 3
    after = _state(open_dataset(root))
    assert after == before  # replaced partition stays replaced
    assert {k for k, (m, _) in after.items() if m["lang"] == "en"} == {"en/new"}
    # vacuum to 1 version: superseded parts reclaimed, reads intact
    rep = vacuum(root, keep_versions=1, grace_seconds=0)
    assert rep["deleted_parts"]
    assert _state(open_dataset(root)) == before


def test_facade_patches_upsert_and_delete(spark, tmp_path):
    """Spark-free merge-on-read: write_patch_records / delete_keys
    produce patches the facade reader, the Spark merged reader, and
    compact_patches all apply identically."""
    from shardpack_spark.format.datasource import register
    from shardpack_spark.format.patches import compact_patches, read_with_patches
    from shardpack_spark.format.writer import delete_keys, write_patch_records

    register(spark)
    root = str(tmp_path / "pf")
    write_records(root, _recs("base", 6))
    # upsert: rewrite base/0001, insert new/0001 — duplicate-key input
    # collapses to one deterministic survivor
    p1 = write_patch_records(
        root,
        [
            codec.Record(
                key="base/0001",
                entries=[codec.FileEntry("body.txt", "text/plain", b"patched")],
                metadata={"tag": "patched"},
            ),
            codec.Record(
                key="new/0001",
                entries=[codec.FileEntry("body.txt", "text/plain", b"ins")],
                metadata={"tag": "ins"},
            ),
            codec.Record(
                key="new/0001",
                entries=[codec.FileEntry("body.txt", "text/plain", b"ins")],
                metadata={"tag": "ins"},
            ),
        ],
    )
    p2 = delete_keys(root, ["base/0004"])
    assert [p1, p2] == ["p00000001", "p00000002"]
    want_keys = {f"base/{i:04d}" for i in range(6)} - {"base/0004"} | {"new/0001"}
    # facade reader
    st = _state(open_dataset(root))
    assert set(st) == want_keys
    assert st["base/0001"] == ({"tag": "patched"}, b"patched")
    # Spark merged reader agrees
    rows = {r["key"]: dict(r["metadata"]) for r in read_with_patches(spark, root).collect()}
    assert set(rows) == want_keys
    assert rows["base/0001"] == {"tag": "patched"}
    # compaction folds the facade-written patches into the base
    rep = compact_patches(spark, root)
    assert rep["patches_folded"] == 2
    assert set(_state(open_dataset(root, patches="error"))) == want_keys


def test_entry_names_selective_decode(tmp_path):
    """Modality-selective reads: entry_names decodes only the named
    entries' payloads; others come back header-only (data=b"") with
    their true declared sizes, across records(), shard_records(), and
    to_batches()."""
    root = str(tmp_path / "modal")
    img = os.urandom(8192)
    write_records(
        root,
        [
            codec.Record(
                key=f"m/{i}",
                entries=[
                    codec.FileEntry("caption.txt", "text/plain", f"cap {i}".encode()),
                    codec.FileEntry("image.bin", "image/png", img),
                ],
            )
            for i in range(5)
        ],
        compression="gzip",
    )
    ds = open_dataset(root)
    recs = list(ds.records(entry_names=["caption.txt"]))
    assert len(recs) == 5
    for r in recs:
        by_name = {e.file_name: e for e in r.entries}
        assert by_name["caption.txt"].data == f"cap {r.key[2:]}".encode()
        assert by_name["image.bin"].data == b""  # header-only
        assert by_name["image.bin"].size == len(img)  # true declared size
    # worker-sharded + arrow paths honor the selection too
    got = [
        r
        for i in range(2)
        for r in ds.shard_records(2, i, entry_names={"caption.txt"})
    ]
    assert {r.key for r in got} == {f"m/{i}" for i in range(5)}
    assert all(e.data == b"" for r in got for e in r.entries if e.file_name == "image.bin")
    batches = list(ds.to_batches(2, entry_names=["caption.txt"]))
    assert sum(b.num_rows for b in batches) == 5
    # dataset-level modality view: the default selection reaches every
    # record-level read, including map-style access and lookups
    view = open_dataset(root, entry_names=["caption.txt"])
    assert all(
        e.data == b"" and e.size == len(img)
        for r in view.records()
        for e in r.entries
        if e.file_name == "image.bin"
    )
    r0 = view[0]
    assert {e.file_name: e.data for e in r0.entries}["image.bin"] == b""
    (hit,) = view.lookup("m/3")
    by = {e.file_name: e for e in hit.entries}
    assert by["caption.txt"].data == b"cap 3" and by["image.bin"].data == b""
    assert by["image.bin"].size == len(img)


def test_follow_tails_new_commits(tmp_path):
    """reader.follow(): drains current contents, then yields records
    from commits that land AFTER iteration started — commit-gated, each
    shard consumed exactly once."""
    root = str(tmp_path / "tail")
    write_records(root, _recs("a", 3))
    ds = open_dataset(root)
    it = ds.follow(poll_interval=0.01)
    first = [next(it).key for _ in range(3)]
    assert first == [f"a/{i:04d}" for i in range(3)]
    write_records(root, _recs("b", 2))  # second commit while tailing
    assert [next(it).key for _ in range(2)] == ["b/0000", "b/0001"]
    it.close()
    # from_now skips existing contents; stop() ends cleanly
    calls = {"n": 0}

    def stop():
        calls["n"] += 1
        return calls["n"] > 1

    assert list(open_dataset(root).follow(0.01, from_now=True, stop=stop)) == []


def test_facade_over_object_store_sim(tmp_path):
    """The whole facade round trip (write, commit, fold, read, lookup)
    over sim:// — no rename, whole-object puts, conditional create —
    proving the Spark-free path never relies on POSIX semantics."""
    from shardpack_spark.format.commit import fold_manifest_parts

    root = f"sim://{tmp_path}/obj"
    for i in range(3):
        write_records(root, _recs(f"s{i}", 4), compression="zstd")
    assert fold_manifest_parts(root)["folded_parts"] == 3
    ds = open_dataset(root)
    st = _state(ds)
    assert len(st) == 12 and st["s1/0002"][1] == b"s1-2"
    assert [r.key for r in ds.lookup("s2/0001")] == ["s2/0001"]
    assert len(_state(open_dataset(root, version=2))) == 8


def test_lakehouse_ops_match_model(tmp_path, monkeypatch):
    """Stateful property test: random interleavings of append / dynamic
    partition overwrite / full overwrite / fold_manifest_parts /
    fold-irrelevant vacuum — plus appends whose FIRST snapshot-root CAS
    attempt is deterministically preempted by a fold (fold-DURING-commit:
    the commit must lose the claim, re-read the folded state, and land
    on top of it) — under random checkpoint thresholds, always leave the
    live read state equal to a trivial dict model.  This pins the
    interplay of checkpointing/folding with dropped lists and the CAS
    retry path — the places a merge bug would silently resurrect or
    lose rows.  The liveness lock is disabled (same as the raced-commit
    suite) so the mid-commit fold exercises pure CAS serialization."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from shardpack_spark.format import commit as commit_mod
    from shardpack_spark.format import storage
    from shardpack_spark.format.commit import fold_manifest_parts
    from shardpack_spark.format.datasource import vacuum

    class _NoLock:
        def __init__(self, *a, **k):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    monkeypatch.setattr(commit_mod, "_CommitLock", _NoLock)

    # arm-able CAS preemption: when armed, the next snapshot-root claim
    # first lets a fold win the vid, so the commit's own claim LOSES and
    # retries on the folded state
    hook = {"armed_root": None, "in_fold": False}
    orig_pia = storage.LocalBackend.put_if_absent

    def preempting_pia(self, p, data):
        tgt = hook["armed_root"]
        norm = p.replace(os.sep, "/")
        if (
            tgt
            and not hook["in_fold"]
            and "/root-" in norm
            and norm.endswith(".json")
        ):
            hook["armed_root"] = None
            hook["in_fold"] = True
            try:
                fold_manifest_parts(tgt)
            finally:
                hook["in_fold"] = False
        return orig_pia(self, p, data)

    monkeypatch.setattr(storage.LocalBackend, "put_if_absent", preempting_pia)

    langs = ("en", "fr", "de")
    op = st.one_of(
        st.tuples(st.just("append"), st.sampled_from(langs), st.integers(1, 4)),
        st.tuples(st.just("fold_mid"), st.sampled_from(langs), st.integers(1, 3)),
        st.tuples(st.just("dyn_ow"), st.sampled_from(langs), st.integers(1, 3)),
        st.tuples(st.just("full_ow"), st.sampled_from(langs), st.integers(1, 3)),
        st.tuples(st.just("fold"), st.none(), st.none()),
        st.tuples(st.just("vacuum"), st.none(), st.none()),
    )

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=3, max_size=10), ckpt=st.integers(0, 3))
    def run(ops, ckpt):
        import shutil
        import uuid as _uuid

        root = str(tmp_path / f"m{_uuid.uuid4().hex[:8]}")
        model: dict[str, str] = {}  # key -> lang
        n = 0
        for kind, lang, count in ops:
            if kind in ("append", "fold_mid"):
                if kind == "fold_mid" and os.path.isdir(root):
                    hook["armed_root"] = root  # preempt this commit's CAS
                recs = _recs(f"a{n}", count, lang=lang)
                write_records(
                    root, recs, partition_by=["lang"],
                    manifest_checkpoint_parts=ckpt,
                )
                hook["armed_root"] = None
                model.update({r.key: lang for r in recs})
            elif kind == "dyn_ow":
                recs = _recs(f"d{n}", count, lang=lang)
                write_records(
                    root, recs, mode="overwrite", partition_by=["lang"],
                    partition_overwrite_mode="dynamic",
                    manifest_checkpoint_parts=ckpt,
                )
                model = {k: v for k, v in model.items() if v != lang}
                model.update({r.key: lang for r in recs})
            elif kind == "full_ow":
                recs = _recs(f"f{n}", count, lang=lang)
                write_records(
                    root, recs, mode="overwrite", partition_by=["lang"],
                    manifest_checkpoint_parts=ckpt,
                )
                model = {r.key: lang for r in recs}
            elif kind == "fold":
                if os.path.isdir(root):
                    fold_manifest_parts(root)
            else:  # vacuum
                if os.path.isdir(root):
                    vacuum(root, keep_versions=1, grace_seconds=0)
            n += 1
            if not os.path.isdir(root):
                assert model == {}  # nothing ever written
                continue
            got = {
                k: m["lang"] for k, (m, _) in _state(open_dataset(root)).items()
            }
            assert got == model, f"after op {n-1} {kind}({lang},{count})"
        shutil.rmtree(root, ignore_errors=True)

    run()


def test_rollover_and_chunked_slice(tmp_path):
    """target_shard_bytes rolls shards; chunk_bytes enables O(chunk)
    ranged reads through the reader facade."""
    root = str(tmp_path / "roll")
    payload = os.urandom(4096)
    m = write_records(
        root,
        [
            codec.Record(
                key=f"r/{i}",
                entries=[codec.FileEntry("blob.bin", "application/octet-stream", payload)],
            )
            for i in range(8)
        ],
        target_shard_bytes=10_000,
        compression="gzip",
        chunk_bytes=1024,
    )
    assert len(_load_manifest(root)["shards"]) > 1  # rolled over
    ds = open_dataset(root)
    # locate r/3 and slice bytes 1000..1100 of its entry without a full read
    for shard in ds.shards():
        for off in ds.get_index(shard).offsets:
            if ds.read_record_at_offset(shard, off).key == "r/3":
                got = ds.read_entry_slice(shard, off, "blob.bin", 1000, 100)
                assert got == payload[1000:1100]
                return
    raise AssertionError("r/3 not found in any shard index")


@pytest.mark.slow  # heavy (>=12 s); conclusive lane only
def test_manifest_checkpoint_depth_10k_bounds_part_reads():
    """Scale probe, sparse: a 10,000-commit append chain (one manifest
    entry per commit, no data files — flatten never opens shards) with
    manifest_checkpoint_parts=64 must plan by reading AT MOST 65 part
    objects (threshold + the one uncheckpointed tail part), and the
    flatten must see every commit.  On an object store each part read
    is a GET round-trip, so this bound is the difference between ~65
    and ~10k GETs per planning pass after a year of hourly appends.
    memory://-backed so 10k commits stay in-process and bounded-time.

    The chain interleaves the documented maintenance loop — vacuum every
    2,500 commits — because archived snapshot roots otherwise accumulate
    one per commit and the latest-state LISTING in _observe_latest grows
    with lifetime history (tools/checkpoint_probe.py measures the
    un-vacuumed curve: commit median 3.6 ms at depth 500 -> 15.2 ms at
    10k on local FS, restored to 2.6 ms by one vacuum).  Retention, not
    lifetime commit count, bounds steady-state commit cost."""
    import uuid

    from shardpack_spark.format import commit, storage
    from shardpack_spark.format.datasource import vacuum
    from shardpack_spark.format.manifest import _observe_latest

    root = f"memory://cp10k-{uuid.uuid4().hex[:8]}"
    for i in range(10_000):
        commit.commit_shards(
            root,
            [{"path": f"s-{i:06d}.shardpack", "records": 1, "bytes": 128}],
            manifest_checkpoint_parts=64,
        )
        if (i + 1) % 2_500 == 0:
            vacuum(root, keep_versions=8, grace_seconds=0.0)
    be = storage.for_path(root)
    reads = {"parts": 0}
    real_read = be.read_bytes

    def counting_read(p):
        if "/part-" in p:
            reads["parts"] += 1
        return real_read(p)

    be.read_bytes = counting_read
    try:
        m, vid = _observe_latest(root, flatten=True)
    finally:
        be.read_bytes = real_read
    assert m is not None and len(m["shards"]) == 10_000, "flatten lost commits"
    assert vid >= 10_000
    assert reads["parts"] <= 65, f"planning read {reads['parts']} parts at depth 10k"
