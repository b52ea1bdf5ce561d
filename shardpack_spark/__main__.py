"""Command-line tools for shardpack datasets — the reference's
hypothetical `shardpack` CLI (docs/draft.md:132-148) backed by the
distributed engine:

    python -m shardpack_spark pack   <input_dir> <dataset>  [--local] [options]
    python -m shardpack_spark ls     <dataset>
    python -m shardpack_spark head   <dataset> [-n N]
    python -m shardpack_spark cat    <dataset> <key> [--out FILE]
    python -m shardpack_spark slice  <dataset> <key> <entry> <start> <len>
    python -m shardpack_spark delete <dataset> <key> [<key> ...]
    python -m shardpack_spark verify <dataset>
    python -m shardpack_spark compact <dataset> [--sort-by-key]
    python -m shardpack_spark vacuum <dataset> [--keep-versions N] [--dry-run]
    python -m shardpack_spark fold   <dataset> [--keep-last N] [--parts]
    python -m shardpack_spark warc-ls <archive> [-n N]
    python -m shardpack_spark warc-cat <archive> <record-id> [--out FILE]
    python -m shardpack_spark warc-index <archive-or-dir>
    python -m shardpack_spark warc-import <archive-or-dir> <dataset> [--types response]

`pack` is `shardpack create`: it packs a directory tree into shards with
one distributed job (grouping sample+annotation files by stem),
`--record-size-limit` maps to the writer's max_record_bytes, and
`--metadata k=v` records dataset-level custom fields; `pack --local`
runs the same semantics through the Spark-free writer facade (no JVM —
the fixture/laptop path).  The READ-side commands — `ls` (metadata-only), `head` (payload-skipping preview),
`cat` (bloom-pruned point lookup), `slice` (O(chunk) ranged read inside
one entry) — run through the Spark-free reader facade: no pyspark
import, no JVM, instant on a laptop against any dataset the engine
wrote.  Every command prints one JSON object so output is scriptable.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_kv(pairs: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"--metadata expects k=v, got {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def _spark():
    from shardpack_spark.session import get_spark

    return get_spark("shardpack_cli")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="shardpack_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pack", help="pack a directory tree into a dataset")
    p.add_argument("input")
    p.add_argument("dataset")
    p.add_argument("--no-group", action="store_true",
                   help="one record per file (default groups by stem)")
    p.add_argument("--glob", default=None, help="pathGlobFilter, e.g. '*.jpg'")
    p.add_argument("--key-prefix", default="")
    p.add_argument("--compression", default="none",
                   choices=["none", "gzip", "lz4", "zstd", "snappy"])
    p.add_argument("--target-shard-bytes", type=int, default=None)
    p.add_argument("--record-size-limit", type=int, default=None,
                   help="max bytes per record (writer max_record_bytes)")
    p.add_argument("--partition-by", default=None,
                   help="comma-separated metadata keys")
    p.add_argument("--metadata", nargs="*", default=[], metavar="K=V",
                   help="dataset-level custom metadata fields")
    p.add_argument("--mode", default="append", choices=["append", "overwrite"])
    p.add_argument("--local", action="store_true",
                   help="pack in-process via the Spark-free writer facade "
                        "(no JVM; for laptop-scale trees)")

    for name in ("ls", "verify"):
        q = sub.add_parser(name)
        q.add_argument("dataset")

    c = sub.add_parser("compact")
    c.add_argument("dataset")
    c.add_argument("--sort-by-key", action="store_true")
    c.add_argument("--target-shard-bytes", type=int, default=None)

    v = sub.add_parser("vacuum")
    v.add_argument("dataset")
    v.add_argument("--keep-versions", type=int, default=3)
    v.add_argument("--grace-seconds", type=int, default=3600)
    v.add_argument("--dry-run", action="store_true")

    f = sub.add_parser("fold")
    f.add_argument("dataset")
    f.add_argument("--keep-last", type=int, default=100)
    f.add_argument("--parts", action="store_true",
                   help="also fold the live root's manifest parts into one "
                        "(planning reads one object instead of one per commit)")

    h = sub.add_parser("head", help="preview records (Spark-free, ~1 shard)")
    h.add_argument("dataset")
    h.add_argument("-n", type=int, default=10)

    cat = sub.add_parser("cat", help="point lookup by key (Spark-free)")
    cat.add_argument("dataset")
    cat.add_argument("key")
    cat.add_argument("--out", default=None,
                     help="write the first entry's payload to this file")

    dl = sub.add_parser("delete", help="tombstone keys via a merge-on-read "
                                       "patch (Spark-free)")
    dl.add_argument("dataset")
    dl.add_argument("keys", nargs="+")

    sl = sub.add_parser("slice", help="ranged read inside one entry (Spark-free)")
    sl.add_argument("dataset")
    sl.add_argument("key")
    sl.add_argument("entry")
    sl.add_argument("start", type=int)
    sl.add_argument("length", type=int)
    sl.add_argument("--out", default=None, help="write the bytes to this file")

    e = sub.add_parser("export", help="dataset -> parquet (exploded entries)")
    e.add_argument("dataset")
    e.add_argument("parquet_out")
    e.add_argument("--mode", default="overwrite", choices=["append", "overwrite"])

    i = sub.add_parser("import", help="exploded-entry parquet -> dataset")
    i.add_argument("parquet_in")
    i.add_argument("dataset")
    i.add_argument("--compression", default="none",
                   choices=["none", "gzip", "lz4", "zstd", "snappy"])
    i.add_argument("--mode", default="append", choices=["append", "overwrite"])

    wl = sub.add_parser("warc-ls", help="WARC archive inventory (Spark-free, "
                        "headers-only — payloads are skipped, not decoded)")
    wl.add_argument("warc")
    wl.add_argument("-n", type=int, default=20)

    wcat = sub.add_parser("warc-cat", help="one WARC record's payload by "
                          "record id (Spark-free)")
    wcat.add_argument("warc")
    wcat.add_argument("record_id")
    wcat.add_argument("--out", default=None, help="write the payload to this file")
    wcat.add_argument("--dump-index", default=None,
                      help="warc_dump_index dataset: resolve the record "
                      "across a whole dump via the global locator (the "
                      "positional <warc> is ignored for resolution)")

    wx = sub.add_parser("warc-index", help="build .cdxj sidecar record "
                        "indexes (Spark-free) — enables indexed warc-cat "
                        "point lookup and split-archive parallel scans")
    wx.add_argument("warc", help="a .warc[.gz] file or a directory of them")

    wdx = sub.add_parser("warc-dump-index", help="dump-wide record "
                         "locator as a shardpack dataset (Spark-free "
                         "sequential twin of operators.webcorpus."
                         "warc_dump_index; buffers+sorts locator rows in "
                         "memory, so sized for small/medium dumps — use "
                         "the Spark builder for crawl-scale)")
    wdx.add_argument("warc", help="a .warc[.gz] file or a directory of them")
    wdx.add_argument("dataset")
    wdx.add_argument("--key", default="record_id",
                     choices=("record_id", "target_uri"))
    wdx.add_argument("--mode", default="overwrite",
                     choices=("overwrite", "append"))

    wpc = sub.add_parser("warc-cdx", help="emit the PUBLIC Common Crawl "
                         "index layout (cdx-00000.gz blocks + cluster.idx) "
                         "for a dump (Spark-free sequential twin of "
                         "operators.webcorpus.export_public_cdx; in-memory "
                         "global sort, sized for small/medium dumps)")
    wpc.add_argument("warc", help="a .warc[.gz] file or a directory of them")
    wpc.add_argument("out", help="index output directory")
    wpc.add_argument("--block-lines", type=int, default=3000)

    cl = sub.add_parser("cdx-lookup", help="point lookup against a public "
                        "CDX index (cluster.idx bisect -> one gzip block; "
                        "Spark-free)")
    cl.add_argument("index", help="index dir (cdx-*.gz [+ cluster.idx]) or "
                    "one cdx file")
    cl.add_argument("url")

    wi = sub.add_parser("warc-import", help="WARC archive(s) -> shardpack "
                        "dataset (Spark-free; key=record id, headers as "
                        "record metadata)")
    wi.add_argument("warc", help="a .warc[.gz] file or a directory of them")
    wi.add_argument("dataset")
    wi.add_argument("--types", default=None,
                    help="comma list of WARC-Type values to keep (default all)")
    wi.add_argument("--compression", default="none",
                    choices=["none", "gzip", "lz4", "zstd", "snappy"])

    args = ap.parse_args(argv)
    # metadata-only and facade-backed commands (ls/head/cat/slice/vacuum/
    # fold) never import pyspark — instant CLI, no JVM; the distributed
    # commands import the DataSource lazily below
    if args.cmd == "ls":
        from shardpack_spark.format import manifest as mf

        m = mf._load_manifest(args.dataset) or {}
        report = {
            "dataset": args.dataset,
            "version": m.get("version_id"),
            "versions": [v["version"] for v in mf.list_versions(args.dataset)],
            "shards": len(m.get("shards", [])),
            "records": m.get("total_records"),
            "compression": m.get("compression"),
            "partition_by": m.get("partition_by"),
            "partitions": mf.dataset_partitions(args.dataset),
            "user_metadata": m.get("user_metadata"),
        }
        print(json.dumps(report, default=str))
        return 0
    if args.cmd == "head":
        from itertools import islice

        from shardpack_spark.format.reader import open_dataset

        recs = islice(
            open_dataset(args.dataset).records(skip_payload=True), args.n
        )
        report = {
            "dataset": args.dataset,
            "rows": [{"key": r.key, "metadata": dict(r.metadata or {})}
                     for r in recs],
        }
        print(json.dumps(report, default=str))
        return 0
    if args.cmd == "warc-ls":
        from itertools import islice

        from shardpack_spark.format import storage, warc

        with storage.for_path(args.warc).open_read(args.warc) as f:
            rows = [
                {
                    "offset": r.offset,
                    "type": r.warc_type,
                    "id": r.record_id,
                    "uri": r.target_uri,
                    "content_length": r.headers.get("content-length"),
                    "error": r.parse_error,
                }
                for r in islice(warc.iter_warc_records(f, skip_payload=True), args.n)
            ]
        print(json.dumps({"warc": args.warc, "rows": rows}, default=str))
        return 0
    if args.cmd == "warc-cat":
        from shardpack_spark.format import storage, warc, warc_index

        def _emit(r) -> int:
            payload = r.payload if r.payload is not None else (r.block or b"")
            if args.out:
                with open(args.out, "wb") as o:
                    o.write(payload)
                print(json.dumps({"id": r.record_id, "bytes": len(payload),
                                  "out": args.out}))
            else:
                sys.stdout.buffer.write(payload)
            return 0

        if args.dump_index:
            # dump-wide locator: manifest min/max + bloom prune -> one
            # shard -> (file, offset) -> ONE member; O(1) reads over a
            # ~90k-archive dump (operators.webcorpus.warc_dump_index)
            hits = warc_index.lookup_via_dump_index(
                args.dump_index, args.record_id
            )
            if hits:
                return _emit(hits[0])
            print(json.dumps({"error": f"record {args.record_id!r} not in "
                              f"dump index {args.dump_index!r}"}))
            return 1
        # indexed fast path: .cdxj sidecar -> seek to ONE member; a
        # missing/stale sidecar falls through to the sequential scan
        hit = warc_index.lookup_record(args.warc, record_id=args.record_id)
        if hit is not None:
            return _emit(hit)
        with storage.for_path(args.warc).open_read(args.warc) as f:
            for r in warc.iter_warc_records(f):
                if r.record_id == args.record_id:
                    return _emit(r)
        print(json.dumps({"error": f"record {args.record_id!r} not found"}))
        return 1
    if args.cmd == "warc-dump-index":
        from shardpack_spark.format import codec as fc
        from shardpack_spark.format import warc_index
        from shardpack_spark.format.warc import list_warc_files
        from shardpack_spark.format.writer import open_writer

        files = list_warc_files(args.warc)
        rows = []
        for path in files:
            # torn-safe per-archive enumeration (sidecar when complete,
            # headers-only parse otherwise) — same unit the Spark builder
            # uses, so both produce equivalently honest coverage
            rows.extend(warc_index.locator_rows_for_archive(path, key=args.key))
        rows.sort(key=lambda t: t[0])  # key-sorted shards -> tight min/max
        # key + coverage metadata: without it a CLI-built locator cannot
        # serve format('warc') dump_index pushdown (_locator_partitions
        # bails on a missing warc_key)
        meta = warc_index.locator_metadata(
            args.dataset, args.key, files, args.mode == "append"
        )
        with open_writer(
            args.dataset, mode=args.mode, dataset_metadata=meta
        ) as w:
            for k, path, off, uri, wtype in rows:
                w.write(fc.Record(key=k, entries=[], metadata={
                    "file": path, "offset": str(off),
                    "uri": uri or "", "type": wtype or "",
                }))
        print(json.dumps({"dataset": args.dataset, "files": len(files),
                          "records": len(rows), "key": args.key}))
        return 0
    if args.cmd == "warc-cdx":
        from shardpack_spark.format.cdx_public import build_public_cdx

        print(json.dumps(build_public_cdx(args.warc, args.out,
                                          block_lines=args.block_lines)))
        return 0
    if args.cmd == "cdx-lookup":
        from shardpack_spark.format.cdx_public import lookup_public_cdx

        hits = lookup_public_cdx(args.index, url=args.url)
        print(json.dumps({"url": args.url, "hits": hits}))
        return 0 if hits else 1
    if args.cmd == "warc-index":
        from shardpack_spark.format.warc import list_warc_files
        from shardpack_spark.format.warc_index import build_warc_index

        reports = [build_warc_index(p) for p in list_warc_files(args.warc)]
        print(json.dumps({
            "files": len(reports),
            "records": sum(r["records"] for r in reports),
            "errors": sum(r["errors"] for r in reports),
            "indexes": reports,
        }))
        return 0
    if args.cmd == "warc-import":
        from shardpack_spark.format import codec as fc
        from shardpack_spark.format import storage, warc
        from shardpack_spark.format.warc import list_warc_files
        from shardpack_spark.format.writer import open_writer

        keep = set(s.strip() for s in args.types.split(",")) if args.types else None
        n = errs = 0
        with open_writer(args.dataset, compression=args.compression) as w:
            for path in list_warc_files(args.warc):
                with storage.for_path(path).open_read(path) as f:
                    for r in warc.iter_warc_records(f):
                        if r.parse_error:
                            errs += 1
                            continue
                        if keep is not None and r.warc_type not in keep:
                            continue
                        payload = r.payload if r.payload is not None else (r.block or b"")
                        w.write(
                            fc.Record(
                                key=r.record_id or f"{path}#{r.offset}",
                                entries=[
                                    fc.FileEntry(
                                        "payload",
                                        r.http_headers.get("content-type")
                                        or r.content_type
                                        or "application/octet-stream",
                                        payload,
                                    )
                                ],
                                metadata={k: v for k, v in r.headers.items()},
                            )
                        )
                        n += 1
        print(json.dumps({"dataset": args.dataset, "records": n,
                          "parse_errors_skipped": errs}))
        return 0
    if args.cmd == "delete":
        from shardpack_spark.format.writer import delete_keys

        name = delete_keys(args.dataset, args.keys)
        print(json.dumps({"dataset": args.dataset, "patch": name,
                          "tombstoned": len(args.keys)}))
        return 0
    if args.cmd == "cat":
        from shardpack_spark.format.reader import open_dataset

        recs = open_dataset(args.dataset).lookup(args.key)
        if args.out and recs and recs[0].entries:
            with open(args.out, "wb") as f:
                f.write(recs[0].entries[0].data)
        report = {
            "dataset": args.dataset,
            "key": args.key,
            "found": len(recs),
            "records": [
                {
                    "metadata": dict(r.metadata or {}),
                    "entries": [
                        {"file_name": e.file_name, "content_type": e.content_type,
                         "size": e.size}
                        for e in r.entries
                    ],
                }
                for r in recs
            ],
            **({"out": args.out} if args.out else {}),
        }
        print(json.dumps(report, default=str))
        return 0
    if args.cmd == "slice":
        import base64 as b64
        import os as _os

        from shardpack_spark.format import codec as C
        from shardpack_spark.format.reader import open_dataset

        dset = open_dataset(args.dataset)
        blob = None
        for shard in dset.shards():
            idx = dset.get_index(shard)
            for off in idx.offsets:
                rec = C.read_record_at(shard, off, skip_payload=True)
                if rec.key == args.key and any(
                    e.file_name == args.entry for e in rec.entries
                ):
                    blob = dset.read_entry_slice(
                        _os.path.basename(shard), off, args.entry,
                        args.start, args.length,
                    )
                    break
            if blob is not None:
                break
        if blob is None:
            raise SystemExit(f"key {args.key!r} with entry {args.entry!r} not found")
        if args.out:
            with open(args.out, "wb") as f:
                f.write(blob)
        report = {
            "dataset": args.dataset, "key": args.key, "entry": args.entry,
            "start": args.start, "length": len(blob),
            **({"out": args.out} if args.out else
               {"base64": b64.b64encode(blob).decode("ascii")}),
        }
        print(json.dumps(report, default=str))
        return 0

    if args.cmd == "pack" and args.local:
        # Spark-free pack: same record semantics as ingest_files, one
        # process, zero JVM startup — the fixture/laptop path
        from shardpack_spark.format import manifest as mf
        from shardpack_spark.format.writer import pack_files

        opts: dict = {"compression": args.compression}
        if args.target_shard_bytes:
            opts["target_shard_bytes"] = args.target_shard_bytes
        if args.record_size_limit:
            opts["max_record_bytes"] = args.record_size_limit
        if args.partition_by:
            opts["partition_by"] = args.partition_by
        md = _parse_kv(args.metadata)
        if md:
            opts["dataset_metadata"] = md
        pack_files(
            args.input,
            args.dataset,
            group_by_stem=not args.no_group,
            key_prefix=args.key_prefix,
            glob=args.glob,
            mode=args.mode,
            **opts,
        )
        m = mf._load_manifest(args.dataset) or {}
        report = {
            "dataset": args.dataset,
            "version": m.get("version_id"),
            "shards": len(m.get("shards", [])),
            "records": m.get("total_records"),
        }
        print(json.dumps(report, default=str))
        return 0

    from shardpack_spark.format import datasource as ds

    if args.cmd == "pack":
        opts: dict = {"compression": args.compression}
        if args.target_shard_bytes:
            opts["target_shard_bytes"] = args.target_shard_bytes
        if args.record_size_limit:
            opts["max_record_bytes"] = args.record_size_limit
        if args.partition_by:
            opts["partition_by"] = args.partition_by
        md = _parse_kv(args.metadata)
        if md:
            opts["dataset_metadata"] = json.dumps(md)
        ds.ingest_files(
            _spark(),
            args.input,
            args.dataset,
            group_by_stem=not args.no_group,
            key_prefix=args.key_prefix,
            glob=args.glob,
            mode=args.mode,
            **opts,
        )
        m = ds._load_manifest(args.dataset) or {}
        report = {
            "dataset": args.dataset,
            "version": m.get("version_id"),
            "shards": len(m.get("shards", [])),
            "records": m.get("total_records"),
        }
    elif args.cmd == "verify":
        report = ds.verify_dataset(_spark(), args.dataset)
    elif args.cmd == "compact":
        kw = {"sort_by_key": args.sort_by_key}
        if args.target_shard_bytes:
            kw["target_shard_bytes"] = args.target_shard_bytes
        report = ds.compact_dataset(_spark(), args.dataset, **kw)
    elif args.cmd == "vacuum":
        report = ds.vacuum(
            args.dataset,
            keep_versions=args.keep_versions,
            grace_seconds=args.grace_seconds,
            dry_run=args.dry_run,
        )
    elif args.cmd == "import":
        spark = _spark()
        ds.records_from_entries(spark.read.parquet(args.parquet_in)).write.format(
            "shardpack"
        ).option("compression", args.compression).mode(args.mode).save(args.dataset)
        m = ds._load_manifest(args.dataset) or {}
        report = {
            "dataset": args.dataset,
            "version": m.get("version_id"),
            "records": m.get("total_records"),
        }
    elif args.cmd == "export":
        # migration escape hatch: one row per file entry, bytes intact
        ds.read_shardpack(_spark(), args.dataset, explode_entries=True).write.mode(
            args.mode
        ).parquet(args.parquet_out)
        report = {"dataset": args.dataset, "parquet": args.parquet_out}
    else:  # fold
        report = ds.fold_stream_markers(args.dataset, keep_last=args.keep_last)
        if args.parts:
            report = {**report, **ds.fold_manifest_parts(args.dataset)}

    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
