"""WARC crawl archives -> document table: the ingest head of the
web-corpus pipeline.

``format("warc")`` (see ``format/warc_source.py``) yields one row per
WARC record; this module turns successful HTML/plain-text responses into
the ``documents``-shaped table every downstream operator consumes
(hygiene, quality, dedup, sampling, packing).  All transformations are
codegen (filter + cast + regex chain from ``operators.text``): a crawl
extraction is one scan with zero Python in the row path.

Charset note: payload bytes are interpreted as UTF-8 (the cast is
lenient — undecodable bytes pass through rather than aborting, matching
how crawls actually look).  Full charset transcoding driven by the
Content-Type header would need an Arrow-batched pandas UDF; real
pipelines (C4, RefinedWeb) restrict to UTF-8-compatible pages the same
way this does, filtering the rest on quality signals downstream.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shardpack_spark.operators import text as text_ops


def warc_responses(df: DataFrame, min_status: int = 200, max_status: int = 299) -> DataFrame:
    """Well-formed HTTP response records in the 2xx (or given) band."""
    return df.filter(
        (F.col("warc_type") == "response")
        & F.col("parse_error").isNull()
        & ~F.col("truncated")
        & F.col("http_status").between(min_status, max_status)
    )


def resolve_revisits(df: DataFrame) -> DataFrame:
    """Re-attach original payloads to WARC ``revisit`` records.

    Real crawls deduplicate aggressively: a re-crawl whose payload is
    byte-identical to an earlier capture is written as a ``revisit``
    record (identical-payload-digest profile) carrying NO payload — just
    ``WARC-Refers-To`` (the original's record id) and/or
    ``WARC-Payload-Digest``.  The majority of captures in a mature
    Common Crawl snapshot are revisits, so a consumer that reads
    responses only silently loses most page observations.  This resolves
    them corpus-wide, Spark-first: two plain equi-joins, no UDFs.

    Originals are the ``response`` rows, keyed once by ``record_id`` and
    once by their ``warc-payload-digest`` header; revisit rows left-join
    by ``WARC-Refers-To`` first (exact provenance), digest as the
    fallback (cross-archive revisits whose original id is unknown to the
    writer).  Both joins shuffle on their keys at crawl scale — never a
    broadcast of the payload-bearing side.  Returns the input rows with
    ``payload`` filled for resolved revisits plus ``resolved_by``
    (``'refers_to'`` | ``'digest'`` | null); responses and every other
    record type pass through untouched.  Duplicate originals (re-used
    ids, equal digests) are first-match — byte-identical by the revisit
    profile's definition, so any representative is THE payload.

    Cost shape: the physical plan scans the source FOUR times per action
    (passthrough, revisit, and the two originals projections) — Spark
    cannot merge differently-projected Python-source scans.  Over raw
    ``.warc.gz`` that means ~4 parses of the dump: for a one-shot
    resolve that is the honest price, but for repeated downstream use
    land the read in a materialized form first (shardpack/parquet via
    ``warc_to_documents`` or a plain write) and resolve there, where the
    re-scans are columnar and pruned instead of gzip parses."""
    resp = df.filter(F.col("warc_type") == "response")
    by_id = (
        resp.select(
            F.col("record_id").alias("_orig_id"),
            F.col("payload").alias("_orig_payload_id"),
            F.col("http_status").alias("_orig_status_id"),
            F.col("http_content_type").alias("_orig_ctype_id"),
        )
        .where(F.col("_orig_id").isNotNull())
        .dropDuplicates(["_orig_id"])
    )
    def norm_digest(c):
        # digests join across WRITERS: 'SHA1:b32' vs 'sha-1:B32 ' must
        # still match, so lowercase + de-hyphenate the algorithm label
        # and uppercase the base32 part (its canonical case) on BOTH
        # sides; NULL stays NULL throughout
        t = F.trim(c)
        return F.when(
            t.contains(":"),
            F.concat(
                F.regexp_replace(F.lower(F.substring_index(t, ":", 1)), "-", ""),
                F.lit(":"),
                F.upper(F.substring_index(t, ":", -1)),
            ),
        ).otherwise(F.upper(t))

    by_digest = (
        resp.select(
            norm_digest(
                F.element_at("warc_headers", F.lit("warc-payload-digest"))
            ).alias("_orig_digest"),
            F.col("payload").alias("_orig_payload_dig"),
            F.col("http_status").alias("_orig_status_dig"),
            F.col("http_content_type").alias("_orig_ctype_dig"),
        )
        .where(F.col("_orig_digest").isNotNull())
        .dropDuplicates(["_orig_digest"])
    )
    rv = (
        df.filter(F.col("warc_type") == "revisit")
        .withColumn(
            "_ref", F.element_at("warc_headers", F.lit("warc-refers-to"))
        )
        .withColumn(
            "_dig",
            norm_digest(
                F.element_at("warc_headers", F.lit("warc-payload-digest"))
            ),
        )
    )
    resolved = (
        rv.join(by_id, rv["_ref"] == by_id["_orig_id"], "left")
        .join(by_digest, rv["_dig"] == by_digest["_orig_digest"], "left")
        .withColumn(
            "resolved_by",
            F.when(F.col("_orig_payload_id").isNotNull(), F.lit("refers_to")).when(
                F.col("_orig_payload_dig").isNotNull(), F.lit("digest")
            ),
        )
        .withColumn(
            "payload",
            F.coalesce("_orig_payload_id", "_orig_payload_dig", "payload"),
        )
        # the HTTP envelope travels with the payload: a resolved revisit
        # is a full re-observation, self-describing to downstream
        # consumers (warc_to_documents admits it like a response)
        .withColumn(
            "http_status",
            F.coalesce("_orig_status_id", "_orig_status_dig", "http_status"),
        )
        .withColumn(
            "http_content_type",
            F.coalesce(
                "_orig_ctype_id", "_orig_ctype_dig", "http_content_type"
            ),
        )
        .drop(
            "_ref",
            "_dig",
            "_orig_id",
            "_orig_payload_id",
            "_orig_status_id",
            "_orig_ctype_id",
            "_orig_digest",
            "_orig_payload_dig",
            "_orig_status_dig",
            "_orig_ctype_dig",
        )
    )
    passthrough = df.filter(
        F.col("warc_type").isNull() | (F.col("warc_type") != "revisit")
    ).withColumn("resolved_by", F.lit(None).cast("string"))
    return passthrough.unionByName(resolved)


def warc_to_documents(
    df: DataFrame,
    min_status: int = 200,
    extract_html: bool = True,
) -> DataFrame:
    """Crawl records -> ``(doc_id, url, fetched_at, content_type, text)``.

    - keeps 2xx ``response`` records whose Content-Type is text/html or
      text/plain (parameters of the real pipelines this mirrors), AND
      ``conversion`` records (the WET layout — text already extracted by
      the crawler; no HTTP envelope, WARC Content-Type is the text
      type);
    - HTML pages run :func:`operators.text.html_to_text` (codegen regex
      chain — script/style drop, tag strip, entity decode, whitespace
      canon); plain text and WET conversions pass through;
    - ``doc_id`` is the WARC record id (globally unique per the spec),
      so downstream dedup/lineage keys on it exactly like ``documents.
      doc_id``.
    - input that went through :func:`resolve_revisits` (detected by its
      ``resolved_by`` column) also admits RESOLVED revisit records under
      the same status/content-type gates — each re-observation carries
      its original's payload and HTTP envelope, and flows as its own
      document (own record id, own URI, own fetch date).  Unresolved
      revisits and un-resolved input drop them as before.
    """
    resp = warc_responses(df, min_status=min_status)
    if "resolved_by" in df.columns:
        resp = resp.unionByName(
            df.filter(
                (F.col("warc_type") == "revisit")
                & F.col("resolved_by").isNotNull()
                & F.col("parse_error").isNull()
                & ~F.col("truncated")
                & F.col("http_status").between(min_status, 299)
            )
        )
    ctype = F.lower(F.coalesce(F.col("http_content_type"), F.lit("")))
    is_html = ctype.startswith("text/html")
    is_text = ctype.startswith("text/plain")
    resp = resp.filter(is_html | is_text)
    # WET extracted-text records: no HTTP message, text/plain at the
    # WARC level (Common Crawl uses 'text/plain'; 'text/x-crawl-diagnostic'
    # and friends stay excluded)
    wet = df.filter(
        (F.col("warc_type") == "conversion")
        & F.col("parse_error").isNull()
        & ~F.col("truncated")
        & F.lower(F.coalesce(F.col("content_type"), F.lit(""))).startswith("text/plain")
    )
    raw = F.col("payload").cast("string")
    body = (
        F.when(is_html, text_ops.html_to_text(raw)).otherwise(F.trim(raw))
        if extract_html
        else F.trim(raw)
    )

    def shape(src: DataFrame, body_col, ctype_col) -> DataFrame:
        return src.select(
            F.col("record_id").alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetched_at"),
            ctype_col.alias("content_type"),
            body_col.alias("text"),
        )

    return shape(resp, body, F.col("http_content_type")).unionAll(
        shape(wet, F.trim(raw), F.col("content_type"))
    )


def decode_payload_text(
    df: DataFrame,
    payload_col: str = "payload",
    content_type_col: str = "http_content_type",
    default_charset: str = "utf-8",
):
    """Charset-aware text decode of crawl payloads: an Arrow-batched
    struct column ``(text, charset, decode_ok)`` driven by the
    ``charset=`` parameter of the HTTP Content-Type header.

    Real crawls declare latin-1 / windows-1252 / gbk / shift_jis /
    iso-8859-* on a large fraction of pages; the codegen
    ``cast(binary as string)`` path in :func:`warc_to_documents` assumes
    UTF-8 (the C4/RefinedWeb simplification).  This is the full-fidelity
    alternative: per-row charset lookup through Python's codec registry,
    ``errors='replace'`` so hostile bytes degrade instead of aborting,
    ``decode_ok=False`` whenever a replacement character was introduced
    or the declared charset is unknown (falls back to
    ``default_charset``).  Returns a Column; use as

        df.withColumn("dec", decode_payload_text(df))
          .select("record_id", "dec.text", "dec.charset", "dec.decode_ok")

    Cost note: this is the Python path (per-row codec dispatch cannot be
    expressed in codegen) — Arrow moves the batches, the decode itself
    is C inside Python's codecs.  Keep it AFTER the cheap codegen
    filters (status, content-type family) so only kept rows pay."""
    from pyspark.sql.functions import pandas_udf

    default = default_charset

    @pandas_udf("text string, charset string, decode_ok boolean")
    def dec(payload: pd.Series, ctype: pd.Series) -> pd.DataFrame:
        import codecs
        import re

        pat = re.compile(r"charset=[\"']?([A-Za-z0-9_\-\.:]+)")
        texts, charsets, oks = [], [], []
        lookup_cache: dict[str, str | None] = {}

        def text_codec(name: str) -> str | None:
            """Resolved codec name, or None when unknown OR not a TEXT
            encoding — codecs.lookup also resolves bytes-to-bytes codecs
            (hex, base64, zip...) whose .decode raises LookupError, and a
            crawled page can declare charset=hex to weaponize that."""
            try:
                info = codecs.lookup(name)
                # bytes.decode fast-paths b"" before codec validation, so
                # probing with empty bytes does NOT catch these; the
                # CodecInfo flag is what bytes.decode itself consults
                if not getattr(info, "_is_text_encoding", True):
                    return None
                return info.name
            except Exception:
                return None

        for data, ct in zip(payload, ctype):
            if data is None:
                texts.append(None)
                charsets.append(None)
                oks.append(None)
                continue
            m = pat.search(ct) if isinstance(ct, str) else None
            declared = m.group(1).lower() if m else None
            cs = None
            if declared is not None:
                if declared not in lookup_cache:
                    lookup_cache[declared] = text_codec(declared)
                cs = lookup_cache[declared]
            known = cs is not None
            cs = cs or default
            # strict decode decides decode_ok: a page whose valid bytes
            # legitimately CONTAIN U+FFFD must not be flagged, so never
            # infer from replacement characters in the output
            try:
                text = bytes(data).decode(cs)
                ok = known if declared is not None else True
            except UnicodeDecodeError:
                text = bytes(data).decode(cs, errors="replace")
                ok = False
            texts.append(text)
            charsets.append(cs)
            oks.append(ok)
        return pd.DataFrame({"text": texts, "charset": charsets, "decode_ok": oks})

    return dec(F.col(payload_col), F.col(content_type_col))


def _export_warc_partitions(
    df: DataFrame, cols: list, path: str, make, write_index: bool
) -> DataFrame:
    """Shared executor-write loop of every WARC-family exporter
    (:func:`documents_to_warc` / :func:`wat_export` / :func:`wet_export`):
    each input partition streams its rows into ONE gzip-member-per-record
    archive through the storage layer — no driver collect, no
    whole-partition buffering — and publishes a ``.cdxj`` sidecar from
    the writer's own member sizes (zero extra read passes).

    ``make(row_dict)`` builds one record: returns ``(record_bytes,
    warc_type, record_id, target_uri, file_suffix)`` — the suffix picks
    the container convention (``.warc.gz`` for WARC/WAT, ``.warc.wet.gz``
    for WET conversion archives).  Returns the (partition-count-sized)
    manifest DataFrame ``(file, n_records)``; an ACTION materializes the
    files."""
    from shardpack_spark.format import storage, warc, warc_index

    def write_part(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        handle = None
        target = None
        n = 0
        offset = 0
        idx_rows = []
        try:
            for pdf in batches:
                for vals in pdf[cols].itertuples(index=False, name=None):
                    rec, wtype, rid, uri, suffix = make(dict(zip(cols, vals)))
                    if handle is None:
                        target = f"{path.rstrip('/')}/part-{pid:05d}{suffix}"
                        be = storage.for_path(target)
                        be.makedirs(path)
                        handle = be.create(target)
                    # WriteHandle exposes .write — exactly the file-like
                    # surface write_warc streams members onto
                    sizes: list = []
                    warc.write_warc(handle, [rec], sizes_out=sizes)
                    if write_index:
                        # the writer KNOWS each member's offset — index
                        # rows cost zero additional I/O
                        idx_rows.append(
                            warc_index.WarcIndexRow(
                                offset=offset,
                                warc_type=wtype,
                                record_id=rid,
                                target_uri=uri,
                            )
                        )
                    offset += sizes[0]
                    n += 1
            if handle is not None:
                handle.close()
                if write_index:
                    warc_index.write_warc_index(target, idx_rows, offset)
                yield pd.DataFrame({"file": [target], "n_records": [n]})
        except BaseException:
            if handle is not None:
                handle.abort()
            raise

    return df.select(*cols).mapInPandas(write_part, "file string, n_records long")


def _hval(v) -> str:
    """Column value -> safe header value: CR/LF would be header injection
    (warc_record_bytes rejects them, and one hostile row must not abort
    the export job), so fold them to spaces; None stays absent, not
    'None' (callers check)."""
    return " ".join(str(v).split())


def documents_to_warc(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    header_cols: tuple[str, ...] = (),
    write_index: bool = True,
    revisit_of_col: str | None = None,
) -> DataFrame:
    """Export a documents-shaped table as ``.warc.gz`` — the inverse of
    :func:`warc_to_documents`, and the interchange path to every tool
    that speaks the crawl format.

    ``revisit_of_col``: rows with a non-null value there are written as
    ``revisit`` records instead of responses — the crawl format's
    deduplication convention (identical-payload-digest profile): an
    EMPTY block, ``WARC-Refers-To: <urn:doc:{value}>`` naming the
    original capture, and ``WARC-Payload-Digest`` of the row's text when
    known.  The inverse of :func:`resolve_revisits`, and what a
    dedup-aware crawl EMITTER needs: re-observations cost ~200 bytes
    instead of a copied payload.  Null values in the column still write
    plain responses, so one mixed table exports in one pass.

    Executor-written like every sink in this package: each input
    partition streams its rows into ONE ``part-{pid}.warc.gz`` (one gzip
    member per record — the Common Crawl layout ``format("warc")`` reads
    back in parallel), through the storage layer (local/sim/s3), record
    at a time — no driver collect, no whole-partition buffering.  Extra
    columns named in ``header_cols`` ride as ``WARC-X-<Col>`` extension
    headers and come back in the reader's ``warc_headers`` map.

    ``write_index=True`` (default) also publishes a ``.cdxj`` sidecar per
    file (``format/warc_index.py``) built from the writer's own member
    sizes — zero extra read passes — enabling indexed point lookup and
    split-archive parallel scans on the export.

    Returns the (partition-count-sized) manifest DataFrame
    ``(file, n_records)`` — an ACTION is required to materialize the
    files (``.collect()`` on it is bounded by the partition count)."""
    import base64 as _b64
    import hashlib as _hl

    from shardpack_spark.format import warc

    cols = (
        [id_col, text_col]
        + ([url_col] if url_col else [])
        + list(header_cols)
        + ([revisit_of_col] if revisit_of_col else [])
    )

    # positional row access upstream (itertuples name=None): pandas
    # renames non-identifier/duplicate column names ('lang-id', 'class')
    # to _N in namedtuples, which would AttributeError
    def make(row: dict):
        rid = _hval(row[id_col])
        text = row[text_col] or ""
        extra = {
            f"WARC-X-{c.replace('_', '-').title()}": _hval(row[c])
            for c in header_cols
            if row[c] is not None
        }
        uri = (
            _hval(row[url_col])
            if url_col and row[url_col] is not None
            else f"urn:doc:{rid}"
        )
        ref = row.get(revisit_of_col) if revisit_of_col else None
        # Arrow->pandas turns a nullable int64 column into float64 with
        # NaN nulls: NaN must read as "no revisit" (ref != ref catches
        # it without importing math), and an integral float must not
        # leak a '.0' into the referenced record id
        if ref is not None and ref == ref:
            if isinstance(ref, float) and ref.is_integer():
                ref = int(ref)
            extra["WARC-Refers-To"] = f"<urn:doc:{_hval(ref)}>"
            if text:
                extra["WARC-Payload-Digest"] = "sha1:" + _b64.b32encode(
                    _hl.sha1(str(text).encode("utf-8")).digest()
                ).decode("ascii")
            rec = warc.warc_record_bytes(
                "revisit",
                b"",
                target_uri=uri,
                record_id=f"<urn:doc:{rid}>",
                headers=extra,
            )
            return rec, "revisit", f"<urn:doc:{rid}>", uri, ".warc.gz"
        blk = warc.http_response_block(
            str(text).encode("utf-8"),
            content_type="text/plain; charset=utf-8",
        )
        rec = warc.warc_record_bytes(
            "response",
            blk,
            target_uri=uri,
            record_id=f"<urn:doc:{rid}>",
            content_type="application/http; msgtype=response",
            headers=extra,
        )
        return rec, "response", f"<urn:doc:{rid}>", uri, ".warc.gz"

    return _export_warc_partitions(df, cols, path, make, write_index)


def wat_export(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    links_col: str = "links",
    title_col: str | None = None,
    write_index: bool = True,
) -> DataFrame:
    """Export a table as WAT metadata archives — the inverse of
    :func:`wat_records`, producing the Common Crawl WAT layout: a
    ``.warc.gz`` of ``metadata`` records whose payload is one JSON
    "Envelope" per described record (WARC-Header-Metadata +
    Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links).

    ``links_col`` is an ``array<string>`` of outlink URLs; each becomes a
    ``{path: "A@/href", url: ...}`` entry in the envelope's Links array —
    exactly the shape :func:`wat_links` consumes.  Execution model is
    identical to :func:`documents_to_warc`: executor-written, one gzip
    member per record, streaming, ``.cdxj`` sidecar from the writer's own
    member sizes.  Returns the ``(file, n_records)`` manifest DataFrame
    (an action materializes the files; collect is bounded by the
    partition count).

    This is both the fixture path for WAT pipeline tests and the
    interchange path for link-graph snapshots: a ``wat_links``-shaped
    extraction round-trips through the public WAT container."""
    import json as _json

    from shardpack_spark.format import warc

    cols = [id_col, url_col, links_col] + ([title_col] if title_col else [])

    def make(row: dict):
        rid = _hval(row[id_col])
        url = row[url_col]
        uri = str(url) if url is not None else f"urn:doc:{rid}"
        links = [
            {"path": "A@/href", "url": str(u)}
            for u in (row[links_col] if row[links_col] is not None else [])
            if u is not None
        ]
        html_meta: dict = {"Links": links}
        if title_col and row[title_col] is not None:
            html_meta["Head"] = {"Title": str(row[title_col])}
        envelope = {
            "Envelope": {
                "WARC-Header-Metadata": {
                    "WARC-Target-URI": str(url) if url is not None else None,
                    "WARC-Type": "response",
                },
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "Response-Message": {"Status": "200"},
                        "HTML-Metadata": html_meta,
                    }
                },
            }
        }
        rec = warc.warc_record_bytes(
            "metadata",
            _json.dumps(envelope, separators=(",", ":")).encode("utf-8"),
            target_uri=uri,
            record_id=f"<urn:wat:{rid}>",
            content_type="application/json",
        )
        return rec, "metadata", f"<urn:wat:{rid}>", uri, ".warc.gz"

    return _export_warc_partitions(df, cols, path, make, write_index)


def wet_export(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    date_col: str | None = None,
    refers_to_col: str | None = None,
    write_index: bool = True,
) -> DataFrame:
    """Export extracted text as WET conversion archives
    (``part-*.warc.wet.gz``) — the third leg of the public crawl triple
    (WARC raw / WAT metadata / WET text) and the interchange format
    CC-tooling consumers expect for extracted text.

    Each row becomes one ``conversion`` record: WARC Content-Type
    ``text/plain``, payload = the UTF-8 text with NO HTTP envelope
    (exactly the layout the WET leg of :func:`warc_to_documents` reads
    back — the two functions are inverses).  ``refers_to_col`` names the
    source response record id and rides as ``WARC-Refers-To``, the
    header WET uses to link a conversion to its crawl record;
    ``date_col`` carries the original fetch time as ``WARC-Date``
    (export time is meaningless provenance for derived text).

    Execution model is :func:`documents_to_warc`'s: executor-written,
    one gzip member per record, streaming, ``.cdxj`` sidecar from the
    writer's own member sizes.  Returns the ``(file, n_records)``
    manifest DataFrame (an action materializes the files)."""
    from shardpack_spark.format import warc

    cols = (
        [id_col, text_col]
        + ([url_col] if url_col else [])
        + ([date_col] if date_col else [])
        + ([refers_to_col] if refers_to_col else [])
    )

    def make(row: dict):
        rid = _hval(row[id_col])
        uri = (
            _hval(row[url_col])
            if url_col and row[url_col] is not None
            else f"urn:doc:{rid}"
        )
        extra = {}
        if refers_to_col and row[refers_to_col] is not None:
            extra["WARC-Refers-To"] = _hval(row[refers_to_col])
        rec = warc.warc_record_bytes(
            "conversion",
            str(row[text_col] or "").encode("utf-8"),
            target_uri=uri,
            record_id=f"<urn:wet:{rid}>",
            content_type="text/plain",
            date=(
                _hval(row[date_col])
                if date_col and row[date_col] is not None
                else None
            ),
            headers=extra,
        )
        return rec, "conversion", f"<urn:wet:{rid}>", uri, ".warc.wet.gz"

    return _export_warc_partitions(df, cols, path, make, write_index)


def index_warc_archives(spark, path: str, tasks: int = 512) -> DataFrame:
    """Build ``.cdxj`` sidecar indexes for every archive under ``path``
    as ONE distributed job — one headers-only parse task per archive
    (the CLI ``warc-index`` verb is the sequential Spark-free twin; this
    is how you index an existing crawl dump, where ~90k files make a
    driver loop a day-long job but a 1000-core cluster finishes in
    minutes).

    Returns the per-archive report DataFrame ``(archive, records,
    members, errors, archive_size)`` — an action materializes the
    sidecars; ``.collect()`` is bounded by the file count.  Re-running
    is idempotent (atomic sidecar replace)."""
    from shardpack_spark.format import warc_index
    from shardpack_spark.format.warc import list_warc_files

    files = list_warc_files(path)

    def build(batches):
        import pandas as pd

        for pdf in batches:
            reps = [warc_index.build_warc_index(f) for f in pdf["archive"]]
            if reps:
                yield pd.DataFrame(reps)

    sdf = spark.createDataFrame([(f,) for f in files], "archive string")
    return sdf.repartition(min(len(files), tasks)).mapInPandas(
        build,
        "archive string, records long, members long, errors long, "
        "archive_size long",
    )


def warc_dump_index(
    spark,
    path: str,
    out: str,
    key: str = "record_id",
    tasks: int = 512,
    target_shard_bytes: int | None = None,
    mode: str = "overwrite",
    files: "list[str] | None" = None,
) -> str:
    """Global record locator for a crawl dump: ONE key-sorted shardpack
    dataset mapping record identity -> ``(archive file, member offset)``
    — the dump-wide analog of the per-archive ``.cdxj`` sidecar, and the
    public CDX-server convention applied to this engine's own format.

    Per-archive sidecars answer "where in THIS file"; they cannot answer
    "which of my ~90k files holds record X" without touching every
    sidecar (even the bounded-pool lookup planner pays O(archives)
    reads).  This builds the missing level: each record becomes a
    zero-entry shardpack record ``key=<record_id|target_uri>``,
    ``metadata={file, offset, uri, type}`` — so a dump-wide lookup rides
    the EXISTING manifest machinery (min/max key ranges + per-shard
    Bloom filters prune to one shard) and then decompresses exactly one
    gzip member: O(1) reads regardless of dump size, Spark-free at query
    time (:func:`format.warc_index.lookup_via_dump_index`, CLI
    ``warc-cat --dump-index``).

    Build shape (100 TB honest): one task per archive streams its
    sidecar rows — headers-only archive parse when no sidecar exists —
    then ONE range shuffle key-sorts the locator rows and executors
    write the shards; the driver never sees a record.  ~60 B/record
    means a 3B-record dump indexes into a ~200 GB dataset — big, but
    distributed at build AND pruned at read, unlike a driver-side
    anything.  ``key='target_uri'`` builds the URL-keyed twin; duplicate
    keys (re-crawls) are legal and all matches surface at lookup.

    Incrementality — a growing dump (daily crawl drops) must not
    rebuild its locator:

    - ``mode='overwrite'`` (default): full rebuild, atomic replace.
    - ``mode='append'``: index only ``files`` (or the whole listing)
      and APPEND the locator rows as new shards — the caller names the
      arrivals.  Appended shards keep per-shard min/max + Bloom stats,
      so lookups stay pruned (at worst one shard probed per append
      generation).
    - ``mode='sync'``: diff the live listing against the archives the
      locator already names (one metadata-only distinct scan of the
      locator — collect bounded by the ARCHIVE count, not records) and
      append just the new ones; a no-op when nothing landed.  A
      missing/empty locator falls back to a full append-build."""
    from shardpack_spark.format import warc, warc_index
    from shardpack_spark.format.datasource import SCHEMA, read_shardpack, register

    if key not in ("record_id", "target_uri"):
        raise ValueError(f"key must be record_id|target_uri, got {key!r}")
    if mode not in ("overwrite", "append", "sync"):
        raise ValueError(f"mode must be overwrite|append|sync, got {mode!r}")
    register(spark)
    files = list(files) if files is not None else warc.list_warc_files(path)
    if mode == "sync":
        try:
            # distinct archive names already in the locator: metadata-only
            # read (the records are zero-entry anyway); collect is bounded
            # by the archive count — the same driver memory the listing
            # itself costs
            have = {
                r.f
                for r in read_shardpack(spark, out, columns=["metadata"])
                .select(F.element_at("metadata", "file").alias("f"))
                .distinct()
                .collect()
            }
        except Exception:
            have = set()  # no locator yet: full build via append
        files = [f for f in files if f not in have]
        if not files:
            return out  # nothing landed since the last sync
        mode = "append"

    def scan(batches):
        import pandas as pd

        cols = ["key", "file", "offset", "uri", "wtype"]
        for pdf in batches:
            buf: list = []
            for f in pdf["archive"]:
                # torn-safe enumeration: a sidecar whose row stream does
                # not COMPLETE (damaged line / count mismatch) is
                # discarded whole and the archive re-parsed headers-only
                # — every archive this build names as covered really has
                # ALL its records in the locator, so a covered MISS may
                # prune to zero (warc_index.locator_rows_for_archive)
                buf.extend(warc_index.locator_rows_for_archive(f, key=key))
                if len(buf) >= 100_000:  # bounded batch memory per task
                    yield pd.DataFrame(buf, columns=cols)
                    buf = []
            if buf:
                yield pd.DataFrame(buf, columns=cols)

    sdf = spark.createDataFrame([(f,) for f in files], "archive string")
    raw = sdf.repartition(min(len(files), tasks)).mapInPandas(
        scan, "key string, file string, offset long, uri string, wtype string"
    )
    rows = raw.select(
        "key",
        F.create_map(
            F.lit("file"), F.col("file"),
            F.lit("offset"), F.col("offset").cast("string"),
            F.lit("uri"), F.coalesce(F.col("uri"), F.lit("")),
            F.lit("type"), F.coalesce(F.col("wtype"), F.lit("")),
        ).alias("metadata"),
        F.array().cast(SCHEMA["entries"].dataType).alias("entries"),
    )
    # coverage record: the locator names the archives it indexed, so
    # format("warc") pushdown can trust a MISS for covered files (prune
    # to zero) while uncovered files fall back to whole-file scans —
    # 'pruning never changes results' holds without scanning the locator
    # to learn its coverage.  The set itself is O(archives) (~8 MB at a
    # ~90k-file crawl), so it lives as a content-addressed side object
    # under <out>/_warc_coverage/ and the manifest's user_metadata keeps
    # only a fixed-size ref + count (write_warc_coverage) — a manifest
    # that embedded the list inline would re-copy and re-parse it on
    # every append and every planning call.  Append merges the prior set
    # (dataset_metadata keys replace on merge, so the new ref wins while
    # old manifest versions keep referencing their own objects).
    import json as _json

    meta = warc_index.locator_metadata(out, key, files, mode == "append")
    w = (
        rows.orderBy("key")
        .write.format("shardpack")
        .mode("overwrite" if mode == "overwrite" else "append")
        .option("dataset_metadata", _json.dumps(meta))
    )
    if target_shard_bytes is not None:
        w = w.option("target_shard_bytes", str(target_shard_bytes))
    w.save(out)
    return out


def cdx_to_sidecars(
    spark, cdx_path: str, warc_dir: str, tasks: int = 512
) -> DataFrame:
    """Convert a PUBLIC Common Crawl CDX index (``format/cdx_public.py``)
    into house ``.cdxj`` sidecars as ONE distributed job — the adoption
    path for a real crawl dump, whose index already exists on disk: the
    engine gets member-aligned split scans (``snap_bounds`` grid) and
    uri point lookups WITHOUT the full-dump re-scan a from-scratch
    ``index_warc_archives`` build would cost (~75 TB read for a full
    crawl).

    Phase 1: one task per cdx shard streams its lines into locator rows
    ``(filename, offset, url)``.  Phase 2: rows group by archive
    (``applyInPandas`` — a ~1 GiB archive carries ~100k rows, one
    comfortable group) and each group writes its sidecar, stamped with
    the live archive size (the staleness guard) and header
    ``kinds=['response','revisit']``: the public format enumerates ONLY
    those record types, and the PARTIAL mark keeps lookup pruning honest
    (``_lookup_partitions`` falls back to a whole-file scan when other
    types are surfaced; ``locator_rows_for_archive`` re-parses instead
    of trusting it) while SPLIT planning — byte cut points, lossless by
    construction — engages for every converted archive.

    Returns the per-archive report ``(archive, rows, archive_size)``;
    an action materializes the sidecars (collect bounded by the archive
    count).  Archives the index names but the dump lacks are reported
    with ``archive_size=-1`` and skipped — a foreign index never
    produces a sidecar that could mis-seek (and the staleness guard
    would reject a size-mismatched one anyway)."""
    from shardpack_spark.format import cdx_public, storage, warc_index

    shards = cdx_public._list_cdx_shards(cdx_path, storage.for_path(cdx_path))
    root = warc_dir.rstrip("/")

    def scan(batches):
        import pandas as pd

        cols = ["filename", "offset", "url", "wtype"]
        for pdf in batches:
            buf: list = []
            for s in pdf["shard"]:
                for rec in cdx_public.iter_cdx_records(s):
                    if rec.get("filename") is None or rec.get("offset") is None:
                        continue  # locator-less rows can't seed a sidecar
                    wtype = (
                        "revisit" if rec.get("mime") == "warc/revisit" else "response"
                    )
                    buf.append((rec["filename"], rec["offset"], rec.get("url"), wtype))
                    if len(buf) >= 100_000:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
            if buf:
                yield pd.DataFrame(buf, columns=cols)

    sdf = spark.createDataFrame([(s,) for s in shards], "shard string")
    rows = sdf.repartition(min(max(len(shards), 1), tasks)).mapInPandas(
        scan, "filename string, offset long, url string, wtype string"
    )

    def write_group(pdf):
        import pandas as pd

        fn = str(pdf["filename"].iloc[0])
        cand = f"{root}/{fn}"
        be = storage.for_path(cand)
        if not be.exists(cand):
            cand = f"{root}/{fn.rsplit('/', 1)[-1]}"  # flat-dir dumps
            if not be.exists(cand):
                return pd.DataFrame(
                    {"archive": [fn], "rows": [0], "archive_size": [-1]}
                )
        with be.open_read(cand) as f:
            f.seek(0, 2)
            size = f.tell()
        idx_rows = [
            warc_index.WarcIndexRow(
                offset=int(o), warc_type=w or None, target_uri=u or None
            )
            for o, u, w in zip(pdf["offset"], pdf["url"], pdf["wtype"])
        ]
        warc_index.write_warc_index(
            cand,
            idx_rows,
            size,
            kinds=["response", "revisit"],
            # public CDX rows carry uri+type but NO record ids: a
            # record_id lookup must not trust a row MISS here
            fields=["t", "u"],
        )
        return pd.DataFrame(
            {"archive": [cand], "rows": [len(idx_rows)], "archive_size": [size]}
        )

    return rows.groupBy("filename").applyInPandas(
        write_group, "archive string, rows long, archive_size long"
    )


def export_public_cdx(
    spark, path: str, out_dir: str, block_lines: int = 3000, shards: int = 1
):
    """Distributed twin of ``cdx_public.build_public_cdx``: one task per
    archive emits its CDXJ lines (``cdx_lines_for_archive``), ONE range
    shuffle key-sorts them globally into ``shards`` executor-written
    ``cdx-{part:05d}.gz`` files (each task gzips its own blocks straight
    to storage), and the driver assembles only ``cluster.idx`` from the
    per-block fragment rows — O(total_lines / block_lines) driver work
    and memory, independent of index bytes, so a real dump's ~100s-of-GB
    index never flows through one driver.  Range partition ids rise with
    the key order, so shard names sort in key order and the two-level
    lookup bisects the cluster the same way for any shard count.

    ``shards=1`` (default) writes the single ``cdx-00000.gz``, the
    convenient artifact for small and medium dumps.  A dump without any
    indexable record writes no ``cdx-*.gz`` file, only an empty
    ``cluster.idx`` and ``_cdx_meta.json``, which lookups answer with
    no rows.

    Returns the :func:`cdx_public.build_public_cdx`-shaped report."""
    from shardpack_spark.format import cdx_public, warc

    files = warc.list_warc_files(path)
    base = path.rstrip("/")

    def emit(batches):
        import pandas as pd

        for pdf in batches:
            out: list = []
            for f in pdf["archive"]:
                rel = f[len(base) + 1 :] if f.startswith(base + "/") else f.rsplit("/", 1)[-1]
                out.extend(cdx_public.cdx_lines_for_archive(f, rel))
            if out:
                yield pd.DataFrame({"line": out})

    sdf = spark.createDataFrame([(f,) for f in files], "archive string")
    lines_raw = sdf.repartition(min(max(len(files), 1), 512)).mapInPandas(
        emit, "line string"
    )
    return _export_public_cdx_sharded(
        lines_raw, out_dir, block_lines, shards, len(files)
    )


def _export_public_cdx_sharded(
    lines_raw: DataFrame, out_dir: str, block_lines: int, shards: int, n_files: int
) -> dict:
    """The assembly half of :func:`export_public_cdx`: the
    key-sorted lines land as N executor-written ``cdx-{part:05d}.gz``
    shard files; the driver sees only one fragment row per gzip BLOCK
    (first key, byte offset/length, local line number, shard line count)
    and assembles ``cluster.idx`` from them — O(blocks) work however big
    the index bytes are.  ``repartitionByRange`` assigns ascending key
    ranges to ascending partition ids, so shard names sort in key order
    and cluster lines concatenate globally sorted; empty range
    partitions write nothing (shard numbering may skip — the cluster
    names every block's shard explicitly, so lookups don't care)."""
    import gzip as _gzip

    from shardpack_spark.format import cdx_public, storage

    out_base = out_dir.rstrip("/")

    def write_shard(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"cdx-{pid:05d}.gz"
        be = storage.for_path(out_base)
        handle = None
        frags: list[tuple] = []  # (first_col, offset, length, local_line)
        pos = n = 0
        block: list[str] = []

        def flush():
            nonlocal pos
            member = _gzip.compress(("\n".join(block) + "\n").encode(), mtime=0)
            frags.append(
                (block[0].split(" {", 1)[0], pos, len(member), n - len(block))
            )
            handle.write(member)
            pos += len(member)

        try:
            for pdf in batches:
                for ln in pdf["line"]:
                    if handle is None:
                        be.makedirs(out_base)
                        handle = be.create(f"{out_base}/{name}")
                    block.append(ln)
                    n += 1
                    if len(block) >= block_lines:
                        flush()
                        block = []
            if handle is not None:
                if block:
                    flush()
                handle.close()
                yield pd.DataFrame(
                    {
                        "shard": [name] * len(frags),
                        "first_key": [f[0] for f in frags],
                        "offset": [f[1] for f in frags],
                        "length": [f[2] for f in frags],
                        "local_line": [f[3] for f in frags],
                        "shard_lines": [n] * len(frags),
                    }
                )
        except BaseException:
            if handle is not None:
                handle.abort()
            raise

    frag_rows = (
        lines_raw.repartitionByRange(shards, "line")
        .sortWithinPartitions("line")
        .mapInPandas(
            write_shard,
            "shard string, first_key string, offset long, length long, "
            "local_line long, shard_lines long",
        )
        .collect()  # bounded: ONE row per ~block_lines index lines
    )
    by_shard: dict[str, list] = {}
    for r in frag_rows:
        by_shard.setdefault(r["shard"], []).append(r)
    cluster_lines: list[str] = []
    base_line = 0
    for nm in sorted(by_shard):
        frs = sorted(by_shard[nm], key=lambda r: r["offset"])
        for fr in frs:
            cluster_lines.append(
                f"{fr['first_key']}\t{nm}\t{fr['offset']}\t{fr['length']}\t"
                f"{base_line + fr['local_line']}"
            )
        base_line += frs[0]["shard_lines"]
    obe = storage.for_path(out_dir)
    obe.makedirs(out_base)
    obe.write_atomic(
        f"{out_base}/{cdx_public.CLUSTER_IDX}",
        ("\n".join(cluster_lines) + "\n").encode() if cluster_lines else b"",
    )
    cdx_public.write_cdx_meta(out_dir, be=obe)
    return {
        "out": out_dir,
        "files": n_files,
        "records": base_line,
        "blocks": len(cluster_lines),
    }


# --- WAT (metadata archive) ingest -------------------------------------------
#
# Common Crawl ships three members per crawl segment: WARC (raw), WET
# (extracted text — handled in warc_to_documents), and WAT: WARC files of
# ``metadata`` records whose payload is ONE JSON "Envelope" per described
# record — response headers, HTML head metadata, and the outlink list.
# The envelope is the public crawl ecosystem's link-graph source; only
# the fields below are surfaced, and from_json's schema pruning means the
# rest of the (large) envelope is never materialized.

_WAT_ENVELOPE_SCHEMA = (
    "Envelope struct<"
    "`WARC-Header-Metadata` struct<"
    "`WARC-Target-URI` string, `WARC-Date` string, `WARC-Type` string>,"
    "`Payload-Metadata` struct<"
    "`HTTP-Response-Metadata` struct<"
    "`Response-Message` struct<Status string>,"
    "`HTML-Metadata` struct<"
    "Head struct<Title string>,"
    "Links array<struct<path string, url string, text string>>"
    ">>>>"
)


def wat_records(df: DataFrame) -> DataFrame:
    """WAT ``metadata`` records -> one row per DESCRIBED record:
    ``(doc_id, url, fetched_at, subject_type, http_status, title,
    links)``.

    ``doc_id`` is the metadata record's own id; ``url``/``fetched_at``
    prefer the envelope's WARC-Header-Metadata (what the crawler wrote
    about the described record) and fall back to the metadata record's
    own headers.  ``links`` is the raw outlink struct array
    (``path``/``url``/``text``) — :func:`wat_links` turns it into a
    graph edge table.  All codegen + one JsonToStructs per row; rows
    whose payload is not valid envelope JSON surface with NULL parsed
    fields rather than vanishing (count them against
    :func:`warc_error_rollup`-style alerting via ``title IS NULL`` etc.).
    """
    meta = df.filter(
        (F.col("warc_type") == "metadata")
        & F.col("parse_error").isNull()
        & ~F.col("truncated")
        & F.lower(F.coalesce(F.col("content_type"), F.lit(""))).startswith(
            "application/json"
        )
    )
    env = F.from_json(F.col("payload").cast("string"), _WAT_ENVELOPE_SCHEMA)
    hdr = env["Envelope"]["WARC-Header-Metadata"]
    http = env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]
    return meta.select(
        F.col("record_id").alias("doc_id"),
        F.coalesce(hdr["WARC-Target-URI"], F.col("target_uri")).alias("url"),
        F.coalesce(hdr["WARC-Date"], F.col("warc_date")).alias("fetched_at"),
        hdr["WARC-Type"].alias("subject_type"),
        http["Response-Message"]["Status"].cast("int").alias("http_status"),
        http["HTML-Metadata"]["Head"]["Title"].alias("title"),
        http["HTML-Metadata"]["Links"].alias("links"),
    )


def wat_links(df: DataFrame, host_level: bool = False) -> DataFrame:
    """WAT records -> distinct link-graph edges ``(src, dst)`` feeding
    ``operators.graph`` (pagerank / out_degrees).

    Keeps absolute http(s) outlinks (relative hrefs have no meaning in a
    cross-page graph without resolution); ``host_level=True`` collapses
    URLs to lower-cased hosts — the granularity crawl ranking actually
    uses (a 100 TB crawl has ~10^10 page edges but ~10^8 hosts, and the
    host graph is what OPIC/harmonic-centrality ranks).  One explode +
    one distinct (partial-agg shuffle); no Python in the row path."""
    recs = wat_records(df).filter(F.col("url").isNotNull())
    edges = (
        recs.select(F.col("url").alias("src"), F.explode("links").alias("l"))
        .select("src", F.col("l")["url"].alias("dst"))
        .filter(
            F.col("dst").isNotNull()
            & (F.col("dst").startswith("http://") | F.col("dst").startswith("https://"))
        )
    )
    if host_level:
        edges = edges.select(
            F.lower(F.parse_url("src", F.lit("HOST"))).alias("src"),
            F.lower(F.parse_url("dst", F.lit("HOST"))).alias("dst"),
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    return edges.filter(F.col("src") != F.col("dst")).distinct()


def warc_error_rollup(df: DataFrame, group_cols=("file",)) -> DataFrame:
    """Corpus-level ingest telemetry: records / parse errors / truncated
    counts AND fractions per group (default per file) — the
    ``decode_path_rollup`` analog for the WARC head, so a crawl job
    alerts on silently-degrading archives (``error_frac > threshold``)
    instead of discovering them in model data."""
    out = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.col("parse_error").isNotNull().cast("long")).alias("n_parse_errors"),
        F.sum(F.col("truncated").cast("long")).alias("n_truncated"),
    )
    return out.withColumns(
        {
            "error_frac": F.col("n_parse_errors") / F.col("n_records"),
            "truncated_frac": F.col("n_truncated") / F.col("n_records"),
        }
    )
