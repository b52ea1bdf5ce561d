"""Declared checks for the ShardPack format surface (Q2 + multimodal).

q02 writes the documents table through format("shardpack") and reads it
back; the oracle aggregates the parquet source directly, so the check
proves write+read fidelity end-to-end.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shardpack_spark.operators import multimodal
from shardpack_spark.queries import register
from shardpack_spark.tables import load_table


def _sweep_stale_workdirs(max_age_s: int = 3600) -> None:
    """Remove this module's own stale temp datasets (best-effort).

    A builder's output dataset must OUTLIVE the call — the driver
    collects the returned DataFrame later — so dirs cannot be removed
    on exit.  Instead each invocation sweeps siblings older than an
    hour, bounding the leak on long-lived hosts."""
    import os
    import shutil
    import time

    root = tempfile.gettempdir()
    cutoff = time.time() - max_age_s
    for name in os.listdir(root):
        if name.startswith(
            (
                "shardpack_rt_",
                "shardpack_mm_",
                "shardpack_lookup_",
                "shardpack_warc_",
                "shardpack_wat_",
                "shardpack_wet_",
                "shardpack_loc_",
                "shardpack_rv_",
            )
        ):
            p = os.path.join(root, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue


def _ensure_registered(spark: SparkSession) -> None:
    from shardpack_spark.format.datasource import register

    try:
        register(spark)  # also enables by-value pickling of the format code
    except Exception:
        pass  # already registered


def docs_as_shardpack_rows(docs: DataFrame) -> DataFrame:
    """documents -> shardpack record rows (text payload + typed metadata).

    ``crawl_date`` is a deterministic ISO date derived from doc_id
    (16-doc runs over a 365-day cycle) — an event-time key whose
    lexicographic order clusters under the key-sorted layout, giving the
    STRING zone maps something real to prune on (q39 'date' variant)."""
    return docs.select(
        F.concat(F.lit("doc/"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("key"),
        F.create_map(
            F.lit("lang"), F.col("lang"),
            F.lit("source"), F.col("source"),
            F.lit("n_chars"), F.col("n_chars").cast("string"),
            F.lit("crawl_date"),
            F.date_format(
                F.date_add(
                    F.lit("2024-01-01").cast("date"),
                    ((F.col("doc_id") / 16).cast("long") % 365).cast("int"),
                ),
                "yyyy-MM-dd",
            ),
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


@register(
    "q02_shardpack_roundtrip",
    oracle="""
    WITH per AS (
      SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang
    )
    SELECT 'full' AS variant, lang, cnt, sum_chars FROM per
    UNION ALL
    SELECT 'pruned' AS variant, lang, cnt, sum_chars FROM per
    WHERE lang = (SELECT MIN(lang) FROM documents)
    """,
)
def q02_shardpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> format('shardpack') -> read back -> aggregate (Q2).

    The aggregates run over the RE-READ data; matching the parquet-side
    oracle proves the container round-trip is lossless (per-lang rows sum
    to the corpus, so the original total-count check is subsumed).

    Variant-tagged storage + layout coverage, all on the ``sim://``
    OBJECT-STORE backend (format/storage.py — no rename, no partial-file
    visibility, conditional-put commit; the same code path S3/GCS uses):

    - 'full': PARTITIONED write (partition_by=lang, partition-pure
      shards) followed by a same-data DYNAMIC partition overwrite of the
      min-lang partition — proving partitionOverwriteMode=dynamic
      replaces exactly that partition and nothing else — then a full
      read-back grouped by the lang tag.
    - 'pruned': a where_meta partition-pruned read of the min-lang
      partition; partition-pure shards prune EXACTLY (writer-recorded
      partition values, datasource.py meta_may_match), so this path
      plans only that partition's shards yet must return the identical
      aggregate.
    """
    _ensure_registered(spark)
    _sweep_stale_workdirs()
    out = "sim://" + tempfile.mkdtemp(prefix="shardpack_rt_")
    docs = load_table(spark, sf_dir, "documents")
    rows = docs_as_shardpack_rows(docs)
    # lz4 (pyarrow's native block codec) so a compressed round-trip is
    # part of the declared, oracle-checked query surface, not just a test
    writer_opts = {
        "target_shard_bytes": 256 * 1024,
        "compression": "lz4",
        "partition_by": "lang",
    }
    w = rows.write.format("shardpack")
    for k, v in writer_opts.items():
        w = w.option(k, v)
    w.mode("overwrite").save(out)

    # dynamic overwrite of ONE partition with its own rows: the final
    # dataset must still equal the source — a replace that leaked into
    # other partitions or dropped rows fails the hash check
    min_lang = docs.agg(F.min("lang")).head()[0]
    w2 = rows.filter(F.element_at("metadata", "lang") == min_lang).write.format(
        "shardpack"
    )
    # manifest_checkpoint_parts=1 forces this commit to merge the prior
    # parts chain (the Delta-checkpoint path), so the reads below plan
    # through a checkpointed manifest — checkpoint + dynamic overwrite +
    # partition pruning compose under the driver's oracle check
    for k, v in {
        **writer_opts,
        "partition_overwrite_mode": "dynamic",
        "manifest_checkpoint_parts": 1,
    }.items():
        w2 = w2.option(k, v)
    w2.mode("overwrite").save(out)

    from shardpack_spark.format.datasource import read_shardpack

    def per_lang(df: DataFrame, variant: str) -> DataFrame:
        return (
            df.groupBy(F.element_at("metadata", "lang").alias("lang"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.element_at("metadata", "n_chars").cast("long")).alias(
                    "sum_chars"
                ),
            )
            .select(F.lit(variant).alias("variant"), "lang", "cnt", "sum_chars")
        )

    full = per_lang(spark.read.format("shardpack").load(out), "full")
    pruned = per_lang(
        read_shardpack(spark, out, where_meta={"lang": min_lang}), "pruned"
    )
    return full.unionAll(pruned)


@register(
    "q40_multimodal_text_decode",
    oracle="""
    SELECT 'shardpack' AS variant, lang, COUNT(*) AS cnt,
           CAST(SUM(length(text)) AS BIGINT) AS sum_len
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'warc' AS variant, lang, COUNT(*) AS cnt,
           -- coalesce pins NULL semantics to the Spark side:
           -- documents_to_warc writes NULL text as an EMPTY body (the
           -- warc leg sums 0 for it), while bare SUM(length(text))
           -- would skip the row and yield NULL for an all-NULL group
           CAST(SUM(length(trim(coalesce(text, '')))) AS BIGINT) AS sum_len
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'warc_lookup' AS variant, lang, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(length(trim(coalesce(text, '')))) AS BIGINT) AS sum_len
    FROM documents
    WHERE doc_id = (SELECT min(doc_id) FROM documents)
    GROUP BY lang
    UNION ALL
    -- 'warc_locator': the same single record, fetched through the
    -- dump-wide locator dataset (warc_dump_index) instead of the
    -- per-archive sidecar — identical rows, different random-access path
    SELECT 'warc_locator' AS variant, lang, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(length(trim(coalesce(text, '')))) AS BIGINT) AS sum_len
    FROM documents
    WHERE doc_id = (SELECT min(doc_id) FROM documents)
    GROUP BY lang
    UNION ALL
    -- 'wet': the WET conversion-record round-trip — wet_export emits
    -- real .warc.wet.gz archives, warc_to_documents' WET leg reads the
    -- text back, and a doc_id-derived group key certifies identity +
    -- text fidelity relationally
    SELECT 'wet' AS variant, 'w' || CAST(doc_id % 7 AS VARCHAR) AS lang,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(length(trim(coalesce(text, '')))) AS BIGINT) AS sum_len
    FROM documents GROUP BY doc_id % 7
    UNION ALL
    -- 'revisit': crawl-dedup round trip — a 10% sample re-exported as
    -- payload-less revisit records (WARC-Refers-To the originals),
    -- resolved back against the response archives; each resolved
    -- revisit recovers exactly its original's text, recomputed here
    -- straight from documents
    SELECT 'revisit' AS variant, lang, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(length(trim(coalesce(text, '')))) AS BIGINT) AS sum_len
    FROM documents WHERE doc_id % 10 = 0 GROUP BY lang
    UNION ALL
    -- 'wat': the WAT container round-trip recomputed relationally — the
    -- Spark side exports synthetic outlinks (src host = doc_id % 11, dst
    -- host = doc_id % 13, plus a relative link wat_links must drop) as
    -- real WAT metadata archives, reads them back through format("warc")
    -- + from_json, and host-collapses to distinct edges; this recomputes
    -- the same edge set straight from documents
    SELECT 'wat' AS variant, src AS lang, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(length(dst)) AS BIGINT) AS sum_len
    FROM (
      SELECT DISTINCT 'h' || CAST(doc_id % 11 AS VARCHAR) || '.example' AS src,
                      'h' || CAST(doc_id % 13 AS VARCHAR) || '.example' AS dst
      FROM documents
    ) WHERE src <> dst GROUP BY src
    """,
)
def q40_multimodal_text_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-level decode paths, tagged by container (Q40):

    - 'shardpack': documents through format("shardpack") text entries ->
      utf-8 decode -> agg by the lang metadata tag;
    - 'warc': the same documents exported as ``.warc.gz`` crawl archives
      (``documents_to_warc`` — executor-written, one gzip member per
      record) and read back through ``format("warc")``, lang riding the
      WARC extension-header map — write+read fidelity of the web-corpus
      ingest head, value-checked against the parquet source.  (trim on
      both sides: the plain-text response path canonicalizes edges.)
    - 'warc_lookup' / 'warc_locator': one record through the two
      random-access paths (per-archive ``.cdxj`` pushdown; dump-wide
      ``warc_dump_index`` locator pushdown), eagerly materialized inside
      a filterPushdown-enabled conf window so the driver's default-conf
      session still certifies the PRUNED paths.
    - 'revisit': the crawl-dedup loop — a 10% sample exported as
      payload-less ``revisit`` records and resolved back against the
      response archives (``documents_to_warc(revisit_of_col=...)`` +
      ``resolve_revisits``).
    - 'wet' / 'wat': the other two legs of the public crawl triple —
      ``wet_export``/``warc_to_documents`` and ``wat_export``/
      ``wat_links`` round trips through real containers.
    """
    _ensure_registered(spark)
    _sweep_stale_workdirs()
    out = tempfile.mkdtemp(prefix="shardpack_mm_")
    docs_as_shardpack_rows(load_table(spark, sf_dir, "documents")).write.format(
        "shardpack"
    ).mode("overwrite").save(out)
    back = spark.read.format("shardpack").load(out)
    texts = multimodal.decode_text_entries(back)
    sp = texts.groupBy(F.element_at("metadata", "lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.length("text")).alias("sum_len"),
    )

    from shardpack_spark.format.warc_source import read_warc
    from shardpack_spark.operators.webcorpus import documents_to_warc

    wout = tempfile.mkdtemp(prefix="shardpack_warc_")
    documents_to_warc(
        load_table(spark, sf_dir, "documents"), wout, header_cols=("lang",)
    ).collect()  # bounded: one manifest row per partition
    wc = (
        # export wrote .cdxj sidecars; the tiny target_split_bytes forces
        # the read-back through member-aligned SPLIT partitions, so the
        # oracle value-hash also certifies the index/seek path end-to-end
        read_warc(spark, wout, target_split_bytes="16384")
        .groupBy(F.element_at("warc_headers", "warc-x-lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.length(F.trim(F.col("payload").cast("string")))
            ).alias("sum_len"),
        )
    )

    # 'warc_lookup' / 'warc_locator': ONE record fetched back through the
    # two random-access paths — the per-archive .cdxj filter pushdown
    # (EqualTo on record_id -> partitions() prunes to the single member
    # the sidecar names) and the dump-wide locator dataset
    # (warc_dump_index -> _locator_partitions: manifest min/max + Bloom
    # prune to one shard -> one member) — so the driver oracle
    # value-checks both, not just the scan paths.  The min doc_id is a
    # 1-row driver scalar (bounded collect).
    #
    # Pushdown needs spark.sql.python.filterPushdown.enabled at PLANNING
    # time, and the driver's session runs the Spark default (false) —
    # read_warc would degrade both legs to correct-but-unpruned full
    # scans, certifying nothing about the index paths.  So the legs run
    # inside a conf-on window and are materialized EAGERLY
    # (localCheckpoint) while it holds: the returned plan is the
    # checkpointed (≤ #langs rows) result, no python-source re-planning
    # at the driver's collect, and the session conf is restored either
    # way (tests/test_conf_off.py owns the conf-off behavior).
    min_id = (
        load_table(spark, sf_dir, "documents").agg(F.min("doc_id")).collect()[0][0]
    )

    def one_record_agg(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("record_id") == f"<urn:doc:{min_id}>")
            .groupBy(F.element_at("warc_headers", "warc-x-lang").alias("lang"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(
                    F.length(F.trim(F.col("payload").cast("string")))
                ).alias("sum_len"),
            )
        )

    from shardpack_spark.operators.webcorpus import warc_dump_index

    conf_key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(conf_key, "false")
    spark.conf.set(conf_key, "true")
    try:
        wl = one_record_agg(read_warc(spark, wout)).localCheckpoint(eager=True)
        loc = warc_dump_index(spark, wout, tempfile.mkdtemp(prefix="shardpack_loc_"))
        wlo = one_record_agg(
            read_warc(spark, wout, dump_index=loc)
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set(conf_key, prev)

    # 'revisit': the crawl-dedup loop — a 10% sample exported as
    # payload-less revisit records (documents_to_warc revisit_of_col:
    # WARC-Refers-To names the original in wout, ~200 B per
    # re-observation), then resolve_revisits joins them back to the
    # response archives and every resolved row must carry EXACTLY its
    # original's text — emit, ingest, and the resolution joins all
    # value-hash against the relational oracle.
    from shardpack_spark.operators.webcorpus import resolve_revisits

    docs = load_table(spark, sf_dir, "documents")
    rvout = tempfile.mkdtemp(prefix="shardpack_rv_")
    documents_to_warc(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            F.concat(F.lit("rv:"), F.col("doc_id").cast("string")).alias("doc_id"),
            "text",
            "lang",
            F.col("doc_id").cast("string").alias("orig_ref"),
        ),
        rvout,
        header_cols=("lang",),
        revisit_of_col="orig_ref",
    ).collect()  # bounded: one manifest row per partition
    rv = (
        resolve_revisits(
            read_warc(spark, wout).unionByName(read_warc(spark, rvout))
        )
        .filter(F.col("warc_type") == "revisit")
        .groupBy(F.element_at("warc_headers", "warc-x-lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.length(F.trim(F.col("payload").cast("string")))
            ).alias("sum_len"),
        )
    )

    # 'wat': synthetic outlinks (src host = doc_id % 11, dst host =
    # doc_id % 13, plus a relative href wat_links must drop) exported as
    # REAL WAT metadata archives (wat_export), read back through
    # format("warc") + from_json envelope parsing, host-collapsed to
    # distinct edges — certifying the whole WAT surface (export, metadata
    # ingest, link extraction, host graph) against a relational oracle.
    from shardpack_spark.operators.webcorpus import wat_export, wat_links

    watout = tempfile.mkdtemp(prefix="shardpack_wat_")
    docs = load_table(spark, sf_dir, "documents")
    src_host = F.concat(
        F.lit("h"), (F.col("doc_id") % 11).cast("string"), F.lit(".example")
    )
    dst_host = F.concat(
        F.lit("h"), (F.col("doc_id") % 13).cast("string"), F.lit(".example")
    )
    wat_export(
        docs.select(
            "doc_id",
            F.concat(
                F.lit("http://"), src_host, F.lit("/p"), F.col("doc_id").cast("string")
            ).alias("url"),
            F.array(
                F.concat(F.lit("http://"), dst_host, F.lit("/x")),
                F.lit("/relative-dropped"),
            ).alias("links"),
        ),
        watout,
    ).collect()  # bounded: one manifest row per partition
    wt = (
        wat_links(read_warc(spark, watout), host_level=True)
        .groupBy(F.col("src").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.length("dst")).alias("sum_len"),
        )
    )

    # 'wet': text round-trip through real .warc.wet.gz conversion
    # archives — wet_export then the WET leg of warc_to_documents (its
    # declared inverse); the group key is re-derived from the record
    # identity the container carried (<urn:wet:{doc_id}>), so identity
    # AND extracted-text fidelity both value-hash against the oracle.
    from shardpack_spark.operators.webcorpus import warc_to_documents, wet_export

    wetout = tempfile.mkdtemp(prefix="shardpack_wet_")
    wet_export(docs.select("doc_id", "text"), wetout).collect()  # bounded
    we = (
        warc_to_documents(read_warc(spark, wetout))
        .select(
            F.regexp_extract("doc_id", r"<urn:wet:(\d+)>", 1)
            .cast("long")
            .alias("did"),
            "text",
        )
        .groupBy(
            F.concat(F.lit("w"), (F.col("did") % 7).cast("string")).alias("lang")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.length(F.trim(F.coalesce(F.col("text"), F.lit(""))))
            ).alias("sum_len"),
        )
    )

    def tag(variant: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(variant).alias("variant"), "lang", "cnt", "sum_len"
        )

    return (
        tag("shardpack", sp)
        .unionAll(tag("warc", wc))
        .unionAll(tag("warc_lookup", wl))
        .unionAll(tag("warc_locator", wlo))
        .unionAll(tag("revisit", rv))
        .unionAll(tag("wet", we))
        .unionAll(tag("wat", wt))
    )


_LOOKUP_CACHE: dict[str, str] = {}


def _lookup_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Key-sorted shardpack copy of documents, built once per sf_dir so the
    point-lookup query exercises manifest pruning on repeated runs."""
    if sf_dir not in _LOOKUP_CACHE:
        out = tempfile.mkdtemp(prefix="shardpack_lookup_")
        (
            docs_as_shardpack_rows(load_table(spark, sf_dir, "documents"))
            .orderBy("key")
            .coalesce(1)
            .write.format("shardpack")
            .option("target_shard_bytes", 32 * 1024)
            .mode("overwrite")
            .save(out)
        )
        _LOOKUP_CACHE[sf_dir] = out
    return _LOOKUP_CACHE[sf_dir]


@register(
    "q53_shardpack_point_lookup",
    oracle="""
    SELECT 'point' AS variant, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id = 7
    UNION ALL
    SELECT 'range' AS variant, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id BETWEEN 100 AND 119
    """,
)
def q53_shardpack_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key lookups through the shardpack bucket-index path, both access
    shapes tagged and unioned (Q53, the reference's Bucket::read):

    - 'point': EqualTo('key') prunes to the owning shard via manifest
      key ranges + blooms;
    - 'range': the >=/< conjuncts of a key-range scan prune via
      [min,max] interval intersection — on this sorted layout the scan
      opens only the shards overlapping the requested range.
    """
    _ensure_registered(spark)
    from shardpack_spark.format.datasource import read_shardpack

    # one load() PER branch: Spark 4.1 deduplicates plan-equal Python
    # DSv2 scans while IGNORING their pushed filters, so two
    # differently-filtered branches derived from a single load() both
    # execute the last-planned branch's pruned partition set (observed:
    # the union silently loses the first branch's rows).  Separate loads
    # make the relations distinct and each branch plans its own scan.
    path = _lookup_dataset(spark, sf_dir)

    def shape(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("variant"),
            F.regexp_replace("key", "^doc/0*", "").cast("long").alias("doc_id"),
            F.element_at("metadata", "n_chars").cast("long").alias("n_chars"),
        )

    point = shape(
        read_shardpack(spark, path).filter(F.col("key") == "doc/00000007"), "point"
    )
    rng = shape(
        read_shardpack(spark, path).filter(
            (F.col("key") >= "doc/00000100") & (F.col("key") < "doc/00000120")
        ),
        "range",
    )
    return point.unionAll(rng)


@register(
    "q39_metadata_only_scan",
    oracle="""
    WITH docs2 AS (
      SELECT lang, n_chars,
             strftime(DATE '2024-01-01'
                      + INTERVAL ((doc_id // 16) % 365) DAY, '%Y-%m-%d')
               AS crawl_date
      FROM documents
    )
    SELECT 'all' AS variant, lang, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM docs2 GROUP BY lang
    UNION ALL
    SELECT 'long' AS variant, lang, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM docs2 WHERE n_chars >= 500 GROUP BY lang
    UNION ALL
    SELECT 'date' AS variant, lang, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM docs2
    WHERE crawl_date >= '2024-01-10' AND crawl_date <= '2024-01-20'
    GROUP BY lang
    """,
)
def q39_metadata_only_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates over a shardpack dataset, tagged and
    unioned (Q39, reference R4 Bucket::get_metadata):

    - 'all': the `metadata_only` read option serves key+metadata from
      block heads with per-record seeks — text payloads never leave disk;
    - 'long': the same scan under a `where_meta_range` numeric zone-map
      cut (n_chars >= 500) — shards whose recorded [min,max] excludes
      the interval are pruned at planning, the length-quality-cut shape
      of a curation pipeline;
    - 'date': the same scan under a STRING (lexicographic) zone-map cut
      on the ISO ``crawl_date`` key — event-time tailing from metadata
      alone; the matching row filter applies on top, so the oracle
      match proves semantics never depend on pruning.

    Each leg loads its own relation (differing options already make the
    scans plan-distinct, but the per-leg-load rule from read_shardpack's
    DSv2 dedup caveat is followed regardless)."""
    _ensure_registered(spark)
    from shardpack_spark.format.datasource import read_shardpack

    path = _lookup_dataset(spark, sf_dir)

    def agg(ds: DataFrame, tag: str) -> DataFrame:
        return ds.groupBy(F.element_at("metadata", "lang").alias("lang")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.element_at("metadata", "n_chars").cast("long")).alias(
                "sum_chars"
            ),
        ).select(F.lit(tag).alias("variant"), "lang", "cnt", "sum_chars")

    full = agg(read_shardpack(spark, path, metadata_only="true"), "all")
    cut = agg(
        read_shardpack(
            spark, path, metadata_only="true", where_meta_range={"n_chars": (500, None)}
        ),
        "long",
    )
    dated = agg(
        read_shardpack(
            spark,
            path,
            metadata_only="true",
            where_meta_range={"crawl_date": ("2024-01-10", "2024-01-20")},
        ),
        "date",
    )
    return full.unionAll(cut).unionAll(dated)


def _b1(col):
    """One raw byte (0-255) as BINARY."""
    return F.encode(F.char(col), "ISO-8859-1")


def _be16(col):
    return F.concat(_b1(F.floor(col / 256).cast("int")), _b1(col % 256))


def _le16(col):
    return F.concat(_b1(col % 256), _b1(F.floor(col / 256).cast("int")))


def _be32(col):
    # all synthesized dimensions fit in 16 bits
    return F.concat(F.lit(b"\x00\x00"), _be16(col))


@register(
    "q41_image_features",
    oracle="""
    SELECT CONCAT('img/', CAST(doc_id AS VARCHAR)) AS key,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'img.png'
                WHEN 1 THEN 'img.jpg' ELSE 'img.gif' END AS file_name,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                WHEN 1 THEN 'jpeg' ELSE 'gif' END AS sniffed_format,
           CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33
                     WHEN 1 THEN 21 ELSE 13 END
                + octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(doc_id % 640 + 1 AS BIGINT) AS width,
           CAST(n_chars % 480 + 1 AS BIGINT) AS height
    FROM documents
    """,
)
def q41_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image-header metadata extraction (Q41).

    Synthesizes valid PNG / JPEG(SOF0) / GIF89a headers (dimensions
    derived from doc_id / n_chars, payload = the document text) and runs
    the Arrow-batched mapInPandas extractor, whose width/height come from
    actually parsing IHDR / SOFn / logical-screen-descriptor bytes
    (operators.multimodal.parse_image_dims).  The oracle recomputes every
    column from the documents table — a wrong parser (endianness, offset,
    segment walk) breaks the hash."""
    _ensure_registered(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = F.col("doc_id") % 640 + 1
    h = F.col("n_chars") % 480 + 1
    fmt = (F.col("doc_id") % 3).cast("int")
    payload = F.encode("text", "utf-8")
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),          # signature (8)
        F.lit(b"\x00\x00\x00\x0dIHDR"),        # IHDR length + tag (8)
        _be32(w), _be32(h),                     # dimensions (8)
        F.lit(b"\x08\x06\x00\x00\x00"),        # bit depth etc. (5)
        F.lit(b"\x00\x00\x00\x00"),            # CRC placeholder (4) -> 33
        payload,
    )
    jpg = F.concat(
        F.lit(b"\xff\xd8"),                     # SOI (2)
        F.lit(b"\xff\xc0\x00\x11\x08"),        # SOF0 + len 17 + precision (5)
        _be16(h), _be16(w),                     # dimensions (4)
        F.lit(b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"),  # components (10) -> 21
        payload,
    )
    gif = F.concat(
        F.lit(b"GIF89a"),                       # header (6)
        _le16(w), _le16(h),                     # dimensions (4)
        F.lit(b"\x00\x00\x00"),                # screen descriptor tail (3) -> 13
        payload,
    )
    data = F.when(fmt == 0, png).when(fmt == 1, jpg).otherwise(gif)
    name = F.when(fmt == 0, "img.png").when(fmt == 1, "img.jpg").otherwise("img.gif")
    ctype = (
        F.when(fmt == 0, "image/png").when(fmt == 1, "image/jpeg").otherwise("image/gif")
    )
    rows = docs.select(
        F.concat(F.lit("img/"), F.col("doc_id").cast("string")).alias("key"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("metadata"),
        F.array(
            F.struct(
                name.alias("file_name"),
                ctype.alias("content_type"),
                F.lit("none").alias("encoding"),
                F.length(data).cast("long").alias("size"),
                data.alias("data"),
            )
        ).alias("entries"),
    )
    return multimodal.image_features(rows)
