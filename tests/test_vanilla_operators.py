"""The package ships by value: operator UDFs, the DataSources and the
columnar merge run in a vanilla local[1] session started outside the
repo, whose Python workers cannot import shardpack_spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

from shardpack_spark.format import codec
from shardpack_spark.format import warc as W
from shardpack_spark.format.writer import write_records
from shardpack_spark.operators import imagecodec


def test_operators_run_in_vanilla_session(tmp_path):
    images = str(tmp_path / "images")
    grad = np.tile(np.arange(0, 256, 32, dtype=np.uint8), (8, 1))
    write_records(
        images,
        [
            codec.Record(
                key=f"img/{i}",
                entries=[codec.FileEntry("a.png", "image/png", imagecodec.encode_png(a))],
            )
            for i, a in enumerate([grad, grad.T])
        ],
    )
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    W.write_warc(
        str(crawl / "part-0.warc.gz"),
        [
            W.warc_record_bytes(
                "response",
                W.http_response_block(
                    "héllo".encode("latin-1"), content_type="text/html; charset=iso-8859-1"
                ),
                target_uri="http://example.com/",
            )
        ],
    )
    columnar = str(tmp_path / "columnar")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from shardpack_spark.format.columnar import read_columnar_zipped, write_columnar
from shardpack_spark.format.datasource import read_shardpack
from shardpack_spark.format.warc_source import read_warc
from shardpack_spark.operators import (
    membership, multimodal, normalize, packing, perceptual, tokenizer, webcorpus,
)
spark = SparkSession.builder.master("local[1]").getOrCreate()
docs = spark.createDataFrame([(1, "ab ab"), (2, "hello world")], "doc_id long, text string")
out = {{}}
bloom = membership.build_bloom(docs, "doc_id", 10)
hits = membership.might_contain(docs, "doc_id", bloom).filter("might_contain")
out["might_contain"] = sorted(r.doc_id for r in hits.collect())
merges = [("a", "b"), ("ab", "</w>")]
out["bpe_encode"] = sorted((r.doc_id, r.n_tokens) for r in tokenizer.bpe_encode(docs, merges).collect())
out["compression_signals"] = sorted(r.raw_bytes for r in normalize.compression_signals(docs).collect())
lens = docs.select("doc_id", F.length("text").cast("long").alias("n_tokens"))
out["pack_sequences"] = sorted(r.doc_id for r in packing.pack_sequences(lens, 20).collect())
rows = read_shardpack(spark, {images!r})
out["resize_images"] = sorted(
    (r.key, r.width, r.height, r.decode_path) for r in multimodal.resize_images(rows, 4, 4).collect()
)
out["dhash_images"] = sorted((r.sid, r.decode_path) for r in perceptual.dhash_images(rows).collect())
write_columnar(rows, {columnar!r})
out["read_columnar_zipped"] = sorted(r.key for r in read_columnar_zipped(spark, {columnar!r}).collect())
pages = read_warc(spark, {str(crawl)!r})
dec = pages.select(webcorpus.decode_payload_text(pages).alias("d")).collect()
out["decode_payload_text"] = [(r.d.text, r.d.charset, r.d.decode_ok) for r in dec]
print(json.dumps(out))
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
    assert json.loads(r.stdout.splitlines()[-1]) == {
        "might_contain": [1, 2],
        "bpe_encode": [[1, 2], [2, 12]],
        "compression_signals": [5, 11],
        "pack_sequences": [1, 2],
        "resize_images": [["img/0", 4, 4, "pure"], ["img/1", 4, 4, "pure"]],
        "dhash_images": [["img/0/a.png", "pure"], ["img/1/a.png", "pure"]],
        "read_columnar_zipped": ["img/0", "img/1"],
        "decode_payload_text": [["héllo", "iso8859-1", True]],
    }
