"""Workload ``spark_format``: the DataSource V2 (DSv2) round trip.

Set-up starts Spark on ``local[nproc]`` with every scratch directory
inside the checkout, registers ``format("shardpack")``, and builds a
seeded DataFrame (the facade corpus' record shape, ``lang`` metadata).
The corpus is generated three times to assert one digest.  ``setup_s``
is Spark start-up, the median generation time, the DataFrame build and
a warm-up of every measured operation on a 16-record dataset, which
starts Spark's Python workers and compiles the operations' plans.

The measured phase, on a fresh dataset:

1. overwrite write, zstd, ``partition_by=lang``, 8 MiB shards;
2. a full payload scan (row count + sum of payload lengths);
3. one closed-loop client drawing ``ROUND_DECKS`` shuffled decks of key
   lookups (``read_shardpack(...).filter(key == k)``, Zipf keys, 10%
   misses), ``where_meta={"lang": ...}`` pruned scans (over the four
   languages of equal share, in turn) and 8-row appends in the ratio
   2 : 2 : 1.

Steps 1-3 form a round of fixed work, on a fresh dataset; rounds repeat
while another one fits in the run time.  A last full scan closes the run
and checks every append.
Every result is checked against the generated records.

With tracing on, the run time is split between an untraced and a traced
measurement (their ratio is the tracing overhead).  In the traced
one each Spark action runs under its own job group, and the driver's
status store and planning tracker give the ``format.datasource`` layer.
A traced run then runs the headline query pass (``perfbench.query_pass``)
for the ``queries`` and ``session`` layers.  The format layers below the
DSv2 source run inside Spark's Python workers, out of the benchmark's
reach; their cost shows in ``format.datasource.*.executor_*``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import numpy as np

from perfbench import trace as tr
from perfbench.context import du_bytes, quantile, vm_hwm_mb
from perfbench.gen import LANGS, Corpus, ZipfKeys
from perfbench.query_pass import QueryPass
from perfbench.sparkjobs import FIELDS, Attributor, start_spark, stop_spark

TARGET_SHARD_BYTES = 8 * 1024 * 1024
APPEND_RECORDS = 8
MISS_FRAC = 0.1
ROUND_DECKS = 1
# ops broken out in the format.datasource layer; appends are timed but
# not broken out
ATTRIBUTED = ("write", "scan", "lookup", "pruned_scan")
_MIX = ("lookup", "lookup", "pruned_scan", "pruned_scan", "append")
# each of these holds 15% of the records ("en" holds 40%), so every pruned
# scan reads about as much as any other
PRUNE_LANGS = LANGS[1:]
# per-layer metric prefixes this workload observes
MEASURED = ("format.datasource.", "session.", "queries.", "tail.", "trace.overhead.")

_now = time.perf_counter


def _arrow_records(corpus: Corpus, numbers) -> "object":
    import pyarrow as pa

    rows = [corpus.record(i) for i in numbers]
    entry = pa.struct(
        [
            ("file_name", pa.string()),
            ("content_type", pa.string()),
            ("encoding", pa.string()),
            ("size", pa.int64()),
            ("data", pa.binary()),
        ]
    )
    return pa.table(
        {
            "key": pa.array([r.key for r in rows], pa.string()),
            "metadata": pa.array(
                [list(r.metadata.items()) for r in rows], pa.map_(pa.string(), pa.string())
            ),
            "entries": pa.array(
                [
                    [
                        {
                            "file_name": e.file_name,
                            "content_type": e.content_type,
                            "encoding": "none",
                            "size": len(e.data),
                            "data": e.data,
                        }
                        for e in r.entries
                    ]
                    for r in rows
                ],
                pa.list_(entry),
            ),
        }
    )


def _totals(df):
    """Row count and payload bytes of a shardpack DataFrame."""
    from pyspark.sql import functions as F

    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.aggregate("entries", F.lit(0).cast("long"), lambda acc, e: acc + F.length(e["data"]))
        ).alias("bytes"),
    )


def _writer(df, mode: str):
    return (
        df.write.format("shardpack")
        .option("compression", "zstd")
        .option("partition_by", "lang")
        .option("target_shard_bytes", TARGET_SHARD_BYTES)
        .mode(mode)
    )


class _Run:
    def __init__(self, spark, attributor, base_df, corpus: Corpus, path: str, seed: int, tracer):
        from pyspark.sql import functions as F

        from shardpack_spark.format.datasource import read_shardpack

        self.F, self.read_shardpack = F, read_shardpack
        self.spark = spark
        self.attributor = attributor
        self.base_df = base_df
        self.corpus = corpus
        self.path = path
        self.t = tracer
        self.rng = np.random.Generator(np.random.PCG64([seed, 2]))
        self.n0 = len(corpus.keys)
        self.committed = self.n0
        self.write_bytes = self._payload(range(self.n0))
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {op: [] for op in ATTRIBUTED + ("append",)}
        self.spark_ops: list[dict] = []
        self.scan_payload: list[int] = []
        self.op = 0

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"spark_format: wrong result: {what}", file=sys.stderr)

    def _payload(self, numbers) -> int:
        return sum(self.corpus.payload_bytes(i) for i in numbers)

    def action(self, kind: str, build, act):
        """One Spark action; only ``act`` is timed into the latency list."""
        self.op += 1
        if self.t is not None:
            self.t.op_id = self.op
        try:
            result, seconds, attr = self.attributor.run(f"datasource.{kind}", build, act, self.t)
        finally:
            if self.t is not None:
                self.t.op_id = None
        self.lat[kind].append(seconds)
        if attr is not None:
            self.spark_ops.append({"op": self.op, "kind": kind, **attr})
        return result

    # --- operations ---------------------------------------------------------------

    def write(self, numbers, kind: str) -> None:
        """``kind`` "write": overwrite with the set-up DataFrame; "append":
        the records ``numbers``."""
        mode = "overwrite" if kind == "write" else "append"

        def build():
            # select("*"): a fresh Dataset, so its planning tracker
            # describes this write alone
            df = self.base_df.select("*") if numbers is None else self.spark.createDataFrame(
                _arrow_records(self.corpus, numbers)
            )
            return _writer(df, mode)

        self.action(kind, build, lambda w: w.save(self.path))

    def scan(self, kind: str = "scan", lang: str | None = None) -> None:
        where = {"lang": lang} if lang else None
        rows = self.action(
            kind,
            lambda: _totals(self.read_shardpack(self.spark, self.path, where_meta=where)),
            lambda df: df.collect(),
        )
        numbers = [
            i for i in range(self.committed) if lang is None or self.corpus.langs[i] == lang
        ]
        (n, nbytes), = [tuple(r) for r in rows]
        expected = self._payload(numbers)
        if kind == "scan":
            self.scan_payload.append(expected)
        self._check(
            n == len(numbers) and (nbytes or 0) == expected,
            f"{kind} {lang}: {n} rows, {nbytes} B; want {len(numbers)}, {expected}",
        )

    def lookup(self, zipf: ZipfKeys) -> None:
        F = self.F
        miss = self.rng.random() < MISS_FRAC
        key = (
            self.corpus.miss_key(self.rng)
            if miss
            else self.corpus.keys[zipf.pick(self.committed)]
        )
        rows = self.action(
            "lookup",
            lambda: self.read_shardpack(self.spark, self.path).filter(F.col("key") == key),
            lambda df: df.collect(),
        )
        if miss:
            self._check(rows == [], f"lookup of missing key {key}: {len(rows)} rows")
            return
        ok = len(rows) == 1
        if ok:
            from shardpack_spark.format import codec

            r = rows[0]
            rec = codec.Record(
                key=r["key"],
                metadata=dict(r["metadata"]),
                entries=[
                    codec.FileEntry(e["file_name"], e["content_type"], bytes(e["data"]))
                    for e in r["entries"]
                ],
            )
            ok = rec.key == key and self.corpus.matches(rec)
        self._check(ok, f"lookup of {key}: {len(rows)} rows")

    def run(self, seconds: float) -> None:
        """Rounds of (overwrite write, scan, mix) while another round fits
        in ``seconds`` (at least one), then a last scan."""
        t_start = _now()
        zipf = ZipfKeys(self.rng, self.n0, self.n0 + 10_000)
        while True:
            t_round = _now()
            shutil.rmtree(self.path, ignore_errors=True)
            self.corpus.truncate(self.n0)
            self.committed = self.n0
            self.write(None, "write")
            self.scan()
            for kind in [
                _MIX[k] for _ in range(ROUND_DECKS) for k in self.rng.permutation(len(_MIX))
            ]:
                if kind == "lookup":
                    self.lookup(zipf)
                elif kind == "pruned_scan":
                    self.scan("pruned_scan", PRUNE_LANGS[len(self.lat["pruned_scan"]) % 4])
                else:
                    numbers = self.corpus.extend(self.rng, APPEND_RECORDS)
                    self.write(numbers, "append")
                    self.committed += APPEND_RECORDS
            now = _now()
            if now + (now - t_round) > t_start + seconds:
                break
        self.scan()
        self.payload = self._payload(range(self.committed))
        self.disk = du_bytes(self.path)
        shutil.rmtree(self.path)

    # --- results ------------------------------------------------------------------

    def _ms(self, kind: str) -> list[float]:
        return [1000.0 * v for v in self.lat[kind]]

    def end_to_end(self) -> dict[str, float]:
        return {
            "write_mb_s": self.write_bytes / statistics.median(self.lat["write"]) / 1e6,
            "scan_mb_s": statistics.median(
                b / s / 1e6 for b, s in zip(self.scan_payload, self.lat["scan"])
            ),
            "space_amp": self.disk / self.payload,
            "read_p50_ms": statistics.median(self._ms("pruned_scan")),
            "lookup_p50_ms": statistics.median(self._ms("lookup")),
        }

    def tails(self) -> dict[str, float]:
        out = {}
        for op, kind in (("read", "pruned_scan"), ("lookup", "lookup"), ("commit", "append")):
            for q in (90, 99):
                out[f"tail.{op}_p{q}_ms"] = quantile(self._ms(kind), q / 100)
        return out

    def named(self) -> dict[str, float]:
        """The workload's metrics under per-operation names, with sample counts."""
        e2e = self.end_to_end()
        return {
            "write_mb_s": e2e["write_mb_s"],
            "scan_mb_s": e2e["scan_mb_s"],
            "space_amp": e2e["space_amp"],
            "lookup_p50_ms": e2e["lookup_p50_ms"],
            "lookup_p90_ms": quantile(self._ms("lookup"), 0.9),
            "pruned_scan_p50_ms": e2e["read_p50_ms"],
            "append_p50_ms": statistics.median(self._ms("append")),
            "samples": {k: len(v) for k, v in self.lat.items()},
        }

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for kind in ATTRIBUTED:
            rows = [o for o in self.spark_ops if o["kind"] == kind]
            for field in FIELDS:
                out[f"format.datasource.{kind}.{field}"] = statistics.fmean(
                    o[field] for o in rows
                )
        return out


def setup(seed: int, small: bool, workdir: str, spark):
    """Generate the corpus, build the DataFrame and warm the DSv2 paths."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from shardpack_spark.format.datasource import read_shardpack

    n, pool = (300, 4 << 20) if small else (1600, 16 << 20)
    times, digests = [], set()
    for _ in range(3):
        t0 = _now()
        corpus = Corpus(seed, n, pool)
        digests.add(corpus.digest())
        times.append(_now() - t0)
    if len(digests) != 1:
        raise RuntimeError(f"seed {seed} generated {len(digests)} different corpora")
    t0 = _now()
    # one Arrow batch becomes one partition: nproc slices, a parallel write
    table = _arrow_records(corpus, range(n))
    step = -(-n // os.cpu_count())
    batches = [b for k in range(0, n, step) for b in table.slice(k, step).to_batches()]
    base_df = spark.createDataFrame(pa.Table.from_batches(batches))
    warm = os.path.join(workdir, "warmup")
    _writer(spark.createDataFrame(_arrow_records(corpus, range(8))), "overwrite").save(warm)
    _writer(spark.createDataFrame(_arrow_records(corpus, range(8, 16))), "append").save(warm)
    _totals(read_shardpack(spark, warm)).collect()
    _totals(read_shardpack(spark, warm, where_meta={"lang": corpus.langs[0]})).collect()
    read_shardpack(spark, warm).filter(F.col("key") == corpus.keys[0]).collect()
    shutil.rmtree(warm)
    setup_s = statistics.median(times) + _now() - t0
    return base_df, corpus, setup_s, digests.pop()


def run(seed: int, seconds: int, trace: bool, workdir: str, small: bool) -> dict:
    t0 = _now()
    spark = start_spark(workdir)
    start_s = _now() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    path = os.path.join(workdir, "spark_ds")
    attributor = Attributor(spark)
    try:
        base_df, corpus, setup_s, digest = setup(seed, small, workdir, spark)
        setup_s += start_s
        n0 = len(corpus.keys)

        def measured(tracer, share) -> _Run:
            corpus.truncate(n0)  # drop the records an earlier pass appended
            r = _Run(spark, attributor, base_df, corpus, path, seed, tracer)
            r.run(seconds * share)
            return r

        plain = measured(None, 0.5 if trace else 1.0)
        e2e = {"setup_s": setup_s, **plain.end_to_end()}
        out = {
            "attempted": plain.attempted,
            "failed": plain.failed,
            "end_to_end": e2e,
            "per_layer": {},
            "named": {"setup_s": setup_s, **plain.named()},
            "tracer": None,
            "context": {
                "corpus_digest": digest,
                "records": n0,
                "spark_master": spark.sparkContext.master,
            },
        }
        if trace:
            t = tr.Tracer()
            traced = measured(t, 0.5)
            queries = QueryPass(spark, seed, workdir)
            out["context"].update(queries.setup())
            layers = queries.measure(attributor, t)
            out["attempted"] += traced.attempted + queries.attempted
            out["failed"] += traced.failed + queries.failed
            for what in queries.problems:
                print(f"spark_format: {what}", file=sys.stderr)
            traced_e2e = traced.end_to_end()
            out["per_layer"] = {
                **traced.layer_metrics(),
                **layers,
                **plain.tails(),
                **{f"trace.overhead.{k}": traced_e2e[k] / e2e[k] for k in traced_e2e},
            }
            out["context"]["trace_overhead"] = {k: traced_e2e[k] - e2e[k] for k in traced_e2e}
            out["named"]["mix_pass_s"] = layers["queries.pass_s"]
            out["tracer"] = t
            out["context"]["spark_ops"] = traced.spark_ops
        jvm_mb = vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)
    # the JVM's peak follows its garbage collector's heap sizing and swings
    # by a third from run to run, so only the bench process is gated
    out["end_to_end"]["peak_rss_mb"] = out["named"]["peak_rss_mb"] = vm_hwm_mb()
    out["named"]["jvm_peak_rss_mb"] = jvm_mb
    return out
