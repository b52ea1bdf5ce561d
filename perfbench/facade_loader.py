"""Workload ``facade_loader``: the Spark-free training-loader path.

Set-up generates the seeded corpus (three times, asserting one digest;
``setup_s`` is the median).  The measured phase, on a fresh dataset:

1. pack the corpus with ``open_writer(compression="zstd",
   target_shard_bytes=8 MiB)`` and commit;
2. scan one ``records()`` epoch;
3. a closed loop of one client drawing ``ROUND_DECKS`` shuffled decks of
   ``ds[i]`` (uniform), ``ds.lookup(key)`` (Zipf keys, 10% misses) and
   8-record append transactions in the ratio 4 : 1 : 1; each append
   reopens the dataset so reads plan from the latest manifest.

Steps 1-3 form a round of fixed work, on a fresh dataset; rounds repeat
while another one fits in the run time, so every seed's samples come
from the same work and throughputs are medians over rounds.  A round
holds more than 64 appends, so the manifest passes its checkpoint.  A
last epoch closes the run and checks every appended record.

With tracing on, the run time is split between an untraced and a traced
measurement (their ratio is the tracing overhead); the traced one
runs with ``trace.install_format_wrappers`` in place.

Only calls into the program are timed; checking each result happens
between the timed calls.  No pyspark is imported.
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
from perfbench.gen import Corpus, ZipfKeys

TARGET_SHARD_BYTES = 8 * 1024 * 1024
APPEND_RECORDS = 8
MISS_FRAC = 0.1
ROUND_DECKS = 80
_MIX = ("getitem",) * 4 + ("lookup", "append")
# per-layer metric prefixes this workload observes
MEASURED = (
    "format.codec.",
    "format.storage.",
    "format.manifest.",
    "format.commit.",
    "format.reader.",
    "format.writer.",
    "tail.",
    "trace.overhead.",
)

_now = time.perf_counter


def setup(seed: int, small: bool) -> tuple[Corpus, float, str]:
    n, pool = (1000, 4 << 20) if small else (6000, 32 << 20)
    times, digests = [], set()
    for _ in range(3):
        t0 = _now()
        corpus = Corpus(seed, n, pool)
        digests.add(corpus.digest())
        times.append(_now() - t0)
    if len(digests) != 1:
        raise RuntimeError(f"seed {seed} generated {len(digests)} different corpora")
    return corpus, statistics.median(times), digests.pop()


class _Run:
    """One measured pass over a fresh dataset directory."""

    def __init__(self, corpus: Corpus, path: str, seed: int, tracer: tr.Tracer | None):
        from shardpack_spark.format import reader, writer

        self.reader, self.writer = reader, writer
        self.corpus = corpus
        self.path = path
        self.t = tracer
        self.rng = np.random.Generator(np.random.PCG64([seed, 1]))
        self.n0 = len(corpus.keys)
        self.committed = self.n0
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {"getitem": [], "lookup": [], "commit": []}
        self.pack_s: list[float] = []
        self.scan_s: list[float] = []
        self.scan_bytes: list[int] = []
        self.lookups = self.hits = self.shards_considered = 0

    # --- timing helpers ------------------------------------------------------

    def _begin(self, name):
        return self.t.begin(name) if self.t else None

    def _end(self, frame):
        if frame is not None:
            self.t.end(frame)

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"facade_loader: wrong result: {what}", file=sys.stderr)

    # --- operations ------------------------------------------------------------

    def open(self):
        frame = self._begin("reader.open")
        try:
            return self.reader.open_dataset(self.path)
        finally:
            self._end(frame)

    def write(self, numbers, mode: str) -> float:
        """One transaction: open_writer .. close.  Returns seconds spent
        in writer calls (record construction is not counted)."""
        frame = self._begin("bench.write")
        spent = 0.0
        t0 = _now()
        w = self.writer.open_writer(
            self.path, mode=mode, compression="zstd", target_shard_bytes=TARGET_SHARD_BYTES
        )
        spent += _now() - t0
        for i in numbers:
            rec = self.corpus.record(i)
            t0 = _now()
            w.write(rec)
            spent += _now() - t0
        t0 = _now()
        w.close()
        spent += _now() - t0
        self._end(frame)
        return spent

    def epoch(self, ds) -> None:
        it = ds.records()
        seen, ok, nbytes, spent = set(), True, 0, 0.0
        while True:
            frame = self._begin("reader.scan")
            t0 = _now()
            try:
                rec = next(it)
            except StopIteration:
                break
            finally:
                spent += _now() - t0
                self._end(frame)
            ok = ok and self.corpus.matches(rec) and rec.key not in seen
            seen.add(rec.key)
            nbytes += sum(e.size for e in rec.entries)
        self._check(ok and len(seen) == self.committed, f"epoch of {len(seen)} records")
        self.scan_s.append(spent)
        self.scan_bytes.append(nbytes)

    def getitem(self, ds) -> None:
        i = int(self.rng.integers(0, self.committed))
        frame = self._begin("reader.getitem")
        t0 = _now()
        try:
            rec = ds[i]
        finally:
            self.lat["getitem"].append(_now() - t0)
            self._end(frame)
        self._check(self.corpus.matches(rec), f"ds[{i}]")

    def lookup(self, ds, zipf: ZipfKeys) -> None:
        miss = self.rng.random() < MISS_FRAC
        want = None if miss else zipf.pick(self.committed)
        key = self.corpus.miss_key(self.rng) if miss else self.corpus.keys[want]
        self.lookups += 1
        self.shards_considered += len(ds.shards())
        if self.t:
            self.t.lookup_key = key
            self.t.open_scope("lookup")
        frame = self._begin("reader.lookup")
        t0 = _now()
        try:
            got = ds.lookup(key)
        finally:
            self.lat["lookup"].append(_now() - t0)
            self._end(frame)
            if self.t:
                self.t.close_scope("lookup")
                self.t.lookup_key = None
        self.hits += len(got)
        if miss:
            self._check(got == [], f"lookup of missing key {key}")
        else:
            self._check(
                len(got) == 1 and got[0].key == key and self.corpus.matches(got[0]),
                f"lookup of {key}",
            )

    def append(self):
        numbers = self.corpus.extend(self.rng, APPEND_RECORDS)
        self.lat["commit"].append(self.write(numbers, "append"))
        self.committed += APPEND_RECORDS
        ds = self.open()
        self._check(len(ds) == self.committed, f"len {len(ds)} after append")
        return ds

    # --- the measured phase ------------------------------------------------------

    def run(self, seconds: float) -> None:
        """Rounds of (pack into a fresh dataset, epoch, mix) while another
        round and the last epoch fit in ``seconds``; at least one."""
        t_start = _now()
        zipf = ZipfKeys(self.rng, self.n0, self.n0 + 100_000)
        op = 0
        while True:
            t_round = _now()
            shutil.rmtree(self.path, ignore_errors=True)
            self.corpus.truncate(self.n0)
            self.committed = self.n0
            self.pack_s.append(self.write(range(self.n0), "overwrite"))
            ds = self.open()
            self._check(len(ds) == self.n0, f"len {len(ds)} after pack")
            self.epoch(ds)
            for kind in [
                _MIX[k] for _ in range(ROUND_DECKS) for k in self.rng.permutation(len(_MIX))
            ]:
                op += 1
                if self.t:
                    self.t.op_id = op
                try:
                    if kind == "getitem":
                        self.getitem(ds)
                    elif kind == "lookup":
                        self.lookup(ds, zipf)
                    else:
                        ds = self.append()
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    self._check(False, f"{kind} raised {exc!r}")
            if self.t:
                self.t.op_id = None
            now = _now()
            if now + (now - t_round) + self.scan_s[-1] > t_start + seconds:
                break
        self.epoch(ds)
        self.pack_bytes = sum(self.corpus.payload_bytes(i) for i in range(self.n0))
        self.payload = sum(self.corpus.payload_bytes(i) for i in range(self.committed))
        self.disk = du_bytes(self.path)

    def end_to_end(self) -> dict[str, float]:
        ms = {k: [1000.0 * v for v in vals] for k, vals in self.lat.items()}
        return {
            "write_mb_s": self.pack_bytes / statistics.median(self.pack_s) / 1e6,
            "scan_mb_s": statistics.median(
                b / s / 1e6 for b, s in zip(self.scan_bytes, self.scan_s)
            ),
            "space_amp": self.disk / self.payload,
            "read_p50_ms": statistics.median(ms["getitem"]),
            "lookup_p50_ms": statistics.median(ms["lookup"]),
        }

    def tails(self) -> dict[str, float]:
        out = {}
        for op, kind in (("read", "getitem"), ("lookup", "lookup"), ("commit", "commit")):
            for q in (90, 99):
                out[f"tail.{op}_p{q}_ms"] = quantile([1e3 * v for v in self.lat[kind]], q / 100)
        return out

    def named(self) -> dict[str, float]:
        """The workload's metrics under per-operation names, with sample counts."""
        e2e = self.end_to_end()
        ms = {k: [1000.0 * v for v in vals] for k, vals in self.lat.items()}
        return {
            "write_mb_s": e2e["write_mb_s"],
            "scan_mb_s": e2e["scan_mb_s"],
            "space_amp": e2e["space_amp"],
            "getitem_p50_ms": e2e["read_p50_ms"],
            "getitem_p99_ms": quantile(ms["getitem"], 0.99),
            "lookup_p50_ms": e2e["lookup_p50_ms"],
            "lookup_p99_ms": quantile(ms["lookup"], 0.99),
            "commit_p50_ms": statistics.median(ms["commit"]),
            "commit_p99_ms": quantile(ms["commit"], 0.99),
            "samples": {k: len(v) for k, v in self.lat.items()},
        }


def layer_metrics(run: _Run, t: tr.Tracer) -> dict[str, float]:
    c = t.counters
    loads = c["manifest.load_calls"]
    opened = c["lookup:codec.shards_opened"]
    return {
        "format.codec.compress_calls": c["codec.compress_calls"],
        "format.codec.compress_ms": t.total_ms("codec.compress"),
        "format.codec.compress_bytes_in": c["codec.compress_bytes_in"],
        "format.codec.compress_bytes_out": c["codec.compress_bytes_out"],
        "format.codec.decompress_calls": c["codec.decompress_calls"],
        "format.codec.decompress_ms": t.total_ms("codec.decompress"),
        "format.codec.decompress_bytes_out": c["codec.decompress_bytes_out"],
        "format.codec.records_decoded": c["codec.decode_record_calls"],
        "format.codec.decode_ms": t.self_ms("codec.decode_record"),
        "format.codec.read_index_calls": c["codec.read_index_calls"],
        "format.codec.read_index_ms": t.total_ms("codec.read_index"),
        "format.storage.read_calls": c["storage.read_calls"],
        "format.storage.bytes_read": c["storage.bytes_read"],
        "format.storage.read_ms": t.total_ms("storage.read"),
        "format.storage.bytes_written": (
            c["storage.write_bytes_in"] + c["storage.put_if_absent_bytes_in"]
        ),
        "format.storage.create_calls": c["storage.create_calls"],
        "format.storage.list_calls": c["storage.list_calls"],
        "format.storage.list_ms": t.total_ms("storage.list"),
        "format.storage.put_if_absent_calls": c["storage.put_if_absent_calls"],
        "format.storage.put_if_absent_conflicts": c["storage.put_if_absent_conflicts"],
        "format.storage.bytes_read_per_lookup": c["lookup:storage.bytes_read"] / run.lookups,
        "format.manifest.load_calls": loads,
        "format.manifest.load_ms": t.total_ms("manifest.load"),
        "format.manifest.objects_read_per_load": (
            c["manifest_load:storage.open_calls"] / loads if loads else 0.0
        ),
        "format.manifest.shards_considered_per_lookup": run.shards_considered / run.lookups,
        "format.manifest.shards_opened_per_lookup": opened / run.lookups,
        "format.manifest.bloom_fp_frac": (
            c["lookup:codec.shards_opened_without_key"] / opened if opened else 0.0
        ),
        "format.commit.commit_ms": t.self_ms("commit.commit_shards"),
        "format.commit.next_seq_ms": t.total_ms("commit.next_seq"),
        "format.commit.checkpoint_folds": c["commit.checkpoint_fold_calls"],
        "format.reader.open_ms": t.total_ms("reader.open"),
        "format.reader.lookup_self_ms": t.self_ms("reader.lookup"),
        "format.reader.getitem_self_ms": t.self_ms("reader.getitem"),
        "format.reader.scan_self_ms": t.self_ms("reader.scan"),
        "format.reader.records_decoded_per_hit": (
            c["lookup:codec.decode_record_calls"] / run.hits if run.hits else 0.0
        ),
        "format.writer.write_self_ms": t.self_ms("writer.write"),
        "format.writer.close_self_ms": t.self_ms("writer.close"),
    }


def run(seed: int, seconds: int, trace: bool, workdir: str, small: bool) -> dict:
    """Returns {"attempted", "failed", "end_to_end", "per_layer",
    "tracer", "context"}."""
    corpus, setup_s, digest = setup(seed, small)
    n0 = len(corpus.keys)
    path = os.path.join(workdir, "facade_ds")

    def measured(tracer, share):
        corpus.truncate(n0)  # drop the records an earlier pass appended
        r = _Run(corpus, path, seed, tracer)
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
        "context": {"corpus_digest": digest, "records": n0},
    }
    if trace:
        t = tr.Tracer()
        installed = tr.install_format_wrappers(t)
        try:
            traced = measured(t, 0.5)
        finally:
            installed.uninstall()
        out["attempted"] += traced.attempted
        out["failed"] += traced.failed
        traced_e2e = traced.end_to_end()
        out["per_layer"] = {
            **layer_metrics(traced, t),
            **plain.tails(),
            **{f"trace.overhead.{k}": traced_e2e[k] / e2e[k] for k in traced_e2e},
        }
        out["context"]["trace_overhead"] = {k: traced_e2e[k] - e2e[k] for k in traced_e2e}
        out["tracer"] = t
    out["end_to_end"]["peak_rss_mb"] = out["named"]["peak_rss_mb"] = vm_hwm_mb()
    shutil.rmtree(path, ignore_errors=True)
    return out
