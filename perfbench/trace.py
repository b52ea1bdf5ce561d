"""In-memory span tracer and the layer wrappers the benchmark installs.

A span is ``(name, start_s, end_s, parent_id, op_id)``; its id is its
index in ``Tracer.spans``.  Spans nest through a stack (the benchmark is
single-threaded), and a span's self time is its duration minus the
durations of its direct children.  Spans stay in memory and are written
once, by ``Tracer.dump``, when the run ends.

``install_format_wrappers`` wraps functions of the pyspark-free format
modules (codec, storage, manifest, commit, writer) from outside the
package: it swaps module and class attributes for timing wrappers, and
``Installed.uninstall`` puts the originals back.  Nothing under
``shardpack_spark/`` is edited.  Only the facade workload installs them:
Spark pickles these modules by value into its Python workers, and a
wrapper defined here would not unpickle there.
"""

from __future__ import annotations

import collections
import functools
import gzip
import json
import time

_now = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counters: collections.Counter = collections.Counter()
        self.self_s: collections.Counter = collections.Counter()
        self.total_s: collections.Counter = collections.Counter()
        self.calls: collections.Counter = collections.Counter()
        self.op_id: int | None = None
        # open accounting scopes ("lookup", "manifest_load"): every count
        # made while a scope is open is also charged to "<scope>:<name>"
        self.scopes: collections.Counter = collections.Counter()
        self.lookup_key: str | None = None
        self._stack: list[list] = []  # [span_id, name, start, child_s]

    # --- spans -------------------------------------------------------------

    def begin(self, name: str) -> list:
        frame = [len(self.spans), name, _now(), 0.0]
        parent = self._stack[-1][0] if self._stack else None
        self.spans.append((name, frame[2], None, parent, self.op_id))
        self._stack.append(frame)
        return frame

    def end(self, frame: list) -> float:
        end = _now()
        if self._stack.pop() is not frame:
            raise RuntimeError(f"span {frame[1]} closed out of order")
        sid, name, start, child_s = frame
        dur = end - start
        _, _, _, parent, op = self.spans[sid]
        self.spans[sid] = (name, start, end, parent, op)
        self.total_s[name] += dur
        self.self_s[name] += dur - child_s
        self.calls[name] += 1
        if self._stack:
            self._stack[-1][3] += dur
        return dur

    def open_scope(self, scope: str) -> None:
        self.scopes[scope] += 1

    def close_scope(self, scope: str) -> None:
        self.scopes[scope] -= 1
        if not self.scopes[scope]:
            del self.scopes[scope]

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n
        for scope in self.scopes:
            self.counters[f"{scope}:{name}"] += n

    def self_ms(self, name: str) -> float:
        return 1000.0 * self.self_s[name]

    def total_ms(self, name: str) -> float:
        return 1000.0 * self.total_s[name]

    # --- output ------------------------------------------------------------

    def dump(self, path: str, extra: dict) -> None:
        """Write every span plus ``extra`` as one gzipped JSON document."""
        doc = {
            **extra,
            "span_fields": ["name", "start_s", "end_s", "parent", "op"],
            "spans": [
                [n, round(s, 7), round(e, 7), p, o] for n, s, e, p, o in self.spans
            ],
        }
        with gzip.open(path, "wt", compresslevel=1) as f:
            json.dump(doc, f, separators=(",", ":"))


def spanned(tracer: Tracer, name: str, fn, on_result=None):
    """``fn`` wrapped in a span; ``on_result(args, result)`` runs after
    the call to record byte and call counts."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        frame = tracer.begin(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.end(frame)
        if on_result is not None:
            on_result(args, result)
        return result

    return wrapper


class _CountingFile:
    """Read-side file proxy: every ``read`` is a storage.read span."""

    def __init__(self, f, tracer: Tracer):
        self._f = f
        self._t = tracer

    def read(self, n: int = -1) -> bytes:
        frame = self._t.begin("storage.read")
        try:
            data = self._f.read(n)
        finally:
            self._t.end(frame)
        self._t.count("storage.read_calls")
        self._t.count("storage.bytes_read", len(data))
        return data

    def seek(self, *args):
        return self._f.seek(*args)

    def tell(self):
        return self._f.tell()

    def close(self):
        return self._f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()
        return False


class Installed:
    """Attribute swaps made by ``install_format_wrappers``; ``uninstall``
    restores them in reverse order."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def swap(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)


def install_format_wrappers(tracer: Tracer) -> Installed:
    from shardpack_spark.format import codec, commit, manifest, storage, writer

    inst = Installed()
    t = tracer

    def counter(name, size_arg=None, size_result=False, conflict=False):
        def on_result(args, out):
            t.count(name + "_calls")
            if size_arg is not None:
                t.count(name + "_bytes_in", len(args[size_arg]))
            if size_result:
                t.count(name + "_bytes_out", len(out))
            if conflict and not out:
                t.count(name + "_conflicts")

        return on_result

    def wrap(owner, attr, span, on_result=None):
        inst.swap(owner, attr, spanned(t, span, getattr(owner, attr), on_result))

    # --- codec -------------------------------------------------------------
    wrap(codec, "compress", "codec.compress", counter("codec.compress", 0, True))
    wrap(codec, "decompress", "codec.decompress", counter("codec.decompress", None, True))
    wrap(codec, "decode_record", "codec.decode_record", counter("codec.decode_record"))
    wrap(codec, "read_index", "codec.read_index", counter("codec.read_index"))

    orig_iter = codec.iter_records

    @functools.wraps(orig_iter)
    def iter_records(*args, **kwargs):
        # one call opens one shard; inside a lookup, a shard that yields
        # no record with the probed key was a Bloom false positive
        key = t.lookup_key
        found = False
        for rec in orig_iter(*args, **kwargs):
            if key is not None and rec.key == key:
                found = True
            yield rec
        t.count("codec.shards_opened")
        if key is not None and not found:
            t.count("codec.shards_opened_without_key")

    inst.swap(codec, "iter_records", iter_records)

    # --- storage (the local backend: the benchmark writes a local path) ---
    local = storage.LocalBackend
    orig_open = local.open_read

    def open_read(self, path):
        t.count("storage.open_calls")
        return _CountingFile(orig_open(self, path), t)

    inst.swap(local, "open_read", open_read)
    wrap(local, "create", "storage.create", counter("storage.create"))
    wrap(local, "listdir", "storage.list", counter("storage.list"))
    wrap(
        local,
        "put_if_absent",
        "storage.put_if_absent",
        counter("storage.put_if_absent", 2, conflict=True),
    )
    wrap(storage._LocalWriteHandle, "write", "storage.write", counter("storage.write", 1))

    # --- manifest ------------------------------------------------------------
    orig_load = manifest._load_manifest

    @functools.wraps(orig_load)
    def load_manifest(*args, **kwargs):
        t.open_scope("manifest_load")
        frame = t.begin("manifest.load")
        try:
            return orig_load(*args, **kwargs)
        finally:
            t.end(frame)
            t.close_scope("manifest_load")
            t.count("manifest.load_calls")

    inst.swap(manifest, "_load_manifest", load_manifest)

    # --- commit --------------------------------------------------------------
    wrap(commit, "commit_shards", "commit.commit_shards")
    wrap(commit, "_next_commit_seq", "commit.next_seq")
    # only the checkpoint branch of a commit flattens the prior root
    wrap(
        commit,
        "_flatten_root_parts",
        "commit.checkpoint_fold",
        counter("commit.checkpoint_fold"),
    )

    # --- writer --------------------------------------------------------------
    wrap(writer.Writer, "write", "writer.write")
    wrap(writer.Writer, "close", "writer.close")
    return inst
