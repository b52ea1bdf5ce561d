"""Seeded input generators.

Every input of a run derives from ``--seed`` through numpy's PCG64, so
one seed gives a byte-identical corpus (``Corpus.digest`` asserts it).

A record has two entries: a compressible text entry (words drawn from a
seeded vocabulary) and an incompressible binary entry (seeded random
bytes).  Each entry's size is log-uniform on [0.5, 32] KiB.  Entries are
slices of two seeded pools, so the generator is fast and the benchmark
can check any payload it reads back by comparing it with its pool slice.
Keys are content hashes, so every shard's key range overlaps every other
and Bloom filters, not ranges, decide lookups.
"""

from __future__ import annotations

import hashlib

import numpy as np

LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
MIN_ENTRY, MAX_ENTRY = 512, 32 * 1024
_SYLLABLES = [a + b for a in "bcdfghjklmnprstvwz" for b in "aeiou"]


def _text_pool(rng: np.random.Generator, nbytes: int) -> bytes:
    vocab = [
        "".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), n))
        for n in rng.integers(1, 5, 4096)
    ]
    # Zipf-like word frequencies: real text, not a uniform word salad
    idx = np.minimum(rng.zipf(1.3, nbytes // 5), len(vocab)) - 1
    text = " ".join(map(vocab.__getitem__, idx.tolist())).encode()
    return text[:nbytes]


class Corpus:
    """Two byte pools plus one descriptor per record: key, lang, and the
    (offset, length) of each entry in its pool."""

    def __init__(self, seed: int, n_records: int, pool_bytes: int):
        self.seed = seed
        rng = np.random.Generator(np.random.PCG64(seed))
        self.binary = rng.bytes(pool_bytes)
        self.text = _text_pool(rng, max(pool_bytes // 8, 2 * MAX_ENTRY))
        self.keys: list[str] = []
        self.langs: list[str] = []
        self.entries: list[tuple[int, int, int, int]] = []
        self.index: dict[str, int] = {}
        self.extend(rng, n_records)

    def extend(self, rng: np.random.Generator, n: int) -> range:
        """Append ``n`` new record descriptors drawn from ``rng``; returns
        their record numbers."""
        sizes = (MIN_ENTRY * (MAX_ENTRY / MIN_ENTRY) ** rng.random((n, 2))).astype(np.int64)
        t_off = (rng.random(n) * (len(self.text) - sizes[:, 0])).astype(np.int64)
        b_off = (rng.random(n) * (len(self.binary) - sizes[:, 1])).astype(np.int64)
        langs = rng.choice(len(LANGS), n, p=_LANG_P)
        first = len(self.keys)
        for j in range(n):
            i = first + j
            key = hashlib.blake2b(f"{self.seed}/{i}".encode(), digest_size=12).hexdigest()
            self.keys.append(key)
            self.index[key] = i
            self.langs.append(LANGS[langs[j]])
        self.entries.extend(
            zip(t_off.tolist(), sizes[:, 0].tolist(), b_off.tolist(), sizes[:, 1].tolist())
        )
        return range(first, first + n)

    def truncate(self, n: int) -> None:
        """Forget every record numbered ``n`` or above."""
        for k in self.keys[n:]:
            del self.index[k]
        del self.keys[n:], self.langs[n:], self.entries[n:]

    def miss_key(self, rng: np.random.Generator) -> str:
        """A key with the corpus' shape that no record carries."""
        while True:
            key = hashlib.blake2b(rng.bytes(16), digest_size=12).hexdigest()
            if key not in self.index:
                return key

    def payload_bytes(self, i: int) -> int:
        _, tl, _, bl = self.entries[i]
        return tl + bl

    def record(self, i: int):
        from shardpack_spark.format import codec

        to, tl, bo, bl = self.entries[i]
        return codec.Record(
            key=self.keys[i],
            entries=[
                codec.FileEntry("text.txt", "text/plain", self.text[to : to + tl]),
                codec.FileEntry("blob.bin", "application/octet-stream", self.binary[bo : bo + bl]),
            ],
            metadata={"lang": self.langs[i], "n": str(i)},
        )

    def matches(self, rec) -> bool:
        """Is ``rec`` exactly the generated record its key names?"""
        i = self.index.get(rec.key)
        if i is None or len(rec.entries) != 2:
            return False
        to, tl, bo, bl = self.entries[i]
        text, blob = rec.entries
        return (
            rec.metadata == {"lang": self.langs[i], "n": str(i)}
            and text.file_name == "text.txt"
            and blob.file_name == "blob.bin"
            and text.data == self.text[to : to + tl]
            and blob.data == self.binary[bo : bo + bl]
        )

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(self.binary)
        h.update(self.text)
        h.update("\n".join(self.keys).encode())
        h.update(" ".join(self.langs).encode())
        h.update(np.asarray(self.entries, dtype=np.int64).tobytes())
        return h.hexdigest()


class ZipfKeys:
    """Zipf-skewed (exponent ``s``) record picks over the records committed
    so far.  Ranks map to records through a seeded shuffle of the
    initial records, so the hot set is spread over the key space;
    records appended later take the next ranks."""

    def __init__(self, rng: np.random.Generator, n_initial: int, n_max: int, s: float = 1.1):
        self._rng = rng
        self._perm = rng.permutation(n_initial).tolist()
        self._cum = np.cumsum(1.0 / np.arange(1, n_max + 1) ** s)

    def pick(self, n_committed: int) -> int:
        u = self._rng.random() * self._cum[min(n_committed, len(self._cum)) - 1]
        rank = int(np.searchsorted(self._cum, u, side="right"))
        return self._perm[rank] if rank < len(self._perm) else rank
