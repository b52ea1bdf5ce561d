"""Seeded relational fixture for the headline query pass.

The headline queries (``bench.HEADLINE``) read ten parquet tables through
``shardpack_spark.tables.load_table``: a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``.  ``make_tables`` draws them
from one seed at the size of the repository's smallest fixture (6000
``lineitem`` rows) and writes them under a directory that the queries
then take as their ``sf_dir``.  The same seed gives byte-identical
tables; ``digest`` hashes their contents so a run can assert it.

Value domains follow the queries' literals (``c_mktsegment =
'BUILDING'``, ``r_name = 'ASIA'``, ``l_returnflag = 'R'``, the
``event_type`` pivot, the language-id stop words), so every query
returns rows.  Embeddings form tight, well-separated clusters, so the
approximate ANN variants of q30b find the exact neighbours, as the
query's oracle demands.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_LANGS = ("de", "en", "es", "fr", "zh")
_STOP_WORDS = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "and", "of", "is", "was"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "shi", "le", "zai", "he"),
}
_WORDS = (
    "spark query row data slow fast small filter customer line batch value merge "
    "table join agg part column sort key order scan window hash stream dup shard"
).split()

_SIZES = {  # rows per table
    "region": 5,
    "nation": 25,
    "supplier": 10,
    "customer": 150,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
_EVENT_USERS = 15
_DIM, _CLUSTERS = 64, 10


def _days(rng, start: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:  # exact duplicate of an earlier document
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 10 and r < 0.2:  # near duplicate: one word changed
            j = int(rng.integers(0, i))
            words = texts[j].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
            langs.append(langs[j])
            continue
        lang = DOC_LANGS[int(rng.integers(0, len(DOC_LANGS)))]
        vocab = _WORDS + list(_STOP_WORDS[lang]) * 3
        words = [vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
        langs.append(lang)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.standard_normal((_CLUSTERS, _DIM))
    labels = rng.integers(0, _CLUSTERS, n)
    vecs = centers[labels] + 0.15 * rng.standard_normal((n, _DIM))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    }


def make_tables(seed: int) -> dict:
    """name -> pyarrow Table, all drawn from ``seed``."""
    import pyarrow as pa

    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    n = _SIZES
    cols: dict[str, dict] = {}
    cols["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    }
    cols["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    cols["supplier"] = {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, 500, 6500, n["supplier"]),
    }
    cols["customer"] = {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n["customer"]),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n["customer"])],
    }
    price = np.round(900 + np.arange(n["part"]) * 0.1, 2)
    cols["part"] = {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [
            f"{a} widget"
            for a in np.array(_WORDS)[rng.integers(0, len(_WORDS), n["part"])].tolist()
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": [
            ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")[k]
            for k in rng.integers(0, 6, n["part"])
        ],
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": price,
    }
    n_o = n["orders"]
    cols["orders"] = {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_o).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_o),
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[k]
            for k in rng.integers(0, 5, n_o)
        ],
    }
    n_l = n["lineitem"]
    orderkey = np.sort(rng.integers(0, n_o, n_l)).astype(np.int64)
    linenumber = np.ones(n_l, dtype=np.int32)
    for k in range(1, n_l):  # 1, 2, ... within each order
        if orderkey[k] == orderkey[k - 1]:
            linenumber[k] = linenumber[k - 1] + 1
    partkey = rng.integers(0, n["part"], n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    cols["lineitem"] = {
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n["supplier"], n_l).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_l),
    }
    n_e = n["events"]
    start = np.datetime64(dt.date(2024, 1, 1), "us")
    cols["events"] = {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": start + rng.integers(0, 30 * 86_400_000_000, n_e).astype("timedelta64[us]"),
        "user_id": rng.integers(0, _EVENT_USERS, n_e).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_e)],
        "value": np.round(rng.lognormal(3.0, 1.2, n_e).clip(0.01, 330), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    }
    cols["documents"] = _documents(rng, n["documents"])
    cols["embeddings"] = _embeddings(rng, n["embeddings"])

    out = {}
    for name, c in cols.items():
        arrays = {}
        for col, vals in c.items():
            if col == "embedding":
                arrays[col] = pa.array([v.tolist() for v in vals], pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(vals)
        out[name] = pa.table(arrays)
    return out


def digest(tables: dict) -> str:
    """sha256 over every table's Arrow IPC stream, in name order."""
    import pyarrow as pa

    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(tables: dict, sf_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
