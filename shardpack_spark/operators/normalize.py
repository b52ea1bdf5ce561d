"""Text normalization (codegen) and compression-ratio quality signals.

Web-crawl text arrives with curly quotes, accent variants, control
characters, and exotic whitespace that break exact dedup (two visually
identical documents hash differently) and skew token statistics.
``clean_text`` canonicalizes all of that with ONLY codegen expressions —
`translate` for 1:1 character folds, a short `replace` chain for
ligatures/ellipsis, `regexp_replace` for control chars and whitespace
runs — so normalization rides inside the scan stage at any scale: no
Python, no shuffle, no UDF.

The accent fold is generated at import time from unicodedata NFKD
decompositions over Latin-1 Supplement + Latin Extended-A (the
deterministic subset where base-char + combining-marks reduces to one
ASCII char).  Full NFKC needs ICU and is out of scope; this covers the
Latin-script bulk of crawl text.

``compression_signals`` is the classic cheap quality filter (used by
Gopher/RefinedWeb-style pipelines): near-incompressible text is random
noise, hyper-compressible text is boilerplate/repetition.  zlib runs in
an Arrow-batched mapInPandas (a per-row C call, not per-row Python
work), deterministic for a fixed level.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def _build_fold_maps() -> tuple[str, str, list[tuple[str, str]]]:
    """(from_chars, to_chars) for 1:1 translate + multi-char replaces."""
    src, dst = [], []
    multi: list[tuple[str, str]] = []
    for cp in range(0xC0, 0x180):  # Latin-1 Supplement + Latin Extended-A
        ch = chr(cp)
        decomp = unicodedata.normalize("NFKD", ch)
        base = "".join(c for c in decomp if not unicodedata.combining(c))
        if base == ch or not base:
            continue
        if all(ord(c) < 0x80 for c in base):
            if len(base) == 1:
                src.append(ch)
                dst.append(base)
            else:
                multi.append((ch, base))
    # hand-rolled ligature/letter folds NFKD does not produce
    multi += [("ß", "ss"), ("æ", "ae"), ("Æ", "AE"),
              ("œ", "oe"), ("Œ", "OE"), ("ð", "d"),
              ("Ð", "D"), ("þ", "th"), ("Þ", "Th"),
              ("đ", "d"), ("Đ", "D"), ("ħ", "h"),
              ("Ħ", "H"), ("ł", "l"), ("Ł", "L"),
              ("…", "...")]
    # unicode punctuation / space unification (1:1)
    for frm, to in [
        ("‘", "'"), ("’", "'"), ("‚", "'"), ("‛", "'"),
        ("“", '"'), ("”", '"'), ("„", '"'), ("‟", '"'),
        ("‐", "-"), ("‑", "-"), ("‒", "-"), ("–", "-"),
        ("—", "-"), ("―", "-"), ("−", "-"),
        (" ", " "), (" ", " "), (" ", " "), (" ", " "),
        (" ", " "), (" ", " "), (" ", " "), (" ", " "),
        (" ", " "), (" ", " "), (" ", " "), (" ", " "),
        (" ", " "), (" ", " "), ("　", " "),
        # whitespace Python's \s matches but Java's (ASCII-only) \s does
        # not: NEL, OGHAM space, LINE/PARAGRAPH SEPARATOR -- fold to plain
        # space BEFORE the engine-neutral collapse below
        ("\x85", " "), ("\u1680", " "), ("\u2028", " "), ("\u2029", " "),
    ]:
        src.append(frm)
        dst.append(to)
    return "".join(src), "".join(dst), multi


_FOLD_FROM, _FOLD_TO, _FOLD_MULTI = _build_fold_maps()
_CONTROL_PAT = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F​‌‍﻿]"


def clean_text_expr(c: Column) -> Column:
    """The normalization pipeline as one codegen expression chain."""
    for frm, to in _FOLD_MULTI:
        c = F.replace(c, F.lit(frm), F.lit(to))
    c = F.translate(c, _FOLD_FROM, _FOLD_TO)
    c = F.regexp_replace(c, _CONTROL_PAT, "")
    c = F.regexp_replace(c, r"[ \t\n\r\f\x0b]+", " ")
    return F.trim(c)


def clean_text(df: DataFrame, text_col: str = "text", out_col: str = "clean") -> DataFrame:
    """Append ``out_col``: folded accents/ligatures, unified unicode
    quotes/dashes/spaces, stripped control + zero-width chars, collapsed
    whitespace.  Row-local codegen — fuses into the scan."""
    return df.withColumn(out_col, clean_text_expr(F.col(text_col)))


def python_clean_text(s: str) -> str:
    """Pure-Python reference for ``clean_text`` (tests pin equality)."""
    import re

    for frm, to in _FOLD_MULTI:
        s = s.replace(frm, to)
    s = s.translate(str.maketrans(_FOLD_FROM, _FOLD_TO))
    s = re.sub(_CONTROL_PAT, "", s)
    s = re.sub(r"[ \t\n\r\f\x0b]+", " ", s)
    return s.strip()


def compression_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", level: int = 6
) -> DataFrame:
    """(id, raw_bytes, zlib_bytes, compression_ratio) per document.

    ratio = compressed/raw of the UTF-8 text at a fixed zlib level —
    deterministic, so the output is oracle-able against direct zlib.
    Heuristics downstream: ratio > ~0.9 is noise/binary junk, < ~0.3 is
    heavy boilerplate or repetition.  Empty text gets ratio NULL.
    Arrow-batched mapInPandas; zlib is a C call per row.
    """
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("raw_bytes", LongType()),
            StructField("zlib_bytes", LongType()),
            StructField("compression_ratio", DoubleType()),
        ]
    )

    def batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            raw_len = raw.map(len)
            gz_len = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "raw_bytes": raw_len.astype("int64"),
                    "zlib_bytes": gz_len.astype("int64"),
                    "compression_ratio": [
                        (g / r) if r else None for r, g in zip(raw_len, gz_len)
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema)
