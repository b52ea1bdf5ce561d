"""Sequence packing: bin documents into fixed-token-budget training rows.

A training pipeline turns variable-length documents into fixed-length
sequences; packing several short documents into one sequence instead of
padding each to the budget is the difference between ~50% and ~95% token
utilization at pretraining scale.  The operator here is the *assignment*
step — (doc -> seq_id) — which is the part that needs a distributed,
deterministic answer; actual token concatenation happens wherever the
tokenized text lives.

Scale shape: documents are salted into ``num_groups`` packer groups by a
hash of the id (one shuffle), and each group is packed independently with
first-fit-decreasing inside an Arrow-batched applyInPandas.  Bin quality
is local to a group, but with groups of a few thousand docs FFD is within
a couple % of optimal and the job is embarrassingly parallel — no global
coordination, no driver state, O(|docs|) total work.  Determinism: group
assignment is a pure hash, and within a group FFD runs over a
(-tokens, id) sort — same input, same packing, regardless of input
partitioning or executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# seq_id = group * _GROUP_STRIDE + local bin index: collision-free while
# no single packer group opens more than a trillion bins.
_GROUP_STRIDE = 1 << 40


def ffd_assign(tokens: list[int], budget: int) -> list[int]:
    """First-fit-decreasing bin assignment for one packer group.

    ``tokens`` must already be in the packing order (descending tokens,
    id-tiebroken — the caller sorts); returns the bin index per input
    position.  Oversize items (> budget) always open a bin of their own
    and nothing else ever joins it.  Pure function — property-tested
    directly, and the applyInPandas closure is a thin wrapper around it.
    """
    remaining: list[int] = []  # open-bin spare capacity, bin index = position
    out = []
    for toks in tokens:
        toks = int(toks)
        placed = None
        if toks <= budget:
            for i, room in enumerate(remaining):
                if room >= toks:
                    placed = i
                    remaining[i] = room - toks
                    break
        if placed is None:
            placed = len(remaining)
            # an oversize item fills its bin completely: nothing joins it
            remaining.append(max(budget - toks, 0))
        out.append(placed)
    return out


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_groups: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Assign each document to a packed sequence of at most ``budget`` tokens.

    Returns (seq_id, doc_id, n_tokens, oversize).  Every input document
    appears exactly once; the sum of n_tokens within a seq_id never
    exceeds ``budget`` except for single-document sequences whose one
    document alone exceeds it (flagged ``oversize`` — the caller decides
    whether to truncate or split those).

    First-fit-decreasing within each hash-salted group: docs are sorted
    by (tokens desc, id) and each is placed into the first open bin with
    room, opening a new bin when none fits.  The per-group Python loop is
    O(docs x open-bins) worst case; groups are sized by ``num_groups`` to
    keep that bounded — at 100 TB raise num_groups so a group stays in
    the low millions of docs, which also caps the pandas batch one
    executor materializes.
    """
    grp = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(num_groups))
    slim = df.select(
        grp.alias("__grp"),
        F.col(id_col).alias("doc_id"),
        F.col(token_col).cast("long").alias("n_tokens"),
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        group = int(pdf["__grp"].iloc[0]) if len(pdf) else 0
        bins = ffd_assign([int(t) for t in pdf["n_tokens"]], budget)
        return pd.DataFrame(
            {
                "seq_id": pd.array(
                    [group * _GROUP_STRIDE + b for b in bins], dtype="int64"
                ),
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": pdf["n_tokens"].to_numpy(),
                "oversize": pd.array(
                    [int(t) > budget for t in pdf["n_tokens"]], dtype="bool"
                ),
            }
        )

    return slim.groupBy("__grp").applyInPandas(
        pack, "seq_id long, doc_id long, n_tokens long, oversize boolean"
    )


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One row per packed sequence: doc count, token sum, fill ratio.

    Pure aggregate over the assignment — use it to monitor utilization
    (sum(fill)/count ~ padding waste) before committing a packing run.
    """
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        (F.sum("n_tokens") / F.lit(float(budget))).alias("fill"),
        F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
    )


def materialize_sequences(
    packed: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Concatenate each packed sequence's documents into one training row.

    Joins the (seq_id, doc_id) assignment back to the text and emits
    (seq_id, n_docs, n_tokens, text) with documents ordered by
    (n_tokens desc, doc_id) — the same deterministic order FFD packed
    them in, so output bytes are reproducible.  collect_list is NOT
    order-stable under parallel aggregation, so the structs are
    array_sort-ed before joining; one shuffle on seq_id.
    """
    joined = packed.join(docs.select(F.col(id_col), F.col(text_col)), on=id_col)
    entry = F.struct(
        (-F.col("n_tokens")).alias("neg"), F.col(id_col).alias("id"), F.col(text_col).alias("t")
    )
    return (
        joined.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.array_sort(F.collect_list(entry)).alias("__entries"),
        )
        .select(
            "seq_id",
            "n_docs",
            "n_tokens",
            F.array_join(F.transform("__entries", lambda e: e["t"]), sep).alias("text"),
        )
    )
