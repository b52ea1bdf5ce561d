"""The headline query pass: ``bench.HEADLINE`` over a seeded fixture.

Set-up writes the seeded tables (``perfbench.tables``), computes each
query's expected result hash with the DuckDB oracle, and runs one
untimed warm-up pass.  Queries without an oracle -- and the two that
bench.py swaps for another builder (q29 runs the LSH path, q52 the TPC-H
Q10 variant) -- are expected to reproduce the warm-up pass' hash; a
warm-up result that disagrees with its oracle counts as a failure.

The measured pass runs every query once, as bench.py does: the cache is
cleared before each query and the DataFrame is rebuilt, so each time
covers the whole query.  Each query runs under its own job group, so
``sparkjobs.Attributor`` splits the pass into the ``session`` layer.

bench.py imports pyspark at module level; this module is only imported
by the Spark workload.
"""

from __future__ import annotations

import os
import time

from perfbench import tables as tb
from perfbench.sparkjobs import FIELDS

_now = time.perf_counter
_SWAPPED = ("q29_fuzzy_dedup_lsh", "q52_tpch_q10_shape")


def builders() -> dict:
    """name -> builder(spark, sf_dir), with bench.py's two substitutions."""
    import bench
    from shardpack_spark.queries import load_all
    from shardpack_spark.queries.llm import fuzzy_dedup_lsh
    from shardpack_spark.queries.tpch_shapes import tpch_q10_variant

    registry = load_all()
    out = {n: registry[n].builder for n in bench.HEADLINE if n not in _SWAPPED}
    out["q29_fuzzy_dedup_lsh"] = fuzzy_dedup_lsh
    out["q52_tpch_q10_shape"] = tpch_q10_variant
    return {n: out[n] for n in bench.HEADLINE}


def _hash(df, rows) -> str:
    from shardpack_spark.oracle import value_hash

    return value_hash(list(df.columns), [tuple(r) for r in rows])


class QueryPass:
    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.sf_dir = os.path.join(workdir, "tables")
        self.builders = builders()
        self.expected: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.seed = seed

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def setup(self) -> dict:
        """Tables, oracle hashes and the warm-up pass.  Returns context."""
        from shardpack_spark.oracle import duckdb_connection, value_hash
        from shardpack_spark.queries import load_all

        t0 = _now()
        tables = tb.make_tables(self.seed)
        digest = tb.digest(tables)
        if tb.digest(tb.make_tables(self.seed)) != digest:
            raise RuntimeError(f"seed {self.seed} generated two different fixtures")
        tb.write_tables(tables, self.sf_dir)
        registry = load_all()
        oracle: dict[str, str] = {}
        con = duckdb_connection(self.sf_dir)
        try:
            for name in self.builders:
                q = registry.get(name)
                if name in _SWAPPED or q is None or not q.oracle:
                    continue
                cur = con.execute(q.oracle)
                cols = [d[0] for d in cur.description]
                oracle[name] = value_hash(cols, [tuple(r) for r in cur.fetchall()])
        finally:
            con.close()
        for name, build in self.builders.items():
            df = build(self.spark, self.sf_dir)
            got = _hash(df, df.collect())
            if name in oracle:
                self._check(got == oracle[name], f"{name}: warm-up result differs from oracle")
            self.expected[name] = oracle.get(name, got)
        return {
            "fixture_digest": digest,
            "oracle_checked": sorted(oracle),
            "query_setup_s": _now() - t0,
        }

    def measure(self, attributor, tracer) -> dict:
        """One timed pass; returns the ``queries`` and ``session`` layers."""
        out: dict[str, float] = {}
        totals = dict.fromkeys(FIELDS, 0.0)
        state = {"cached_bytes_after_query": 0, "temp_views_after_query": 0}
        for name, build in self.builders.items():
            self.spark.catalog.clearCache()
            holder = {}

            def make(build=build):
                holder["df"] = build(self.spark, self.sf_dir)
                return holder["df"]

            w0 = _now()
            rows, _, attr = attributor.run(f"query.{name}", make, lambda df: df.collect(), tracer)
            out[f"queries.{name}.wall_s"] = _now() - w0
            self._check(_hash(holder["df"], rows) == self.expected[name], f"{name}: wrong result")
            for f in FIELDS:
                totals[f] += attr[f]
            for k, v in attributor.session_state().items():
                state[k] = max(state[k], v)
        # the pass is the queries' own time: checks and session reads between
        # them are left out
        out["queries.pass_s"] = sum(out.values())
        out.update({f"session.{f}": v for f, v in totals.items()})
        out.update({f"session.{k}": v for k, v in state.items()})
        return out
