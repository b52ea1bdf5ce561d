#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload facade_loader --seed 1 --seconds 40 --trace 0

Run it from the root of a checkout that holds ``shardpack_spark/`` and
``bench.py``.  Workloads and metrics are declared in ``BENCHMARK.json``;
``perfbench/README.md`` explains each one.

stdout ends with two JSON lines.  The first holds the run's context
(host, versions, corpus digest), each operation's sample count, and
``named``: the workload's metrics under per-operation names
(``getitem_p99_ms``, ``pruned_scan_p50_ms``, ``ops_failed_frac``, ...),
each with its unit.  The last is the result ``{"correct", "attempted", "failed",
"metrics"}``, every metric exactly ``{"value", "unit"}``.  With
``--trace 0`` its metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics, and every span is written to
``.perfbench/trace-<workload>-seed<seed>.json.gz``.  A per-layer metric
of a layer the workload does not observe reads 0 (the process made no
such call) and is listed in the context's ``unmeasured``; the context
also holds ``trace_overhead``, traced minus untraced for each end-to-end
metric.  ``--small`` shrinks the inputs
for the self-test.  Scratch data lives under ``.perfbench/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.context import RunContext  # noqa: E402

WORKLOADS = ("facade_loader", "spark_format")


def workload_module(name: str):
    if name == "facade_loader":
        from perfbench import facade_loader as mod
    else:
        from perfbench import spark_format as mod
    return mod


def unit(name: str) -> str:
    """The unit of a ``named`` metric, read from its suffix."""
    for suffix, u in (("_mb_s", "MB/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "ratio"


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    args = ap.parse_args(argv)

    import shardpack_spark  # noqa: F401 - fail fast outside a checkout

    spec = declared_metrics()
    ctx = RunContext(ROOT, args.workload, args.seed, args.seconds, args.trace)
    state = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(state, f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    module = workload_module(args.workload)
    try:
        out = module.run(args.seed, args.seconds, bool(args.trace), workdir, args.small)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    context = {**ctx.finish(), **out["context"]}
    failed = out["failed"]
    if args.workload == "facade_loader" and context["pyspark_imported"]:
        failed += 1  # the Spark-free path must stay Spark-free
    samples = out["named"].pop("samples")
    named = {**out["named"], "ops_failed_frac": failed / out["attempted"]}
    named = {k: {"value": v, "unit": unit(k)} for k, v in named.items()}

    key, values = ("per_layer", out["per_layer"]) if args.trace else ("end_to_end", out["end_to_end"])
    metrics, unmeasured = {}, []
    for m in spec[key]:
        name = m["name"]
        if name in values:
            value = values[name]
        elif args.trace and not name.startswith(module.MEASURED):
            value = 0.0
            unmeasured.append(name)
        else:
            raise RuntimeError(f"{args.workload} did not measure {name}")
        metrics[name] = {"value": value, "unit": m["unit"]}
    if args.trace:
        context["unmeasured"] = unmeasured
    if out["tracer"] is not None:
        out["tracer"].dump(
            os.path.join(state, f"trace-{args.workload}-seed{args.seed}.json.gz"),
            {"context": context, "samples": samples, "named": named, "metrics": metrics},
        )
    result = {
        "correct": failed == 0,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps({"context": context, "samples": samples, "named": named}, allow_nan=False))
    print(json.dumps(result, allow_nan=False))
    return result


if __name__ == "__main__":
    main()
