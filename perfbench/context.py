"""Host and run context attached to every result, plus small shared
helpers (percentiles, peak RSS, on-disk size).

The host block (sha256 canary, load, uptime, steal) comes from bench.py's
own ``_host_snapshot`` / ``_host_finalize`` so the two cannot drift.
bench.py imports pyspark at module level, and the facade workload must
run without pyspark, so ``bench_helpers`` compiles just those functions
out of bench.py's syntax tree instead of importing the module.
"""

from __future__ import annotations

import ast
import importlib.metadata
import os
import statistics
import sys
import time

_BENCH_NAMES = {"_canary_mb_s", "_read_proc_stat", "_host_snapshot", "_host_finalize"}


def bench_helpers(root: str) -> dict:
    """bench.py's host-snapshot functions, without its imports."""
    path = os.path.join(root, "bench.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    body = [
        node
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name in _BENCH_NAMES
    ]
    missing = _BENCH_NAMES - {node.name for node in body}
    if missing:
        raise RuntimeError(f"bench.py no longer defines {sorted(missing)}")
    ns: dict = {"os": os, "time": time}
    exec(compile(ast.Module(body=body, type_ignores=[]), path, "exec"), ns)
    return ns


def _version(dist: str) -> str | None:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return None


class RunContext:
    """Collects the context block: host before/after, versions, nproc."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: int):
        self._bench = bench_helpers(root)
        self._stat0 = self._bench["_read_proc_stat"]()
        self.block: dict = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": os.cpu_count(),
            "python": sys.version.split()[0],
            # read from package metadata: importing pyspark here would
            # defeat the facade workload's no-pyspark check
            "pyspark_version": _version("pyspark"),
            "pyarrow_version": _version("pyarrow"),
            "host": self._bench["_host_snapshot"](),
        }

    def finish(self) -> dict:
        self.block["host"] = self._bench["_host_finalize"](self.block["host"], self._stat0)
        self.block["pyspark_imported"] = "pyspark" in sys.modules
        return self.block


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) by linear interpolation."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=1000, method="inclusive")[round(q * 1000) - 1]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
