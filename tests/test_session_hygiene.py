"""Session hygiene of the fuzzy-dedup library calls: building and running
q29 or the bench's LSH path must not leave temp views in the session, and
the package source must not register session-global ``__``-named views,
grow per-module pickle-by-value registrations or a second place that
ships the package to workers, nor grow a second place that publishes
snapshot roots, a second image decode path or a second way to read part
of a shard."""

from __future__ import annotations

import ast
import pathlib
import pkgutil
import re
import zipfile

import shardpack_spark
from shardpack_spark.queries import load_all
from shardpack_spark.queries.llm import _oph_pairs, _spread_docs, fuzzy_dedup_lsh


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_fuzzy_dedup_leaves_no_temp_views(spark, sf_dir):
    before = _temp_views(spark)
    try:
        fuzzy_dedup_lsh(spark, sf_dir).collect()
        load_all()["q29_fuzzy_dedup"].builder(spark, sf_dir).collect()
        assert _temp_views(spark) == before
    finally:
        spark.catalog.clearCache()


def test_q29_oph_reads_profile_from_cache(spark, sf_dir):
    """The OPH profile has four readers (both banding sides and both
    verify sides); they must read the persisted profile, not recompute
    it each."""
    spark.catalog.clearCache()
    try:
        df = _oph_pairs(_spread_docs(spark, sf_dir))
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        spark.catalog.clearCache()


def test_package_registers_no_dunder_temp_views():
    pkg = pathlib.Path(shardpack_spark.__file__).parent
    pat = re.compile(r"""create(OrReplace)?TempView\(\s*f?["']__""")
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if pat.search(p.read_text(encoding="utf-8"))
    ]
    assert offenders == []


def test_package_registers_pickle_by_value_once():
    """One by-value registration of the whole package (cloudpickle covers
    every submodule of a registered package), not per-module lists, and
    one place that ships the package zip to a context and switches the
    by-value registration off."""
    pkg = pathlib.Path(shardpack_spark.__file__).parent
    for call in (r"(?<!un)register_pickle_by_value\(", r"unregister_pickle_by_value\(", r"addPyFile\("):
        calls = [
            str(p.relative_to(pkg))
            for p in sorted(pkg.rglob("*.py"))
            for _ in re.finditer(call, p.read_text(encoding="utf-8"))
        ]
        assert calls == ["__init__.py"], call


def test_package_zip_holds_every_module():
    """The zip shipped to workers holds every module of the package: the
    same list pkgutil walks, and every .py file under the package, so a
    subpackage directory without ``__init__.py`` cannot go missing from
    the workers' copy."""
    pkg = pathlib.Path(shardpack_spark.__file__).parent
    with zipfile.ZipFile(shardpack_spark._package_zip()) as zf:
        shipped = {
            n.removesuffix(".pyc").replace("/", ".").removesuffix(".__init__")
            for n in zf.namelist()
        }
    walked = {"shardpack_spark"} | {
        m.name for m in pkgutil.walk_packages(shardpack_spark.__path__, "shardpack_spark.")
    }
    on_disk = {
        ".".join(("shardpack_spark",) + p.relative_to(pkg).with_suffix("").parts).removesuffix(
            ".__init__"
        )
        for p in pkg.rglob("*.py")
    }
    assert shipped == walked == on_disk


def test_package_modules_pickle_by_value():
    """Until the zip reaches a context, plans pickle the package by value,
    module dicts included, so the package's own globals must stay
    picklable (no locks, no finalizers), also after the zip is built."""
    from pyspark import cloudpickle

    from shardpack_spark.format import datasource

    shardpack_spark._package_zip()
    registered = "shardpack_spark" in cloudpickle.list_registry_pickle_by_value()
    if not registered:
        cloudpickle.register_pickle_by_value(shardpack_spark)
    try:
        cloudpickle.dumps(datasource)
    finally:
        if not registered:
            cloudpickle.unregister_pickle_by_value(shardpack_spark)


def _enclosing_functions(pattern: str) -> list[tuple[str, str, str]]:
    """(module, innermost enclosing function, its source) for every line
    of the package source matching ``pattern``."""
    pkg = pathlib.Path(shardpack_spark.__file__).parent
    hits = []
    for p in sorted(pkg.rglob("*.py")):
        text = p.read_text(encoding="utf-8")
        funcs = [
            n
            for n in ast.walk(ast.parse(text))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(text.splitlines(), 1):
            if not re.search(pattern, line):
                continue
            inner = max(
                (f for f in funcs if f.lineno <= lineno <= f.end_lineno),
                key=lambda f: f.lineno,
                default=None,
            )
            name = inner.name if inner else "<module>"
            src = ast.get_source_segment(text, inner) if inner else text
            hits.append((str(p.relative_to(pkg)), name, src))
    return hits


def test_one_place_publishes_snapshot_roots():
    """Every manifest commit (writers, folds, convert) claims its
    `_manifest/root-{vid}.json` through commit.publish_root: no other
    function calls put_if_absent on a root archive path or builds a
    version-3 root dict."""
    claims = sorted(
        {
            (mod, name)
            for mod, name, src in _enclosing_functions(r"\.put_if_absent\(")
            if "root-" in src
        }
    )
    assert claims == [("format/commit.py", "publish_root")]
    roots = sorted(
        {(mod, name) for mod, name, _ in _enclosing_functions(r"""["']version["']\s*:\s*3\b""")}
    )
    assert roots == [("format/commit.py", "publish_root")]


def test_one_way_to_read_latest():
    """Readers resolve the newest committed state through
    manifest._load_manifest (or live_view on top of it).  The raw
    live-pointer read is reached only by the resolution itself and by
    vacuum, which keeps the pointer's parts referenced on purpose; the
    second "latest" name is gone."""
    pointer_reads = sorted(
        {(mod, name) for mod, name, _ in _enclosing_functions(r"(?<!def )\b_read_pointer\(")}
    )
    assert pointer_reads == [
        ("format/datasource.py", "vacuum"),
        ("format/manifest.py", "_observe_latest"),
    ]
    assert _enclosing_functions(r"_load_latest_manifest") == []


def test_one_image_decode_path():
    """Image payloads decode through operators.imagecodec alone: the
    package imports no PIL, takes no `decoder=` knob, and carries no JPEG
    encoder (the tests' fixture encoder lives in tests/imagefixtures.py)."""
    patterns = (r"\bPIL\b", r"\bdecoder\s*(:\s*\w+\s*)?=", r"\bencode_jpeg\b")
    offenders = sorted(
        {(mod, name, pat) for pat in patterns for mod, name, _ in _enclosing_functions(pat)}
    )
    assert offenders == []


def test_one_record_range_read_path():
    """A read task names part of a shard only by record range: the
    package has no span reader beside codec.iter_records, passes no
    `offsets=` to it, and ShardPartition carries no offset list."""
    import dataclasses

    from shardpack_spark.format.datasource import ShardPartition

    assert _enclosing_functions(r"\biter_records_span\b") == []
    pkg = pathlib.Path(shardpack_spark.__file__).parent
    offending = []
    for p in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if isinstance(node, ast.FunctionDef) and node.name == "iter_records":
                params = [a.arg for a in node.args.args + node.args.kwonlyargs]
                assert "offsets" not in params and "records" in params
            if isinstance(node, ast.Call):
                func = node.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
                if name == "iter_records" and any(k.arg == "offsets" for k in node.keywords):
                    offending.append((str(p.relative_to(pkg)), node.lineno))
    assert offending == []
    assert "offsets" not in {f.name for f in dataclasses.fields(ShardPartition)}
