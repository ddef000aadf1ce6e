"""Source hygiene checks that need no Spark session.

* No dict literal in the package repeats a constant key: Python keeps
  only the last value, so a repeated key silently discards the earlier
  entries (and any reasoning recorded next to them).
* Every script compiles, and every import of a package name -- in the
  package, its scripts and its tests, including imports deferred into
  function bodies -- resolves, so deleting a function cannot leave a
  kept caller broken until it happens to run.
* The package reads exactly the environment variables it documents;
  every other setting goes through ``get_spark(extra_conf=...)``.
* The benchmark's tracer (perfbench/tracing.py) wraps engine, changelog,
  mapreduce and quota calls by name; they keep those names and the
  arguments the tracer and the workload pass.
* No ``applyInPandasWithState`` state schema has an array or map field,
  whose generated code Spark compiles again on every run.
* The changelog's point-read path (lookup, snapshot, settled rows)
  reaches no Spark: point reads and logins are served on the driver.
* Only the bounded replay's conf scope names the checkpoint file
  manager, so the stream sink's long-lived checkpoint keeps Spark's
  default manager.
* No query plan builds a table from driver rows with
  ``createDataFrame``: the parallelized rows cost a job of their own
  and a broadcast, where a parsed literal costs neither.
* The package keeps to its own process: it reads no
  ``spark.sql.warehouse.dir`` (its tables live in the process's scratch
  root), opens no ``/proc/`` path and signals no process with
  ``os.kill``.
* Only ``sources/tables.py`` names ``st_mtime_ns`` or ``applicationId``:
  work derived from a testdata file is keyed by its ``source_stamp``
  and memoized by its ``derived``, never by a hand-built key.
* Every top-level def and class of the package, and every method of
  its top-level classes, is reached from the package, bench.py,
  __spark_entry__.py or perfbench/ (docstrings do not count), or is
  listed in KEPT with its reason: library code that only tests call is
  deleted with those tests.  Dunders and the KVEngine command surface
  (its public methods, the protocol's commands) are exempt by rule.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = "operating_system_map_reduce_spark"


def test_no_dict_literal_repeats_a_constant_key():
    repeats = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Dict):
                continue
            seen = set()
            for key in node.keys:
                if not isinstance(key, ast.Constant):
                    continue  # ** unpacking or a computed key
                if key.value in seen:
                    repeats.append(
                        f"{path.relative_to(REPO)}:{key.lineno}: {key.value!r}")
                seen.add(key.value)
    assert not repeats, repeats


def test_scripts_compile():
    scripts = sorted((REPO / "scripts").glob("*.py"))
    assert scripts
    for path in scripts:
        compile(path.read_text(), str(path), "exec")


def _package_imports(path: pathlib.Path):
    """(lineno, module, name-or-None) for every import of a package
    module or name in ``path``; relative imports are resolved against
    the file's own package."""
    package = None
    if path.is_relative_to(REPO / PKG):
        parts = path.relative_to(REPO).with_suffix("").parts
        package = ".".join(parts[:-1])
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                module = importlib.util.resolve_name(
                    "." * node.level + module, package)
            if module.split(".")[0] == PKG:
                for alias in node.names:
                    yield node.lineno, module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None


def test_package_imports_resolve():
    files = (sorted((REPO / PKG).rglob("*.py"))
             + sorted((REPO / "scripts").glob("*.py"))
             + sorted((REPO / "tests").glob("*.py")))
    broken = []
    for path in files:
        for lineno, module, name in _package_imports(path):
            where = f"{path.relative_to(REPO)}:{lineno}"
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                broken.append(f"{where}: {module} ({exc})")
                continue
            if name is None or name == "*" or hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                broken.append(f"{where}: {module}.{name}")
    assert not broken, broken


ENV_READS = {"SPARK_GRAFT_CPUS"}


def test_package_reads_only_the_documented_env_vars():
    names = set()
    for path in sorted((REPO / PKG).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and ast.unparse(node.func) in ("os.environ.get", "os.getenv")):
                key = node.args[0]
            elif (isinstance(node, ast.Subscript)
                  and ast.unparse(node.value) == "os.environ"):
                key = node.slice
            else:
                continue
            names.add(key.value if isinstance(key, ast.Constant)
                      else f"{path.relative_to(REPO)}:{node.lineno}: {ast.unparse(key)}")
    assert names == ENV_READS


def _types(dt):
    """``dt`` and every type nested in it."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    yield dt
    if isinstance(dt, StructType):
        for field in dt.fields:
            yield from _types(field.dataType)
    elif isinstance(dt, ArrayType):
        yield from _types(dt.elementType)
    elif isinstance(dt, MapType):
        yield from _types(dt.keyType)
        yield from _types(dt.valueType)


def test_stream_state_has_no_array_or_map_field():
    """applyInPandasWithState builds a fresh state encoder on every run,
    and an array or map field's element conversion takes new
    lambda-variable ids each time: its generated code differs, so Spark
    compiles it again on every run."""
    from pyspark.sql.types import ArrayType, MapType

    schemas = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO)
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "applyInPandasWithState"):
                continue
            arg = {k.arg: k.value for k in node.keywords}.get(
                "stateStructType", node.args[2] if len(node.args) > 2 else None)
            module = importlib.import_module(".".join(rel.with_suffix("").parts))
            schemas[f"{rel}:{node.lineno}"] = eval(
                compile(ast.Expression(arg), str(rel), "eval"), vars(module))
    assert len(schemas) >= 2, schemas   # mru_stream and quota_stream
    # a DDL string is refused too: it cannot be parsed without a session
    nested = {where: schema for where, schema in schemas.items()
              if isinstance(schema, str)
              or any(isinstance(t, (ArrayType, MapType)) for t in _types(schema))}
    assert not nested, nested


def test_changelog_point_reads_touch_no_spark():
    """The methods that serve a point read or a credential rebuild, and
    the ``self`` methods they reach, name no Spark session, Spark read
    or dedup, and collect nothing."""
    banned = {"spark", "_read_files", "_dedup", "collect", "toLocalIterator"}
    path = REPO / PKG / "sources" / "changelog.py"
    cls = next(node for node in ast.parse(path.read_text()).body
               if isinstance(node, ast.ClassDef) and node.name == "ChangeLog")
    methods = {m.name: m for m in cls.body if isinstance(m, ast.FunctionDef)}
    todo = ["lookup", "_point_read", "settled_rows", "snapshot", "_publish", "_advance"]
    served, found = set(), []
    while todo:
        name = todo.pop()
        if name in served:
            continue
        served.add(name)
        for node in ast.walk(methods[name]):
            if not isinstance(node, ast.Attribute):
                continue
            if node.attr in banned:
                found.append(f"ChangeLog.{name}:{node.lineno}: {ast.unparse(node)[:60]}")
            elif ast.unparse(node.value) == "self" and node.attr in methods:
                todo.append(node.attr)
    assert not found, found


def _scopes_naming(node, needle: str, scope: str = "") -> set[str]:
    """The innermost def or class around each string constant in
    ``node`` that holds ``needle`` (case-insensitive)."""
    found = set()
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            found |= _scopes_naming(child, needle, f"{scope}.{child.name}" if scope else child.name)
            continue
        if (isinstance(child, ast.Constant) and isinstance(child.value, str)
                and needle in child.value.lower()):
            found.add(scope)
        found |= _scopes_naming(child, needle, scope)
    return found


def test_only_the_bounded_replay_picks_the_checkpoint_manager():
    """The checkpoint file manager key and the manager classes are named
    only in the bounded replay's conf scope.  The FileSystem manager
    only checks that a rename target is absent, so the long-lived
    ``ChangelogStreamSink`` checkpoint keeps the default manager, whose
    rename refuses an existing target."""
    found = set()
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = str(path.relative_to(REPO / PKG))
        found |= {f"{rel}:{scope}" for scope in
                  _scopes_naming(ast.parse(path.read_text()), "checkpointfilemanager")}
    assert found == {"streaming/windows.py:_bounded_replay"}, found


def test_plans_build_no_table_from_driver_rows():
    """A small driver-side lookup (the bin offsets of
    ``order_value_deciles`` and ``pack_sequences``) goes into the plan
    as one parsed literal, e.g. ``element_at(map(...), key)``.
    ``operators/graph.py`` is outside this rule: its table grows with
    the node count."""
    found = []
    for path in sorted((REPO / PKG / "plans").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                found.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not found, found


def test_package_keeps_to_its_own_process():
    found = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                bad = (node.value == "spark.sql.warehouse.dir"
                       or node.value.startswith("/proc/"))
            elif isinstance(node, ast.Call):
                bad = ast.unparse(node.func) in ("os.kill", "os.killpg")
            elif isinstance(node, ast.ImportFrom):
                bad = node.module == "os" and any(
                    a.name in ("kill", "killpg") for a in node.names)
            else:
                continue
            if bad:
                found.append(f"{rel}:{node.lineno}: {ast.unparse(node)[:60]}")
    assert not found, found


# daemon.py stamps pyspark.zip for zipimport, which is not testdata
STAMP_OWNERS = {"sources/tables.py", "daemon.py"}


def test_only_the_tables_module_keys_derived_work():
    found = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        if path.relative_to(REPO / PKG).as_posix() in STAMP_OWNERS:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "st_mtime_ns" in line or "applicationId" in line:
                found.append(f"{path.relative_to(REPO)}:{n}: {line.strip()[:60]}")
    assert not found, found


def _required(fn) -> list[str]:
    import inspect

    return [p.name for p in inspect.signature(fn).parameters.values()
            if p.default is p.empty
            and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]


def test_traced_names_keep_their_signatures():
    from operating_system_map_reduce_spark import engine
    from operating_system_map_reduce_spark.operators.quota import QuotaTracker
    from operating_system_map_reduce_spark.sources.changelog import ChangeLog

    login = ["self", "user", "password"]
    kv = engine.KVEngine
    assert _required(kv.kv_get) == login + ["key"]
    assert _required(kv.kv_delete) == login + ["key"]
    assert _required(kv.kv_insert) == login + ["key", "value"]
    assert _required(kv.kv_upsert) == login + ["key", "value"]
    assert _required(kv.kv_top) == login
    assert _required(kv.kv_all) == login
    assert _required(kv.invoke_mr) == login + ["mrname"]
    assert _required(kv.save_file) == login
    assert _required(ChangeLog.append) == ["self", "rows"]
    assert _required(ChangeLog.compact) == ["self"]
    assert _required(ChangeLog.replay_cached) == ["self"]
    assert isinstance(ChangeLog.log_dir, property)
    assert callable(engine.run_map_reduce)
    assert _required(QuotaTracker.check_add) == ["self", "add", "when"]


# top-level package names no query, engine command or benchmark reaches,
# each kept for a reason a test states
KEPT = {
    "entry_size": "binlog size arithmetic the reference's verify_filesize "
                  "expectations are built from (test_binlog)",
    "shingles_expr": "reference form the served shingle postings are "
                     "checked against (test_pipeline_ops)",
    "simhash_spark_sql": "reference form the served simhash is checked "
                         "against (test_pipeline_ops)",
    "ChangelogStreamSink": "the distributed streaming ingest path into the "
                           "changelog layout (test_snapshot, test_streaming)",
    "deferred_due": "the window invariant test_plans pins: no due entry "
                    "loses its seat to a non-due one",
    "quantize": "the int8 codes the quantization tests check; the registered "
                "face serves only their report",
    "SqlFunctionRegistry.register_builtins": "registers every builtin with its "
                                             "probe query, the check that each "
                                             "builtin analyzes (test_fn_registry)",
    "ChangelogStreamSink.ingest_available": "drains a mutation stream into the "
                                            "log and returns, how the tests drive "
                                            "the sink (test_snapshot, test_streaming)",
}


def _reached_sources():
    yield from sorted((REPO / PKG).rglob("*.py"))
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    for path in sorted((REPO / "perfbench").rglob("*.py")):
        if "tests" not in path.relative_to(REPO / "perfbench").parts:
            yield path


def _references(tree) -> set[str]:
    """Names, attributes, import aliases and identifier-like string
    constants (getattr / registry keys) in ``tree``; docstrings and
    other bare string statements are not references."""
    bare = {id(node.value) for node in ast.walk(tree)
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)}
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier() and id(node) not in bare):
            names.add(node.value)
    return names


def _exempt(cls: str, name: str) -> bool:
    return (name.startswith("__") and name.endswith("__")
            or cls == "KVEngine" and not name.startswith("_"))


def test_every_package_def_is_reached():
    reached = set()
    for path in _reached_sources():
        reached |= _references(ast.parse(path.read_text()))
    defs = (ast.FunctionDef, ast.AsyncFunctionDef)
    unreached = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (*defs, ast.ClassDef)) and node.name not in reached:
                unreached[node.name] = f"{rel}:{node.lineno}"
            if isinstance(node, ast.ClassDef):
                unreached.update((f"{node.name}.{m.name}", f"{rel}:{m.lineno}")
                                 for m in node.body
                                 if isinstance(m, defs) and m.name not in reached
                                 and not _exempt(node.name, m.name))
    # both ways: a KEPT name that is reached (or gone) is a stale entry
    assert set(unreached) == set(KEPT), {
        name: unreached.get(name, "reached or deleted")
        for name in set(unreached) ^ set(KEPT)}
