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


ENV_READS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_STREAM_PARTS"}


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
