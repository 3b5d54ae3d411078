"""Guards: every definition under ``hdstats_spark/`` has a caller outside
the tests, and the batched NumPy kernels (``hdstats_spark.kernels_np``) are
reached only through their Spark operators in
``hdstats_spark/operators/series.py``.

Checked definitions: every module-level ``def``/``class`` (public and
``_``-prefixed) and every method of every class (``_``-prefixed included,
dunders excluded).  A name counts as used when some non-test ``.py`` file
of the repo refers to it in code: as a name, an attribute, an imported
name, or a string constant equal to the name (registries and ``__all__``).
A mention in a comment or a docstring does not keep a name alive, and
neither does a string constant inside the definition's own body (a method
that writes its own name as a lineage key is not thereby called).

Spark calls some methods itself: a method is exempt when a ``pyspark.*``
class in its class's MRO defines the same name (the Python data source
callbacks).  A ``DataSource``'s ``reader``, ``streamReader``, ``writer``
and ``streamWriter`` are the exception: Spark calls each only when some
code asks for the format on the matching DataFrame face, so each counts
as used only when a non-test file calls ``.format("<its name()>")`` on a
``read``, ``readStream``, ``write`` or ``writeStream`` attribute
respectively.  Names that are still reached only from tests are listed in
``ALLOWED`` with the reason they stay.
"""

import ast
import importlib
from pathlib import Path

from pyspark.sql.datasource import DataSource

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "pad_stack": "NaN-padded stack builder the batched-kernel unit tests use to feed kernels_np",
    "geomedian_axis0": "the only Spark implementation of the reference's axis-0 geomedian; no query asks for it",
    "gen_assets": "synthetic binary-asset table for the multimodal operator tests",
    "sample_frames": "video frame-sampling stub of the multimodal asset plumbing, test-driven only",
}

# the DataFrame attribute whose .format(name) makes Spark call each
# DataSource face
DATASOURCE_FACES = {
    "read": "reader",
    "readStream": "streamReader",
    "write": "writer",
    "writeStream": "streamWriter",
}


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or path.name.startswith("test_") or path.name == "conftest.py"


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        if ".git" not in path.relative_to(ROOT).parts:
            yield path, ast.parse(path.read_text(), filename=str(path))


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _spark_callbacks(module: str, cls_name: str) -> dict[str, str | None]:
    """Names that a ``pyspark.*`` base of ``module.cls_name`` defines, each
    mapped to the use that keeps it alive: None for a callback Spark always
    makes, ``"<face>:<format>"`` for a DataSource face."""
    cls = getattr(importlib.import_module(module), cls_name, None)
    if cls is None:
        return {}
    out = {
        name: None
        for base in cls.__mro__[1:]
        if base.__module__.startswith("pyspark.")
        for name in vars(base)
    }
    if issubclass(cls, DataSource):
        out.update({face: f"{face}:{cls.name()}" for face in DATASOURCE_FACES.values()})
    return out


def _defs():
    """(where, name, use) for every checked definition under hdstats_spark/:
    a method's name is qualified by its class, and ``use`` is the name (or
    DataSource face key) a non-test caller must refer to."""
    for path, tree in _sources():
        rel = path.relative_to(ROOT)
        if rel.parts[0] != "hdstats_spark":
            continue
        module = ".".join(rel.with_suffix("").parts)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield f"{rel}:{node.lineno}", node.name, node.name
        for cls in ast.walk(tree):
            if not isinstance(cls, ast.ClassDef):
                continue
            callbacks = _spark_callbacks(module, cls.name)
            for node in cls.body:
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not _is_dunder(node.name)
                ):
                    use = callbacks.get(node.name, node.name)
                    if use is not None:
                        yield f"{rel}:{node.lineno}", f"{cls.name}.{node.name}", use


def _constants_outside_own_def(node: ast.AST, enclosing: frozenset = frozenset()):
    """String constants under ``node``, except each one that equals the
    name of a ``def``/``class`` enclosing it."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        enclosing = enclosing | {node.name}
    elif isinstance(node, ast.Constant) and isinstance(node.value, str):
        if node.value not in enclosing:
            yield node.value
    for child in ast.iter_child_nodes(node):
        yield from _constants_outside_own_def(child, enclosing)


def _format_face(node: ast.AST) -> str | None:
    """``"<face>:<format>"`` when ``node`` is ``<x>.<attr>.format("<format>")``
    with ``<attr>`` one of DATASOURCE_FACES."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return None
    attr = node.func.value
    if (
        node.func.attr == "format"
        and isinstance(attr, ast.Attribute)
        and attr.attr in DATASOURCE_FACES
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
    ):
        return f"{DATASOURCE_FACES[attr.attr]}:{node.args[0].value}"
    return None


def _names_used_outside_tests() -> set[str]:
    used = set()
    for path, tree in _sources():
        if _is_test(path):
            continue
        used.update(_constants_outside_own_def(tree))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif (face := _format_face(node)) is not None:
                used.add(face)
    return used


def _test_only():
    used = _names_used_outside_tests()
    for where, name, use in _defs():
        if use not in used:
            yield where, name


def _imported_modules(path: Path, tree: ast.Module):
    """Absolute names of the modules ``tree`` imports (relative imports
    resolved against ``path``'s package); ``from pkg import mod`` yields
    both ``pkg`` and ``pkg.mod``."""
    package = path.relative_to(ROOT).with_suffix("").parts[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else ()
            module = ".".join(base + ((node.module,) if node.module else ()))
            yield module
            yield from (f"{module}.{alias.name}" for alias in node.names)


def test_kernels_np_imported_only_by_series_operators():
    importers = sorted(
        str(path.relative_to(ROOT))
        for path, tree in _sources()
        if not _is_test(path)
        and any(m == "hdstats_spark.kernels_np" for m in _imported_modules(path, tree))
    )
    assert importers == ["hdstats_spark/operators/series.py"], importers


def test_no_public_name_is_test_only():
    """Public and private names alike: every checked definition."""
    assert any("." in name for _, name, _ in _defs()), "no methods found under hdstats_spark/"
    unused = [f"{where} {name}" for where, name in _test_only() if name not in ALLOWED]
    assert not unused, "definitions with no caller outside tests:\n" + "\n".join(unused)


def test_allowlist_has_no_stale_entries():
    """An allowlisted name that gained a non-test caller, or was deleted,
    leaves the list."""
    test_only = {name for _, name in _test_only()}
    stale = sorted(n for n in ALLOWED if n not in test_only)
    assert not stale, f"stale ALLOWED entries: {stale}"
