"""Guards: every public top-level ``def``/``class`` under ``hdstats_spark/``
has a caller outside the tests, and the batched NumPy kernels
(``hdstats_spark.kernels_np``) are reached only through their Spark
operators in ``hdstats_spark/operators/series.py``.

A name counts as used when some non-test ``.py`` file of the repo refers to
it in code: as a name, an attribute, an imported name, or a string constant
equal to the name (registries and ``__all__``).  A mention in a comment or a
docstring does not keep a name alive.  Names that are still reached only
from tests are listed in ``ALLOWED`` with the reason they stay.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "pad_stack": "NaN-padded stack builder the batched-kernel unit tests use to feed kernels_np",
    "geomedian_axis0": "the only Spark implementation of the reference's axis-0 geomedian; no query asks for it",
    "locf": "sparse-series forward-fill; the batch reference streaming_gapfill is tested against",
    "gen_assets": "synthetic binary-asset table for the multimodal operator tests",
    "sample_frames": "video frame-sampling stub of the multimodal asset plumbing, test-driven only",
    "streaming_gapfill": "streaming operator exercised only by tests/test_streaming.py; no job wires it",
    "streaming_exact_dedup": "streaming operator exercised only by tests/test_streaming.py; no job wires it",
    "streaming_neardup_simhash": "streaming operator exercised only by tests/test_streaming.py; no job wires it",
    "streaming_neardup_minhash": "streaming operator exercised only by tests/test_streaming.py; no job wires it",
    "streaming_neardup_embedding": "streaming operator exercised only by tests/test_streaming.py; no job wires it",
    "streaming_decontaminate": "streaming operator exercised only by tests/test_streaming.py; no job wires it",
    "run_stream_to_memory": "in-memory streaming sink for tests; production uses run_stream_to_icelite",
}


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or path.name.startswith("test_") or path.name == "conftest.py"


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        if ".git" not in path.relative_to(ROOT).parts:
            yield path, ast.parse(path.read_text(), filename=str(path))


def _public_defs():
    for path, tree in _sources():
        if path.relative_to(ROOT).parts[0] != "hdstats_spark":
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    yield f"{path.relative_to(ROOT)}:{node.lineno}", node.name


def _names_used_outside_tests() -> set[str]:
    used = set()
    for path, tree in _sources():
        if _is_test(path):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                used.add(node.value)
    return used


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
    used = _names_used_outside_tests()
    defs = list(_public_defs())
    assert defs, "no public definitions found under hdstats_spark/"
    unused = [f"{where} {name}" for where, name in defs if name not in used and name not in ALLOWED]
    assert not unused, "public names with no caller outside tests:\n" + "\n".join(unused)


def test_allowlist_has_no_stale_entries():
    """An allowlisted name that gained a non-test caller, or was deleted,
    leaves the list."""
    used = _names_used_outside_tests()
    defined = {name for _, name in _public_defs()}
    stale = sorted(n for n in ALLOWED if n not in defined or n in used)
    assert not stale, f"stale ALLOWED entries: {stale}"
