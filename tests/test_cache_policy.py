"""Guard: ``hdstats_spark/materialize.py`` is the only cache.

No module under ``hdstats_spark/`` other than ``materialize.py`` refers to
``.cache``, and none refers to ``.persist``, ``.checkpoint`` or
``.localCheckpoint`` outside the definitions listed in ``ALLOWED`` with
the reason each stays.  No module under ``hdstats_spark/`` touches the
private ``_jdf`` handle or Catalyst's ``sameResult``: plan identity goes
through the public ``DataFrame.sameSemantics``.

An attribute reference counts whether or not it is called (``f =
df.cache`` is a use), and a string constant equal to a private name counts
as touching it (``getattr(df, "_jdf")``).
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

CACHING = {"cache", "persist", "checkpoint", "localCheckpoint"}
PRIVATE = {"_jdf", "sameResult"}

ALLOWED = {
    ("hdstats_spark/plans/pipeline.py", "TierPipeline.run", "persist"): (
        "each tier feeds both its own commit and the next tier's rollup in "
        "one run, and run() unpersists every tier it persisted"
    ),
    ("hdstats_spark/operators/dedup.py", "connected_components", "localCheckpoint"): (
        "each round's edge set is checkpointed to keep the plan flat, and "
        "the previous round's checkpoint is unpersisted"
    ),
}


def _uses(node: ast.AST, scope: tuple = ()):
    """(is an attribute, qualified enclosing definition, name) for every
    attribute, name and string constant under ``node``."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        scope = scope + (node.name,)
    if isinstance(node, ast.Attribute):
        yield True, ".".join(scope), node.attr
    elif isinstance(node, ast.Name):
        yield False, ".".join(scope), node.id
    elif isinstance(node, ast.Constant) and isinstance(node.value, str):
        yield False, ".".join(scope), node.value
    for child in ast.iter_child_nodes(node):
        yield from _uses(child, scope)


def _engine_uses():
    for path in sorted((ROOT / "hdstats_spark").rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for is_attr, where, name in _uses(ast.parse(path.read_text(), filename=rel)):
            yield is_attr, (rel, where, name)


def _caching_uses():
    return {
        use
        for is_attr, use in _engine_uses()
        if is_attr
        and use[2] in CACHING
        and use[0::2] != ("hdstats_spark/materialize.py", "cache")
    }


def test_only_materialize_caches():
    found = sorted(_caching_uses() - set(ALLOWED))
    assert not found, f"caching outside hdstats_spark/materialize.py: {found}"


def test_no_private_plan_api():
    found = sorted({use for _, use in _engine_uses() if use[2] in PRIVATE})
    assert not found, f"private Spark plan API under hdstats_spark/: {found}"


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWED) - _caching_uses())
    assert not stale, f"stale ALLOWED entries: {stale}"
