"""Guard: ``icelite._labelled_scan`` is the one place a scanned row is tied
to its file.

No definition under ``hdstats_spark/`` other than ``_labelled_scan`` refers
to ``input_file_name`` (a name, an attribute, or any string constant that
contains it, docstrings included, so ``F.expr("input_file_name()")``
counts) or to
``create_map``, except the definitions listed in ``ALLOWED`` with the
reason their map is not a per-file label map.
"""

from tests.test_cache_policy import _engine_uses

HELPER = ("hdstats_spark/icelite.py", "_labelled_scan")

ALLOWED = {
    ("hdstats_spark/operators/multimodal.py", "assets_from_docs", "create_map"): (
        "each asset's metadata map is built from its document id column; "
        "no file is involved"
    ),
}


def _file_label_uses():
    return {
        (rel, where, "input_file_name" if "input_file_name" in name else name)
        for _, (rel, where, name) in _engine_uses()
        if "input_file_name" in name or name == "create_map"
    }


def test_only_the_helper_maps_files_to_labels():
    uses = _file_label_uses()
    helper = {(*HELPER, "input_file_name"), (*HELPER, "create_map")}
    assert helper <= uses, f"{HELPER} no longer found where the guard looks"
    found = sorted(uses - helper - set(ALLOWED))
    assert not found, f"file-to-label mapping outside {HELPER}: {found}"


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWED) - _file_label_uses())
    assert not stale, f"stale ALLOWED entries: {stale}"
