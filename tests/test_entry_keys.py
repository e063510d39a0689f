"""The contract entry's cached snapshots are keyed by the engine's
source as well as by the data path, so a changed engine never scores
snapshots an older engine wrote."""

import types

import __spark_entry__ as entry


def test_snapshot_key_changes_with_engine_fingerprint(monkeypatch):
    key = entry._snapshot_key("/data/sf0.01", "merged:v1")
    assert key == entry._snapshot_key("/data/sf0.01", "merged:v1")
    assert key != entry._snapshot_key("/data/sf0.01", "deleted:v1")
    monkeypatch.setattr(entry, "_engine_fingerprint", lambda: "another engine")
    assert entry._snapshot_key("/data/sf0.01", "merged:v1") != key


def test_engine_fingerprint_hashes_package_source(tmp_path, monkeypatch):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "mod.py").write_text("X = 1\n")
    monkeypatch.setattr(entry, "engine_pkg", types.SimpleNamespace(
        __file__=str(pkg / "__init__.py")))
    fingerprint = entry._engine_fingerprint.__wrapped__  # uncached
    before = fingerprint()
    assert fingerprint() == before
    (pkg / "sub" / "mod.py").write_text("X = 2\n")
    assert fingerprint() != before
