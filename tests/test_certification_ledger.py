"""Gate: no query may ride stale driver evidence (VERDICT r3 #2).

The driver certifies only the first 50 registered queries per round, the
ones ``plans.DRIVER_WINDOW`` lists. Any query outside that window must be
byte-equivalent (fn source + oracle, whitespace-insensitive) to the
version last certified green by a driver round, as recorded in
certification_manifest.json. Changing an
out-of-window query without adding it to DRIVER_WINDOW fails here, not in
the next round's verdict.
"""

from __future__ import annotations

from tests.certification import (
    DRIVER_WINDOW,
    current_hashes,
    load_manifest,
    registration_order,
    stale_out_of_window,
)


def test_no_stale_evidence_outside_driver_window():
    bad = stale_out_of_window()
    assert not bad, (
        f"queries changed (or never certified) but OUTSIDE the driver's "
        f"window — their old driver evidence is stale: {bad}. Add them to "
        f"plans.DRIVER_WINDOW (displace only unchanged, previously-green "
        f"queries), or revert the change, then regenerate via "
        f"`python tests/certification.py update` after the next driver round."
    )


def test_manifest_covers_registry():
    """Every registered query is either certified or inside the window;
    manifest has no entries for queries that left the registry."""
    manifest = load_manifest()
    order = registration_order()
    names = set(order)
    dangling = sorted(set(manifest) - names)
    assert not dangling, f"manifest entries for unregistered queries: {dangling}"
    uncertified = [n for n in order if n not in manifest]
    in_window = set(DRIVER_WINDOW)
    missing = [n for n in uncertified if n not in in_window]
    assert not missing, (
        f"queries with NO driver evidence outside the window: {missing}"
    )


def test_driver_window_is_the_registry_head():
    """plans.DRIVER_WINDOW is the one definition of what the driver checks:
    50 distinct registered names, and both the registry and the driver
    entry point list exactly those first, in that order."""
    import __spark_entry__

    from kinesis_stream_consumer_spark.plans import QUERIES

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)
    assert set(DRIVER_WINDOW) <= set(QUERIES)
    assert list(QUERIES)[:50] == list(DRIVER_WINDOW)
    assert list(__spark_entry__.queries())[:50] == list(DRIVER_WINDOW)


def test_hashes_are_stable_across_import():
    h1 = current_hashes()
    h2 = current_hashes()
    assert h1 == h2


def test_update_refuses_dirty_source_tree(tmp_path, monkeypatch):
    """certification.py update must refuse to stamp hashes over an edited
    tree (VERDICT r10 #1): update() records CURRENT hashes as certified,
    so a post-edit fold would launder uncertified bodies. The guard keys
    on `git status --porcelain` of the source trees the hashes derive
    from; `--i-know-what-im-doing` (force=True) bypasses it."""
    import pytest

    from tests import certification

    monkeypatch.setattr(
        certification, "_dirty_tracked_sources", lambda: [" M plans/x.py"]
    )
    with pytest.raises(SystemExit, match="laundered"):
        certification.update()

    # force path skips the guard entirely and writes a manifest
    monkeypatch.setattr(
        certification,
        "_dirty_tracked_sources",
        lambda: (_ for _ in ()).throw(AssertionError("guard ran under force")),
    )
    monkeypatch.setattr(certification, "MANIFEST", tmp_path / "manifest.json")
    certification.update(force=True)
    assert (tmp_path / "manifest.json").exists()


def test_duplicate_registration_is_hard_error():
    """register() must refuse a name collision (VERDICT r9 #2).

    A silent overwrite would make the driver check one body while the
    ledger hash-holds another. The r9 text_ngram_novelty collision was caught
    only by grep; this pins the loud-failure contract.
    """
    import pytest

    from kinesis_stream_consumer_spark.plans.queries import QUERIES, register

    existing = next(iter(QUERIES))
    before = QUERIES[existing]
    with pytest.raises(ValueError, match="duplicate query registration"):

        @register(existing, oracle=None)
        def _collides(spark, sf_dir):  # pragma: no cover - never runs
            raise AssertionError

    # the registry entry is untouched by the failed attempt
    assert QUERIES[existing] is before
