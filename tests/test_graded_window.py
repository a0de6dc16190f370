"""Contract tests for the driver-graded registry prefix (corpus.GRADED_WINDOW).

The external CORRECTNESS gate grades the first 50 registry entries in
insertion order — these tests pin that the curated window stays exactly
50, leads the registry, is fully oracle-backed (the driver has no
rows-only mode, so a no-oracle entry is a guaranteed red — r2's
dedup_minhash_lsh slot), and spans every SURVEY §2 family tag.
"""

from __future__ import annotations

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import GRADED_WINDOW, load_all

# every window slot must be oracle-backed (r3 verdict item 3)
ROWS_ONLY_OK: set[str] = set()


def test_window_is_exactly_50_and_leads_registry():
    reg = load_all()
    assert len(GRADED_WINDOW) == 50
    assert list(reg)[:50] == list(GRADED_WINDOW)


def test_window_is_oracle_backed():
    reg = load_all()
    missing = [
        n for n in GRADED_WINDOW if reg[n].oracle is None and n not in ROWS_ONLY_OK
    ]
    assert not missing, f"window entries without an oracle: {missing}"


def test_window_spans_every_family():
    reg = load_all()
    tags = {t for n in GRADED_WINDOW for t in reg[n].tags}
    expected = {
        "A1", "A2", "A4", "A5", "A6", "A7", "A8", "A9",
        "B1", "B2", "B3", "B4", "B5", "B6", "B7", "B8", "B9", "B10",
    }
    assert expected.issubset(tags), f"families missing from window: {expected - tags}"


def test_pack_parts_are_registered_leaves():
    """Every pack-table part names a registered query that is not itself a
    table pack, so packs nest exactly one level deep."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.packs import PACKS

    reg = load_all()
    packs = {s.name for s in PACKS}
    for slot in PACKS:
        assert slot.name in reg
        for part in slot.parts:
            assert part.leaf in reg, f"{slot.name}: unregistered leaf {part.leaf}"
            assert part.leaf not in packs, f"{slot.name} nests pack {part.leaf}"


def test_every_pack_is_a_table_slot():
    """A query tagged "pack" is a `PACKS` slot: its parts read registered
    leaves, so no pack re-implements a leaf in its own Spark and SQL."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.packs import PACKS

    reg = load_all()
    slots = {s.name for s in PACKS}
    hand_built = sorted(n for n, spec in reg.items() if "pack" in spec.tags and n not in slots)
    assert hand_built == []
