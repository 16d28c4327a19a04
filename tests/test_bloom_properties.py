"""Property tests for the manifest Bloom index hash/bitmap layer —
pure Python (no Spark), so hypothesis can sweep widely."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    _prune_by_bloom,
)


def _bitmap(values):
    bits = 0
    for v in values:
        for pos in ManifestTable._bloom_positions(v):
            bits |= 1 << pos
    return bits


def _member(bits, v):
    return all(bits >> p & 1 for p in ManifestTable._bloom_positions(v))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
def test_bloom_never_false_negative(values):
    bits = _bitmap(values)
    assert all(_member(bits, v) for v in values)


@settings(max_examples=50, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=2**40), max_size=200),
    st.sets(st.integers(min_value=2**41, max_value=2**42), min_size=50, max_size=200),
)
def test_bloom_false_positive_rate_bounded(present, absent):
    """Disjoint probe set: with 32K bits / k=3 and <=200 keys the FP
    rate is ~1e-5; allow a generous margin (it is an optimization —
    the assertion only guards against a degenerate hash)."""
    bits = _bitmap(present)
    fps = sum(1 for v in absent if _member(bits, v))
    assert fps <= max(2, len(absent) // 10)


def test_bloom_positions_stable_and_in_range():
    for v in (0, 1, 63, 2**31, 2**40 + 123):
        pos = ManifestTable._bloom_positions(v)
        assert pos == ManifestTable._bloom_positions(v)
        assert len(pos) == ManifestTable.BLOOM_HASHES
        assert all(0 <= p < ManifestTable.BLOOM_BITS for p in pos)


# ---------------------------------------------------------------------------
# Dictionary (string membership) records in the same channel
# ---------------------------------------------------------------------------

_WORDS = st.text(
    alphabet="abcdefghij", min_size=1, max_size=4
)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.sets(_WORDS, min_size=1, max_size=8), min_size=1, max_size=6),
    st.sets(_WORDS, min_size=1, max_size=5),
)
def test_dict_prune_exact_membership(tmp_path_factory, file_dicts, probe):
    """The dictionary index is EXACT: a file is kept iff its recorded
    value set intersects the probe set; files without a record are
    always kept."""
    tmp = tmp_path_factory.mktemp("dictprop")
    t = ManifestTable(str(tmp / "t"))
    rels = [f"s/f{i}.parquet" for i in range(len(file_dicts))]
    commits = [
        {
            "added": rels + ["s/norecord.parquet"],
            "removed": [],
            "dates": [],
            "blooms": {
                r: {"plan": sorted(vals)}
                for r, vals in zip(rels, file_dicts)
            },
        }
    ]
    import os as _os

    files = [_os.path.join(t.data_dir, r) for r in commits[0]["added"]]
    kept = set(
        _prune_by_bloom(t, files, commits, {"plan": sorted(probe)})
    )
    for r, vals in zip(rels, file_dicts):
        f = _os.path.join(t.data_dir, r)
        assert (f in kept) == bool(vals & probe)
    assert _os.path.join(t.data_dir, "s/norecord.parquet") in kept


def test_dict_and_int_probes_never_cross_encodings(tmp_path):
    """An int probe must ignore list records and a string probe must
    ignore hex records — value type selects the encoding, so a table
    with both indexes on differently-typed columns never misreads one
    as the other."""
    import os as _os

    t = ManifestTable(str(tmp_path / "t"))
    bits = 0
    for pos in ManifestTable._bloom_positions(7):
        bits |= 1 << pos
    commits = [
        {
            "added": ["s/a.parquet"],
            "removed": [],
            "dates": [],
            "blooms": {
                "s/a.parquet": {"meter": f"{bits:x}", "plan": ["tou"]}
            },
        }
    ]
    files = [_os.path.join(t.data_dir, "s/a.parquet")]
    # int probe on the STRING column: no prune (wrong encoding)
    assert _prune_by_bloom(t, files, commits, {"plan": [7]}) == files
    # string probe on the INT column: no prune (wrong encoding)
    assert _prune_by_bloom(t, files, commits, {"meter": ["7"]}) == files
    # right-typed probes behave: bloom miss prunes, dict miss prunes
    assert _prune_by_bloom(t, files, commits, {"plan": ["basic"]}) == []
    present = _prune_by_bloom(t, files, commits, {"meter": [7]})
    assert present == files
