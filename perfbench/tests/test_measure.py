"""Span self-time arithmetic, prefix differencing and byte accounting."""

import os

import pytest

import measure
from measure import Span


def test_union_length_merges_overlaps():
    assert measure.union_length([]) == 0
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("iteration", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("a.inner", 2.0, 3.0, 1, "r"),
        Span("b", 3.5, 6.0, 0, "r"),  # overlaps a: covered once
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10 - 5)  # children cover [1, 6]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2.5)


def test_self_time_clips_children_to_parent():
    spans = [Span("p", 0.0, 2.0, None, "r"), Span("c", 1.0, 5.0, 0, "r")]
    assert measure.self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_records_nesting_and_can_be_disabled():
    tr = measure.Tracer(run_id="run-1")
    with tr.span("outer"):
        with tr.span("inner") as inner:
            pass
    tr.enabled = False
    with tr.span("ignored") as ignored:
        pass
    recs = tr.as_records()
    assert [r["name"] for r in recs] == ["outer", "inner"]
    assert recs[1]["parent"] == 0 and recs[0]["parent"] is None
    assert all(r["run_id"] == "run-1" for r in recs)
    assert inner.dur >= 0 and ignored.dur >= 0  # timing works either way
    by_name = measure.self_time_by_name(tr.spans)
    assert set(by_name) == {"outer", "inner"}


def test_prefix_delta():
    d = {"alkis_prepared": 1.0, "osm_prepared": 0.5, "flagged": 2.25}
    assert measure.prefix_delta(d, "flagged", ("alkis_prepared", "osm_prepared")) == 0.75


def _write(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * n)


def test_bytes_written_ignores_renames_counts_rewrites(tmp_path):
    t = str(tmp_path / "tbl")
    _write(f"{t}/part-0", 100)
    _write(f"{t}/part-1", 50)
    before = measure.file_index(t, t + "__snapshots")
    # copy-on-write commit: old directory moves into the snapshot store,
    # a rewritten table takes its place
    os.makedirs(t + "__snapshots")
    os.rename(t, t + "__snapshots/v1")
    _write(f"{t}/part-0", 120)
    after = measure.file_index(t, t + "__snapshots")
    assert measure.bytes_written(before, after) == 120
    assert measure.tree_bytes(t) == 120
    assert measure.tree_bytes(t, t + "__snapshots") == 270
    assert measure.tree_bytes(str(tmp_path / "missing")) == 0


def test_bytes_written_counts_appends_in_place(tmp_path):
    log = str(tmp_path / "log.json")
    _write(log, 10)
    before = measure.file_index(log)
    with open(log, "ab") as f:
        f.write(b"y" * 5)
    assert measure.bytes_written(before, measure.file_index(log)) == 15


def test_median_of_nothing_is_zero():
    assert measure.median([]) == 0.0
    assert measure.median([3.0, 1.0, 2.0]) == 2.0


def test_descendants_walks_the_tree():
    ppids = {10: 1, 11: 10, 12: 11, 13: 1, 14: 12}
    assert measure.descendants(10, ppids) == {11, 12, 14}
    assert measure.descendants(13, ppids) == set()


def test_band_pairs_matches_brute_force():
    import itertools

    import numpy as np

    import workloads

    rng = np.random.default_rng(1)
    # few distinct band values so that pairs collide in every band
    ph = (rng.integers(0, 4, 40) | (rng.integers(0, 3, 40) << 20)
          | (rng.integers(0, 5, 40) << 40)).astype(np.int64)
    band = lambda x, b: (int(x) >> (20 * b)) % (1 << 20)  # noqa: E731
    want = sum(band(x, b) == band(y, b)
               for x, y in itertools.combinations(ph, 2) for b in range(3))
    assert workloads.band_pairs(ph) == want
