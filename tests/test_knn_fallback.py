"""The bounded nearest-region fallback (``_knn_fallback``).

* Exact distance ties go to the lowest ``region_seq`` whatever else shares
  the batch (two squares sharing an edge, a point straight above it).
* Pruning safety: against a brute force over every region with the same
  exact kernels, each returned distance is the minimum bit for bit, the code
  is the lowest-seq region at that distance, and the code is -1 exactly when
  the minimum exceeds ``max_distance``.
"""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geocode_spark.geometry import (METERS_PER_DEG, dist_to_polygon_m_prepared,
                                    dist_to_polygon_prepared)
from geocode_spark.operators.reverse_geocode import (_CoverIndex,
                                                     _knn_fallback,
                                                     reverse_geocode)
from geocode_spark.regions import load_prepared, prepare_regions

LEFT = [(0.0, 50.0), (1.0, 50.0), (1.0, 51.0), (0.0, 51.0)]
RIGHT = [(1.0, 50.0), (2.0, 50.0), (2.0, 51.0), (1.0, 51.0)]
# (lon, lat): two points straight above the shared edge x=1 (exact ties),
# one east of RIGHT and one west of LEFT (each reaches one square first)
TIE = [(1.0, 51.05), (1.0, 51.2)]
EAST, WEST = (2.1, 50.5), (-0.1, 50.5)
UNITS = {"deg": (False, 0.5), "m": (True, 50_000.0)}


def _squares(first):
    recs = {"LEFT": LEFT, "RIGHT": RIGHT}
    order = [first, "RIGHT" if first == "LEFT" else "LEFT"]
    return prepare_regions([{"region_id": r, "rings": [recs[r]]}
                            for r in order], "tie")


def _fallback(prep, pts, unit):
    metric, max_d = UNITS[unit]
    index = _CoverIndex(prep.cover, prep.geoms)
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    code, _ = _knn_fallback(px, py, index, prep.res, max_d, metric)
    return [index.rids[c] if c >= 0 else None for c in code]


@pytest.mark.parametrize("unit", sorted(UNITS))
@pytest.mark.parametrize("first", ["LEFT", "RIGHT"])
def test_exact_tie_goes_to_lowest_seq(first, unit):
    prep = _squares(first)
    index = _CoverIndex(prep.cover, prep.geoms)
    dist = (dist_to_polygon_m_prepared if UNITS[unit][0]
            else dist_to_polygon_prepared)
    for x, y in TIE:  # the tie is exact in the kernel itself
        d = [dist(np.array([x]), np.array([y]), index.prepared(r))[0]
             for r in range(2)]
        assert d[0] == d[1] > 0
    solo = {p: _fallback(prep, [p], unit)[0] for p in TIE + [EAST, WEST]}
    assert [solo[p] for p in TIE] == [first, first]
    assert (solo[EAST], solo[WEST]) == ("RIGHT", "LEFT")
    # after a point that reaches the squares in the opposite order
    for lead in (EAST, WEST):
        for p in TIE:
            assert _fallback(prep, [lead, p], unit) == [solo[lead], first]
    # every permutation of a small batch
    pts = TIE + [EAST, WEST]
    for perm in itertools.permutations(pts):
        assert _fallback(prep, list(perm), unit) == [solo[p] for p in perm]


@pytest.mark.parametrize("first", ["LEFT", "RIGHT"])
def test_exact_tie_through_reverse_geocode(spark, first):
    prep = _squares(first)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        # the tie points sit in different batches behind EAST / WEST leads
        pts = [EAST, TIE[0], WEST, WEST, TIE[1], EAST, TIE[1], TIE[0]]
        rows = [(i, lat, lon) for i, (lon, lat) in enumerate(pts)]
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2),
            "row_id long, latitude double, longitude double")
        got = {r.row_id: r.region_id for r in reverse_geocode(
            df, prep, max_distance=0.5, distance_unit="deg").collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    want = {EAST: "RIGHT", WEST: "LEFT", TIE[0]: first, TIE[1]: first}
    assert got == {i: want[p] for i, p in enumerate(pts)}


# ------------------------------------------------------- pruning safety

_INDEXES = {}


def _index(fixture_dir, name):
    if name not in _INDEXES:
        prep = load_prepared(name, fixture_dir / "prepared")
        _INDEXES[name] = (prep, _CoverIndex(prep.cover, prep.geoms))
    return _INDEXES[name]


def _brute(index, px, py, metric):
    """Min exact distance over every region and the lowest-seq region code
    at that distance."""
    dist = dist_to_polygon_m_prepared if metric else dist_to_polygon_prepared
    by_seq = np.argsort(index.rseq)
    d = np.stack([dist(px, py, index.prepared(int(r))) for r in by_seq])
    arg = d.argmin(axis=0)  # first of equal minima = lowest seq
    return d[arg, np.arange(len(px))], by_seq[arg]


_point = st.tuples(
    st.sampled_from(["bbox_edge", "near", "beyond"]),
    st.integers(0, 10_000),             # region pick
    st.integers(0, 3),                  # side
    st.floats(0.0, 1.0),                # position along the side / box
    st.floats(0.0, 1.0),
    st.floats(0.0, 3.0))                # distance scale


def _make_point(kind, rpick, side, u, v, scale, index, max_deg):
    bb = index.bbox
    if kind == "beyond":  # outside the whole set's extent by > max_distance
        x0, y0, x1, y1 = bb[0].min(), bb[1].min(), bb[2].max(), bb[3].max()
        off = max_deg * (1.5 + scale) / np.cos(np.radians(max(abs(y0), abs(y1))))
    else:
        x0, y0, x1, y1 = bb[:, rpick % bb.shape[1]]
        off = 0.0 if kind == "bbox_edge" else max_deg * scale
    x = x0 - off + u * (x1 - x0 + 2 * off)
    y = y0 - off + v * (y1 - y0 + 2 * off)
    if kind != "near":  # on an edge of the (padded) box
        x, y = [(x0 - off, y), (x1 + off, y), (x, y0 - off), (x, y1 + off)][side]
    return x, y


@pytest.mark.parametrize("name,unit,max_d", [
    ("complex", "m", 30_000.0), ("complex", "deg", 0.3),
    ("llsoa", "m", 15_000.0), ("llsoa", "deg", 0.1)])
@settings(max_examples=60, deadline=None)
@given(points=st.lists(_point, min_size=1, max_size=6),
       bound=st.sampled_from(["fixed", "at_min", "below_min", "above_min"]))
def test_pruning_matches_brute_force(fixture_dir, name, unit, max_d, points,
                                     bound):
    prep, index = _index(fixture_dir, name)
    metric = unit == "m"
    max_deg = max_d / METERS_PER_DEG if metric else max_d
    xy = np.array([_make_point(*p, index, max_deg) for p in points])
    px, py = xy[:, 0], xy[:, 1]
    best, seq_code = _brute(index, px, py, metric)
    if bound != "fixed" and best[0] <= 2 * max_d:
        # just inside / exactly at / just outside the first point's minimum
        max_d = {"at_min": best[0],
                 "below_min": np.nextafter(best[0], -np.inf),
                 "above_min": np.nextafter(best[0], np.inf)}[bound]
    code, dist = _knn_fallback(px, py, index, prep.res, max_d, metric)
    within = best <= max_d
    assert np.array_equal(code >= 0, within)
    assert np.array_equal(dist[within], best[within])
    assert np.array_equal(code[within], seq_code[within])
