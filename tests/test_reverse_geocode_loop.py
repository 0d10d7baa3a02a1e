"""Parity of the fused Arrow reverse-geocode loop across its entry points.

``reverse_geocode`` (one region set) and ``reverse_geocode_multi`` build the
same ``mapInArrow`` stage; the direct assignments must also match the
Catalyst-visible ``strategy="join"``. Run on 3-row Arrow batches so batch
edges, an empty partition and every null / non-finite rule are crossed.
"""

import math

import pytest

from geocode_spark.operators.reverse_geocode import (reverse_geocode,
                                                     reverse_geocode_multi)
from geocode_spark.regions import load_prepared

NAN, INF = float("nan"), float("inf")

# row_id, latitude, longitude (double), ilat, ilon (int), tag
ROWS = [
    (0, 54.547776537068664, -1.195629080286167, 54, -1, "inside"),
    (1, 53.666095344794648, -1.703771184460476, 53, -2, "inside"),
    (2, 51.578729873335718, -0.068445270723745, 52, 0, "inside"),
    (3, 54.56, -1.195, 55, -4, "near"),
    (4, 53.905, -1.205, 56, -4, "near"),
    (5, 10.0, 10.0, 10, 10, "far"),
    (6, None, -1.195, None, -1, "null lat"),
    (7, 54.52, None, 54, None, "null lon"),
    (8, NAN, -1.195, 53, -3, "nan lat"),
    (9, 54.52, INF, 51, 0, "+inf lon"),
    (10, -INF, -1.195, 0, 0, "-inf lat"),
]
SCHEMA = ("row_id long, latitude double, longitude double, ilat int, "
          "ilon int, tag string")
BOUNDS = {"m": 100_000.0, "deg": 1.0}


@pytest.fixture(scope="module")
def llsoa(fixture_dir):
    return load_prepared("llsoa", fixture_dir / "prepared")


def _finite(*xs):
    return all(x is not None and math.isfinite(x) for x in xs)


@pytest.mark.parametrize("lat_col,lon_col", [("latitude", "longitude"),
                                             ("ilat", "ilon")])
def test_single_multi_and_join_agree(spark, llsoa, lat_col, lon_col):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        rdd = spark.sparkContext.parallelize(ROWS, len(ROWS) + 3)
        pts = spark.createDataFrame(rdd, SCHEMA)
        assert 0 in pts.rdd.glom().map(len).collect()  # an empty partition
        coords = {r[0]: (r[1], r[2]) if lat_col == "latitude" else (r[3], r[4])
                  for r in ROWS}

        direct = {r.row_id: r for r in reverse_geocode(
            pts, llsoa, lat_col, lon_col, keep_cell=True).collect()}
        joined = {r.row_id: r for r in reverse_geocode(
            pts, llsoa, lat_col, lon_col, keep_cell=True,
            strategy="join").collect()}
        assert len(direct) == len(joined) == len(ROWS)
        for i, r in direct.items():
            assert r.region_id == joined[i].region_id, r
            if _finite(*coords[i]):
                assert r.cell_id == joined[i].cell_id, r
            else:
                assert r.region_id is None and r.cell_id is None, r

        fallback_hits = 0
        for unit, bound in BOUNDS.items():
            one = reverse_geocode(
                pts, llsoa, lat_col, lon_col, out_col="llsoa",
                max_distance=bound, distance_unit=unit, keep_cell=True,
                keep_distance=True, output_cols=["row_id", "tag"])
            multi = reverse_geocode_multi(
                pts, [(llsoa, "llsoa",
                       {"max_distance": bound, "distance_unit": unit})],
                lat_col, lon_col, output_cols=["row_id", "tag"],
                keep_cell=True)
            assert one.columns == ["row_id", "tag", "llsoa", "cell_id",
                                   "knn_dist"]
            assert multi.columns == one.columns[:-1]
            got = {r.row_id: r for r in one.collect()}
            assert ({i: tuple(r)[:-1] for i, r in got.items()}
                    == {r.row_id: tuple(r) for r in multi.collect()})
            for i, r in got.items():
                assert r.cell_id == direct[i].cell_id, r
                if direct[i].region_id is not None:
                    assert r.llsoa == direct[i].region_id, r
                    assert r.knn_dist is None, r
                elif r.llsoa is not None:
                    assert 0.0 <= r.knn_dist <= bound, r
                    fallback_hits += 1
                else:
                    assert r.knn_dist is None, r
        assert fallback_hits > 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
