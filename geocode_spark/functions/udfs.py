"""Arrow-vectorized pandas UDFs — the engine's entire Python surface.

Per BASELINE.json input_hint: "no per-row Python". Each UDF is a thin Arrow
batch wrapper over the numpy kernels in crs.py / cells.py; everything else
in the engine is Catalyst expressions (whole-stage codegen).

Replaces the reference's pyproj calls (utilities.py:335-391) and the
GeoPandas-internal spatial index (utilities.py:267).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..cells import cell_of
from ..crs import bng_to_latlon, latlon_to_bng

_LATLON = StructType([StructField("lat", DoubleType()),
                      StructField("lon", DoubleType())])
_EN = StructType([StructField("easting", DoubleType()),
                  StructField("northing", DoubleType())])


@F.pandas_udf(_LATLON)
def bng_to_latlon_udf(eastings: pd.Series, northings: pd.Series) -> pd.DataFrame:
    """EPSG:27700 -> WGS84 (utilities.py:365-391 bng2latlon), Arrow batch."""
    lat, lon = bng_to_latlon(eastings.to_numpy(np.float64),
                             northings.to_numpy(np.float64))
    return pd.DataFrame({"lat": lat, "lon": lon})


@F.pandas_udf(_EN)
def latlon_to_bng_udf(lats: pd.Series, lons: pd.Series) -> pd.DataFrame:
    """WGS84 -> EPSG:27700 (utilities.py:335-362 latlon2bng), Arrow batch."""
    e, n = latlon_to_bng(lats.to_numpy(np.float64), lons.to_numpy(np.float64))
    return pd.DataFrame({"easting": e, "northing": n})


def cell_udf(res: int):
    """cell_of(lat, lon) at a fixed resolution (SURVEY F10)."""

    @F.pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(cell_of(lat.to_numpy(np.float64),
                                 lon.to_numpy(np.float64), res))

    return _cell


def cell_ij_udf(res: int):
    """(lat, lon) -> struct(i, j) grid coordinates at ``res`` — the
    SQL-checkable decomposition of the Morton cell id."""
    from ..cells import _ij_of

    schema = StructType([StructField("i", LongType()),
                         StructField("j", LongType())])

    @F.pandas_udf(schema)
    def _ij(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        i, j = _ij_of(lat.to_numpy(np.float64), lon.to_numpy(np.float64), res)
        return pd.DataFrame({"i": i, "j": j})

    return _ij


# UK postcode grammar (public GOV.UK spec): outward = area letters + district,
# inward = digit + two letters. Used for extraction from free text (SURVEY F13).
UK_POSTCODE_REGEX = r"\b([A-Z]{1,2}[0-9][A-Z0-9]?)\s?([0-9][A-Z]{2})\b"


def extract_postcodes(text_col, regex: str = UK_POSTCODE_REGEX):
    """array<string> of normalized (despaced, upper) postcodes found in text.

    Pure Catalyst (regexp_extract_all + transform) — JVM-side, codegen'd;
    the extracted ``text`` itself is never modified (byte-identical per url,
    BASELINE.json invariant).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    matches = F.regexp_extract_all(F.upper(c), F.lit(regex), F.lit(0))
    return F.transform(matches, lambda x: F.replace(x, F.lit(" "), F.lit("")))
