"""Geohash-keyed point-in-polygon join — string-key interop sibling of
:class:`.s2pip.S2PipIndex`.

When the big side arrives ALREADY bucketed by geohash strings (the most
common web-corpus spatial key), the candidate pass is a broadcast
equi-join on a STRING PREFIX: ancestor-at-precision-p of a point's key
is ``substr(key, 1, p)`` — the geohash hierarchy is literally the
prefix order, so no bit arithmetic and no Arrow keying pass are needed
(the per-point key itself is pure Catalyst, :func:`..geom.cellkeys
.geohash_col`).

The build, the tiered join and the exact refine are the covering-join
core in ``pip.py`` (``_CoveringIndex``); this module supplies only the
geohash keyer, the prefix ancestor and the geohash coverer.  Covering
tables are geometry-bounded and broadcast; the big side is scanned once
(twice when generic regions exist); prefix joins are AQE-friendly
broadcast hash joins on short strings.
Reference analog: ``datacube/drivers/postgis/_spatial.py:62-97``.
"""

from __future__ import annotations

import functools
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.cellkeys import geohash_col
from ..geom.ghcover import MAX_PRECISION, geohash_covering, pick_precision
from .pip import _LEAF, _CoveringIndex


def _gh_cover(target: int, precision: Optional[int], mp):
    pr = precision if precision is not None else pick_precision(mp, target)
    keys, interior = geohash_covering(mp, pr)
    return [pr] * len(keys), keys, interior


class GeohashPipIndex(_CoveringIndex):
    """Build-once geohash covering index of a region table (same
    ``region_id`` + packed-multipolygon ``geom`` contract as PipIndex /
    S2PipIndex; driver loop below the shared build threshold, executor
    ``mapInPandas`` above it)."""

    _KEY_TYPE = "STRING"

    def __init__(
        self,
        spark: SparkSession,
        regions_df: DataFrame,
        target_cells_per_axis: int = 8,
        precision: Optional[int] = None,
    ):
        cover = functools.partial(_gh_cover, int(target_cells_per_axis), precision)
        self._build(spark, regions_df, cover)

    def _with_leaf(self, df: DataFrame, lon: str, lat: str) -> DataFrame:
        return df.withColumn(_LEAF, geohash_col(F.col(lon), F.col(lat), MAX_PRECISION))

    def _ancestor(self, leaf, precision: int):
        return F.substring(leaf, 1, precision)

    def join(
        self,
        pages_df: DataFrame,
        lon: str = "lon",
        lat: str = "lat",
        keep_cols: Optional[list] = None,
        key_col: Optional[str] = None,
    ) -> DataFrame:
        """Pages → regions whose interior strictly contains them
        (PipIndex's output contract).  ``key_col`` names a pre-existing
        max-precision geohash column — the external-table interop case;
        when omitted the key is computed in pure Catalyst."""
        return self._join(pages_df, lon, lat, keep_cols, key_col)
