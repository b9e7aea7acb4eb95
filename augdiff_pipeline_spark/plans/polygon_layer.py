"""Polygon layer: current polygonal geometry of the OSM state.

Latest visible version per entity (A2 top-1 window) → way polygons
(closed + isArea) and multipolygon relations (assembly kernel), re-using
the render plan's history-shaped inputs with before≡null; output rows
carry WKB + the cover intervals (FIXTURES.md §5 shape, flattened to one
row per interval for the broadcast index).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.packing import pair_to_long
from ..geometry import core, wkb
from ..operators import render
from ..operators.cover import polygon_cover
from ..schemas import OSM_COLUMNS


def _latest_visible(state: DataFrame) -> DataFrame:
    w = Window.partitionBy("id", "type").orderBy(
        F.col("timestamp").desc(), F.col("version").desc()
    )
    return (
        state.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & F.col("visible"))
        .drop("_rn")
    )


def _as_hist(df: DataFrame) -> DataFrame:
    """Shape latest rows like a history table: in_row = latest, before = null."""
    row = F.struct(*[F.col(c) for c in OSM_COLUMNS]).alias("in_row")
    return df.select(F.col("id"), row).withColumn(
        "before_row", F.lit(None).cast(df.select(F.struct(*OSM_COLUMNS).alias("s")).schema["s"].dataType)
    )


def build_polygon_layer(
    spark, state: DataFrame, max_res: int = 14, min_res: int = 4
) -> DataFrame:
    """DataFrame[feature_id, kind, geom_wkb, cell_lo, cell_hi]."""
    latest = _latest_visible(state).localCheckpoint(eager=True)

    node_hist = _as_hist(latest.filter(F.col("type") == "node"))
    way_hist = _as_hist(latest.filter(F.col("type") == "way"))
    rel_hist = _as_hist(latest.filter(F.col("type") == "relation"))

    node_pts = render.node_points(node_hist).localCheckpoint(eager=True)
    # before_row is null throughout, so only mode-a geometries appear
    ways = render.way_wkbs(way_hist, node_pts).localCheckpoint(eager=True)
    rels = render.relation_wkbs(rel_hist, node_pts, ways)
    feats = ways.unionByName(rels).filter(F.col("wkb").isNotNull()).select(
        pair_to_long(F.col("id"), F.col("etype")).alias("feature_id"),
        F.col("etype").alias("kind"),
        F.col("wkb").alias("geom_wkb"),
    )

    def kernel(it):
        for pdf in it:
            out = {
                "feature_id": [], "kind": [], "geom_wkb": [],
                "cell_lo": [], "cell_hi": [], "cell_full": [],
            }
            for fid, kind, blob in zip(pdf["feature_id"], pdf["kind"], pdf["geom_wkb"]):
                geom = wkb.loads(bytes(blob))
                if not isinstance(geom, (core.Polygon, core.MultiPolygon)):
                    continue  # only polygonal features enter the layer
                lo, hi, full = polygon_cover(geom, max_res=max_res, min_res=min_res)
                for l, h, fl in zip(lo, hi, full):
                    out["feature_id"].append(fid)
                    out["kind"].append(kind)
                    out["geom_wkb"].append(bytes(blob))
                    out["cell_lo"].append(int(l))
                    out["cell_hi"].append(int(h))
                    out["cell_full"].append(bool(fl))
            yield pd.DataFrame(out)

    return feats.mapInPandas(
        kernel,
        "feature_id long, kind string, geom_wkb binary, cell_lo long, cell_hi long, cell_full boolean",
    )
