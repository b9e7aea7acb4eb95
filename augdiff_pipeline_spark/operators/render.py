"""Geometry rendering plan: entity histories → mode-tagged WKB → features.

Distributed re-expression of the reference's driver-side getGeometry /
emission state machine (reference RowsToJson.scala:272-383):

- two render modes per entity id, carried as a ``mode`` column rather
  than as separate tables: ``a`` ("after": in-window row, member lookups
  fall back in→before — RowsToJson:277-283) and ``b`` ("before":
  before-window row, before-only lookups).  The way and relation
  renderers each return one ``(etype, id, mode, wkb)`` table that holds
  both modes;
- ways: posexplode(nds) ⋈ broadcast node-coordinate lookup → sorted
  collect → Arrow kernel builds Line, or Polygon when the way isArea and
  closed (RowsToJson:294);
- relations: bounded rounds over the membership DAG, keyed by (id,
  mode) so both modes share one fixpoint — round k assembles every
  relation whose relation-members were assembled in rounds < k;
  kernels: buildMultiPolygon for type=multipolygon tags, MultiLine when
  every member geometry is a line, else GeometryCollection
  (RowsToJson:329-345); unresolved members are dropped from roles/types
  *and* geoms in lockstep (the reference zips full-length role arrays
  with resolved-only wkb arrays, silently misaligning when a member is
  unresolvable — on such inputs its assembly generally fails to
  GeometryCollection; we keep the arrays aligned);
- emission (RowsToJson:353-383): create → 1 visible feature; modify →
  after-feature + invisible before-feature; delete → invisible
  before-feature only.  One pass per batch: the three history frames
  are unioned under an ``etype`` tag, each row yields its after and/or
  before line natively, ONE join attaches the geometry table and ONE
  kernel renders every line.  Nodes take their point from the row's own
  coordinates, so they never enter the geometry table.

All geometry work happens in mapInPandas Arrow kernels over batch-scoped
groups; the node-coordinate lookup is broadcast.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.osm_tags import is_area_py, is_multipolygon_py
from ..geometry import assembly, core, wkb

GEOM_SCHEMA = "etype string, id long, mode string, wkb binary"


def node_points(node_hist: DataFrame) -> DataFrame:
    """(id, ax, ay, bx, by): per-mode coordinates for every node in scope."""
    after = F.coalesce(F.col("in_row"), F.col("before_row"))
    return node_hist.select(
        "id",
        after["lon"].cast("double").alias("ax"),
        after["lat"].cast("double").alias("ay"),
        F.col("before_row")["lon"].cast("double").alias("bx"),
        F.col("before_row")["lat"].cast("double").alias("by"),
    )


def _mode_rows(hist: DataFrame) -> DataFrame:
    """(id, mode, r): one row per render mode whose source row exists —
    mode a renders the in-window row (falling back to the before row),
    mode b the before row."""
    after = F.coalesce(F.col("in_row"), F.col("before_row"))
    return hist.select(
        "id",
        F.explode(
            F.filter(
                F.array(
                    F.struct(F.lit("a").alias("mode"), after.alias("r")),
                    F.struct(F.lit("b").alias("mode"), F.col("before_row").alias("r")),
                ),
                lambda s: s["r"].isNotNull(),
            )
        ).alias("mr"),
    ).select("id", "mr.mode", "mr.r")


def _node_xy(node_pts: DataFrame) -> DataFrame:
    return F.broadcast(node_pts.select(F.col("id").alias("nid"), "ax", "ay", "bx", "by"))


def _mode_xy():
    """(x, y): the joined node's coordinates in the row's own mode."""
    a = F.col("mode") == "a"
    return (
        F.when(a, F.col("ax")).otherwise(F.col("bx")).alias("x"),
        F.when(a, F.col("ay")).otherwise(F.col("by")).alias("y"),
    )


def way_wkbs(way_hist: DataFrame, node_pts: DataFrame) -> DataFrame:
    """(etype, id, mode, wkb) for every renderable way in both modes, in
    one explode + join + agg + kernel pass (the modes differ only in
    which history row supplies nds and which coordinate pair the node
    lookup yields).  wkb is null when a node coordinate is missing."""
    exploded = _mode_rows(way_hist).select(
        "id", "mode",
        F.col("r.tags").alias("tags"),
        F.posexplode("r.nds").alias("pos", "nd"),
    ).join(
        _node_xy(node_pts), F.col("nd.ref") == F.col("nid"), "left"
    ).select("id", "mode", "tags", "pos", *_mode_xy())
    agg = exploded.groupBy("id", "mode").agg(
        F.sort_array(F.collect_list(F.struct("pos", "x", "y"))).alias("pts"),
        F.first("tags").alias("tags"),
    )

    def kernel(it):
        for pdf in it:
            out_wkb = []
            for pts, tags in zip(pdf["pts"], pdf["tags"]):
                xs = np.array([p["x"] for p in pts], dtype=np.float64)
                ys = np.array([p["y"] for p in pts], dtype=np.float64)
                if len(xs) == 0 or np.isnan(xs).any() or np.isnan(ys).any() or any(p["x"] is None for p in pts):
                    out_wkb.append(None)
                    continue
                coords = np.stack([xs, ys], axis=1)
                closed = len(coords) >= 2 and (coords[0] == coords[-1]).all()
                tags_d = dict(tags) if tags is not None else {}
                if is_area_py(tags_d) and closed and len(coords) >= 4:
                    geom: core.Geometry = core.Polygon((coords,))
                else:
                    geom = core.LineString(coords)
                out_wkb.append(wkb.dumps(geom))
            yield pd.DataFrame({"id": pdf["id"], "mode": pdf["mode"], "wkb": out_wkb})

    return agg.mapInPandas(kernel, "id long, mode string, wkb binary").select(
        F.lit("way").alias("etype"), "id", "mode", "wkb"
    )


def relation_wkbs(
    rel_hist: DataFrame,
    node_pts: DataFrame,
    way_wkb: DataFrame,
    max_rounds: int = 8,
) -> DataFrame:
    """(etype, id, mode, wkb) for every renderable relation in both
    modes — one set of bounded rounds over the relation-membership DAG,
    keyed by (id, mode) so each mode resolves its members only against
    geometries of the same mode."""
    rows = _mode_rows(rel_hist)
    members = rows.select(
        "id", "mode",
        F.col("r.tags").alias("tags"),
        F.posexplode("r.members").alias("pos", "m"),
    ).select(
        "id", "mode", "tags", "pos",
        F.col("m.type").alias("mtype"),
        F.col("m.ref").alias("mid"),
        F.col("m.role").alias("role"),
    )
    # node/way member geometries are immediately available; relation
    # members in scope are pending until their own round assembles them
    ways = way_wkb.select(
        F.col("id").alias("wmid"), F.col("mode").alias("wmode"), F.col("wkb").alias("way_wkb")
    )
    in_scope = rows.select(F.col("id").alias("rmid"), F.col("mode").alias("rmode"))
    base = (
        members.join(_node_xy(node_pts), (F.col("mtype") == "node") & (F.col("mid") == F.col("nid")), "left")
        .join(
            F.broadcast(ways),
            (F.col("mtype") == "way") & (F.col("mid") == F.col("wmid")) & (F.col("mode") == F.col("wmode")),
            "left",
        )
        .join(
            F.broadcast(in_scope),
            (F.col("mtype") == "relation") & (F.col("mid") == F.col("rmid")) & (F.col("mode") == F.col("rmode")),
            "left",
        )
        .select(
            "id", "mode", "tags", "pos", "mtype", "mid", "role", *_mode_xy(), "way_wkb",
            F.col("rmid").isNotNull().alias("rel_pending"),
            F.lit(None).cast("binary").alias("rel_wkb"),
        )
        .localCheckpoint(eager=True)
    )

    done: DataFrame | None = None
    pending = base
    for _ in range(max_rounds):
        if pending.isEmpty():
            break
        if done is not None:
            pending = pending.drop("rel_wkb").join(
                F.broadcast(done.select(
                    F.col("id").alias("dmid"), F.col("mode").alias("dmode"), F.col("wkb").alias("rel_wkb")
                )),
                (F.col("mtype") == "relation") & (F.col("mid") == F.col("dmid")) & (F.col("mode") == F.col("dmode")),
                "left",
            ).drop("dmid", "dmode")
        undecided = F.col("rel_pending") & F.col("rel_wkb").isNull()
        blocked = pending.filter(undecided).select("id", "mode").distinct()
        ready = pending.join(F.broadcast(blocked), ["id", "mode"], "left_anti")
        still = pending.join(F.broadcast(blocked), ["id", "mode"], "left_semi").localCheckpoint(eager=True)

        assembled = _assemble_relations(ready)
        done = assembled if done is None else done.unionByName(assembled)
        done = done.localCheckpoint(eager=True)
        pending = still
    if done is not None and not pending.isEmpty():
        # cycles / depth overflow: assemble with unresolved members dropped
        leftover = _assemble_relations(pending)
        done = done.unionByName(leftover).localCheckpoint(eager=True)
    elif done is None:
        done = _assemble_relations(pending)
    return done.select(F.lit("relation").alias("etype"), "id", "mode", "wkb")


def _assemble_relations(members: DataFrame) -> DataFrame:
    agg = members.groupBy("id", "mode").agg(
        F.first("tags").alias("tags"),
        F.sort_array(
            F.collect_list(F.struct("pos", "mtype", "role", "x", "y", "way_wkb", "rel_wkb"))
        ).alias("ms"),
    )

    def kernel(it):
        for pdf in it:
            out_wkb = []
            for tags, ms in zip(pdf["tags"], pdf["ms"]):
                roles, types, geoms = [], [], []
                for m in ms:
                    g: core.Geometry | None = None
                    if m["mtype"] == "node" and m["x"] is not None and not pd.isna(m["x"]):
                        g = core.Point(float(m["x"]), float(m["y"]))
                    elif m["mtype"] == "way" and m["way_wkb"] is not None:
                        g = wkb.loads(bytes(m["way_wkb"]))
                    elif m["mtype"] == "relation" and m["rel_wkb"] is not None:
                        g = wkb.loads(bytes(m["rel_wkb"]))
                    if g is None:
                        continue  # unresolved member dropped (aligned arrays)
                    roles.append(m["role"])
                    types.append(m["mtype"])
                    geoms.append(g)
                tags_d = dict(tags) if tags is not None else {}
                geom: core.Geometry | None
                if is_multipolygon_py(tags_d):
                    geom = assembly.build_multipolygon(roles, geoms, types)
                    if geom is None:
                        geom = core.GeometryCollection(tuple(geoms))
                elif geoms and all(
                    isinstance(g, (core.LineString, core.MultiLineString)) for g in geoms
                ):
                    geom = assembly.build_multiline(geoms) or core.GeometryCollection(tuple(geoms))
                else:
                    geom = core.GeometryCollection(tuple(geoms))
                out_wkb.append(wkb.dumps(geom))
            yield pd.DataFrame({"id": pdf["id"], "mode": pdf["mode"], "wkb": out_wkb})

    return agg.mapInPandas(kernel, "id long, mode string, wkb binary")


# ------------------------------------------------------------------ features
def emit_features(
    node_hist: DataFrame, way_hist: DataFrame, rel_hist: DataFrame, geoms: DataFrame
) -> DataFrame:
    """(etype, id, sub, feature): the batch's GeoJSON feature lines per
    the create/modify/delete state machine (RowsToJson.scala:353-383),
    in one pass over the three history frames.

    The branching is NATIVE DataFrame logic: each history row with an
    in-window row yields an after-line (mode a, ``sub`` 0) when that row
    is visible, and an always-invisible before-line (mode b, ``sub`` 1)
    when it has a before row.  One left join on (etype, id, mode)
    attaches the ``geoms`` table; a way/relation line without geometry,
    or a node line without coordinates, is dropped.  One kernel renders
    every surviving line — a node's point from its row's coordinates,
    anything else from its WKB.  ``sub`` orders the after/before lines
    of one entity deterministically for the sink.
    """
    hist = (
        node_hist.withColumn("etype", F.lit("node"))
        .unionByName(way_hist.withColumn("etype", F.lit("way")))
        .unionByName(rel_hist.withColumn("etype", F.lit("relation")))
        .filter(F.col("in_row").isNotNull())
    )
    after = F.when(
        F.col("in_row")["visible"],
        F.struct(F.lit("a").alias("mode"), F.lit(0).alias("sub"),
                 F.col("in_row").alias("row"), F.lit(True).alias("visible")),
    )
    before = F.when(
        F.col("before_row")["id"].isNotNull(),
        F.struct(F.lit("b").alias("mode"), F.lit(1).alias("sub"),
                 F.col("before_row").alias("row"), F.lit(False).alias("visible")),
    )
    lines = hist.select(
        "etype", "id", F.explode(F.filter(F.array(after, before), lambda s: s.isNotNull())).alias("l")
    ).select("etype", "id", "l.*")
    # geometries are batch-scoped (the relation rounds broadcast the same
    # way table), so the history side is never shuffled
    located = lines.join(F.broadcast(geoms), ["etype", "id", "mode"], "left").select(
        "etype", "id", "sub", "visible", "row", "wkb",
        F.col("row.lon").cast("double").alias("x"),
        F.col("row.lat").cast("double").alias("y"),
    ).filter(
        F.col("wkb").isNotNull() | ((F.col("etype") == "node") & F.col("x").isNotNull())
    )

    def kernel(it):
        for pdf in it:
            out_line = []
            for gwkb, x, y, row, visible in zip(pdf["wkb"], pdf["x"], pdf["y"], pdf["row"], pdf["visible"]):
                geom = core.Point(float(x), float(y)) if gwkb is None else wkb.loads(bytes(gwkb))
                out_line.append(
                    json.dumps(
                        {
                            "type": "Feature",
                            "geometry": core.to_geojson_dict(geom),
                            "properties": _props(row, bool(visible)),
                        },
                        ensure_ascii=False,
                        separators=(",", ":"),
                    )
                )
            yield pd.DataFrame(
                {
                    "etype": pdf["etype"],
                    "id": pdf["id"].astype("int64"),
                    "sub": pdf["sub"].astype("int32"),
                    "feature": pd.Series(out_line, dtype="object"),
                }
            )

    return located.mapInPandas(kernel, "etype string, id long, sub int, feature string")


def _props(row, visible: bool) -> dict:
    ts = row["timestamp"]
    iso = pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {
        "id": int(row["id"]),
        "type": row["type"],
        "tags": dict(row["tags"]) if row["tags"] is not None else {},
        "changeset": int(row["changeset"]) if row["changeset"] is not None else None,
        "timestamp": iso,
        "uid": int(row["uid"]) if row["uid"] is not None else None,
        "user": row["user"],
        "version": int(row["version"]),
        "visible": visible,
    }
