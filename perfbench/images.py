"""The image_batch workload: one session runs the four image+caption
batch queries in a fixed order, one round after another (one client,
closed loop).  Each query's output is checked against a brute-force
twin computed from the generated inputs."""

from __future__ import annotations

import numpy as np

from . import gen, host

N_POINTS = 50_000
N_BLOBS = 1_000
N_DOCS = 3_000
LAYER_GRID_N = 10
TILE_Z, TILE_PX, SALT_N = 14, 16, 8
KNN_K = 3
MH_PERM, MH_BANDS, MH_THRESHOLD = 128, 32, 0.5
# planted copies this similar are found by 32 bands of 4 rows with
# probability 1 - (1 - 0.8**4)**32 > 1 - 1e-7
MH_RECALL_J = 0.8
SHINGLE = 5  # operators.dedup shingles lower-cased UTF-8 bytes, 5 at a time

LAYERS = {
    "cell_equi_join": ("cell_equi_join",),
    "knn_join": ("knn_join",),
    "cut_tiles": ("cut_tiles",),
    "minhash": ("minhash_lsh_pairs",),
    "polygon_layer": ("build_polygon_layer",),
}
SKEW_LAYERS = ("cut_tiles", "minhash")


def _shingles(text: str) -> set[bytes]:
    b = text.lower().encode("utf-8")
    return {b[i : i + SHINGLE] for i in range(len(b) - SHINGLE + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class ImageBatch:
    LAYERS, SKEW_LAYERS = LAYERS, SKEW_LAYERS
    def __init__(self, seed: int, work: str, cache_dir: str):
        key = f"images-s{seed}-p{N_POINTS}-b{N_BLOBS}-d{N_DOCS}"
        self.points, self.blobs, (self.docs, self.planted) = gen.cached(
            cache_dir, key,
            lambda: (gen.image_points(seed, N_POINTS), gen.image_blobs(seed, N_BLOBS),
                     gen.docs(seed, N_DOCS)),
        )
        self.outputs: dict[int, dict] = {}
        self.rows_per_round = N_POINTS * 2 + N_BLOBS + N_DOCS

    def install(self, tracer) -> None:
        self.tracer = tracer

    def setup(self, spark, tracer) -> None:
        import pandas as pd

        from augdiff_pipeline_spark import fixtures
        from augdiff_pipeline_spark.plans.polygon_layer import build_polygon_layer
        from augdiff_pipeline_spark.schemas import OSM_SCHEMA

        self.spark = spark
        cores = spark.sparkContext.defaultParallelism
        # loading the generated inputs is input preparation, but it runs
        # here because it needs the session; it is a small share of set-up
        self.meta = spark.createDataFrame(self.points).repartition(2 * cores).localCheckpoint()
        self.blob_df = spark.createDataFrame(self.blobs).repartition(cores).localCheckpoint()
        self.doc_df = spark.createDataFrame(self.docs).repartition(cores).localCheckpoint()
        self.feats = spark.createDataFrame(pd.DataFrame({
            "feature_id": list(fixtures.NODE_COORDS),
            "lon": [c[0] for c in fixtures.NODE_COORDS.values()],
            "lat": [c[1] for c in fixtures.NODE_COORDS.values()],
        }))
        world = spark.createDataFrame(
            fixtures.base_state_rows() + fixtures.dense_grid_state_rows(LAYER_GRID_N), OSM_SCHEMA
        )
        with tracer.span("build_polygon_layer"):
            self.layer = build_polygon_layer(spark, world, max_res=17).localCheckpoint(eager=True)

        host.warm_python_workers(self.meta)

    def step(self, i: int) -> int:
        from pyspark.sql import functions as F

        from augdiff_pipeline_spark.operators.dedup import minhash_lsh_pairs
        from augdiff_pipeline_spark.operators.knn import knn_join
        from augdiff_pipeline_spark.operators.spatial_join import cell_equi_join
        from augdiff_pipeline_spark.operators.tiling import assign_tiles, cut_tiles

        span, out = self.tracer.span, {}
        with span("cell_equi_join"):
            joined = cell_equi_join(assign_tiles(self.meta, z=TILE_Z), self.layer, res=16,
                                    passthrough=["x", "y"])
            out["pip"] = {
                r["feature_id"]: (r["n"], r["tiles"])
                for r in joined.groupBy("feature_id").agg(
                    F.count(F.lit(1)).alias("n"), F.countDistinct("x", "y").alias("tiles")
                ).collect()
            }
        with span("knn_join"):
            out["knn"] = {
                (r["feature_id"], r["knn_rank"]): r["n"]
                for r in knn_join(self.meta, self.feats, k=KNN_K, res=10)
                .groupBy("feature_id", "knn_rank").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        with span("cut_tiles"):
            tiles = cut_tiles(assign_tiles(self.blob_df, z=TILE_Z, salt_n=SALT_N),
                              tile_px=TILE_PX, salt_n=SALT_N)
            out["tiles"] = {
                r["image_id"]: (r["n"], r["psnr"])
                for r in tiles.groupBy("image_id").agg(
                    F.count(F.lit(1)).alias("n"), F.min("psnr_db").alias("psnr")
                ).collect()
            }
        with span("minhash_lsh_pairs"):
            out["pairs"] = [
                (r["a"], r["b"], r["jaccard"])
                for r in minhash_lsh_pairs(self.doc_df, num_perm=MH_PERM, bands=MH_BANDS,
                                           jaccard_threshold=MH_THRESHOLD).collect()
            ]
        self.outputs[i] = out
        return self.rows_per_round

    def has_step(self, i: int) -> bool:
        return True

    # ------------------------------------------------------------- oracle
    def _expected(self) -> dict:
        from augdiff_pipeline_spark.functions.mercator import tile_xy
        from augdiff_pipeline_spark.geometry import core, wkb

        lon = self.points["lon"].to_numpy()
        lat = self.points["lat"].to_numpy()
        tx, ty = tile_xy(lon, lat, TILE_Z)
        pip = {}
        geoms = {r["feature_id"]: bytes(r["geom_wkb"])
                 for r in self.layer.select("feature_id", "geom_wkb").distinct().collect()}
        for fid, blob in geoms.items():
            g = wkb.loads(blob)
            polys = g.polygons if isinstance(g, core.MultiPolygon) else (g,)
            ext = np.concatenate([np.asarray(p.rings[0]) for p in polys])
            box = ((lon >= ext[:, 0].min()) & (lon <= ext[:, 0].max())
                   & (lat >= ext[:, 1].min()) & (lat <= ext[:, 1].max()))
            idx = np.flatnonzero(box)
            inside = np.zeros(len(idx), dtype=bool)
            for p in polys:
                inside |= core.points_in_polygon(lon[idx], lat[idx], p)
            hit = idx[inside]
            if len(hit):
                pip[fid] = (len(hit), len(set(zip(tx[hit].tolist(), ty[hit].tolist()))))

        from augdiff_pipeline_spark import fixtures

        fid = np.array(list(fixtures.NODE_COORDS), dtype=np.int64)
        fxy = np.array(list(fixtures.NODE_COORDS.values()))
        knn = {}
        for s in range(0, len(lon), 10_000):
            d2 = (fxy[None, :, 0] - lon[s : s + 10_000, None]) ** 2 + (
                fxy[None, :, 1] - lat[s : s + 10_000, None]) ** 2
            order = np.lexsort((np.broadcast_to(fid, d2.shape), d2), axis=1)[:, :KNN_K]
            for rank in range(KNN_K):
                ids, n = np.unique(fid[order[:, rank]], return_counts=True)
                for f, c in zip(ids.tolist(), n.tolist()):
                    knn[(f, rank + 1)] = knn.get((f, rank + 1), 0) + c

        tiles = {
            iid: -(-int(w) // TILE_PX) * -(-int(h) // TILE_PX)
            for iid, w, h in zip(self.blobs["image_id"], self.blobs["w"], self.blobs["h"])
        }
        texts = self.docs["text"].tolist()
        shingles = [_shingles(t) for t in texts]
        must = {(a, b) for a, b in self.planted
                if _jaccard(shingles[a], shingles[b]) >= MH_RECALL_J}
        return {"pip": pip, "knn": knn, "tiles": tiles, "shingles": shingles, "must": must}

    def check(self, rounds: list[int]) -> set[int]:
        """Rounds with any query output that differs from the oracle."""
        exp = self._expected()
        bad = set()
        for i in rounds:
            out = self.outputs.get(i)
            if out is None or out["pip"] != exp["pip"] or out["knn"] != exp["knn"]:
                bad.add(i)
                continue
            tiles = out["tiles"]
            if {k: n for k, (n, _) in tiles.items()} != exp["tiles"] or any(
                p < 40.0 for _, p in tiles.values()
            ):
                bad.add(i)
                continue
            sh = exp["shingles"]
            found = set()
            for a, b, j in out["pairs"]:
                exact = _jaccard(sh[a], sh[b])
                if not (a < b and exact >= MH_THRESHOLD and abs(exact - j) <= 1e-9):
                    bad.add(i)
                found.add((a, b))
            if not exp["must"] <= found:
                bad.add(i)
        return bad

    def op_metrics(self, rounds: list[int]) -> dict:
        return {}
