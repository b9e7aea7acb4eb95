"""The per-minutely-batch augmented-diff pipeline (the engine's core DAG).

Spark-first inversion of the reference's driver loop
(reference AugmentedDiff.scala:47-93 + osc2json): every stage is a
DataFrame op —

  change batch ──┬─ incremental closure (iterative join fixpoint)
                 │        │ new edges → index table (snapshot append)
                 │        └ needed pairs
                 ├─ point-lookup semi-join into clustered state (J1)
                 ├─ union + provenance-preserving dedup (J6/T5)
                 ├─ histories: windows + quantifier aggregates (A2/G2)
                 ├─ one mode-tagged way/relation WKB table (Arrow kernels, G1/G3/G6)
                 └─ feature emission (G8): one join + one kernel
                          → line-delimited GeoJSON

State/index/lineage/metrics are snapshot-committed tables; the batch's
own rows append to state AFTER the diff is computed (the diff joins the
batch against *prior* state), exactly as the reference holds batch rows
in its memory buffer during rendering.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import history, render
from ..operators.closure import incremental_closure, needed_pairs
from ..schemas import INDEX_SCHEMA, OSM_COLUMNS
from ..sources.catalog import SnapshotTable
from ..sources.state import StateTable
from .lineage import LineageLog, StageTimer


def compute_batch_features(
    spark: SparkSession,
    state: StateTable,
    index: SnapshotTable,
    batch_df: DataFrame,
    timer: StageTimer,
) -> tuple[DataFrame, DataFrame, list | None]:
    """(features_df, new_edges_df, new_edge_rows) for one change batch
    (no writes).  ``features_df`` is lazy: its one emission pass runs
    where the caller materializes it.

    ``timer`` splits the diff into closure / histories / render
    sub-stages in the metrics table — the per-batch latency breakdown a
    minutely deployment watches.  Boundaries sit at the eager
    checkpoints, so each window measures the jobs it claims.
    """
    with timer.time("closure"):
        index_df = index.read(spark, schema=INDEX_SCHEMA)
        new_edges, all_edges, fetch_keys, new_edge_rows = incremental_closure(
            index_df, batch_df, return_keys=True
        )
        if new_edge_rows is None:
            # distributed path: materialize before the anti-join plan is
            # consumed twice (index append + lineage).  The small path's
            # new_edges is a local relation — already materialized.
            new_edges = new_edges.localCheckpoint(eager=True)
    with timer.time("histories"):
        present_hint = None
        if fetch_keys is not None:
            # small-closure path: the fetch-key set rode the closure's
            # own Arrow collect — zero extra probe jobs; the packed keys
            # (id << 2 | type_code) also give the type set driver-side,
            # a safe SUPERSET of the types in rows (batch types ⊆ update
            # keys ⊆ fetch keys, fetched rows' keys ⊆ fetch keys), so
            # the per-batch distinct-type probe job is skipped — for the
            # common node-only minutely batch the hint is exact
            fetched = state.fetch_keys(spark, fetch_keys)
            from ..schemas import CODE_TYPES

            present_hint = {
                CODE_TYPES[k & 3] for k in fetch_keys if (k & 3) in CODE_TYPES
            }
        else:
            pairs = needed_pairs(batch_df, all_edges)
            fetched = state.fetch_pairs(spark, pairs)

        rows = (
            batch_df.select(*OSM_COLUMNS).withColumn("in_batch", F.lit(True))
            .unionByName(fetched.select(*OSM_COLUMNS).withColumn("in_batch", F.lit(False)))
        )
        rows = history.dedup_batch_union(rows)
        nh, wh, rh, present = history.all_histories(rows, present_hint=present_hint)

    with timer.time("render"):
        # one mode-tagged (etype, id, mode, wkb) table for the batch's
        # ways and relations (nodes render from their own coordinates at
        # emission).  Types the batch does not touch are skipped from
        # all_histories' presence set, with no probe job, so a node-only
        # batch runs no render job at all.
        geoms = spark.createDataFrame([], render.GEOM_SCHEMA)
        if present & {"way", "relation"}:
            node_pts = render.node_points(nh).localCheckpoint(eager=True)
            if "way" in present:
                geoms = render.way_wkbs(wh, node_pts).localCheckpoint(eager=True)
            if "relation" in present:
                geoms = geoms.unionByName(render.relation_wkbs(rh, node_pts, geoms))
        feats = render.emit_features(nh, wh, rh, geoms)
    return feats, new_edges, new_edge_rows


def run_batch(
    spark: SparkSession,
    state: StateTable,
    index: SnapshotTable,
    log: LineageLog,
    batch_df: DataFrame,
    seq: int,
    out_dir: str,
) -> dict:
    """Execute + commit one batch: features file, state/index appends,
    lineage + metrics rows, single lineage 'commit' marker last.

    Compaction cadence: the state table compacts on ITS save_interval /
    keep_snapshots; the index follows the state table's knobs (one
    pipeline, one cadence), and the lineage/metrics tables follow the
    LineageLog's own constructor knobs — tuning any table's cadence no
    longer silently leaves the others on the module constants."""
    timer = StageTimer(log, spark, seq)
    batch_df = batch_df.localCheckpoint(eager=True)

    with timer.time("diff"):
        feats, new_edges, new_edge_rows = compute_batch_features(
            spark, state, index, batch_df, timer=timer
        )
        with timer.time("emit"):
            feats = feats.localCheckpoint(eager=True)
            # n_feats and the per-partition lineage rows come from ONE
            # aggregation over the checkpoint (was two separate jobs)
            part_counts = (
                feats.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count(F.lit(1)).alias("row_count"))
                .collect()
            )
            n_feats = sum(r["row_count"] for r in part_counts)

    with timer.time("write_features"):
        # one output partition anyway (line-delimited GeoJSON sequence
        # file) — sort WITHIN it instead of a global orderBy, which
        # would add a range-partitioner sampling pass per batch
        ordered = feats.withColumn(
            "ord", F.when(F.col("etype") == "node", 0).when(F.col("etype") == "way", 1).otherwise(2)
        ).coalesce(1).sortWithinPartitions("ord", "id", "sub").select("feature")
        path = os.path.join(out_dir, f"seq={seq:09d}")
        ordered.write.mode("overwrite").text(path)
    log.record_stage_counts(seq, "features", part_counts)

    with timer.time("state_append"):
        state_snap = state.append_batch(batch_df, seq)
    log.record_stage(spark, seq, "state_append", batch_df, output_snapshot=state_snap)

    with timer.time("index_append"):
        if new_edge_rows is not None:
            # small-closure path: the new edges are a driver-held list —
            # write them driver-side (no Spark job), and the lineage row
            # count comes for free
            import pyarrow as pa

            idx_snap = index.append_local(
                new_edge_rows,
                pa.schema([pa.field("a", pa.int64()), pa.field("b", pa.int64())]),
                summary={"seq": seq},
            )
        else:
            idx_snap = index.append(new_edges, summary={"seq": seq})
        # compaction BEFORE the commit marker must carry this seq's tag,
        # or a crash here would freeze the uncommitted edges into an
        # untagged (= treated-as-committed) rollback target
        cid = index.maybe_compact(
            spark, state.save_interval, state.keep_snapshots,
            schema=INDEX_SCHEMA, summary={"seq": seq},
        )
        if cid is not None:
            idx_snap = cid
    if new_edge_rows is not None:
        log.record_stage_counts(
            seq, "index_append",
            [{"partition_id": -1, "row_count": len(new_edge_rows)}],
            output_snapshot=idx_snap,
        )
    else:
        log.record_stage(spark, seq, "index_append", new_edges, output_snapshot=idx_snap)

    log.record_metric(spark, seq, "diff", "features", float(n_feats))
    with timer.time("commit", record_to_log=False):
        log.commit_seq(spark, seq, {"state": state_snap, "index": idx_snap})
    return {
        "seq": seq, "features": n_feats, "state_snapshot": state_snap,
        "index_snapshot": idx_snap, "path": path, "stage_sec": timer.timings,
    }
