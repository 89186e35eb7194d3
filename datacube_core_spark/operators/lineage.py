"""Provenance (lineage) traversal: recursive closure over source edges.

Reference: the postgres driver resolves dataset provenance with a
recursive CTE over ``dataset_source`` edges, tracking distance and path
(``drivers/postgres/_api.py:560-600``).  Spark 3.x/4.x Catalyst has no
recursive CTE, so the closure is an iterative join+union loop to a
fixpoint (SURVEY §4: "custom iterative loop") — each iteration is one
distributed job; depth is bounded by the longest provenance chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# closure levels joined per distributed job: each Spark action costs a
# fixed ~0.3s of scheduling, so per-level actions dominate shallow closures
_LEVELS_PER_JOB = 4


def lineage_closure(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int = 20,
    direction: str = "sources",
) -> DataFrame:
    """All ancestors (``sources``) or descendants (``derived``) of roots.

    ``edges``: (dataset_id, source_id) rows.  ``roots``: (dataset_id).
    Returns (root_id, dataset_id, distance) — distance 0 is the root.

    The edge table is materialized once, eagerly, so the fixpoint loop
    re-reads a local copy (edges are (id, id) pairs, tiny relative to the
    data).
    """
    if direction == "sources":
        frm, to = "dataset_id", "source_id"
    elif direction == "derived":
        frm, to = "source_id", "dataset_id"
    else:
        raise ValueError(direction)

    frontier = roots.select(
        F.col("dataset_id").alias("root_id"),
        F.col("dataset_id").alias("node"),
        F.lit(0).alias("distance"),
    )
    # localCheckpoint truncates the growing plan lineage — without it each
    # fixpoint test re-executes every prior join and the loop goes
    # quadratic in depth.  Checkpoint + empty-check only every
    # ``_LEVELS_PER_JOB`` levels.
    edges = edges.localCheckpoint(eager=True)
    result = frontier.localCheckpoint(eager=True)
    frontier = result
    depth = 0
    while depth < max_depth:
        batch_end = min(depth + _LEVELS_PER_JOB, max_depth)
        new_steps = []
        step = frontier
        while depth < batch_end:
            depth += 1
            step = (
                step.join(edges, step["node"] == edges[frm], "inner")
                .select("root_id", F.col(to).alias("node"), F.lit(depth).alias("distance"))
            )
            new_steps.append(step)
        batch = new_steps[0]
        for s in new_steps[1:]:
            batch = batch.unionByName(s)
        # shortest distance per (root, node) within the batch, then drop
        # nodes already reached in earlier batches
        batch_min = batch.groupBy("root_id", "node").agg(F.min("distance").alias("distance"))
        seen = result.select(F.col("root_id").alias("r2"), F.col("node").alias("n2"))
        fresh = (
            batch_min.join(
                seen, (batch_min["root_id"] == seen["r2"]) & (batch_min["node"] == seen["n2"]), "left_anti"
            )
            .localCheckpoint(eager=True)
        )
        if len(fresh.take(1)) == 0:
            break
        # lazy (r7): the accumulated closure still materializes exactly
        # once (next batch's anti-join reads it) but inside that job,
        # not as an extra synchronous barrier per batch
        result = result.unionByName(fresh).localCheckpoint(eager=False)
        frontier = fresh
    return result


def lineage_paths(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int = 20,
    direction: str = "sources",
    classifier_col: str = "classifier",
    source_filter=None,
    datasets: DataFrame = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Provenance traversal with PATH tracking and a source filter —
    full parity with the reference's recursive CTE
    (``drivers/postgres/_api.py:560-600``): each recursion step appends
    the edge's ``classifier`` to a dot-joined ``path`` string, ALL paths
    are enumerated (the reference's UNION ALL — no (root, node) dedup,
    so diamond provenance yields one row per distinct path), and
    ``source_filter`` restricts the result on source-dataset fields
    (the reference's final WHERE over joined DATASET columns).

    ``edges``: (dataset_id, source_id, classifier).  ``roots``:
    (dataset_id).  ``datasets`` + ``source_filter``: an optional table of
    dataset attributes joined on ``id_col`` = node, filtered by the given
    Column predicate.  Returns (root_id, node, distance, path) with
    distance ≥ 1 (the reference returns *sources*, not the root itself).
    """
    if direction == "sources":
        frm, to = "dataset_id", "source_id"
    elif direction == "derived":
        frm, to = "source_id", "dataset_id"
    else:
        raise ValueError(direction)

    edges = edges.localCheckpoint(eager=True)
    frontier = roots.select(
        F.col("dataset_id").alias("root_id"),
        F.col("dataset_id").alias("node"),
        F.lit(0).alias("distance"),
        F.lit("").alias("path"),
    ).localCheckpoint(eager=True)
    result = None
    depth = 0
    while depth < max_depth:
        depth += 1
        step = (
            frontier.join(edges, frontier["node"] == edges[frm], "inner")
            .select(
                "root_id",
                F.col(to).alias("node"),
                F.lit(depth).alias("distance"),
                F.when(F.col("path") == "", F.col(classifier_col))
                .otherwise(F.concat(F.col("path"), F.lit("."), F.col(classifier_col)))
                .alias("path"),
            )
            .localCheckpoint(eager=True)
        )
        if len(step.take(1)) == 0:
            break
        result = step if result is None else result.unionByName(step)
        frontier = step

    if result is None:
        return frontier.where(F.lit(False))  # empty, right schema
    if source_filter is not None:
        if datasets is None:
            raise ValueError("source_filter requires a datasets table")
        keep = datasets.where(source_filter).select(F.col(id_col).alias("node")).distinct()
        result = result.join(keep, on="node", how="left_semi")
    return result.select("root_id", "node", "distance", "path")
