"""Graph structure metrics + coverage statistics as grouped aggregations.

Reference: StructureEvaluator
(``graphgen/models/evaluator/kg/structure_evaluator.py:25-106``) — total
nodes/edges, noise (isolated-node) ratio, largest-CC ratio, average
degree, power-law R² of the degree distribution.  R² of the log-log
linear fit equals corr(log d, log f)², so it is a single native
aggregate — no scipy, no driver-side loops.

Coverage statistics (north_rule "comprehension-loss-style coverage"):
per-url grouped aggregates over the triples table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphgen_spark.operators.components import connected_components


def degree_table(edges: DataFrame) -> DataFrame:
    """edges(src_id, tgt_id) -> (entity_name, degree); each undirected
    edge contributes 1 to both endpoints."""
    return (
        edges.select(
            F.explode(F.array("src_id", "tgt_id")).alias("entity_name")
        )
        .groupBy("entity_name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def structure_metrics(
    nodes: DataFrame, edges: DataFrame, cc_labels: DataFrame | None = None
) -> dict:
    """Whole-graph structural robustness metrics (driver-side scalars):
    one aggregate over the degree histogram, an edge count, then the
    largest connected component."""
    deg = degree_table(edges)
    with_deg = nodes.join(
        deg, nodes.entity_name == deg.entity_name, "left"
    ).select(F.coalesce(deg.degree, F.lit(0)).alias("degree"))
    hist = with_deg.groupBy("degree").agg(F.count(F.lit(1)).alias("freq"))
    pos = F.col("degree") > 0
    # power-law R² = corr(log degree, log freq)² over the histogram rows
    # of positive degree (the moments skip the nulls `when` leaves);
    # from covariance and variances because Spark's corr divides by
    # zero under ANSI when a variance is 0, where R² is undefined
    lx, ly = F.when(pos, F.log("degree")), F.when(pos, F.log("freq"))
    row = hist.agg(
        F.sum("freq").alias("n"),
        F.sum(F.when(~pos, F.col("freq")).otherwise(0)).alias("isolated"),
        F.sum(F.col("degree") * F.col("freq")).alias("sum_degree"),
        F.sum(F.when(pos, F.col("freq")).otherwise(0)).alias("n_pos"),
        F.count(lx).alias("k"),
        F.covar_pop(lx, ly).alias("cov"),
        F.var_pop(lx).alias("var_x"),
        F.var_pop(ly).alias("var_y"),
    ).collect()[0]
    total_nodes = row["n"] or 0
    if total_nodes == 0:
        return {
            "total_nodes": 0, "total_edges": 0, "noise_ratio": 0.0,
            "largest_cc_ratio": 0.0, "avg_degree": 0.0, "powerlaw_r2": None,
            "is_robust": False,
        }
    total_edges = edges.count()
    r2 = None
    if row["n_pos"] >= 10 and row["k"] >= 3 and row["var_x"] and row["var_y"]:
        r2 = row["cov"] ** 2 / (row["var_x"] * row["var_y"])

    if cc_labels is None:
        cc_labels = connected_components(edges)
    largest_cc = (
        cc_labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz"))
        .collect()[0][0]
        or 0
    )

    noise_ratio = row["isolated"] / total_nodes
    largest_cc_ratio = largest_cc / total_nodes
    avg_degree = row["sum_degree"] / total_nodes
    return {
        "total_nodes": total_nodes,
        "total_edges": total_edges,
        "noise_ratio": noise_ratio,
        "largest_cc_ratio": largest_cc_ratio,
        "avg_degree": avg_degree,
        "powerlaw_r2": r2,
        "is_robust": (
            noise_ratio < 0.15
            and largest_cc_ratio > 0.90
            and 2.0 <= avg_degree <= 5.0
            and (r2 is not None and r2 > 0.75)
        ),
    }


def coverage_by_url(triples: DataFrame) -> DataFrame:
    """Per-url coverage: triple count, distinct subjects/objects/
    predicates, distinct source chunks — one hash-aggregate shuffle."""
    return triples.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
        F.countDistinct("pred").alias("n_predicates"),
        F.countDistinct("chunk_id").alias("n_chunks"),
    )


def entity_coverage(triples: DataFrame) -> DataFrame:
    """Per-entity coverage: in how many urls/chunks/triples does each
    canonical subject or object appear (salting-friendly two-key agg)."""
    mentions = triples.select(
        F.explode(F.array("subj", "obj")).alias("entity"), "url", "chunk_id"
    )
    return mentions.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("chunk_id").alias("n_chunks"),
    )
