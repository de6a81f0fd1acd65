"""Graph merge — RDF set-semantics union (SURVEY.md §2.6 U1).

The reference merges N parsed sources into one named graph by sequential
``store_graph.parse`` calls (harvest.py:51-53); an RDF graph is a *set* of
triples, so duplicates across sources collapse and ``num_triples``
(harvest.py:58) counts distinct (subj,pred,obj).

Scale notes: ``dropDuplicates`` on (subj,pred,obj) is a hash aggregation with
map-side partial aggregation — within-partition duplicates (the common case:
one hot entity re-mentioned through a conversation, co-located because the
scan is conv-contiguous) collapse before the shuffle.  Lineage of the
surviving row is the minimum (conv_id, turn_idx), keeping merge deterministic
for re-runs and the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_triples(edges: DataFrame) -> DataFrame:
    """Distinct (subj,pred,obj) with deterministic min-lineage provenance."""
    return edges.groupBy("subj", "pred", "obj").agg(
        F.min("obj_kind").alias("obj_kind"),
        F.min("lang").alias("lang"),
        F.min("dtype").alias("dtype"),
        F.min(F.struct("conv_id", "turn_idx")).alias("_lin"),
    ).select(
        "subj",
        "pred",
        "obj",
        "obj_kind",
        "lang",
        "dtype",
        F.col("_lin.conv_id").alias("conv_id"),
        F.col("_lin.turn_idx").alias("turn_idx"),
    )


def num_triples(edges: DataFrame) -> int:
    """The reference's one aggregate metric per job (harvest.py:57-60)."""
    return edges.select("subj", "pred", "obj").distinct().count()


def node_degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree profile: (node, out_degree, in_degree, degree).

    The graph-QA rollup entity resolution is judged by (a canonicalization
    bug shows up first as a degree anomaly on the merged node).  Shape: one
    unionAll of two projections + ONE hash agg keyed on the node — out- and
    in-degree are summed as flag columns in the same pass (map-side partial
    agg), not two aggregations joined.  Only URI objects count as in-edges:
    literals are attributes, not nodes.
    """
    outs = edges.select(
        F.col("subj").alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i")
    )
    ins = edges.filter(F.col("obj_kind") == "uri").select(
        F.col("obj").alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i")
    )
    return (
        outs.unionAll(ins)
        .groupBy("node")
        .agg(
            F.sum("o").cast("long").alias("out_degree"),
            F.sum("i").cast("long").alias("in_degree"),
        )
        .withColumn("degree", (F.col("out_degree") + F.col("in_degree")))
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """Per-predicate graph profile: (pred, n_triples, n_subjects, n_objects).

    Generalizes the reference's single ``num_triples`` metric (harvest.py:58)
    and the facet distinct-term counts (browser.py:157) into the profiling
    table a harvest run records per stage.  One hash-agg shuffle keyed on
    pred; Spark plans the two count-distincts as an expand + two-phase agg,
    which spreads hot predicates across tasks (no single-key bottleneck)."""
    return (
        edges.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subjects"),
            F.countDistinct("obj").cast("long").alias("n_objects"),
        )
    )
