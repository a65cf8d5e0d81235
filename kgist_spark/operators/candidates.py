"""A1 — distributed candidate-rule generation.

The flagship aggregation of the engine: for every edge and every
(subject-label, object-label) pair, emit an out-rooted and an in-rooted star
rule and aggregate per rule (reference GemsLab/KGist ``graph.py:127-148``,
golden candidate sets in its ``test_searcher.py:9-55``).

Physical shape (designed for the 100 TB case):

* triples ⋈ labels(subj) ⋈ labels(obj) — the labels side is orders of
  magnitude smaller than the edge list (NELL: 71k label rows vs 232k edges;
  web KGs are similar), so both joins are **broadcast hash joins**; no
  shuffle of the big table at all.  Above the broadcast threshold Catalyst
  falls back to sort-merge with AQE skew splitting — still correct.
* the two direction projections are emitted in a SINGLE pass over the join
  output via ``explode(array(out_struct, in_struct))`` — a ``union`` of two
  projections of the same join would make Catalyst execute the scan + both
  broadcast joins twice (union children are independent subtrees).  The
  doubled rows feed partial (map-side) aggregation, so the shuffle still
  carries only per-(rule, …) partials.
* ``first_seen`` (min of a packed struct) reproduces the single-threaded
  scan's candidate insertion order so the greedy tie-breaking is identical
  on a 1-core or 1000-executor run.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the flat candidate key columns
KEY = ["root_label", "pred", "dir", "child_label"]


def _labeled_edge_pairs(triples: DataFrame, labels_flat: DataFrame) -> DataFrame:
    """triples ⋈ labels(subj) ⋈ labels(obj): one row per
    (edge, subject-label, object-label) combination, columns
    ``(subj, pred, obj, eid, sl, sl_pos, ol, ol_pos)``.

    Dedupes (node, label) on the SMALL side (first-seen position kept).  This
    makes every (rule-key, eid) pair structurally unique downstream —
    each edge contributes exactly one row per (subject-label, object-label,
    direction) — which is what lets candidate_stats/ca_sizes use count(*)
    instead of countDistinct(eid).  A distinct over (key, eid) would shuffle
    one group per contribution row (~|cand_edges| groups); at web scale that
    is the classic distinct-on-a-unique-column anti-pattern.
    """
    lab = F.broadcast(
        labels_flat.select("node", "label", "pos")
        .groupBy("node", "label")
        .agg(F.min("pos").alias("pos"))
    )
    lab_s = lab.select(
        F.col("node").alias("subj"), F.col("label").alias("sl"), F.col("pos").alias("sl_pos")
    )
    lab_o = lab.select(
        F.col("node").alias("obj"), F.col("label").alias("ol"), F.col("pos").alias("ol_pos")
    )
    return triples.join(lab_s, "subj").join(lab_o, "obj")


#: first-seen packing shared by candidate_edges / candidate_rule_stats:
#: base = (eid·1024 + sl_pos)·1024 + ol_pos, ord = base·2 + dir-bit.
def _first_seen_base():
    sl = F.least(F.col("sl_pos"), F.lit(1023))
    ol = F.least(F.col("ol_pos"), F.lit(1023))
    return ((F.col("eid") * 1024 + sl) * 1024 + ol).cast("long")


def candidate_edges(triples: DataFrame, labels_flat: DataFrame) -> DataFrame:
    """Per-contribution rows for every candidate rule.

    :triples: ``(subj, pred, obj, eid)``
    :labels_flat: ``(node, label, pos)`` exploded label assignments
    :return: ``(root_label, pred, dir, child_label, eid, root_node,
        child_node, ord)`` where ``ord`` is the packed first-seen sort key
        ``(eid, subj-label pos, obj-label pos, dir_rank)``.
    """
    joined = _labeled_edge_pairs(triples, labels_flat)

    def side(root_l, dirv, child_l, root_n, child_n):
        return F.struct(
            F.col(root_l).alias("root_label"),
            F.lit(dirv).alias("dir"),
            F.col(child_l).alias("child_label"),
            F.col(root_n).alias("root_node"),
            F.col(child_n).alias("child_node"),
        )

    flat = joined.select(
        "pred", "eid", "sl_pos", "ol_pos",
        F.explode(
            F.array(side("sl", "out", "ol", "subj", "obj"),
                    side("ol", "in", "sl", "obj", "subj"))
        ).alias("c"),
    )
    # first-seen scan order packed into ONE long so min() stays a primitive
    # hash aggregate (struct min forces SortAggregate and kills whole-stage
    # codegen): ((eid·1024 + sl_pos)·1024 + ol_pos)·2 + dir.  Positions clamp
    # at 1023; eid must be < 2^42 (~4.4e12 edges).  Kept a TOP-LEVEL column
    # (not a struct field) so Catalyst prunes it — and its eid cast — when a
    # consumer drops first_seen.
    ord_col = (
        _first_seen_base() * 2
        + F.when(F.col("c.dir") == "in", 1).otherwise(0)
    ).cast("long").alias("ord")
    return flat.select(
        F.col("c.root_label").alias("root_label"),
        "pred",
        F.col("c.dir").alias("dir"),
        F.col("c.child_label").alias("child_label"),
        "eid",
        F.col("c.root_node").alias("root_node"),
        F.col("c.child_node").alias("child_node"),
        ord_col,
    )


def candidate_stats(cand_edges: DataFrame) -> DataFrame:
    """Per-rule aggregates: edge/assertion/label-coverage counts + first-seen
    order.  One shuffle on the rule key; everything downstream (MDL ranking,
    top-k) reads these counts only."""
    return cand_edges.groupBy(*KEY).agg(
        # (key, eid) is unique by construction (labels deduped in
        # candidate_edges), so count(*) == |edges| exactly — no distinct
        # shuffle over the edge-id space.
        F.count("*").alias("n_edges"),
        F.countDistinct("root_node").alias("n_cas"),
        F.countDistinct("child_node").alias("n_labels_cov"),
        F.min("ord").alias("first_seen"),
    )


def candidate_rule_stats(triples: DataFrame, labels_flat: DataFrame) -> DataFrame:
    """``candidate_stats(candidate_edges(...))`` computed WITHOUT
    materializing the per-direction contribution rows.

    The out-rooted rule (sl, pred, out, ol) and the in-rooted rule
    (ol, pred, in, sl) aggregate the SAME set of joined rows — their stats
    are mirror images: n_edges is shared, n_cas(out) = n_labels_cov(in) =
    distinct subjects, n_cas(in) = n_labels_cov(out) = distinct objects.
    So one groupBy over the UN-exploded join output computes both
    directions, halving the aggregation input (the dominant cost of the
    flagship query — the multi-distinct Expand triples whatever flows in),
    and the direction rows explode AFTER aggregation, at O(|rules|) size.
    first_seen is exact: ord = base·2 + dir-bit (see ``candidate_edges``),
    so per direction min(ord) = 2·min(base) (+1 for 'in') over the same
    rows.  Same single shuffle on the rule key; identical output."""
    joined = _labeled_edge_pairs(triples, labels_flat)
    # first_seen needs a numeric eid to pack; with string eids (e.g. the
    # testdata natural-key eids) emit null instead of relying on Catalyst
    # pruning the cast away through the explode (ANSI mode would error)
    numeric_eid = dict(triples.dtypes).get("eid") in (
        "tinyint", "smallint", "int", "bigint"
    )
    base = _first_seen_base() if numeric_eid else F.lit(None).cast("long")
    per_pair = (
        joined.select("subj", "pred", "obj", "sl", "ol",
                      base.alias("base"))
        .groupBy("sl", "pred", "ol")
        .agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("subj").alias("n_subj"),
            F.countDistinct("obj").alias("n_obj"),
            F.min("base").alias("min_base"),
        )
    )

    def side(root_l, dirv, child_l, n_cas, n_cov, fs):
        return F.struct(
            F.col(root_l).alias("root_label"),
            F.lit(dirv).alias("dir"),
            F.col(child_l).alias("child_label"),
            F.col(n_cas).alias("n_cas"),
            F.col(n_cov).alias("n_labels_cov"),
            fs.alias("first_seen"),
        )

    mb = F.col("min_base")
    return (
        per_pair.select(
            "pred", "n_edges",
            F.explode(F.array(
                side("sl", "out", "ol", "n_subj", "n_obj", mb * 2),
                side("ol", "in", "sl", "n_obj", "n_subj", mb * 2 + 1),
            )).alias("c"),
        )
        .select(
            F.col("c.root_label").alias("root_label"),
            "pred",
            F.col("c.dir").alias("dir"),
            F.col("c.child_label").alias("child_label"),
            "n_edges",
            F.col("c.n_cas").alias("n_cas"),
            F.col("c.n_labels_cov").alias("n_labels_cov"),
            F.col("c.first_seen").alias("first_seen"),
        )
    )


def ca_sizes(cand_edges: DataFrame) -> DataFrame:
    """Per-(rule, head) assertion sizes (reference ``ca_to_size``,
    ``graph.py:140,148``): number of distinct edges under the rule rooted at
    each head, plus the head's first-seen edge for deterministic ordering."""
    return cand_edges.groupBy(*KEY, "root_node").agg(
        # exact: (key, eid) unique by construction, see candidate_stats
        F.count("*").alias("ca_size"),
        F.min("eid").alias("first_eid"),
    )


def ca_size_histogram(cand_edges: DataFrame) -> DataFrame:
    """{(rule, ca_size): head count} — the compact driver-side input for
    L(alpha(g)) at scale (no per-head rows leave the cluster)."""
    return (
        ca_sizes(cand_edges)
        .groupBy(*KEY, "ca_size")
        .agg(F.count("*").alias("n_heads"))
    )


def rank_candidates(cand_stats: DataFrame, stats, limit: int | None = None) -> DataFrame:
    """W1 — order candidates by singleton-model reduction-in-error
    (reference ``searcher.py:22-41``), descending, with the reference's exact
    tie-breakers (#assertions, then root label, then first-seen order).

    The error delta only depends on (n_edges, n_labels_cov) through binomial
    terms, so it is computed as a vectorized driver-free column expression:
    log2 C(n,k) differences expand to sums of log-gamma terms; Spark lacks
    lgamma, so we push the *counts* down and compute the exact bits with a
    pandas UDF-free trick: the ranking only needs a monotone key, and
    reduction-in-error is monotone in a closed form of (n_edges,
    n_labels_cov) only through those binomials — but exactness matters for
    parity, so the per-candidate bits are computed driver-side in
    :mod:`kgist_spark.plans.summarizer` for the selection path.  This
    DataFrame version computes the same value with a pandas UDF for purely
    distributed top-k use.
    """
    from pyspark.sql.functions import pandas_udf

    from kgist_spark.functions import mdl

    n = stats.n
    m = stats.m
    num_el = stats.num_edge_labels
    num_nl = stats.num_node_labels
    total_l = stats.total_num_labels
    null_err = mdl.length_error(0, 0, stats)

    @pandas_udf("double")
    def red_in_err(n_edges: pd.Series, n_labels: pd.Series) -> pd.Series:
        from math import lgamma, log

        import numpy as np

        ln2 = log(2.0)
        vlgamma = np.vectorize(lgamma, otypes=[np.float64])

        def binom(nn, kk):
            # math.lgamma element-wise (matches the driver-side bits exactly;
            # scipy's gammaln is unavailable here and np has no lgamma ufunc)
            return (vlgamma(nn + 1) - vlgamma(kk + 1) - vlgamma(nn + 1 - kk)) / ln2

        ne = n_edges.to_numpy(dtype=np.float64)
        nl = n_labels.to_numpy(dtype=np.float64)
        err = binom(n * n * num_el - ne, m - ne) + binom(num_nl * n - nl, total_l - nl)
        return pd.Series(null_err - err)

    ranked = cand_stats.withColumn(
        "reduction_in_error", red_in_err(F.col("n_edges"), F.col("n_labels_cov"))
    ).orderBy(
        F.desc("reduction_in_error"),
        F.desc("n_cas"),
        F.desc("root_label"),
        F.asc("first_seen"),
    )
    return ranked.limit(limit) if limit else ranked
