"""The benchmark's two workloads: seeded inputs, one lifecycle op each, and
the correctness gates on every op's outputs.

An op is a sequence of top-level spans (``build``, ``fit``, ``score``, ...)
whose times sum to the op's wall time.  It calls only the public entry
points a user calls; the traced run adds nothing but the layer wrappers of
:mod:`spans`.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

import gen_kg
import gen_pages

#: sizes per scale: ``full`` is measured, ``tiny`` is the smoke test's.
#: Reasons are in README.md ("Sizes").
SIZES = {
    "full": {
        # min_vocab: canonical_map's driver-local cutoff is 8192 entities; a
        # bigger vocabulary takes the distributed MinHash-LSH path
        "crawl": dict(n_docs=5000, n_persons=16000, n_orgs=16000, min_vocab=8193),
        "kg_reference": dict(
            exact=dict(n_edges=10000, n_top=6, n_sub=4, n_preds=24, nodes_per_sub=100),
            delta=dict(n_edges=2000, n_top=1, n_sub=2, n_preds=2, nodes_per_sub=60)),
    },
    "tiny": {
        "crawl": dict(n_docs=400, n_persons=300, n_orgs=200, min_vocab=0),
        "kg_reference": dict(
            exact=dict(n_edges=600, n_top=3, n_sub=2, n_preds=6, nodes_per_sub=20),
            delta=dict(n_edges=300, n_top=1, n_sub=2, n_preds=2, nodes_per_sub=30)),
    },
}

#: extraction precision/recall gate (BASELINE.json)
MIN_PR = 0.95
#: share of alias groups the canonicalizer must merge
MIN_ALIAS_RECOVERY = 0.95
#: decimals of a score (in bits) that count for the ranking
SCORE_DIGITS = 9


def _rank(scored, k: int) -> list:
    """Top-k by score, ties (to SCORE_DIGITS decimals) broken by the triple
    itself: a total order, so rankings compare exactly across ops and
    engines whose float summation orders differ."""
    from pyspark.sql import functions as F

    rows = scored.orderBy(F.desc(F.round("score", SCORE_DIGITS)), "subj", "pred", "obj")
    return [(r["subj"], r["pred"], r["obj"]) for r in rows.limit(k).collect()]


def _score(tr, name: str, scorer, k: int, out: dict, key: str = "") -> None:
    """Build and materialize the table ``scorer()`` returns inside span
    ``name``: its top-k and its row count."""
    with tr.span(name):
        scored = scorer().persist()
        out["topk" + key] = _rank(scored, k)
        out["n_scored" + key] = scored.count()
    scored.unpersist()


def _pr(got: set, truth: set) -> tuple:
    hit = len(got & truth)
    return hit / max(1, len(got)), hit / max(1, len(truth))


def _null_bits(stats) -> float:
    """L(G, empty model): the model header plus every edge and label as
    error (the greedy search's starting objective)."""
    from kgist_spark.functions import mdl

    return mdl.length_model_header(stats) + mdl.length_error(0, 0, stats)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, size: dict, work: str, tracer):
        self.spark, self.seed, self.size, self.work, self.tr = spark, seed, size, work, tracer
        self.reference = None   # the first measured op's outputs (determinism)
        self._n_out = 0

    def fresh_dir(self) -> str:
        """A new output directory: the constructor resumes from a manifest
        it finds, so a reused directory would silently skip the writes."""
        self._n_out += 1
        path = os.path.join(self.work, f"out{self._n_out}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup_rep(self, i: int) -> None:
        """Generate and write the inputs (timed, repeated; the last rep's
        files are used)."""
        raise NotImplementedError

    def setup_once(self) -> None:
        """Set-up work done once per run (e.g. an oracle fit)."""

    def op(self) -> dict:
        raise NotImplementedError

    def gates(self, out: dict) -> list:
        """Names of the gates one op's outputs fail."""
        failed = []
        if self.reference is None:
            self.reference = out
        for key in ("rules", "bits", "topk"):
            if out[key] != self.reference[key]:
                failed.append(f"deterministic_{key}")
        if out["n_scored"] != out["n_triples"]:
            failed.append("every_triple_scored")
        return failed


class Crawl(Workload):
    """pages -> construct_kg -> fit_summary (auto) -> score_edges."""

    name = "crawl"

    def setup_rep(self, i: int) -> None:
        sz = self.size
        self.corpus = c = gen_pages.generate(self.seed, sz["n_docs"], sz["n_persons"], sz["n_orgs"])
        self.pages_path = os.path.join(self.work, "pages", f"setup{i}.parquet")
        os.makedirs(os.path.dirname(self.pages_path), exist_ok=True)
        pd.DataFrame({
            "url": [f"https://example.org/{self.seed}/page/{d}" for d in range(c.n_docs)],
            "warc_ts": pd.Timestamp("2025-01-01", tz="UTC"),
            "text": c.texts,
            "lang": c.langs,
        }).to_parquet(self.pages_path, index=False)
        self.truth = gen_pages.canonical_truth(c)
        self.k = len(self.truth[1])

    def op(self) -> dict:
        from kgist_spark.operators.anomaly import score_edges
        from kgist_spark.pipeline.run import construct_kg, kg_to_summarizer_inputs
        from kgist_spark.plans.summarizer import fit_summary

        tr, spark = self.tr, self.spark
        out = {"items": self.corpus.n_docs, "docs": self.corpus.n_docs,
               "out_dir": self.fresh_dir()}
        with tr.span("build"):
            triples, labels = construct_kg(
                spark, spark.read.parquet(self.pages_path), out_dir=out["out_dir"])
        with tr.span("fit"):
            t, lab = kg_to_summarizer_inputs(triples, labels)
            t, lab = t.persist(), lab.persist()
            out["n_triples"] = t.count()
            res = fit_summary(t, lab)
        _score(tr, "score", lambda: score_edges(spark, res["model"], t), self.k, out)

        out["mode"] = res["mode"]
        out["rules"] = sorted(map(repr, res["rules"]))
        out["bits"] = out["fit_bits"] = res["objective_bits"]
        out["null_bits"] = _null_bits(res["summarizer"].index.stats)
        kg = {tuple(r) for r in t.select("subj", "pred", "obj").collect()}
        nodes = {r[0] for r in lab.select("node").collect()}
        for df in (t, lab, triples, labels):
            df.unpersist()

        truth, corrupt, alias_groups = self.truth
        out["precision"], out["recall"] = _pr(kg, truth)
        out["prec_at_k"] = len(set(out["topk"]) & corrupt) / max(1, self.k)
        merged = sum(1 for members, canon in alias_groups
                     if all(m == canon or m not in nodes for m in members))
        out["alias_recovery"] = merged / max(1, len(alias_groups))
        return out

    def gates(self, out: dict) -> list:
        failed = super().gates(out)
        if len(self.corpus.first_doc) < self.size["min_vocab"]:
            failed.append("min_vocab")
        if out["mode"] != "exact":
            failed.append("auto_mode_exact")
        if out["precision"] < MIN_PR:
            failed.append("extract_precision")
        if out["recall"] < MIN_PR:
            failed.append("extract_recall")
        if out["alias_recovery"] < MIN_ALIAS_RECOVERY:
            failed.append("alias_recovery")
        return failed


class KGReference(Workload):
    """Edge-list files -> load -> exact fit -> score -> Rm, Rn; and the delta
    fit -> delta scoring.  The delta path costs O(1) Spark jobs per accepted
    rule, so it runs on a second, smaller KG with two predicates, checked
    against the reference engine's exact fit and ranking of that KG
    (computed once, in set-up)."""

    name = "kg_reference"

    def setup_rep(self, i: int) -> None:
        self.kgs, self.paths = {}, {}
        for which, sz in self.size.items():
            self.kgs[which] = gen_kg.generate(self.seed, **sz)
            self.paths[which] = gen_kg.write(
                self.kgs[which], os.path.join(self.work, "kg", f"setup{i}"), which)

    def _load(self, which: str, out: dict):
        from kgist_spark.sources.edgelist import load_labels, load_triples

        with self.tr.span("edgelist.load") as rec:
            t = load_triples(self.spark, self.paths[which][0]).persist()
            lab = load_labels(self.spark, self.paths[which][1]).persist()
            key = "n_triples" if which == "exact" else "n_triples_delta"
            out[key] = rec["attrs"]["rows"] = t.count()
            lab.count()
        return t, lab

    def setup_once(self) -> None:
        """The delta path's oracle: the single-node reference engine's exact
        fit and anomaly ranking of the delta KG."""
        from kgist_spark.oracle import GreedySearcher, LocalKG, ModelEvaluator
        from kgist_spark.oracle.anomaly import AnomalyScorer

        kg = LocalKG.from_files(*self.paths["delta"])
        model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
        scorer = AnomalyScorer(model)
        edges = self.kgs["delta"].edges
        ranked = sorted(edges, key=lambda e: (-round(scorer.score_edge(e), SCORE_DIGITS), e))
        self.oracle = (sorted(map(repr, model.rules)), ModelEvaluator(kg).evaluate(model),
                       ranked[:len(self.kgs["delta"].corrupt)])

    def op(self) -> dict:
        from kgist_spark.operators.anomaly import score_edges, score_edges_delta
        from kgist_spark.oracle.engine import ModelEvaluator
        from kgist_spark.oracle.refine import merge_rules, nest_rules
        from kgist_spark.plans.summarizer import fit_summary

        tr, spark, kg, dkg = self.tr, self.spark, self.kgs["exact"], self.kgs["delta"]
        out = {"items": len(kg.edges) + len(dkg.edges)}
        with tr.span("build"):
            t, lab = self._load("exact", out)
            dt, dlab = self._load("delta", out)
        with tr.span("fit"):
            res = fit_summary(t, lab, mode="exact")
        _score(tr, "score", lambda: score_edges(spark, res["model"], t), len(kg.corrupt), out)
        with tr.span("refine"):
            with tr.span("refine.merge"):
                rm = merge_rules(res["model"])
            with tr.span("refine.nest"):
                rn = nest_rules(rm)
        with tr.span("delta"):
            with tr.span("delta.fit"):
                dres = fit_summary(dt, dlab, mode="delta")
            _score(tr, "delta.score", lambda: score_edges_delta(dres["delta"], dres, dt),
                   len(dkg.corrupt), out, "_delta")

        ev = ModelEvaluator(res["summarizer"].index)
        out["rules"] = sorted(map(repr, res["rules"]))
        out["rules_delta"] = sorted(map(repr, dres["rules"]))
        out["fit_bits"] = res["objective_bits"]
        # the refined models' objectives are part of the determinism gate
        out["bits"] = (res["objective_bits"], ev.evaluate(rm), ev.evaluate(rn))
        out["bits_delta"] = dres["objective_bits"]
        out["null_bits"] = _null_bits(res["summarizer"].index.stats)
        out["prec_at_k"] = len(set(out["topk"]) & kg.corrupt) / max(1, len(kg.corrupt))
        out["precision"], out["recall"] = _pr(
            {tuple(r) for r in t.select("subj", "pred", "obj").collect()}, set(kg.edges))
        out["load_delta"] = _pr(
            {tuple(r) for r in dt.select("subj", "pred", "obj").collect()}, set(dkg.edges))
        for df in (t, lab, dt, dlab):
            df.unpersist()
        return out

    def gates(self, out: dict) -> list:
        failed = super().gates(out)
        if (out["precision"], out["recall"], *out["load_delta"]) != (1.0,) * 4:
            failed.append("load_exact")
        if out["n_scored_delta"] != out["n_triples_delta"]:
            failed.append("every_triple_scored_delta")
        # the delta path must reproduce the exact fit of its KG and its ranking
        rules, bits, topk = self.oracle
        if out["rules_delta"] != rules:
            failed.append("delta_rules_match_exact")
        if abs(out["bits_delta"] - bits) > 1e-6 * abs(bits):
            failed.append("delta_bits_match_exact")
        if out["topk_delta"] != topk:
            failed.append("delta_topk_match_exact")
        return failed


WORKLOADS = {w.name: w for w in (Crawl, KGReference)}
