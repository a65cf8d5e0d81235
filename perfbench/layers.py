"""Per-layer metrics of a traced run, computed from its spans.

Time metrics are SELF times: a span's duration minus the part of it its
child spans cover, summed over every span of the layer in one op, so the
layer times of an op never double count.  Counts come from the span
attributes the instrumented layers recorded, taken from the layer's first
call in the op (the exact fit's, where kg_reference also runs the delta
path); Spark job, stage and task counts from the job-id windows of the
outermost spans of each name, summed.  Each value is the median over the
run's traced ops; a layer the workload does not reach reports 0.
"""

from __future__ import annotations

import os
import statistics

from spans import self_time

#: span name -> self-time metric name
TIME_METRICS = {
    "edgelist.load": "edgelist.load_s",
    "extract_jvm": "extract_jvm.s",
    "run.dedup": "run.dedup_s",
    "canonicalize": "canonicalize.s",
    "minhash.candidates": "minhash.candidates_s",
    "minhash.verify": "minhash.verify_s",
    "components": "components.s",
    "materialize": "materialize.s",
    "candidates": "candidates.s",
    "summarizer.index": "summarizer.index_s",
    "engine.greedy": "engine.greedy_s",
    "greedy_delta.init": "greedy_delta.init_s",
    "greedy_delta.fit": "greedy_delta.fit_s",
    "refine.merge": "refine.merge_s",
    "refine.nest": "refine.nest_s",
    "anomaly.blame": "anomaly.blame_s",
    "anomaly.covered": "anomaly.covered_s",
    "score": "anomaly.score_s",
    "delta.score": "anomaly.delta_score_s",
    "build": "build.self_s",
    "fit": "fit.self_s",
    "delta.fit": "delta.fit.self_s",
}

#: spans whose Spark jobs, stages and tasks are reported
JOB_SPANS = (
    "build", "fit", "score", "delta", "edgelist.load", "extract_jvm", "run.dedup",
    "canonicalize", "minhash.candidates", "minhash.verify", "components",
    "materialize", "candidates", "summarizer.index", "engine.greedy",
    "greedy_delta.init", "greedy_delta.fit", "anomaly.blame", "anomaly.covered",
)

#: count metric -> unit
COUNT_UNITS = {
    "edgelist.rows": "count",
    "extract_jvm.facts_per_doc": "facts/doc",
    "run.dedup_keep_ratio": "ratio",
    "canonicalize.vocab": "count",
    "canonicalize.merged": "count",
    "canonicalize.distributed": "0/1",
    "minhash.candidate_pairs": "count",
    "minhash.verified_ratio": "ratio",
    "minhash.dropped": "count",
    "components.n": "count",
    "materialize.bytes_per_triple": "B/triple",
    "materialize.files": "count",
    "candidates.contributions": "count",
    "candidates.rules": "count",
    "engine.rules": "count",
    "greedy_delta.jobs": "count",
    "greedy_delta.jobs_per_rule": "jobs/rule",
    "anomaly.covered_ratio": "ratio",
    "anomaly.prec_at_k": "ratio",
    "trace.span_coverage": "ratio",
}


def names() -> dict:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    out = {m: "s" for m in TIME_METRICS.values()}
    out.update(COUNT_UNITS)
    out.update({f"{s}.{k}": "count" for s in JOB_SPANS for k in ("jobs", "stages", "tasks")})
    out["trace.wall_s"] = "s"
    return out


def _parquet_files(path: str) -> tuple:
    files = size = 0
    for dirpath, _, fnames in os.walk(path):
        for f in fnames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def _outermost(spans: list, name: str) -> list:
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if s["name"] == name and not nested(s)]


def _op_metrics(spans: list, out: dict, jobs: dict) -> dict:
    m = {metric: sum(self_time(s, spans) for s in spans if s["name"] == span)
         for span, metric in TIME_METRICS.items()}

    def attr(name, key):
        outer = _outermost(spans, name)
        return outer[0]["attrs"].get(key, 0) if outer else 0

    def n_jobs(name):
        return sum(s["job1"] - s["job0"] for s in _outermost(spans, name))

    for span in JOB_SPANS:
        ids = [j for s in _outermost(spans, span) for j in range(s["job0"], s["job1"])]
        m[f"{span}.jobs"] = len(ids)
        m[f"{span}.stages"] = sum(jobs.get(j, (0, 0))[0] for j in ids)
        m[f"{span}.tasks"] = sum(jobs.get(j, (0, 0))[1] for j in ids)

    docs = out.get("docs", 0)
    extracted = attr("extract_jvm", "rows")
    pairs_in = attr("minhash.verify", "in")
    rules = attr("greedy_delta.fit", "rules")
    files, size = _parquet_files(out["out_dir"]) if "out_dir" in out else (0, 0)
    m.update({
        "edgelist.rows": attr("edgelist.load", "rows"),
        "extract_jvm.facts_per_doc": extracted / docs if docs else 0.0,
        "run.dedup_keep_ratio": attr("run.dedup", "rows") / extracted if extracted else 0.0,
        "canonicalize.vocab": attr("canonicalize", "vocab"),
        "canonicalize.merged": attr("canonicalize", "merged"),
        "canonicalize.distributed": attr("canonicalize", "distributed"),
        "minhash.candidate_pairs": attr("minhash.candidates", "rows"),
        "minhash.verified_ratio": attr("minhash.verify", "rows") / pairs_in if pairs_in else 0.0,
        "minhash.dropped": attr("minhash.candidates", "dropped"),
        "components.n": attr("components", "n"),
        "materialize.bytes_per_triple": size / out["n_triples"],
        "materialize.files": files,
        "candidates.contributions": attr("candidates", "rows"),
        "candidates.rules": attr("candidates", "rules"),
        "engine.rules": attr("engine.greedy", "rules"),
        "greedy_delta.jobs": n_jobs("greedy_delta.init") + n_jobs("greedy_delta.fit"),
        "greedy_delta.jobs_per_rule": n_jobs("greedy_delta.fit") / rules if rules else 0.0,
        "anomaly.covered_ratio": attr("anomaly.covered", "rows") / out["n_triples"],
        "anomaly.prec_at_k": out["prec_at_k"],
    })
    top = [s for s in spans if s["parent"] is None]
    wall = max(s["end"] for s in top) - min(s["start"] for s in top)
    m["trace.wall_s"] = wall
    m["trace.span_coverage"] = sum(s["end"] - s["start"] for s in top) / wall
    return m


def per_layer(tr, traced: list) -> dict:
    tr.settle()
    jobs = tr.job_counts()
    per_op = [_op_metrics([s for s in tr.spans if s["run"] == n], out, jobs)
              for n, out in traced]
    return {name: {"value": statistics.median(m[name] for m in per_op), "unit": unit}
            for name, unit in names().items()}
