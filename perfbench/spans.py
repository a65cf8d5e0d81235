"""In-memory spans, Spark job accounting and per-layer instrumentation.

Spans carry (name, start, end, parent, run id) and are written out once, at
exit.  Spark work is attributed to a span by JOB-ID WINDOW: the next job id
is read from the DAG scheduler when a span opens and closes, and every job
submitted in between belongs to the span (and to its ancestors).  Job groups
would be simpler but they are thread-local, and ``materialize_kg`` submits
its writes from a thread pool.  Stage and task counts are read from
``sc.statusTracker()`` after the run, once the listener bus has caught up.

Spark evaluates lazily, so a span around a function that only BUILDS a plan
would time nothing.  :func:`instrument` therefore wraps each layer's public
functions so that a DataFrame result is persisted and counted inside the
layer's span; the extra materialization is part of the tracing overhead,
which the traced run reports against an untraced rep of the same work.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self.run_id = None
        self._persisted: list = []

    # -- job ids ---------------------------------------------------------
    def next_job_id(self) -> int:
        """The id the next submitted job will get (synchronous; the status
        tracker lags the scheduler)."""
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run": self.run_id, "parent": parent,
               "id": len(self.spans), "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["job0"] = self.next_job_id()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self.next_job_id()
            self._stack.pop()

    def keep(self, df):
        """Persist ``df`` and count it (inside the current span); the cache
        is released by :meth:`release` at the end of the rep."""
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self):
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- post-run accounting --------------------------------------------
    def settle(self, timeout: float = 30.0):
        """Wait until the status tracker knows every job the spans saw."""
        last = max((s["job1"] for s in self.spans), default=0)
        st = self.sc.statusTracker()
        deadline = time.time() + timeout
        while time.time() < deadline:
            known = set(st.getJobIdsForGroup(None))
            if all(j in known for j in range(last)) and not st.getActiveJobsIds():
                return
            time.sleep(0.05)

    def job_counts(self):
        """{job id: (stages run, tasks run)} for every job the spans saw."""
        st = self.sc.statusTracker()
        out = {}
        last = max((s["job1"] for s in self.spans), default=0)
        for j in range(last):
            info = st.getJobInfo(j)
            if info is None:
                continue
            stages = tasks = 0
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                # stages whose shuffle output was reused are skipped: no task
                if si is not None and si.numCompletedTasks + si.numFailedTasks:
                    stages += 1
                    tasks += si.numCompletedTasks + si.numFailedTasks
            out[j] = (stages, tasks)
        return out

    def dump(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def self_time(span: dict, spans: list) -> float:
    """Span duration minus its child spans' (children never overlap: every
    span opens and closes on the driver's main thread)."""
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == span["id"])
    return span["end"] - span["start"] - kids


# ---------------------------------------------------------------------------
# layer instrumentation
# ---------------------------------------------------------------------------

def _patch(patches: list, owner, attr: str, wrapper_factory):
    orig = getattr(owner, attr)
    patches.append((owner, attr, orig))
    setattr(owner, attr, wrapper_factory(orig))


@contextlib.contextmanager
def instrument(tr: Tracer):
    """Wrap the layers' public functions with materializing spans for the
    duration of the block.  Counts land in each span's ``attrs``."""
    import kgist_spark.operators.anomaly as anomaly
    import kgist_spark.operators.candidates as candidates
    import kgist_spark.operators.minhash as minhash
    import kgist_spark.pipeline.canonicalize as canonicalize
    import kgist_spark.pipeline.run as run
    import kgist_spark.plans.greedy_delta as greedy_delta
    import kgist_spark.plans.summarizer as summarizer
    from kgist_spark.oracle.engine import GreedySearcher
    from pyspark.sql import functions as F

    patches: list = []

    def df_layer(name, extra=None):
        def factory(orig):
            def wrapped(*a, **kw):
                with tr.span(name) as rec:
                    out = orig(*a, **kw)
                    if out is None:  # no distributed coverage (nested rules)
                        return out
                    out, rec["attrs"]["rows"] = tr.keep(out)
                    if extra:
                        extra(rec, out)
                return out
            return wrapped
        return factory

    extract_orig = run.extract_facts_jvm

    def traced_extract(pages):
        with tr.span("extract_jvm") as rec:
            out, rec["attrs"]["rows"] = tr.keep(extract_orig(pages))
        return out

    def dedup_factory(orig):
        def wrapped(pages, extractor=extract_orig):
            ex = traced_extract if extractor is extract_orig else extractor
            with tr.span("run.dedup") as rec:
                facts, raw_t, raw_l = orig(pages, ex)
                facts, rec["attrs"]["rows"] = tr.keep(facts)
            return facts, raw_t, raw_l
        return wrapped

    def canon_factory(orig):
        def wrapped(entities, *a, **kw):
            with tr.span("canonicalize") as rec:
                entities, rec["attrs"]["vocab"] = tr.keep(entities)
                first_child = len(tr.spans)
                out, rec["attrs"]["rows"] = tr.keep(orig(entities, *a, **kw))
                rec["attrs"]["merged"] = out.where(F.col("node") != F.col("canonical")).count()
                rec["attrs"]["distributed"] = int(any(
                    s["name"] == "minhash.candidates" for s in tr.spans[first_child:]))
            return out
        return wrapped

    def pairs_extra(rec, out):
        got = out._drop_stats.get
        rec["attrs"]["dropped"] = int(got["dropped_ids"])

    def verify_factory(orig):
        def wrapped(pairs, *a, **kw):
            with tr.span("minhash.verify") as rec:
                pairs, rec["attrs"]["in"] = tr.keep(pairs)
                out, rec["attrs"]["rows"] = tr.keep(orig(pairs, *a, **kw))
            return out
        return wrapped

    def comp_extra(rec, out):
        rec["attrs"]["n"] = out.select("component").distinct().count()

    def cand_extra(rec, out):
        rec["attrs"]["rules"] = out.select(
            "root_label", "pred", "dir", "child_label").distinct().count()

    def timed(name, attrs_fn=None):
        def factory(orig):
            def wrapped(*a, **kw):
                with tr.span(name) as rec:
                    out = orig(*a, **kw)
                    if attrs_fn:
                        attrs_fn(rec, out)
                return out
            return wrapped
        return factory

    def rules_attr(rec, out):
        rec["attrs"]["rules"] = len(out.rules)

    def delta_fit_attr(rec, out):
        rec["attrs"]["rules"] = len(out["rules"])

    _patch(patches, run, "extract_facts_dedup", dedup_factory)
    _patch(patches, run, "canonical_map", canon_factory)
    _patch(patches, minhash, "candidate_pairs", df_layer("minhash.candidates", pairs_extra))
    _patch(patches, minhash, "jaccard_verified_pairs", verify_factory)
    _patch(patches, canonicalize, "connected_components", df_layer("components", comp_extra))
    _patch(patches, run, "materialize_kg", timed("materialize"))
    _patch(patches, candidates, "candidate_edges", df_layer("candidates", cand_extra))
    _patch(patches, summarizer, "build_driver_index", timed("summarizer.index"))
    _patch(patches, GreedySearcher, "build_model", timed("engine.greedy", rules_attr))
    _patch(patches, greedy_delta.DeltaGreedy, "__init__", timed("greedy_delta.init"))
    _patch(patches, greedy_delta.DeltaGreedy, "fit", timed("greedy_delta.fit", delta_fit_attr))
    _patch(patches, anomaly, "blame_table", df_layer("anomaly.blame"))
    _patch(patches, anomaly, "blame_from_parts", df_layer("anomaly.blame"))
    _patch(patches, anomaly, "covered_triples_for_model", df_layer("anomaly.covered"))
    _patch(patches, greedy_delta.DeltaGreedy, "covered_triples", df_layer("anomaly.covered"))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
