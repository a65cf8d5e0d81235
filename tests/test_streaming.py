"""Structured-Streaming ingestion: incremental extraction equals batch
extraction, processes new files exactly once on restart, and the watermarked
window aggregation matches its batch equivalent."""

import pytest
from pyspark.sql import functions as F

from kgist_spark.sources.webpages import World, generate_pages

pytestmark = pytest.mark.spark


def test_incremental_extraction_matches_batch_and_resumes(spark, tmp_path):
    from kgist_spark.pipeline.extract import extract_triples
    from kgist_spark.streaming.ingest import run_incremental_extraction

    world = World(42)
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    batch1 = generate_pages(spark, 100, seed=42, world=world)
    batch1.write.mode("append").parquet(in_dir)
    run_incremental_extraction(spark, in_dir, out_dir, ckpt)
    got1 = spark.read.parquet(out_dir)
    want1 = extract_triples(batch1)
    assert got1.count() == want1.count()

    # new files arrive; a re-run processes ONLY them (stream checkpoint)
    batch2 = generate_pages(spark, 60, seed=777, world=world)
    batch2.write.mode("append").parquet(in_dir)
    run_incremental_extraction(spark, in_dir, out_dir, ckpt)
    got2 = spark.read.parquet(out_dir)
    want_total = want1.count() + extract_triples(batch2).count()
    assert got2.count() == want_total

    # idempotent: nothing new -> nothing appended
    run_incremental_extraction(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == want_total

    # content equality (set of extracted triples)
    batch_all = spark.read.parquet(in_dir)
    want_set = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in extract_triples(batch_all).collect()
    }
    got_set = {
        (r["url"], r["subj"], r["pred"], r["obj"]) for r in got2.collect()
    }
    assert got_set == want_set


def test_windowed_event_counts_match_batch(spark, tmp_path):
    from kgist_spark.streaming.ingest import windowed_event_counts

    import shutil

    src = "/root/testdata/sf0.001/events.parquet"
    src_dir = tmp_path / "events"
    src_dir.mkdir()
    shutil.copy(src, src_dir / "part-0.parquet")  # file streams need a directory
    events_stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(str(src_dir))
    )
    out = windowed_event_counts(events_stream)
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["avg_value"], 6))
        for r in spark.sql("select * from wincounts").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n"], round(r["avg_value"], 6))
        for r in spark.read.parquet(src)
        .groupBy(F.date_trunc("HOUR", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
        .collect()
    }
    assert got == want


def test_stateful_dedup_across_batches_and_restarts(spark, tmp_path):
    """applyInPandasWithState dedup: the first doc per md5 wins across
    micro-batches AND across stream restarts (state restored from the
    checkpoint); later duplicates are never re-emitted."""
    from kgist_spark.streaming.ingest import PAGES_DDL, run_incremental_dedup

    inp = tmp_path / "in"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    inp.mkdir()

    def page(url, text):
        return (url, None, None, text, "en")

    spark.createDataFrame(
        [page("u1", "alpha text"), page("u2", "beta text")], PAGES_DDL
    ).write.parquet(str(inp / "f1.parquet"))
    run_incremental_dedup(spark, str(inp) + "/*", out, ckpt)
    first = {r["text_md5"] for r in spark.read.parquet(out).collect()}
    assert len(first) == 2

    # new arrivals: one duplicate of an old doc, one genuinely new
    spark.createDataFrame(
        [page("u3", "alpha text"), page("u4", "gamma text")], PAGES_DDL
    ).write.parquet(str(inp / "f2.parquet"))
    run_incremental_dedup(spark, str(inp) + "/*", out, ckpt)
    rows = spark.read.parquet(out).collect()
    md5s = [r["text_md5"] for r in rows]
    assert len(md5s) == 3 and len(set(md5s)) == 3  # dup NOT re-emitted

    # keep_id is the md5 of 'gamma text' holder only among new rows
    got_new = set(md5s) - first
    assert len(got_new) == 1


def test_streaming_dedup_then_pipeline_matches_batch(spark, tmp_path):
    """e2e: incremental (cross-batch stateful) dedup feeding the batch
    KG-construction pipeline produces the SAME KG as batch-dedup-then-
    pipeline.  Keeper choice may differ between the two paths (first-seen
    micro-batch vs global min doc_id), but duplicate pages carry identical
    text, so the constructed (subj, pred, obj) and label sets must be
    identical either way — that is the dedup-is-safe-for-KG invariant."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.streaming.ingest import run_incremental_dedup

    world = World(7)
    inp = tmp_path / "pages"
    out = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    inp.mkdir()

    pages1 = generate_pages(spark, 40, seed=7, world=world)
    # re-urled copies of half of batch 1 arrive later (cross-batch dups)
    dups = pages1.where(F.hash("url") % 2 == 0).withColumn(
        "url", F.concat(F.lit("dup-"), F.col("url"))
    )
    pages2 = generate_pages(spark, 30, seed=99, world=world).unionByName(dups)

    pages1.write.parquet(str(inp / "f1.parquet"))
    run_incremental_dedup(spark, str(inp) + "/*", out, ckpt)
    pages2.write.parquet(str(inp / "f2.parquet"))
    run_incremental_dedup(spark, str(inp) + "/*", out, ckpt)

    kept = spark.read.parquet(out)
    all_pages = pages1.unionByName(pages2)
    with_id = all_pages.withColumn(
        "doc_id", F.abs(F.hash("url")).cast("long")
    ).withColumn("text_md5", F.md5("text"))

    # the stream kept exactly one doc per distinct text
    n_distinct = with_id.select("text_md5").distinct().count()
    assert kept.count() == n_distinct
    assert kept.count() < all_pages.count()  # something was actually dropped

    stream_kept = with_id.join(
        kept.withColumnRenamed("keep_id", "doc_id"), ["text_md5", "doc_id"], "semi"
    )
    batch_kept = with_id.join(
        with_id.groupBy("text_md5").agg(F.min("doc_id").alias("doc_id")),
        ["text_md5", "doc_id"],
        "semi",
    )
    assert stream_kept.count() == batch_kept.count() == n_distinct

    cols = ["url", "warc_ts", "html", "text", "lang"]
    triples_a, labels_a = construct_kg(spark, stream_kept.select(*cols))
    triples_b, labels_b = construct_kg(spark, batch_kept.select(*cols))

    set_a = {(r["subj"], r["pred"], r["obj"]) for r in triples_a.collect()}
    set_b = {(r["subj"], r["pred"], r["obj"]) for r in triples_b.collect()}
    assert set_a == set_b and set_a

    lab_a = {(r["node"], r["label"]) for r in labels_a.collect()}
    lab_b = {(r["node"], r["label"]) for r in labels_b.collect()}
    assert lab_a == lab_b and lab_a


# ---------------------------------------------------------------------------
# incremental KG construction (streaming/construct.py)
# ---------------------------------------------------------------------------

def test_incremental_construct_matches_batch(spark, tmp_path):
    """3 arrival batches over the generated corpus produce the same KG as
    one batch rebuild (canonical groupings compared as partitions; triples
    compared after normalizing each group to its min representative)."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import generate_pages
    from kgist_spark.streaming.construct import (
        read_dictionary,
        read_incremental_kg,
        run_incremental_construct,
    )

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 1500, seed=42).cache()
    pages.count()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for lo, hi in [(0, 500), (500, 1000), (1000, 1500)]:
        pages.where((docnum >= lo) & (docnum < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)

    res = run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )
    assert len(res) == 3 and not any(r["skipped"] for r in res)

    it, il = read_incremental_kg(spark, out)
    bt, bl = construct_kg(spark, pages, out_dir=None)
    assert it.count() == bt.count()
    assert il.count() == bl.count()

    # canonical partitions agree (set of member-sets)
    groups = {}
    for r in read_dictionary(spark, out).collect():
        groups.setdefault(r["canonical"], set()).add(r["surface"])
    rep = {c: min(m) for c, m in groups.items()}
    iset = {
        (rep.get(r["subj"], r["subj"]), r["pred"], rep.get(r["obj"], r["obj"]))
        for r in it.collect()
    }
    bset = {(r["subj"], r["pred"], r["obj"]) for r in bt.collect()}
    # batch canonicals are already min-of-group representatives
    assert iset == bset and iset

    # eids stayed unique and dense-from-zero across batches
    eids = sorted(r["eid"] for r in it.select("eid").collect())
    assert eids == list(range(len(eids)))

    # resume: nothing new arrives -> no batches run, KG unchanged
    res2 = run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )
    assert res2 == []
    it2, _ = read_incremental_kg(spark, out)
    assert it2.count() == it.count()


def test_incremental_linking_and_grow_only_contract(spark, tmp_path):
    """Surface variants arriving in later batches link into the existing
    canonical group via the LSH dictionary path (no group ever splits), and
    a replayed batch reproduces its own output (exactly-once)."""
    from kgist_spark.streaming.construct import (
        construct_batch_incremental,
        read_dictionary,
        read_incremental_kg,
    )

    out = str(tmp_path / "kg")

    def pages_df(rows):
        import datetime as dt

        return spark.createDataFrame(
            [(u, dt.datetime(2024, 1, 1), b"", t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    b0 = pages_df([("u://0", "Quantum Dynamics Inc is located in Berlin.")])
    b1 = pages_df([("u://1", "Alice Smith works for Quantum Dynamics Corp.")])
    b2 = pages_df([("u://2", "Bob Jones founded Quantum Dynamics Labs.")])

    construct_batch_incremental(spark, b0, out, batch_id=0, n_buckets=2)
    construct_batch_incremental(spark, b1, out, batch_id=1, n_buckets=2)

    # true replay recompute (crash AFTER batch 1's table writes but BEFORE
    # its manifest append; the stream replays batch 1 before batch 2 can
    # start — batches commit serially): drop batch 1's manifest rows and
    # re-run — the exclude-own-batch reads must reproduce the identical
    # rows AND eids, not anti-join them away against batch 1's own
    # half-committed partitions
    import json

    from kgist_spark.pipeline.materialize import read_manifest

    it, _ = read_incremental_kg(spark, out)
    before = sorted(map(tuple, it.select("subj", "pred", "obj", "eid").collect()))
    entries = [e for e in read_manifest(out) if e.get("batch") != 1]
    with open(f"{out}/_manifest.json", "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in entries)
    res = construct_batch_incremental(spark, b1, out, batch_id=1, n_buckets=2)
    assert not res["skipped"]
    it2, _ = read_incremental_kg(spark, out)
    after = sorted(map(tuple, it2.select("subj", "pred", "obj", "eid").collect()))
    assert after == before

    construct_batch_incremental(spark, b2, out, batch_id=2, n_buckets=2)

    groups = {}
    for r in read_dictionary(spark, out).collect():
        groups.setdefault(r["canonical"], set()).add(r["surface"])
    variants = {
        "org:quantum_dynamics_inc",
        "org:quantum_dynamics_corp",
        "org:quantum_dynamics_labs",
    }
    # all three variants share ONE canonical: the first-arrival group root
    assert groups["org:quantum_dynamics_inc"] >= variants

    it, _ = read_incremental_kg(spark, out)
    triples = {(r["subj"], r["pred"], r["obj"]) for r in it.collect()}
    assert ("org:quantum_dynamics_inc", "located_in", "place:berlin") in triples
    assert ("person:alice_smith", "works_for", "org:quantum_dynamics_inc") in triples
    assert ("person:bob_jones", "founded", "org:quantum_dynamics_inc") in triples

    # fast-resume replay: manifest rows present -> skipped wholesale
    n_before = it.count()
    res = construct_batch_incremental(spark, b1, out, batch_id=1, n_buckets=2)
    assert res["skipped"]
    it3, _ = read_incremental_kg(spark, out)
    assert it3.count() == n_before


def test_run_pipeline_incremental_cli(spark, tmp_path, capsys):
    """`run_pipeline.py --incremental` folds new files into the KG and is a
    no-op when nothing new arrived (stream checkpoint)."""
    import json as _json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import run_pipeline

    from kgist_spark.sources.webpages import generate_pages

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    pages = generate_pages(spark, 300, seed=9)
    pages.coalesce(1).write.parquet(stream_in)

    run_pipeline.main(
        ["--incremental", "--input", stream_in, "--out", out, "--buckets", "2"],
        spark=spark,
    )
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "incremental"
    assert rep["n_triples"] > 0
    assert len(rep["batches"]) == 1 and not rep["batches"][0]["skipped"]

    run_pipeline.main(
        ["--incremental", "--input", stream_in, "--out", out, "--buckets", "2"],
        spark=spark,
    )
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["batches"] == []
    assert rep2["n_triples"] == rep["n_triples"]


def test_incremental_matches_batch_on_alias_corpus(spark, tmp_path):
    """On a corpus with REAL merge work (alias_rate surfaces), incremental
    construction — including cross-batch linking of late-arriving variants
    through the LSH dictionary path — produces the same canonical partition
    and the same normalized KG as one batch rebuild."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import World, generate_pages
    from kgist_spark.streaming.construct import (
        read_dictionary,
        read_incremental_kg,
        run_incremental_construct,
    )

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    world = World(42, alias_rate=0.5)
    pages = generate_pages(spark, 2000, seed=42, world=world).cache()
    pages.count()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for lo, hi in [(0, 1000), (1000, 2000)]:
        pages.where((docnum >= lo) & (docnum < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)

    run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )

    igroups = {}
    for r in read_dictionary(spark, out).collect():
        igroups.setdefault(r["canonical"], set()).add(r["surface"])
    imerged = {frozenset(v) for v in igroups.values() if len(v) > 1}

    from kgist_spark.pipeline.canonicalize import canonical_map, entity_vocabulary
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm

    raw = (
        extract_facts_jvm(pages).where("kind = 't'")
        .groupBy("subj", "pred", "obj").agg(F.min("url").alias("url"))
    )
    bgroups = {}
    for r in canonical_map(entity_vocabulary(raw)).collect():
        bgroups.setdefault(r["canonical"], set()).add(r["node"])
    bmerged = {frozenset(v) for v in bgroups.values() if len(v) > 1}
    assert imerged == bmerged and len(imerged) >= 5

    # normalized triples equal (representative = min of group on both sides)
    irep = {c: min(m) for c, m in igroups.items()}
    it, _ = read_incremental_kg(spark, out)
    iset = {
        (irep.get(r["subj"], r["subj"]), r["pred"], irep.get(r["obj"], r["obj"]))
        for r in it.collect()
    }
    bt, _ = construct_kg(spark, pages, out_dir=None)
    bset = {(r["subj"], r["pred"], r["obj"]) for r in bt.collect()}
    assert iset == bset and iset
    pages.unpersist()


def test_indexed_linking_matches_unindexed(spark, tmp_path):
    """Linking through the persisted LSH index produces the same links as
    the unindexed link_mentions operator (same hash family -> same
    candidates), the index covers every dictionary surface, and the alias
    flow works through the index across 3 batches."""
    from kgist_spark.pipeline.canonicalize import entity_vocabulary, link_mentions
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
    from kgist_spark.sources.webpages import World, generate_pages
    from kgist_spark.streaming.construct import (
        construct_batch_incremental,
        dict_size_from_manifest,
        link_entities_to_dictionary,
        read_dictionary,
        read_index,
    )

    out = str(tmp_path / "kg")
    world = World(42, alias_rate=0.5)
    pages = generate_pages(spark, 1200, seed=42, world=world).cache()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    construct_batch_incremental(
        spark, pages.where(docnum < 400), out, batch_id=0, n_buckets=2)

    # link the later pages against the state batch 0 left behind
    d = read_dictionary(spark, out)
    raw = (
        extract_facts_jvm(pages.where(docnum >= 400)).where("kind = 't'")
        .groupBy("subj", "pred", "obj").agg(F.min("url").alias("url"))
    )
    ents = entity_vocabulary(raw)
    got = link_entities_to_dictionary(
        ents, d, read_index(spark, out), dict_size_from_manifest(out)
    )
    known = {r["surface"]: r["canonical"] for r in d.collect()}
    # near-match links: new surfaces that adopted an existing canonical
    # (intra-batch groups are rooted at a new surface, never a known one)
    indexed = {
        (r["node"], r["canonical"]) for r in got.collect()
        if r["node"] not in known and r["canonical"] in known.values()
    }
    unknown = ents.join(d.select(F.col("surface").alias("node")), "node", "left_anti")
    reference = {
        (r["mention"], known[r["linked"]])
        for r in link_mentions(
            unknown.select(F.col("node").alias("mention")),
            d.select(F.col("surface").alias("entity")),
            threshold=0.70, same_prefix=True,
        ).collect()
    }
    assert indexed == reference and indexed

    for i, (lo, hi) in enumerate([(400, 800), (800, 1200)], start=1):
        construct_batch_incremental(
            spark, pages.where((docnum >= lo) & (docnum < hi)), out,
            batch_id=i, n_buckets=2,
        )
    # index covers exactly the dictionary's surfaces
    assert {r["surface"] for r in read_index(spark, out).select("surface").distinct().collect()} \
        == {r["surface"] for r in read_dictionary(spark, out).select("surface").collect()}
    pages.unpersist()


def test_summarize_incremental_kg_matches_batch(spark, tmp_path):
    """KGist MDL summarization over an incrementally-built KG equals
    summarization over the batch rebuild (same corpus, same groupings ->
    identical rules and bits)."""
    from kgist_spark.pipeline.run import construct_kg, summarize_constructed_kg
    from kgist_spark.sources.webpages import generate_pages
    from kgist_spark.streaming.construct import (
        read_incremental_kg,
        run_incremental_construct,
    )

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 1000, seed=42).cache()
    pages.count()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for lo, hi in [(0, 500), (500, 1000)]:
        pages.where((docnum >= lo) & (docnum < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)
    run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )
    it, il = read_incremental_kg(spark, out)
    _, m_incr = summarize_constructed_kg(it, il)

    bt, bl = construct_kg(spark, pages, out_dir=None)
    _, m_batch = summarize_constructed_kg(bt, bl)

    assert set(m_incr.rules) == set(m_batch.rules) and m_incr.rules
    pages.unpersist()


@pytest.mark.nightly
def test_incremental_vs_batch_fuzz(spark, tmp_path):
    """Seeded sweep: random corpora (with and without alias surfaces) split
    into random batch counts must produce normalized-identical KGs through
    the incremental path.  Nightly: ~8 constructs."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import World, generate_pages
    from kgist_spark.streaming.construct import (
        read_dictionary,
        read_incremental_kg,
        run_incremental_construct,
    )

    cases = [
        (101, 0.0, 2), (202, 0.0, 3), (303, 0.5, 2), (404, 0.5, 4),
    ]
    for seed, alias_rate, n_batches in cases:
        base = tmp_path / f"s{seed}"
        world = World(seed, alias_rate=alias_rate)
        n_docs = 900
        pages = generate_pages(spark, n_docs, seed=seed, world=world).cache()
        pages.count()
        docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
        step = n_docs // n_batches
        for i in range(n_batches):
            hi = n_docs if i == n_batches - 1 else (i + 1) * step
            pages.where((docnum >= i * step) & (docnum < hi)).coalesce(1) \
                .write.mode("append").parquet(str(base / "in"))
        run_incremental_construct(
            spark, str(base / "in"), str(base / "kg"), str(base / "ckpt"),
            n_buckets=4, max_files_per_trigger=1,
        )
        groups = {}
        for r in read_dictionary(spark, str(base / "kg")).collect():
            groups.setdefault(r["canonical"], set()).add(r["surface"])
        rep = {c: min(m) for c, m in groups.items()}
        it, il = read_incremental_kg(spark, str(base / "kg"))
        iset = {
            (rep.get(r["subj"], r["subj"]), r["pred"], rep.get(r["obj"], r["obj"]))
            for r in it.collect()
        }
        ilabs = {(rep.get(r["node"], r["node"]), r["label"]) for r in il.collect()}
        bt, bl = construct_kg(spark, pages, out_dir=None)
        bset = {(r["subj"], r["pred"], r["obj"]) for r in bt.collect()}
        blabs = {(r["node"], r["label"]) for r in bl.collect()}
        assert iset == bset and iset, f"seed={seed} triples diverged"
        assert ilabs == blabs, f"seed={seed} labels diverged"
        pages.unpersist()


def test_bridge_detection_and_grow_only_linking(spark, tmp_path):
    """A new surface similar to TWO existing (mutually dissimilar) canonical
    groups is a 'bridge': it must link to its single best-scoring group,
    the existing groups must NOT merge, and the batch summary must report
    n_bridges — the operational signal for a periodic batch rebuild."""
    import datetime as dt

    from kgist_spark.streaming.construct import (
        construct_batch_incremental,
        read_dictionary,
    )

    out = str(tmp_path / "kg")

    def pages_df(rows):
        return spark.createDataFrame(
            [(u, dt.datetime(2024, 1, 1), b"", t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    # batch 0: two org groups whose ids are mutually dissimilar (J=0.46)
    a = "Stellar Quantum Dynamics Inc"
    b = "Quantum Dynamics Cascade Inc"
    c = "Stellar Quantum Dynamics Cascade Inc"  # J(a,c)=0.74, J(b,c)=0.70
    r0 = construct_batch_incremental(
        spark,
        pages_df([("u://0", f"{a} is located in Berlin."),
                  ("u://1", f"{b} is located in Oslo.")]),
        out, batch_id=0, n_buckets=2, threshold=0.69,
    )
    assert r0["n_bridges"] == 0
    groups0 = {r["surface"]: r["canonical"]
               for r in read_dictionary(spark, out).collect()}
    ida, idb = "org:stellar_quantum_dynamics_inc", "org:quantum_dynamics_cascade_inc"
    assert groups0[ida] != groups0[idb]  # two distinct groups

    # batch 1: the bridge arrives
    r1 = construct_batch_incremental(
        spark,
        pages_df([("u://2", f"Alice Smith works for {c}.")]),
        out, batch_id=1, n_buckets=2, threshold=0.69,
    )
    assert r1["n_bridges"] == 1
    groups1 = {r["surface"]: r["canonical"]
               for r in read_dictionary(spark, out).collect()}
    idc = "org:stellar_quantum_dynamics_cascade_inc"
    # grow-only: existing groups unchanged, bridge joined the best match (a)
    assert groups1[ida] == groups0[ida] and groups1[idb] == groups0[idb]
    assert groups1[idc] == groups0[ida]


def test_index_and_manifest_coverage_guards(spark, tmp_path):
    """The manifest-driven dictionary size is exact, also after a crash
    between a fold's KG-table manifest rows and its canon_dict row (the
    batch must replay, not be skipped), and state that does not cover
    every dictionary batch is REFUSED with an error naming the missing
    batches: an index partition missing stops the next fold and
    compaction, canon_dict manifest rows missing stop the size probe."""
    import json
    import shutil

    from kgist_spark.pipeline.materialize import read_manifest
    from kgist_spark.streaming.construct import (
        INDEX_DIR,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
    )

    world = World(42)
    out = str(tmp_path / "kg")
    mpath = f"{out}/_manifest.json"
    b1 = generate_pages(spark, 90, seed=2, world=world)
    construct_batch_incremental(
        spark, generate_pages(spark, 120, seed=1, world=world), out, 0, n_buckets=2)
    construct_batch_incremental(spark, b1, out, 1, n_buckets=2)

    # crash window: batch 1's canon_dict row never made it to the manifest
    entries = [e for e in read_manifest(out)
               if (e["table"], e.get("batch")) != ("canon_dict", 1)]
    with open(mpath, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in entries)
    with pytest.raises(RuntimeError, match=r"dictionary batch\(es\) \[1\]"):
        dict_size_from_manifest(out)
    assert not construct_batch_incremental(spark, b1, out, 1, n_buckets=2)["skipped"]
    assert ("canon_dict", 1) in {(e["table"], e.get("batch")) for e in read_manifest(out)}

    # manifest-driven dictionary size equals the real dictionary row count
    assert dict_size_from_manifest(out) == read_dictionary(spark, out).count()
    # excluding a replayed batch stays covered and consistent
    assert dict_size_from_manifest(out, exclude_batch=1) == \
        read_dictionary(spark, out, exclude_batch=1).count()

    # batch 0's index partition is missing: linking would be blind to its
    # surfaces, so the next fold and compaction both refuse
    shutil.rmtree(f"{out}/{INDEX_DIR}/batch=0")
    missing0 = r"dictionary batch\(es\) \[0\]"
    with pytest.raises(RuntimeError, match=missing0):
        construct_batch_incremental(
            spark, generate_pages(spark, 60, seed=3, world=world), out, 2,
            n_buckets=2)
    with pytest.raises(RuntimeError, match=missing0):
        compact_dictionary_state(spark, out, keep_last=1)
    # ...but excluding batch 0 (its replay) sees a covered index
    assert read_index(spark, out, exclude_batch=0) is not None

    # canon_dict manifest rows missing: the size probe refuses
    entries = [json.loads(l) for l in open(mpath) if l.strip()]
    with open(mpath, "w") as f:
        for e in entries:
            if e["table"] != "canon_dict":
                f.write(json.dumps(e) + "\n")
    with pytest.raises(RuntimeError, match=r"dictionary batch\(es\) \[0, 1\]"):
        dict_size_from_manifest(out)


def test_compact_dictionary_state_preserves_content_and_linking(spark, tmp_path):
    """Compaction merges old dict/index partitions into one partition
    each with IDENTICAL reader-visible content, the manifest size probe
    stays exact, and the next batch links identically to an uncompacted
    twin KG."""
    from kgist_spark.streaming.construct import (
        DICT_DIR,
        INDEX_DIR,
        _batch_ids,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
    )

    world = World(42)
    batches = [generate_pages(spark, n, seed=s, world=world).cache()
               for n, s in ((120, 1), (90, 2), (100, 3), (80, 4))]
    out_a = str(tmp_path / "kg_a")   # compacted
    out_b = str(tmp_path / "kg_b")   # control
    for out in (out_a, out_b):
        for b in range(3):
            construct_batch_incremental(spark, batches[b], out, b, n_buckets=2)

    def snapshot(out):
        d = sorted((r["surface"], r["canonical"])
                   for r in read_dictionary(spark, out).collect())
        ix = sorted((r["surface"], r["band"], r["bucket"])
                    for r in read_index(spark, out).collect())
        return d, ix

    before = snapshot(out_a)
    res = compact_dictionary_state(spark, out_a, keep_last=1)
    assert res["compacted"] == 2 and res["into"] == 1
    for sub in (DICT_DIR, INDEX_DIR):
        assert _batch_ids(f"{out_a}/{sub}") == {1, 2}, sub
    assert snapshot(out_a) == before
    assert dict_size_from_manifest(out_a) == len(before[0])

    # the next batch behaves identically on compacted vs control state
    ra = construct_batch_incremental(spark, batches[3], out_a, 3, n_buckets=2)
    rb = construct_batch_incremental(spark, batches[3], out_b, 3, n_buckets=2)
    assert (ra["new_triples"], ra["n_bridges"]) == (rb["new_triples"], rb["n_bridges"])
    da = sorted((r["surface"], r["canonical"]) for r in read_dictionary(spark, out_a).collect())
    db = sorted((r["surface"], r["canonical"]) for r in read_dictionary(spark, out_b).collect())
    assert da == db


def test_compaction_crash_recovery(spark, tmp_path):
    """(a) keep_last=0 is rejected (the newest batch is still replayable);
    (b) the dictionary and index are merged over the SAME batch set;
    (c) a crash AFTER the write-ahead plan is finished idempotently by the
    next call with identical final state."""
    import json
    import os

    from kgist_spark.streaming.construct import (
        DICT_DIR,
        INDEX_DIR,
        _batch_ids,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
    )

    world = World(42)
    out = str(tmp_path / "kg")
    for b in range(3):
        construct_batch_incremental(
            spark, generate_pages(spark, 80, seed=b + 1, world=world),
            out, b, n_buckets=2)

    with pytest.raises(ValueError, match="keep_last"):
        compact_dictionary_state(spark, out, keep_last=0)

    dict_before = sorted(
        (r["surface"], r["canonical"]) for r in read_dictionary(spark, out).collect()
    )
    res = compact_dictionary_state(spark, out, keep_last=1)
    assert res["compacted"] == 2 and res["into"] == 1
    # dictionary/index merged over the SAME batch set and stay covered
    for sub in (DICT_DIR, INDEX_DIR):
        assert _batch_ids(os.path.join(out, sub)) == {1, 2}, sub
    assert read_index(spark, out) is not None
    assert sorted((r["surface"], r["canonical"])
                  for r in read_dictionary(spark, out).collect()) == dict_before
    assert dict_size_from_manifest(out) == len(dict_before)

    # crash-recovery: write a plan file by hand mimicking an interrupted
    # run whose destructive phase never happened (ready dir still staged)
    plan = {"target": 1, "n_old": 2, "dict_rows": len(dict_before),
            "tables": {}}
    with open(f"{out}/_compact_plan.json", "w") as f:
        json.dump(plan, f)
    res2 = compact_dictionary_state(spark, out, keep_last=1)
    assert res2["recovered"] is True
    assert not os.path.exists(f"{out}/_compact_plan.json")
    assert sorted((r["surface"], r["canonical"])
                  for r in read_dictionary(spark, out).collect()) == dict_before


def test_compaction_mid_swap_crash_is_idempotent(spark, tmp_path, monkeypatch):
    """A crash BETWEEN table swaps (after the write-ahead plan, after the
    dictionary's os.replace, during the index's) must be finished by the
    next call with IDENTICAL final content — in particular the already-
    swapped batch=<target> partition (now holding the merged dictionary)
    must never be rmtree'd by the recovery pass.  Also pins: keep_last
    larger than the batch count compacts nothing (no negative slice)."""
    import os as _os

    from kgist_spark.streaming.construct import (
        DICT_DIR,
        INDEX_DIR,
        _batch_ids,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
    )

    world = World(7)
    out = str(tmp_path / "kg")
    for b in range(3):
        construct_batch_incremental(
            spark, generate_pages(spark, 80, seed=b + 1, world=world),
            out, b, n_buckets=2)

    assert compact_dictionary_state(spark, out, keep_last=10) == {
        "compacted": 0, "into": None}

    dict_before = sorted(
        (r["surface"], r["canonical"]) for r in read_dictionary(spark, out).collect()
    )
    def index_rows():
        return sorted((r["surface"], r["band"], r["bucket"])
                      for r in read_index(spark, out).collect())

    index_before = index_rows()

    # crash injection: the index table's swap dies mid-flight (the plan and
    # the dictionary swap have already happened)
    real_replace = _os.replace

    def dying_replace(src, dst):
        if f"{INDEX_DIR}/batch=" in str(dst).replace("\\", "/"):
            raise RuntimeError("injected crash during index swap")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", dying_replace)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_dictionary_state(spark, out, keep_last=1)
    monkeypatch.setattr(_os, "replace", real_replace)

    # state after the simulated crash: plan file present, dictionary swap
    # consumed its staging dir, index staging dir still waiting
    assert _os.path.exists(f"{out}/_compact_plan.json")
    assert not _os.path.isdir(f"{out}/{DICT_DIR}._compact_ready")
    assert _os.path.isdir(f"{out}/{INDEX_DIR}._compact_ready")

    res = compact_dictionary_state(spark, out, keep_last=1)
    assert res["recovered"] is True and res["into"] == 1
    assert not _os.path.exists(f"{out}/_compact_plan.json")
    for sub in (DICT_DIR, INDEX_DIR):
        assert _batch_ids(f"{out}/{sub}") == {1, 2}, sub
    assert sorted((r["surface"], r["canonical"])
                  for r in read_dictionary(spark, out).collect()) == dict_before
    assert index_rows() == index_before
    assert dict_size_from_manifest(out) == len(dict_before)


def test_compact_cli_rejects_other_flags_even_falsy():
    """--compact is standalone; --generate 0 must not slip past the guard
    through int falsiness."""
    from run_pipeline import main

    with pytest.raises(SystemExit):
        main(["--compact", "--generate", "0", "--out", "/tmp/nowhere"])


def test_stateful_domain_cap_across_batches_and_restarts(spark, tmp_path):
    """Per-domain quota holds ACROSS micro-batch runs: the second
    AvailableNow run (state restored from the checkpoint) admits only into
    remaining quota, and a domain that filled up admits nothing more."""
    from kgist_spark.streaming.ingest import run_incremental_domain_cap

    inp = tmp_path / "in"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    inp.mkdir()

    def pages(rows):
        return spark.createDataFrame(
            [(f"https://{d}/p{i}", None, None, f"text {i}", "en")
             for d, i in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    # batch 1: a.com has 3 pages, b.com has 1 — cap 2 admits 2 + 1
    pages([("a.com", 1), ("a.com", 2), ("a.com", 3), ("b.com", 1)]) \
        .write.parquet(str(inp / "f1.parquet"))
    run_incremental_domain_cap(spark, str(inp) + "/*", out, ckpt, cap=2)
    first = spark.read.parquet(out)
    got1 = {r["domain"]: r["cnt"] for r in
            first.groupBy("domain").agg(F.count("*").alias("cnt")).collect()}
    assert got1 == {"a.com": 2, "b.com": 1}

    # batch 2: a.com (full) gets nothing; b.com admits 1 more then stops
    pages([("a.com", 9), ("b.com", 2), ("b.com", 3), ("c.com", 1)]) \
        .write.parquet(str(inp / "f2.parquet"))
    run_incremental_domain_cap(spark, str(inp) + "/*", out, ckpt, cap=2)
    both = spark.read.parquet(out)
    got2 = {r["domain"]: r["cnt"] for r in
            both.groupBy("domain").agg(F.count("*").alias("cnt")).collect()}
    assert got2 == {"a.com": 2, "b.com": 2, "c.com": 1}
    # admission indices are dense 1..n per domain
    idx = sorted((r["domain"], r["admit_idx"]) for r in both.collect())
    assert idx == [("a.com", 1), ("a.com", 2), ("b.com", 1), ("b.com", 2),
                   ("c.com", 1)]
