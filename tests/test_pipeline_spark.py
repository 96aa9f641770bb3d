"""Spark integration tests: end-to-end pipeline, checkpoint/resume,
span-sequence invariant, determinism across parallelism, skew routing.

These run against a real local SparkSession (shuffles, AQE, Arrow) on the
deterministic fixture corpus — the Spark half of SURVEY.md §5.3.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from propertygraph_spark.pipeline.extract import extract_docs, split_union
from propertygraph_spark.pipeline.fixtures import docs_df
from propertygraph_spark.pipeline.materialize import (fingerprint, run_pipeline,
                                                      stage_is_current,
                                                      write_stage)

PREDS = {"ast_child", "cfg_normal", "cfg_true", "cfg_false", "cfg_jump",
         "pdg_control_true", "pdg_control_false", "pdg_data",
         "pdg_execution"}


@pytest.fixture(scope="module")
def corpus(spark):
    return docs_df(spark, n_docs=20, include_fixtures=True).cache()


def test_extract_union_families(spark, corpus):
    union = extract_docs(corpus, route=False)
    nodes, triples, mentions, errors = split_union(union)
    assert errors.count() == 0
    assert nodes.count() > 0 and mentions.count() > 0
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert preds <= PREDS
    # the fixture corpus exercises every predicate family but cfg_jump/
    # pdg_control_false appear only with break/else shapes — synthetic
    # docs include them
    assert "pdg_data" in preds and "ast_child" in preds


def test_span_sequence_invariant(spark, corpus):
    """Per-row invariant (BASELINE input_hint): exploding spans back out
    in offset order preserves (kind, text, media_ref, order)."""
    exploded = (corpus.select("doc_id", F.explode("spans").alias("s"))
                .select("doc_id", "s.kind", "s.text", "s.media_ref",
                        "s.offset"))
    # order = rank of offset within doc; offsets strictly increasing
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id").orderBy("offset")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    back = (ranked.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("offset", "rn", "kind",
                                                      "text", "media_ref")))
                 .alias("seq")))
    joined = corpus.join(back, "doc_id")
    bad = joined.filter(
        F.size("spans") != F.size("seq")).count()
    assert bad == 0
    # spot-check one doc end-to-end in python
    row = joined.filter(F.col("doc_id") == "fx-mytest").collect()[0]
    spans_sorted = sorted(
        ((s["offset"], s["kind"], s["text"], s["media_ref"])
         for s in row["spans"]))
    seq = [(s["offset"], s["kind"], s["text"], s["media_ref"])
           for s in row["seq"]]
    assert spans_sorted == seq


def test_determinism_across_partitioning(spark, corpus):
    """Same corpus, different partitioning -> identical semantic rows."""
    a = extract_docs(corpus.repartition(2), route=False)
    b = extract_docs(corpus.repartition(7), route=False)
    cols = ["doc_id", "method_id", "subj", "pred", "obj", "label"]
    ta = split_union(a)[1].select(cols)
    tb = split_union(b)[1].select(cols)
    assert ta.exceptAll(tb).count() == 0
    assert tb.exceptAll(ta).count() == 0


def test_skew_routing_splits_heavy_docs(spark):
    """Mega-docs land in their own partitions (no straggler mixing)."""
    docs = docs_df(spark, n_docs=12, include_fixtures=False,
                   mega_every=6, mega_methods=60)
    union = extract_docs(docs, heavy_threshold=5_000, route=True)
    _, triples, _, errors = split_union(union)
    assert errors.count() == 0
    assert triples.count() > 0


def test_pipeline_end_to_end_and_resume(spark, corpus, tmp_path):
    out = str(tmp_path / "kg")
    m1 = run_pipeline(spark, corpus, out, docs_fingerprint="t1")
    assert m1["total"] > 0 and m1["nodes"] > 0
    assert m1["canonical_entities"] > 0
    # metrics written beside the commit
    with open(os.path.join(out, "_metrics", "pipeline.json")) as f:
        persisted = json.load(f)
    assert persisted["total"] == m1["total"]
    by_pred = {x["pred"] for x in m1["triples_by_bucket_pred"]}
    assert by_pred <= PREDS
    # resume: unchanged fingerprint -> every stage skipped (fast + same)
    m2 = run_pipeline(spark, corpus, out, docs_fingerprint="t1")
    assert m2["total"] == m1["total"]
    # outputs partitioned by bucket on disk
    assert any(p.startswith("bucket=") for p in os.listdir(
        os.path.join(out, "edges")))
    # edges/nodes/linked commit bucket-incrementally (r5): per-bucket
    # content state + an append-only snapshot log with the dirty set
    with open(os.path.join(out, "edges", "_buckets.json")) as f:
        bstate = json.load(f)
    assert bstate  # one fp per bucket present in the corpus
    from propertygraph_spark.pipeline.materialize import snapshot_history
    snaps = snapshot_history(os.path.join(out, "edges"))
    assert snaps and snaps[0]["operation"] == "dynamic-overwrite"
    assert set(snaps[-1]["dirty_buckets"]) <= {int(b) for b in bstate}
    # CLI audit mode (r4): every committed stage passes footer-only
    # verification; exit code 0
    from propertygraph_spark.main import main as cli_main
    assert cli_main(["--audit", "--out", out]) == 0
    # CLI --sql (r5s9): ad-hoc SQL over the materialized stage views;
    # the edge rollup through the CLI must agree with the metrics total
    assert cli_main(["--sql",
                     "SELECT count(*) AS n FROM edges", "--out", out]) == 0
    assert cli_main(["--sql", "SELECT pred, count(*) AS n FROM edges "
                              "GROUP BY 1 ORDER BY 1",
                     "--out", out]) == 0
    assert cli_main(["--sql", "SELECT 1", "--out",
                     str(tmp_path / "nothing_here")]) == 1


def test_audit_stage_detects_drift(spark, tmp_path):
    """Iceberg-style manifest audit (r4): clean stage passes; byte
    drift, deletions and unmanifested files are each flagged without
    scanning data pages; the snapshot chain is checked."""
    import glob as _glob
    import shutil

    from propertygraph_spark.pipeline.materialize import audit_stage
    df = spark.range(40).withColumn("v", F.col("id") * 3)
    path = str(tmp_path / "astage")
    write_stage(df, path, fingerprint("audit", 1))
    a = audit_stage(path)
    assert a["ok"] and a["problems"] == [] and a["n_files"] >= 1
    assert a["total_rows"] == 40
    data = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    # 1. byte drift (external append)
    with open(data[0], "ab") as f:
        f.write(b"XX")
    assert any("byte-size drift" in p
               for p in audit_stage(path)["problems"])
    # 2. unmanifested stray file
    shutil.copy(data[0], os.path.join(path, "part-stray.parquet"))
    assert any("unmanifested" in p for p in audit_stage(path)["problems"])
    os.remove(os.path.join(path, "part-stray.parquet"))
    # 3. missing data file
    os.remove(data[0])
    assert any("missing data file" in p
               for p in audit_stage(path)["problems"])
    # 4. a fresh overwrite commit re-audits clean, chain intact
    write_stage(df, path, fingerprint("audit", 2))
    a2 = audit_stage(path)
    assert a2["ok"], a2["problems"]
    from propertygraph_spark.pipeline.materialize import snapshot_history
    assert len(snapshot_history(path)) == 2


def test_audit_legacy_and_bucket_stages(spark, tmp_path):
    """ADVICE r4: (a) a pre-snapshot-log stage (valid manifest, no
    _snapshots.json) audits OK with a warning, not FAIL; (b) a
    bucket-incremental stage is actually verified against _buckets.json
    (stray bucket dirs flagged); (c) a stage with NEITHER state file
    fails the CLI audit with a nonzero exit."""
    import shutil

    from propertygraph_spark.main import main as cli_main
    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, audit_stage)

    # (a) legacy stage: drop the snapshot log after a clean commit
    df = spark.range(25).withColumn("v", F.col("id") + 1)
    legacy = str(tmp_path / "out" / "linked")
    write_stage(df, legacy, fingerprint("legacy", 1))
    os.remove(os.path.join(legacy, "_snapshots.json"))
    a = audit_stage(legacy)
    assert a["ok"] and a["problems"] == []
    assert any("legacy" in w for w in a["warnings"])

    # (b) bucket-incremental stage: dynamic-overwrite layout + state file
    bstage = str(tmp_path / "out" / "extracted")
    (df.withColumn("bucket", (F.col("id") % 3).cast("int"))
       .write.partitionBy("bucket").parquet(bstage))
    os.remove(os.path.join(bstage, "_SUCCESS"))
    with open(os.path.join(bstage, "_buckets.json"), "w") as f:
        json.dump({"0": "fp0", "1": "fp1", "2": "fp2"}, f)
    b = audit_bucket_stage(bstage)
    assert b["ok"] and b["total_rows"] == 25 and b["n_files"] >= 3
    assert cli_main(["--audit", "--out", str(tmp_path / "out")]) == 0
    # stray bucket dir not in the state file -> flagged
    shutil.copytree(os.path.join(bstage, "bucket=0"),
                    os.path.join(bstage, "bucket=9"))
    b2 = audit_bucket_stage(bstage)
    assert not b2["ok"] and any("bucket=9" in p for p in b2["problems"])
    shutil.rmtree(os.path.join(bstage, "bucket=9"))

    # (c) neither _manifest.json nor _buckets.json -> nonzero exit
    os.remove(os.path.join(bstage, "_buckets.json"))
    assert cli_main(["--audit", "--out", str(tmp_path / "out")]) == 1


def test_write_stage_skips_when_current(spark, tmp_path):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "stage")
    fp = fingerprint("unit", 1)
    write_stage(df, path, fp)
    assert stage_is_current(path, fp)
    mtime = os.path.getmtime(os.path.join(path, "_manifest.json"))
    write_stage(df, path, fp)  # must not rewrite
    assert os.path.getmtime(os.path.join(path, "_manifest.json")) == mtime
    assert not stage_is_current(path, fingerprint("unit", 2))


def test_error_rows_for_broken_docs(spark):
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    rows = [("bad-doc", [("code", "class X { int", "", 0)]),
            ("empty-doc", [("text", "no code at all", "", 0)])]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    union = extract_docs(docs, route=False)
    _, triples, _, errors = split_union(union)
    errs = {r["doc_id"]: r["error"] for r in errors.collect()}
    assert "bad-doc" in errs and "parse error" in errs["bad-doc"]
    assert "empty-doc" not in errs  # empty source degrades silently
    assert triples.filter(F.col("doc_id") == "bad-doc").count() == 0


def test_incremental_extract_replays_only_dirty_buckets(spark, tmp_path):
    """north_rule: a changed doc re-extracts only its bucket; clean bucket
    directories are byte-identical (dynamic partition overwrite)."""
    import glob as globmod
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.materialize import extract_incremental

    def mk(doc_texts):
        return spark.createDataFrame(
            [(d, [("code", t, "", 0)]) for d, t in doc_texts.items()],
            DOCS_SCHEMA)

    texts = {f"doc{i}": f"class C{i} {{ int m(int a) {{ return a + {i}; }} }}"
             for i in range(12)}
    out = str(tmp_path / "inc")
    reader1, dirty1, _, _ = extract_incremental(spark, mk(texts), out, n_buckets=8)
    n1 = reader1.filter("row_kind = 'triple'").count()
    assert len(dirty1) > 0  # first run: everything dirty

    # snapshot per-file mtimes
    before = {p: os.path.getmtime(p)
              for p in globmod.glob(f"{out}/**/*.parquet", recursive=True)}

    # unchanged rerun -> zero dirty buckets, zero rewrites
    _, dirty2, _, _ = extract_incremental(spark, mk(texts), out, n_buckets=8)
    assert dirty2 == []
    after = {p: os.path.getmtime(p)
             for p in globmod.glob(f"{out}/**/*.parquet", recursive=True)}
    assert before == after

    # change ONE doc -> exactly its bucket replays; other files untouched
    texts["doc3"] = "class C3 { int m(int a) { return a * 99; } }"
    reader3, dirty3, _, _ = extract_incremental(spark, mk(texts), out, n_buckets=8)
    assert len(dirty3) == 1
    (dirty_bucket,) = dirty3
    changed = {p for p in globmod.glob(f"{out}/**/*.parquet", recursive=True)
               if "_runmetrics" not in p and before.get(p) != os.path.getmtime(p)}
    assert changed  # something was rewritten
    assert all(f"bucket={dirty_bucket}" in p for p in changed), changed

    # incremental result == full recompute
    full_out = str(tmp_path / "full")
    full_reader, _, _, _ = extract_incremental(spark, mk(texts), full_out,
                                               n_buckets=8)
    cols = ["doc_id", "method_id", "subj", "pred", "obj", "label"]
    a = reader3.filter("row_kind = 'triple'").select(cols)
    b = full_reader.filter("row_kind = 'triple'").select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert reader3.filter("row_kind = 'triple'").count() == \
           full_reader.filter("row_kind = 'triple'").count()


def test_pipeline_rerun_after_edit_refreshes_downstream(spark, tmp_path):
    """Editing the input under the SAME caller corpus label must re-run
    the downstream stages too: stage fingerprints key on the per-bucket
    content state, so linked/canonical/edges can never go stale while
    extracted/ moves on (the silent-staleness bug)."""
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA

    def mk(extra_stmt=""):
        rows = [(f"doc{i}",
                 [("code", f"class C{i} {{ int m(int a) {{ {extra_stmt} "
                           f"return a + {i}; }} }}", "", 0)])
                for i in range(6)]
        return spark.createDataFrame(rows, DOCS_SCHEMA)

    out = str(tmp_path / "kg_edit")
    m1 = run_pipeline(spark, mk(), out, docs_fingerprint="same-label")
    # same label, changed content -> everything downstream must refresh
    m2 = run_pipeline(spark, mk("int b = a * 2;"), out,
                      docs_fingerprint="same-label")
    assert m2["total"] > m1["total"]
    # and must equal a from-scratch run over the edited corpus
    fresh = run_pipeline(spark, mk("int b = a * 2;"),
                         str(tmp_path / "kg_fresh"),
                         docs_fingerprint="other")
    assert m2["total"] == fresh["total"]
    assert m2["nodes"] == fresh["nodes"]
    assert m2["canonical_entities"] == fresh["canonical_entities"]


def test_downstream_stages_replay_only_dirty_buckets(spark, tmp_path):
    """VERDICT r4 #7: a one-doc edit must replay ONLY the dirty bucket
    in every bucket-local stage (extracted, linked, nodes, edges) —
    checked via each stage's snapshot dirty set AND on-disk mtimes —
    and the global CC stage must SKIP when the edit doesn't change any
    (mention, fqn) alias pair (a literal-only edit). The incremental
    rerun must equal a from-scratch run."""
    import glob as globmod

    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.materialize import snapshot_history

    def mk(lits: dict):
        rows = [(f"doc{i}",
                 [("code", f"class C{i} {{ int m(int a) {{ "
                           f"return a + {lits.get(i, i)}; }} }}", "", 0)])
                for i in range(8)]
        return spark.createDataFrame(rows, DOCS_SCHEMA)

    out = str(tmp_path / "kg_inc")
    stages = ["extracted", "linked", "nodes", "edges"]
    m1 = run_pipeline(spark, mk({}), out, n_buckets=8)
    assert m1["total"] > 0

    def mtimes():
        return {p: os.path.getmtime(p)
                for p in globmod.glob(f"{out}/**/*.parquet", recursive=True)
                if "_runmetrics" not in p}

    with open(os.path.join(out, "canonical", "_manifest.json")) as f:
        canon_fp1 = json.load(f)["fingerprint"]
    before = mtimes()
    snaps_before = {s: len(snapshot_history(os.path.join(out, s)))
                    for s in stages}

    # unchanged rerun: zero dirty buckets anywhere, zero rewrites
    m2 = run_pipeline(spark, mk({}), out, n_buckets=8)
    assert m2["total"] == m1["total"]
    assert mtimes() == before
    for s in stages:
        assert len(snapshot_history(os.path.join(out, s))) == \
            snaps_before[s], s

    # literal-only edit of ONE doc: same mention set, different triples
    m3 = run_pipeline(spark, mk({3: 99}), out, n_buckets=8)
    dirty_sets = {}
    for s in stages:
        snaps = snapshot_history(os.path.join(out, s))
        assert len(snaps) == snaps_before[s] + 1, s
        dirty_sets[s] = snaps[-1]["dirty_buckets"]
        assert len(dirty_sets[s]) == 1, (s, dirty_sets[s])
        assert snaps[-1]["removed_buckets"] == []
    assert len(set(map(tuple, dirty_sets.values()))) == 1  # same bucket
    (dirty_bucket,) = dirty_sets["edges"]
    changed = {p for p, t in mtimes().items() if before.get(p) != t}
    assert changed
    assert all(f"bucket={dirty_bucket}" in p for p in changed), changed
    # alias pairs unchanged -> canonical stage skipped (same fp)
    with open(os.path.join(out, "canonical", "_manifest.json")) as f:
        assert json.load(f)["fingerprint"] == canon_fp1

    # incremental == from-scratch over the edited corpus
    fresh = run_pipeline(spark, mk({3: 99}), str(tmp_path / "kg_fresh"),
                         n_buckets=8)
    assert m3["total"] == fresh["total"]
    assert m3["nodes"] == fresh["nodes"]
    assert m3["canonical_entities"] == fresh["canonical_entities"]

    # a NEW class declaration in one doc changes the corpus symbol
    # table -> every bucket's linked fp changes (global input folded
    # into each bucket fp) and the alias state moves -> CC re-runs
    rows = [(f"doc{i}",
             [("code", f"class C{i} {{ int m(int a) {{ "
                       f"return a + {99 if i == 3 else i}; }} }}", "", 0)])
            for i in range(8)]
    rows[5] = ("doc5",
               [("code", "package org.acme; class Fresh { int m(int a) "
                         "{ return a; } }", "", 0)])
    m4 = run_pipeline(spark, spark.createDataFrame(rows, DOCS_SCHEMA),
                      out, n_buckets=8)
    linked_snaps = snapshot_history(os.path.join(out, "linked"))
    assert len(linked_snaps[-1]["dirty_buckets"]) > 1  # global relink
    fresh4 = run_pipeline(spark, spark.createDataFrame(rows, DOCS_SCHEMA),
                          str(tmp_path / "kg_fresh4"), n_buckets=8)
    assert m4["total"] == fresh4["total"]
    assert m4["canonical_entities"] == fresh4["canonical_entities"]


def test_body_only_edit_skips_cc_and_sums_kernel_telemetry(spark, tmp_path):
    """A body-only edit leaves the alias set as it was, so the refresh
    must not run the CC stage at all (CC_LAST_STATS untouched, no new
    canonical snapshot). Kernel telemetry is typed counters in
    _metrics/pipeline.json covering exactly the docs of the dirty
    buckets, and no extracted/_runmetrics table is written."""
    from propertygraph_spark.pipeline import canonicalize
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.materialize import (snapshot_history,
                                                          with_bucket)

    def mk(lit: int):
        texts = {
            "str": "class S { int f(String s) { return s.trim().length(); } }",
            "txt": "import org.acme.util.Text; class T { int g(Text t) "
                   "{ t.trim(); return 1; } }",
            **{f"doc{i}": f"class C{i} {{ int m(int a) {{ return a + "
                          f"{lit if i == 5 else i}; }} }}" for i in range(8)}}
        return spark.createDataFrame(
            [(d, [("code", t, "", 0)]) for d, t in texts.items()],
            DOCS_SCHEMA)

    out = str(tmp_path / "kg")
    canonicalize.CC_LAST_STATS.clear()
    m1 = run_pipeline(spark, mk(5), out, n_buckets=8)
    # the corpus has a real alias component ("trim" -> two fqns), so the
    # cold build ran CC; otherwise the skip below would prove nothing
    assert canonicalize.CC_LAST_STATS.get("n_edges", 0) > 0
    assert m1["kernel"]["docs"] == 10 and m1["kernel"]["batches"] >= 1
    assert m1["kernel"]["rows"] > 0 and m1["kernel"]["sec"] >= 0
    with open(os.path.join(out, "_metrics", "pipeline.json")) as f:
        assert json.load(f)["kernel"] == m1["kernel"]

    canonicalize.CC_LAST_STATS.clear()
    canonicalize.CC_LAST_STATS["marker"] = "not rewritten"
    n_canon = len(snapshot_history(os.path.join(out, "canonical")))
    m2 = run_pipeline(spark, mk(99), out, n_buckets=8)
    assert canonicalize.CC_LAST_STATS == {"marker": "not rewritten"}
    assert len(snapshot_history(os.path.join(out, "canonical"))) == n_canon
    dirty = snapshot_history(os.path.join(out, "extracted"))[-1][
        "dirty_buckets"]
    assert len(dirty) == 1
    in_dirty = with_bucket(mk(99), 8).filter(
        F.col("bucket").isin(dirty)).count()
    with open(os.path.join(out, "_metrics", "pipeline.json")) as f:
        kernel = json.load(f)["kernel"]
    assert kernel == m2["kernel"] and kernel["docs"] == in_dirty
    assert m2["total"] == m1["total"]

    m3 = run_pipeline(spark, mk(99), out, n_buckets=8)      # no-op
    assert m3["kernel"] == {"batches": 0, "docs": 0, "rows": 0, "sec": 0.0}
    assert not os.path.exists(os.path.join(out, "extracted", "_runmetrics"))


def test_dirty_bucket_drops_vanished_row_kinds(spark, tmp_path):
    """A row_kind that disappears from a re-extracted bucket (the bucket's
    only malformed doc gets fixed -> no more error rows) must disappear
    from the OUTPUT too — dynamic partition overwrite alone would leave
    the stale row_kind=error/bucket=b directory in place."""
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.materialize import extract_incremental

    def mk(broken: bool):
        body = "class X { int" if broken \
            else "class X { int m(int a) { return a; } }"
        rows = [("doc-fix", [("code", body, "", 0)]),
                ("doc-ok", [("code",
                             "class Y { int m(int a) { return a; } }",
                             "", 0)])]
        return spark.createDataFrame(rows, DOCS_SCHEMA)

    out = str(tmp_path / "vanish")
    reader1, _, _, _ = extract_incremental(spark, mk(True), out, n_buckets=4)
    assert reader1.filter("row_kind = 'error'").count() == 1
    reader2, dirty2, _, _ = extract_incremental(spark, mk(False), out,
                                             n_buckets=4)
    assert dirty2  # the fixed doc's bucket replayed
    assert reader2.filter("row_kind = 'error'").count() == 0  # no phantoms
    assert reader2.filter(
        "row_kind = 'triple' AND doc_id = 'doc-fix'").count() > 0


def test_incremental_extract_empty_corpus(spark, tmp_path):
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.materialize import extract_incremental
    docs = spark.createDataFrame([], DOCS_SCHEMA)
    out = str(tmp_path / "empty")
    reader, dirty, _, _ = extract_incremental(spark, docs, out, n_buckets=4)
    assert dirty == []
    assert reader.count() == 0


def test_fixture_corpus_pipeline_golden(spark):
    """The full Spark path (span assembly -> Arrow kernel -> union split)
    over the 11-fixture corpus must reproduce exactly the kernel-level
    golden totals (sum of tests/test_fixture_goldens.py) — locks the
    spans->source concatenation and the Arrow boundary, not just the
    kernel."""
    docs = docs_df(spark, n_docs=0, include_fixtures=True)
    _, triples, mentions, errors = split_union(extract_docs(docs, route=False))
    assert errors.count() == 0
    got = {r["pred"]: r["count"]
           for r in triples.groupBy("pred").count().collect()}
    assert got == {
        "ast_child": 899, "cfg_normal": 79, "cfg_true": 15, "cfg_false": 11,
        "pdg_control_true": 35, "pdg_control_false": 10,
        "pdg_data": 193, "pdg_execution": 118,
    }
    assert mentions.count() == 233


def test_graphs_selection(spark, corpus):
    """Reference -c flag twin: cfg-only extraction emits only cfg triples
    (one fused parse either way; graphs selection is kernel-side)."""
    union = extract_docs(corpus, route=False, graphs=("cfg",))
    _, triples, _, errors = split_union(union)
    assert errors.count() == 0
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert preds and all(p.startswith("cfg_") for p in preds)


def test_snapshot_lineage_log(spark, tmp_path):
    """Iceberg-flavor commit lineage: each committing run appends one
    snapshot entry with parent linkage and the touched buckets; a no-op
    rerun commits nothing."""
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.materialize import (extract_incremental,
                                                          snapshot_history)

    def mk(doc_texts):
        return spark.createDataFrame(
            [(d, [("code", t, "", 0)]) for d, t in doc_texts.items()],
            DOCS_SCHEMA)

    texts = {f"doc{i}": f"class C{i} {{ int m(int a) {{ return a + {i}; }} }}"
             for i in range(6)}
    out = str(tmp_path / "snap")
    extract_incremental(spark, mk(texts), out, n_buckets=4)
    h1 = snapshot_history(out)
    assert len(h1) == 1
    assert h1[0]["parent_id"] is None
    assert h1[0]["operation"] == "dynamic-overwrite"
    assert h1[0]["dirty_buckets"]  # first run: everything dirty

    # no-op rerun: no new snapshot
    extract_incremental(spark, mk(texts), out, n_buckets=4)
    assert len(snapshot_history(out)) == 1

    # edit one doc: exactly one new snapshot, linked to its parent,
    # recording only the dirty bucket(s)
    texts["doc3"] = "class C3 { int m(int a) { return a - 99; } }"
    extract_incremental(spark, mk(texts), out, n_buckets=4)
    h2 = snapshot_history(out)
    assert len(h2) == 2
    assert h2[1]["parent_id"] == h1[0]["snapshot_id"]
    assert 0 < len(h2[1]["dirty_buckets"]) < 4
    assert h2[1]["sequence_number"] == 1


def test_bucket_conversion_purges_legacy_root_files(spark, tmp_path):
    """r5 review #1/#6: (a) routing a stage previously committed via
    full-overwrite ``write_stage`` (root-level part files +
    _manifest.json) through ``write_stage_buckets`` must purge the
    root-level data files after the bucket=*/ rewrite — a mixed-depth
    layout crashes the closing read and double-counts footer sums;
    (b) ``audit_bucket_stage`` must flag any data file living outside a
    bucket= dir instead of silently counting it."""
    import shutil

    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, write_stage_buckets)

    path = str(tmp_path / "linked")
    df = spark.range(30).withColumn("bucket", (F.col("id") % 3).cast("int"))
    # legacy commit: full overwrite, no partitioning -> root part files
    write_stage(df, path, fingerprint("legacy", 1), spark=spark)
    assert any(n.endswith(".parquet") for n in os.listdir(path))

    out = write_stage_buckets(df, path,
                              {b: f"fp{b}" for b in range(3)}, spark=spark)
    # converted: data only under bucket=*/, no root-level part files left
    assert not any(n.endswith(".parquet")
                   for n in os.listdir(path)
                   if os.path.isfile(os.path.join(path, n)))
    assert out.count() == 30
    a = audit_bucket_stage(path)
    assert a["ok"] and a["total_rows"] == 30, a["problems"]

    # (b) plant a root-level data file -> audit flags it, n_files/rows
    # exclude it
    bucket_file = next(
        os.path.join(r, n) for r, _d, ns in os.walk(path) for n in ns
        if n.endswith(".parquet"))
    shutil.copy(bucket_file, os.path.join(path, "stray-root.parquet"))
    a2 = audit_bucket_stage(path)
    assert not a2["ok"]
    assert any("outside bucket layout" in p for p in a2["problems"])
    assert a2["total_rows"] == 30  # stray file not counted


def test_pipeline_fails_loudly_on_corrupt_bucket_state(spark, tmp_path,
                                                       monkeypatch):
    """r5 review #2: an unreadable extracted/_buckets.json used to be
    silently swallowed into ``extract_bfps = {}``, which made every
    downstream stage classify ALL its committed buckets as removed and
    delete them — a completed pipeline with zero rows. It must raise
    instead, leaving the committed stages untouched."""
    import glob as globmod

    import propertygraph_spark.pipeline.materialize as mat
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [(f"doc{i}", [("code", f"class C{i} {{ int m(int a) "
                               f"{{ return a + {i}; }} }}", "", 0)])
         for i in range(4)], DOCS_SCHEMA)
    out = str(tmp_path / "kg")
    m1 = mat.run_pipeline(spark, docs, out, n_buckets=4)
    assert m1["total"] > 0
    nodes_before = sorted(globmod.glob(f"{out}/nodes/bucket=*"))
    assert nodes_before

    real = mat.extract_incremental

    def sabotaged(*args, **kwargs):
        res = real(*args, **kwargs)
        with open(os.path.join(out, "extracted", "_buckets.json"), "w") as f:
            f.write("{ torn write")
        return res

    monkeypatch.setattr(mat, "extract_incremental", sabotaged)
    with pytest.raises(ValueError):
        mat.run_pipeline(spark, docs, out, n_buckets=4)
    # committed downstream buckets survived the abort
    assert sorted(globmod.glob(f"{out}/nodes/bucket=*")) == nodes_before


def test_compact_stage_buckets_preserves_rows_and_fps(spark, tmp_path):
    """Iceberg-style small-file compaction: multi-part bucket dirs
    collapse to one file each, rows are bit-identical, _buckets.json
    fingerprints are untouched (a follow-up incremental write with the
    same fps replays NOTHING), the snapshot log records the compaction
    with before/after file counts, and the audit stays green."""
    import glob as globmod

    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, compact_stage_buckets, snapshot_history,
        write_stage_buckets)

    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(64)],
        "id long, bucket int, payload string").repartition(8)
    path = str(tmp_path / "stage")
    fps = {b: f"fp{b}" for b in range(4)}
    write_stage_buckets(df, path, fps, spark=spark)

    def files_per_bucket():
        return {b: len(globmod.glob(f"{path}/bucket={b}/*.parquet"))
                for b in range(4)}

    before = files_per_bucket()
    assert all(n >= 2 for n in before.values()), before
    rows_before = {tuple(r) for r in spark.read.parquet(path).collect()}
    with open(f"{path}/_buckets.json") as f:
        fps_before = f.read()

    compacted = compact_stage_buckets(spark, path)
    assert set(compacted) == {str(b) for b in range(4)}
    after = files_per_bucket()
    assert all(n == 1 for n in after.values()), after
    assert {tuple(r) for r in spark.read.parquet(path).collect()} \
        == rows_before
    with open(f"{path}/_buckets.json") as f:
        assert f.read() == fps_before
    hist = snapshot_history(path)
    assert hist[-1]["operation"] == "compaction"
    assert hist[-1]["compacted"]["0"][0] == before[0]
    audit = audit_bucket_stage(path)
    assert audit["ok"], audit

    # same fps -> nothing dirty -> no new snapshot, data intact
    n_hist = len(hist)
    write_stage_buckets(df, path, fps, spark=spark)
    assert len(snapshot_history(path)) == n_hist
    assert files_per_bucket() == after
    # already-compacted stage: a second compaction is a no-op
    assert compact_stage_buckets(spark, path) == {}


def test_expire_snapshots_trims_log_keeps_chain(spark, tmp_path):
    """Iceberg expire_snapshots twin: 8 commits -> keep_last=3 leaves a
    4-entry log (expire tombstone + 3), the parent chain and manifest
    fingerprint stay audit-green, a repeat expiry is a no-op, and the
    NEXT commit extends the trimmed chain normally."""
    from propertygraph_spark.pipeline.materialize import (
        audit_stage, expire_snapshots, snapshot_history, write_stage)

    path = str(tmp_path / "stage")
    for i in range(8):
        df = spark.createDataFrame([(j, f"c{i}") for j in range(4)],
                                   "id long, payload string")
        write_stage(df, path, fp=f"fp{i}", spark=spark)
    assert len(snapshot_history(path)) == 8

    res = expire_snapshots(path, keep_last=3)
    assert res == {"expired": 5, "retained": 4, "ok": True}
    hist = snapshot_history(path)
    assert len(hist) == 4
    assert hist[0]["operation"] == "expire"
    assert hist[0]["expired_count"] == 5
    # chain intact end to end and manifest fp untouched
    audit = audit_stage(path)
    assert audit["ok"], audit
    assert hist[-1]["fingerprint"] == "fp7"

    # at-or-under cap -> no-op
    assert expire_snapshots(path, keep_last=10) \
        == {"expired": 0, "retained": 4, "ok": True}

    # a later commit appends to the trimmed chain and still audits OK
    df = spark.createDataFrame([(0, "c9")], "id long, payload string")
    write_stage(df, path, fp="fp9", spark=spark)
    hist2 = snapshot_history(path)
    assert len(hist2) == 5 and hist2[-1]["fingerprint"] == "fp9"
    assert hist2[-1]["parent_id"] == hist[-1]["snapshot_id"]
    assert audit_stage(path)["ok"]


def test_remove_orphan_files_manifest_and_bucket_stages(spark, tmp_path):
    """Iceberg remove_orphan_files twin: unreferenced data files (stray
    part files, _temporary debris, ungoverned bucket dirs, root-level
    files in a bucket layout) are reported in dry-run and deleted for
    real; live files and their .crc companions survive, audits go
    red -> green, rows are unchanged, and a stage with no committed
    state refuses to classify anything."""
    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, audit_stage, remove_orphan_files, write_stage,
        write_stage_buckets)

    # --- manifest stage ---
    path = str(tmp_path / "extracted")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(8)],
                               "id long, payload string")
    write_stage(df, path, fp="fp0", spark=spark)
    rows_before = {tuple(r) for r in spark.read.parquet(path).collect()}
    live = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    assert live
    # live .crc companion must never be classified as an orphan
    live_crc = os.path.join(path, f".{live[0]}.crc")
    with open(live_crc, "wb") as f:
        f.write(b"\x00" * 8)
    # orphan 1: stray part file from a torn job attempt
    stray = os.path.join(path, "part-99999-dead.snappy.parquet")
    with open(os.path.join(path, live[0]), "rb") as f:
        payload = f.read()
    with open(stray, "wb") as f:
        f.write(payload)
    # orphan 2: its checksum companion
    with open(os.path.join(path, ".part-99999-dead.snappy.parquet.crc"),
              "wb") as f:
        f.write(b"\x00" * 8)
    # orphan 3: failed-commit staging debris
    tempdir = os.path.join(path, "_temporary", "0", "task_0")
    os.makedirs(tempdir)
    with open(os.path.join(tempdir, "part-0.parquet"), "wb") as f:
        f.write(payload)
    assert not audit_stage(path)["ok"]

    dry = remove_orphan_files(path, delete=False)
    assert dry["mode"] == "manifest" and not dry["deleted"]
    assert dry["orphans"] == [
        ".part-99999-dead.snappy.parquet.crc",
        "_temporary/0/task_0/part-0.parquet",
        "part-99999-dead.snappy.parquet"]
    assert os.path.exists(stray)  # dry run deletes nothing

    res = remove_orphan_files(path, delete=True)
    assert res["orphans"] == dry["orphans"] and res["deleted"]
    assert not os.path.exists(stray)
    assert not os.path.isdir(os.path.join(path, "_temporary"))
    assert os.path.exists(live_crc)
    assert audit_stage(path)["ok"]
    # (the fabricated companion holds no real checksum — drop it before
    # Hadoop's ChecksumFileSystem verifies the live file against it)
    os.remove(live_crc)
    assert {tuple(r) for r in spark.read.parquet(path).collect()} \
        == rows_before

    # --- bucket-incremental stage ---
    bpath = str(tmp_path / "nodes")
    bdf = spark.createDataFrame([(i, i % 4, f"v{i}") for i in range(32)],
                                "id long, bucket int, payload string")
    write_stage_buckets(bdf, bpath, {b: f"fp{b}" for b in range(4)},
                        spark=spark)
    brows = {tuple(r) for r in spark.read.parquet(bpath).collect()}
    os.makedirs(os.path.join(bpath, "bucket=99"))
    with open(os.path.join(bpath, "bucket=99", "part-0.parquet"),
              "wb") as f:
        f.write(payload)
    with open(os.path.join(bpath, "rootlevel.parquet"), "wb") as f:
        f.write(payload)
    assert not audit_bucket_stage(bpath)["ok"]
    bres = remove_orphan_files(bpath, delete=True)
    assert bres["mode"] == "buckets"
    assert bres["orphans"] == ["bucket=99/part-0.parquet",
                               "rootlevel.parquet"]
    assert not os.path.isdir(os.path.join(bpath, "bucket=99"))
    assert audit_bucket_stage(bpath)["ok"]
    assert {tuple(r) for r in spark.read.parquet(bpath).collect()} == brows

    # --- no committed state: refuse ---
    empty = str(tmp_path / "mystery")
    os.makedirs(empty)
    with open(os.path.join(empty, "data.parquet"), "wb") as f:
        f.write(payload)
    with pytest.raises(ValueError):
        remove_orphan_files(empty, delete=True)

    # --- CLI twin: dry run reports, real run cleans ---
    from propertygraph_spark.main import main as cli_main
    with open(os.path.join(bpath, "rootlevel.parquet"), "wb") as f:
        f.write(payload)
    assert cli_main(["--remove-orphans", "--dry-run",
                     "--out", str(tmp_path)]) == 0
    assert os.path.exists(os.path.join(bpath, "rootlevel.parquet"))
    assert cli_main(["--remove-orphans", "--out", str(tmp_path)]) == 0
    assert not os.path.exists(os.path.join(bpath, "rootlevel.parquet"))
    assert audit_bucket_stage(bpath)["ok"]


def test_zorder_rewrite_tightens_zone_maps(spark, tmp_path):
    """OPTIMIZE ZORDER BY twin: rows identical as a set, fingerprints
    untouched, audit green, a 'zorder' snapshot logged — and the
    parquet footer min/max stats tighten so a 2-D range predicate
    overlaps strictly fewer files than the unclustered layout."""
    import glob as globmod

    import pyarrow.parquet as pq

    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, snapshot_history, write_stage_buckets,
        zorder_rewrite_buckets)

    rows = [(i, i % 2, (i * 37) % 256, (i * 91) % 256)
            for i in range(2048)]
    df = (spark.createDataFrame(rows, "id long, bucket int, x long, y long")
          .repartition(8))
    path = str(tmp_path / "stage")
    write_stage_buckets(df, path, {0: "fp0", 1: "fp1"}, spark=spark)
    before_rows = {tuple(r) for r in spark.read.parquet(path).collect()}
    with open(f"{path}/_buckets.json") as f:
        fps_before = f.read()

    def overlapping(lo_x, hi_x, lo_y, hi_y):
        hits = total = 0
        for fpath in globmod.glob(f"{path}/bucket=*/*.parquet"):
            md = pq.ParquetFile(fpath).metadata
            stats = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    lo, hi = stats.get(name, (st.min, st.max))
                    stats[name] = (min(lo, st.min), max(hi, st.max))
            total += 1
            if (stats["x"][0] <= hi_x and stats["x"][1] >= lo_x
                    and stats["y"][0] <= hi_y and stats["y"][1] >= lo_y):
                hits += 1
        return hits, total

    before_hits, before_total = overlapping(0, 31, 0, 31)
    assert before_hits == before_total  # unclustered: every file overlaps

    done = zorder_rewrite_buckets(spark, path, ["x", "y"], target_files=4)
    assert set(done) == {"0", "1"} and all(v >= 2 for v in done.values())
    after_hits, after_total = overlapping(0, 31, 0, 31)
    assert after_total >= 8
    assert after_hits < after_total, (after_hits, after_total)

    assert {tuple(r) for r in spark.read.parquet(path).collect()} \
        == before_rows
    with open(f"{path}/_buckets.json") as f:
        assert f.read() == fps_before
    assert snapshot_history(path)[-1]["operation"] == "zorder"
    assert audit_bucket_stage(path)["ok"]


def test_read_stage_merges_evolved_schema(spark, tmp_path):
    """Schema evolution across bucket-incremental commits: a pipeline
    upgrade adds a column and only the dirty bucket rewrites with the
    wider schema. read_stage (mergeSchema) surfaces the union schema
    with NULLs for pre-evolution buckets; the audit stays green."""
    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, read_stage, write_stage_buckets)

    df = spark.createDataFrame([(i, i % 2, f"v{i}") for i in range(16)],
                               "id long, bucket int, payload string")
    path = str(tmp_path / "stage")
    write_stage_buckets(df, path, {0: "fp0", 1: "fp1"}, spark=spark)

    def add_col(sub):
        return sub.withColumn("extra", F.length("payload").cast("long"))

    # bucket 1 dirties under the upgraded transform; bucket 0 untouched
    write_stage_buckets(df, path, {0: "fp0", 1: "fp1b"}, spark=spark,
                        transform=add_col)
    merged = read_stage(spark, path)
    assert "extra" in merged.columns
    got = {(r["id"], r["extra"]) for r in merged.collect()}
    assert len(got) == 16
    assert all(e is None for i, e in got if i % 2 == 0)
    assert all(e == len(f"v{i}") for i, e in got if i % 2 == 1)
    assert audit_bucket_stage(path)["ok"]


def test_merge_stage_buckets_upsert_insert_delete(spark, tmp_path):
    """MERGE INTO twin: an update REPLACES its key's row, an unmatched
    row INSERTS, a delete-flagged key DELETES; only buckets containing
    touched keys are rewritten (untouched bucket dirs keep their
    files byte-for-byte), merged buckets' fingerprints flip to
    merge:<hash> so incremental rebuilds see them dirty, a 'merge'
    snapshot carries the counts, and the audit stays green."""
    import os

    from propertygraph_spark.pipeline.materialize import (
        audit_bucket_stage, merge_stage_buckets, snapshot_history,
        with_bucket, write_stage_buckets)

    base = with_bucket(spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "doc_id long, val string"), 8)
    path = str(tmp_path / "stage")
    buckets = sorted(r["bucket"] for r in
                     base.select("bucket").distinct().collect())
    write_stage_buckets(base, path, {b: "v1" for b in buckets},
                        spark=spark)
    # snapshot the untouched buckets' file listing + mtimes
    upd_rows = [(3, "v3-fixed", False),     # upsert existing key
                (1000, "v1000-new", False),  # insert new key
                (7, "whatever", True)]       # delete existing key
    upd = spark.createDataFrame(
        upd_rows, "doc_id long, val string, is_del boolean")
    touched = {r["bucket"] for r in
               with_bucket(upd, 8).select("bucket").distinct().collect()}
    untouched = [b for b in buckets if b not in touched]
    before = {}
    for b in untouched:
        d = os.path.join(path, f"bucket={b}")
        before[b] = sorted((f, os.path.getmtime(os.path.join(d, f)))
                           for f in os.listdir(d))
    res = merge_stage_buckets(spark, path, upd, ["doc_id"],
                              delete_col="is_del", n_buckets=8)
    assert res["matched"] == 1 and res["inserted"] == 1 \
        and res["deleted"] == 1
    got = {r["doc_id"]: r["val"]
           for r in spark.read.parquet(path).collect()}
    assert got[3] == "v3-fixed" and got[1000] == "v1000-new"
    assert 7 not in got and len(got) == 40  # -1 delete +1 insert
    for b in untouched:
        d = os.path.join(path, f"bucket={b}")
        after = sorted((f, os.path.getmtime(os.path.join(d, f)))
                       for f in os.listdir(d))
        assert after == before[b], b
    import json as _json
    with open(os.path.join(path, "_buckets.json")) as f:
        state = _json.load(f)
    for b in touched:
        assert state[str(b)].startswith("merge:")
    for b in untouched:
        assert state[str(b)] == "v1"
    snaps = snapshot_history(path)
    assert snaps[-1]["operation"] == "merge"
    assert snaps[-1]["matched"] == 1
    assert audit_bucket_stage(path)["ok"]


def test_read_changes_between_cdc(spark, tmp_path):
    """Incremental read = the ledger interval's batch dirs; as_of(to)
    == as_of(from) + changes(from, to]; tombstone valid as lower
    bound only."""
    import os
    import time as _t

    from propertygraph_spark.pipeline.materialize import (
        expire_snapshots, read_changes_between, read_stage_as_of,
        snapshot_history)
    from propertygraph_spark.streaming.events import (
        read_events_stream, streaming_commit_sink)
    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "sink")
    os.makedirs(src)
    for lo in (0, 10, 20):
        spark.createDataFrame(
            [(i, "2024-01-01 00:00:00", i, "view", 1.0, "{}")
             for i in range(lo, lo + 10)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string") \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)
    q = streaming_commit_sink(
        read_events_stream(spark, src, max_files_per_trigger=1),
        out, str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    hist = snapshot_history(out)
    s0, s1, s2 = [h["snapshot_id"] for h in hist]
    ch = read_changes_between(spark, out, s0, s2)
    assert sorted(r["event_id"] for r in ch.collect()) == list(range(10, 30))
    assert read_changes_between(spark, out, s1, s1).count() == 0
    a = set(r["event_id"] for r in read_stage_as_of(spark, out, s0).collect())
    b = set(r["event_id"] for r in
            read_changes_between(spark, out, s0, s1).collect())
    c = set(r["event_id"] for r in read_stage_as_of(spark, out, s1).collect())
    assert a | b == c and not (a & b)
    expire_snapshots(out, keep_last=2)
    hist2 = snapshot_history(out)
    tomb = hist2[0]["snapshot_id"]
    got = read_changes_between(spark, out, tomb,
                               hist2[-1]["snapshot_id"])
    assert sorted(r["event_id"] for r in got.collect()) == \
        list(range(10, 30))
    import pytest as _pytest
    with _pytest.raises(KeyError):
        read_changes_between(spark, out, hist2[-1]["snapshot_id"], tomb)
