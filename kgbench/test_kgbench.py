"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest kgbench -q

- the generator is deterministic per seed, changes with the seed and
  keeps the corpus shape fixed;
- every output check fails on a corrupted KG (an edge row dropped, a
  bucket deleted, a bucket rewritten) and on an empty result;
- the printed metric names and units match BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import corpus  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SMALL = corpus.CorpusSpec(n_docs=12, n_mega=0, n_malformed=1)


# -------------------------------------------------------------- generator

def test_generator_is_deterministic_per_seed():
    a, b = corpus.generate(7, SMALL), corpus.generate(7, SMALL)
    assert a.rows() == b.rows()


def test_generator_changes_with_seed():
    a, b = corpus.generate(7, SMALL), corpus.generate(8, SMALL)
    assert a.sources() != b.sources()


def test_generator_shape_is_fixed_across_seeds():
    spec = corpus.CorpusSpec(n_docs=40, n_mega=1, n_malformed=2)
    d1 = corpus.describe(corpus.generate(1, spec))
    d2 = corpus.describe(corpus.generate(2, spec))
    for key in ("docs", "mega_docs", "malformed_share"):
        assert d1[key] == d2[key]
    assert d1["mega_docs"] == 1
    assert abs(d1["code_bytes"] - d2["code_bytes"]) < 0.1 * d1["code_bytes"]


def test_bucket_hash_matches_spark():
    # values of pmod(xxhash64(doc_id), 32) as Spark 4.1 computes them
    assert corpus.xxhash64(b"a") == -8582455328737087284
    assert corpus.N_BUCKETS == 32
    assert corpus.bucket_of("doc-00000001") == 3
    assert corpus.bucket_of("src/org/gen1/mod0/Gen1C0001.java") == 4
    assert corpus.bucket_of("x" * 40) == 20


@pytest.mark.parametrize("workload", sorted(run.SPEC))
def test_bucket_occupancy_is_fixed(workload):
    for seed in (1, 2):
        c = corpus.generate(seed, run.SPEC[workload])
        counts = {}
        for d in c.docs:
            b = corpus.bucket_of(d.doc_id)
            counts[b] = counts.get(b, 0) + 1
        assert sorted(counts.values()) == [2] * corpus.N_BUCKETS


def test_edit_commit_changes_only_named_docs():
    c = corpus.generate(3, SMALL)
    before = c.sources()
    ids = corpus.editable_docs(c)[:2]
    import random
    corpus.edit_commit(c, random.Random(0), ids)
    after = c.sources()
    assert {d for d in before if before[d] != after[d]} == set(ids)


# ------------------------------------------------------------ fake KG

def _write_kg(out: str, sources: dict) -> None:
    """A KG laid out as materialize lays it out (bucket=N dirs), filled
    from the in-process kernel: the checks cannot tell it from a real
    one."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from propertygraph_spark.kernel.extract import extract_document_columns
    for i, (doc_id, src) in enumerate(sorted(sources.items())):
        b = i % 3
        nc, tc, _mc, err = extract_document_columns(doc_id, src)
        # materialize de-duplicates edges
        keys = list(tc)
        tc = dict(zip(keys, map(list, zip(*dict.fromkeys(
            zip(*(tc[k] for k in keys))))))) or {k: [] for k in keys}
        for stage, cols in (("nodes", nc), ("edges", tc)):
            n = len(next(iter(cols.values())))
            if not n:
                continue
            d = os.path.join(out, stage, f"bucket={b}")
            os.makedirs(d, exist_ok=True)
            tbl = pa.table({"doc_id": [doc_id] * n, **cols})
            if stage == "nodes":
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("start_line"), "start_line",
                    tbl["start_line"].cast(pa.int32()))
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("end_line"), "end_line",
                    tbl["end_line"].cast(pa.int32()))
            pq.write_table(tbl, os.path.join(d, f"part-{i:03d}.parquet"))
        if err:
            d = os.path.join(out, "extracted", "row_kind=error",
                             f"bucket={b}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.table({"doc_id": [doc_id], "error": [err]}),
                           os.path.join(d, f"part-{i:03d}.parquet"))


@pytest.fixture()
def kg(tmp_path):
    c = corpus.generate(5, SMALL)
    src = c.sources()
    out = str(tmp_path / "kg")
    _write_kg(out, src)
    return out, src


def test_checks_pass_on_intact_kg(kg):
    out, src = kg
    want = checks.kernel_digests(src)
    assert checks.compare_digests(checks.kg_digests(out), want, src,
                                  "intact") > 0
    assert checks.coverage(out, src) == (len(src) - 1, 1)
    checks.table_digest(out)


def test_digest_check_fails_on_dropped_edge_row(kg):
    import pyarrow.parquet as pq
    out, src = kg
    bdir = os.path.join(out, "edges", "bucket=0")
    f = os.path.join(bdir, sorted(os.listdir(bdir))[0])
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)
    want = checks.kernel_digests(src)
    with pytest.raises(checks.CheckFailed):
        checks.compare_digests(checks.kg_digests(out), want, src, "dropped")


def test_checks_fail_on_deleted_bucket(kg):
    out, src = kg
    shutil.rmtree(os.path.join(out, "nodes", "bucket=1"))
    with pytest.raises(checks.CheckFailed):
        checks.coverage(out, src)
    want = checks.kernel_digests(src)
    with pytest.raises(checks.CheckFailed):
        checks.compare_digests(checks.kg_digests(out), want, src, "deleted")


def test_checks_fail_on_empty_results(kg, tmp_path):
    import pyarrow.parquet as pq
    out, src = kg
    with pytest.raises(checks.CheckFailed):
        checks.compare_digests({"nodes": {}, "edges": {}},
                               {"nodes": {}, "edges": {}}, [], "empty")
    with pytest.raises(checks.CheckFailed):
        checks.coverage(out, [])
    empty = tmp_path / "empty"
    for stage in ("nodes", "edges"):
        shutil.copytree(os.path.join(out, stage), empty / stage)
        for root, _d, names in os.walk(empty / stage):
            for n in names:
                p = os.path.join(root, n)
                pq.write_table(pq.read_table(p).slice(0, 0), p)
    with pytest.raises(checks.CheckFailed):
        checks.table_digest(str(empty))


def test_layout_check_fails_on_rewritten_bucket(kg):
    out, _src = kg
    before = checks.listing(out)
    assert checks.untouched_unchanged(before, checks.listing(out),
                                      set()) > 0
    bdir = os.path.join(out, "edges", "bucket=2")
    f = os.path.join(bdir, os.listdir(bdir)[0])
    os.rename(f, f + ".moved.parquet")
    with pytest.raises(checks.CheckFailed):
        checks.untouched_unchanged(before, checks.listing(out), set())
    # a rewrite inside a bucket the op was allowed to dirty is fine
    checks.untouched_unchanged(before, checks.listing(out), {2})
    with pytest.raises(checks.CheckFailed):
        checks.untouched_unchanged(before, checks.listing(out),
                                   {0, 1, 2})


def test_query_check(kg):
    out, src = kg
    sql = "SELECT pred, COUNT(*) AS n FROM edges GROUP BY pred"
    rows = checks.duckdb_rows(out, sql)
    printed = "pred\tn\n" + "".join(f"{p}\t{n}\n" for p, n in rows) \
        + f"({len(rows)} rows)\n"
    assert checks.check_query(out, sql, printed) == len(rows)
    wrong = printed.replace(f"\t{rows[0][1]}\n", f"\t{int(rows[0][1]) + 1}\n",
                            1)
    with pytest.raises(checks.CheckFailed):
        checks.check_query(out, sql, wrong)
    none = "SELECT pred FROM edges WHERE pred = 'no such predicate'"
    with pytest.raises(checks.CheckFailed):
        checks.check_query(out, none, "pred\n(0 rows)\n")


# --------------------------------------------------------------- metrics

def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units_match_benchmark_json():
    want = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert run.E2E_UNITS == want


def _fake_trace():
    spark = {k: 1 for k in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms",
                            "shuffle_read_bytes", "shuffle_write_bytes",
                            "spill_bytes", "disk_spill_bytes",
                            "input_bytes", "input_records", "files_read")}
    writes = {layer: {"files_written": 1, "bytes_written": 1, "rows_out": 1,
                      "ledger_bytes": 1} for layer in layers.STAGE_DIRS}
    writes["materialize"]["files_per_bucket"] = 1.0
    spans = [{"id": 0, "name": "op", "parent": None, "start": 0.0,
              "end": 9.0, "timed": True, "kind": "build",
              "stage_times": {"extract_dirty_buckets": 3},
              "extracted_docs": ["d"], "writes": writes, "spark": spark}]
    for name in ("extract", "extract.fingerprint", "link.symtab",
                 "link.write", "canon.cc", "canon.write",
                 "materialize.nodes", "materialize.edges"):
        spans.append({"id": len(spans), "name": name, "parent": 0,
                      "start": 1.0, "end": 2.0,
                      "spark": dict(spark, task_skew=1.5)})
    for cls in run.QUERIES:
        spans.append({"id": len(spans), "name": "query", "cls": cls,
                      "parent": None, "start": 10.0, "end": 11.0,
                      "spark": spark})
    kernel = {"docs": 1, "total_s": 1.0, "methods": 2, "rows": 3,
              "per_doc_s": {"d": 1.0},
              "self_s": {k: 1 / 7 for k in ("lex", "parse", "pe", "cfg",
                                            "pdg", "gc", "emit")}}
    return spans, kernel


def test_per_layer_names_and_units_match_benchmark_json():
    spans, kernel = _fake_trace()
    got = layers.compute(spans, "build", kernel, 4, 2, 3000.0)
    want = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert {k: run._unit(k) for k in got} == want


def test_benchmark_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "bulk_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout
