"""KG-construction benchmark: cold build and edit refresh, end to end and
layer by layer.

    python3 kgbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client process holds one Spark
session from ``pipeline.session.get_spark`` (local[4]) and drives the
public entry points in a closed loop: ``pipeline.materialize.run_pipeline``
for builds and refreshes, ``propertygraph_spark.main.main([... "--sql"])``
for queries. Every end-to-end timing is the median over the run's timed
ops. The last stdout line is the JSON result; the lines before it
describe the inputs, the host and the per-op series. Exit code 1 means
an output check failed, 2 that the benchmark could not run.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

import checks
import corpus as corpus_mod
import layers
import probes

CPUS = 4
N_BUCKETS = corpus_mod.N_BUCKETS
EDITS_PER_COMMIT = 4
SAMPLE_DOCS = 8          # docs checked against the in-process kernel
# 64 docs each: every one of the 32 buckets holds two
SPEC = {"bulk_build": corpus_mod.CorpusSpec(
            n_docs=62, n_mega=2, n_malformed=2),
        "edit_refresh": corpus_mod.CorpusSpec(
            n_docs=64, n_mega=0, n_malformed=2)}

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".kgbench_runs")
SPANS_DIR = os.path.join(ROOT, ".kgbench_spans")

QUERIES = {
    "doc_edges": "SELECT method_id, subj, pred, obj, label FROM edges "
                 "WHERE doc_id = '{doc}'",
    "pred_counts": "SELECT pred, COUNT(*) AS n FROM edges GROUP BY pred",
    "pdg_data_join": (
        "SELECT e.label AS var, COUNT(*) AS n FROM edges e "
        "JOIN nodes s ON s.doc_id = e.doc_id AND s.method_id = e.method_id "
        "AND s.node_id = e.subj AND s.graph = 'pdg' "
        "JOIN nodes o ON o.doc_id = e.doc_id AND o.method_id = e.method_id "
        "AND o.node_id = e.obj AND o.graph = 'pdg' "
        "WHERE e.pred = 'pdg_data' GROUP BY e.label "
        "ORDER BY n DESC, var LIMIT 20"),
    "top_fqns": "SELECT fqn, COUNT(*) AS n FROM linked GROUP BY fqn "
                "ORDER BY n DESC, fqn LIMIT 10",
    "canon_lookup": "SELECT fqn, canonical_id FROM canonical "
                    "WHERE fqn = '{fqn}'",
}


def _process_age_s() -> float:
    """Seconds since this process started (survives the re-exec below)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _median(xs):
    return statistics.median(xs) if xs else None


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.run_root = os.path.join(RUNS_DIR, f"run-{os.getpid()}")
        self.ops: list = []          # (kind, seconds) per timed op
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.checked_sql: set = set()
        self.rng = random.Random(f"{args.seed}/ops")
        self.n_queries = 0
        self.query_classes: list = []
        self.dirty_share = None
        self.tracer = probes.Tracer(self.trace)
        self.memory = probes.TreeMemory()
        self.spark = None
        self.phases: dict = {}
        self.killed_at_exit = 0

    # ------------------------------------------------------------ set-up
    def start_session(self):
        from propertygraph_spark.pipeline.session import get_spark
        r = self.run_root
        # everything the session writes stays under the run root
        conf = {
            "spark.local.dir": os.path.join(r, "local"),
            "spark.sql.warehouse.dir": os.path.join(r, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={r}/tmp -Dderby.system.home={r}/derby",
        }
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": os.path.join(r, "eventlog"),
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark("kgbench", cpus=CPUS, extra_conf=conf)
        self.spark.sparkContext.setCheckpointDir(
            os.path.join(r, "checkpoints"))
        self.mark("session")

    def stop_session(self) -> None:
        """Stop Spark, end the JVM (it exits when its stdin closes) and
        wait for every process the session started."""
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.killed_at_exit = probes.reap_tree()

    def path(self, *parts) -> str:
        return os.path.join(self.run_root, "data", *parts)

    # --------------------------------------------------------------- ops
    def build(self, docs_path: str, out: str, timed: bool = False,
              kind: str = "setup", extracted_docs=()):
        from propertygraph_spark.pipeline.materialize import run_pipeline
        before = checks.listing(out) if self.trace else None
        with self.tracer.span("op", timed=timed, kind=kind) as sp:
            t = time.perf_counter()
            m = run_pipeline(self.spark, self.spark.read.parquet(docs_path),
                             out, n_buckets=N_BUCKETS)
            dt = time.perf_counter() - t
        self.memory.sample()
        if sp.rec is not None:
            sp.rec.update(stage_times=m["stage_times"],
                          extracted_docs=list(extracted_docs),
                          writes=layers.stage_writes(
                              out, before, checks.listing(out)))
        return dt, m

    def query(self, out: str, cls: str, params: dict):
        from propertygraph_spark.main import main as cli
        sql = QUERIES[cls].format(**params)
        buf = io.StringIO()
        with self.tracer.span("query", cls=cls):
            t = time.perf_counter()
            with contextlib.redirect_stdout(buf):
                rc = cli(["--out", out, "--sql", sql,
                          "--sql-limit", "1000000", "--cpus", str(CPUS)])
            dt = time.perf_counter() - t
        self.memory.sample()
        return dt, rc, sql, buf.getvalue()

    def checked(self, fn, *a) -> bool:
        """Run one output check; count a failure instead of raising."""
        try:
            fn(*a)
            return True
        except checks.CheckFailed as exc:
            self.failed += 1
            self.failures.append(str(exc))
            print(f"CHECK FAILED: {exc}", file=sys.stderr)
            return False

    def check_query(self, out, rc, sql, text) -> None:
        checks.require(rc == 0, f"--sql exited {rc}: {sql}")
        if sql not in self.checked_sql:
            self.checked_sql.add(sql)
            checks.check_query(out, sql, text)
        else:
            checks.require(len(checks.parse_cli_rows(text)[1]) > 0,
                           f"empty result: {sql}")

    def query_params(self) -> dict:
        return {"doc": self.rng.choice(self.query_docs).replace("'", "''"),
                "fqn": self.rng.choice(self.fqns).replace("'", "''")}

    def load_query_inputs(self, out: str, corpus) -> None:
        import duckdb
        con = duckdb.connect()
        self.fqns = [r[0] for r in con.execute(
            "SELECT fqn FROM read_parquet("
            f"'{checks.stage_glob(out, 'canonical')}') "
            "ORDER BY (fqn <> canonical_id) DESC, fqn LIMIT 50").fetchall()]
        con.close()
        checks.require(bool(self.fqns), "canonical table is empty")
        self.query_docs = corpus_mod.editable_docs(corpus)

    def next_query_class(self) -> str:
        """Round robin over the classes in a fixed order, starting at the
        seed, so consecutive seeds cover every class."""
        cls = list(QUERIES)[(self.args.seed + self.n_queries) % len(QUERIES)]
        self.n_queries += 1
        return cls

    def sample_docs(self, corpus) -> list:
        """Seeded sample for the kernel comparison: ordinary docs plus one
        malformed doc (its rows must be absent from nodes and edges)."""
        rng = random.Random(f"{self.args.seed}/sample")
        ok = corpus_mod.editable_docs(corpus)
        bad = [d.doc_id for d in corpus.docs if d.malformed]
        return rng.sample(ok, SAMPLE_DOCS - 1) + rng.sample(bad, 1)

    def verify_build(self, out: str, corpus, sample: list) -> None:
        src = corpus.sources()
        want = checks.kernel_digests({d: src[d] for d in sample})
        checks.compare_digests(checks.kg_digests(out, sample), want, sample,
                               "sampled docs vs in-process kernel")
        checks.coverage(out, src)

    def kg_facts(self, out: str, corpus) -> None:
        """Output size and error share of a finished build."""
        total = sum(size for files in checks.listing(out).values()
                    for size, _mtime in files.values())
        self.output_ratio = total / corpus.code_bytes()
        ids = {d.doc_id for d in corpus.docs}
        self.error_share = len(checks.docs_with_rows(out)[1] & ids) / len(ids)
        import duckdb
        con = duckdb.connect()
        # mentions whose candidate names a hot JDK type
        hot = "|".join(corpus_mod.HOT_TYPES)
        self.hot_share = con.execute(
            "SELECT avg(CASE WHEN regexp_matches(candidate, "
            f"'\\b({hot})\\b') THEN 1.0 ELSE 0 END) "
            f"FROM read_parquet('{checks.stage_glob(out, 'extracted')}', "
            "hive_partitioning = true) WHERE row_kind = 'mention'"
        ).fetchone()[0]
        con.close()

    def describe(self, corpus) -> dict:
        """The input properties the workloads depend on, for this seed."""
        d = corpus_mod.describe(corpus)
        d["hot_symbol_mention_share"] = getattr(self, "hot_share", None)
        d["dirty_bucket_share_per_refresh"] = self.dirty_share
        d["query_mix"] = {c: self.query_classes.count(c)
                          for c in sorted(set(self.query_classes))}
        return d

    def mark(self, phase: str) -> None:
        """Record when a phase ended, in seconds since process start."""
        self.phases[phase] = round(_process_age_s(), 3)

    def mark_setup_done(self) -> None:
        self.mark("setup")
        self.setup_s = _process_age_s()

    def rounds(self):
        """Yield round numbers while the next round still fits in
        --seconds, judged by the length of the last one. At least one
        round runs, so a host that is slower or faster by a few percent
        does not change how many rounds a run times."""
        t0 = time.monotonic()
        i = 0
        while True:
            start = time.monotonic()
            yield i
            i += 1
            end = time.monotonic()
            if end - t0 + (end - start) > self.args.seconds:
                return

    def run_query(self, out: str, cls: str, timed: bool) -> None:
        dt, rc, sql, text = self.query(out, cls, self.query_params())
        if timed:
            self.attempted += 1
            self.ops.append(("query", dt))
            self.query_classes.append(cls)
        self.checked(self.check_query, out, rc, sql, text)


# ----------------------------------------------------------- workloads

def bulk_build(b: Bench, corpus) -> dict:
    """One timed round: a cold run_pipeline of the whole corpus into an
    empty output dir, then one KG query over the fresh build."""
    docs = b.path("docs.parquet")
    corpus_mod.write_docs(corpus, docs)
    b.start_session()
    sample = b.sample_docs(corpus)
    all_docs = [d.doc_id for d in corpus.docs]
    warm = b.path("warm")
    b.build(docs, warm)                             # warm-up
    b.mark("first_build")
    b.checked(b.verify_build, warm, corpus, sample)
    b.kg_facts(warm, corpus)
    b.digest = checks.table_digest(warm)
    b.load_query_inputs(warm, corpus)
    shutil.rmtree(warm)
    b.mark_setup_done()
    for i in b.rounds():
        out = b.path(f"build{i}")
        dt, m = b.build(docs, out, timed=True, kind="build",
                        extracted_docs=all_docs)
        b.attempted += 1
        b.ops.append(("build", dt))
        b.run_query(out, b.next_query_class(), timed=True)
        b.checked(lambda: checks.require(
            checks.table_digest(out) == b.digest,
            f"build {i} differs from the warm-up build"))
        if i:
            shutil.rmtree(b.path(f"build{i - 1}"))
    b.mark("timed")
    b.last_out = out
    builds = [s for k, s in b.ops if k == "build"]
    return {"build_docs_per_s": len(corpus.docs) / _median(builds)}


def edit_refresh(b: Bench, corpus) -> dict:
    """One timed round: an edit refresh (a seeded commit edits a few
    method bodies), then a no-op refresh of the unchanged snapshot, on
    one incrementally maintained KG."""
    snap = 0
    docs = b.path(f"snap{snap}.parquet")
    corpus_mod.write_docs(corpus, docs)
    b.start_session()
    out = b.path("kg")
    b.build(docs, out)                              # initial build
    b.mark("first_build")
    b.checked(b.verify_build, out, corpus, b.sample_docs(corpus))
    b.kg_facts(out, corpus)
    bucket_of = {d.doc_id: corpus_mod.bucket_of(d.doc_id)
                 for d in corpus.docs}
    pool = corpus_mod.editable_docs(corpus)
    reference = checks.kg_digests(out)
    b.load_query_inputs(out, corpus)
    commit_rng = random.Random(f"{b.args.seed}/commits")
    dirty_shares = []

    def refresh(kind: str, timed: bool) -> None:
        nonlocal snap, docs
        edited: list = []
        if kind == "edit":
            by_bucket = {}             # EDITS_PER_COMMIT distinct buckets
            for d in commit_rng.sample(pool, len(pool)):
                by_bucket.setdefault(bucket_of[d], d)
            edited = corpus_mod.edit_commit(
                corpus, commit_rng,
                list(by_bucket.values())[:EDITS_PER_COMMIT])
            snap += 1
            old, docs = docs, b.path(f"snap{snap}.parquet")
            corpus_mod.write_docs(corpus, docs)
            os.remove(old)
        dirty = {bucket_of[d] for d in edited}
        before = checks.listing(out)
        dt, m = b.build(docs, out, timed=timed, kind=kind, extracted_docs=[
            d for d, bk in bucket_of.items() if bk in dirty])
        if timed:
            b.attempted += 1
            b.ops.append((kind, dt))
            if edited:
                dirty_shares.append(len(dirty) / N_BUCKETS)

        def verify():
            got_dirty = m["stage_times"]["extract_dirty_buckets"]
            checks.require(got_dirty == len(dirty),
                           f"{kind} refresh dirtied {got_dirty} buckets, "
                           f"expected {len(dirty)}")
            checks.untouched_unchanged(before, checks.listing(out), dirty)
            if edited:
                src = corpus.sources()
                want = checks.kernel_digests({d: src[d] for d in edited})
                checks.compare_digests(checks.kg_digests(out, edited), want,
                                       edited, "edited docs vs kernel")
                for stage in ("nodes", "edges"):
                    reference[stage].update(want[stage])
        b.checked(verify)

    refresh("edit", timed=False)                    # warm-up
    refresh("noop", timed=False)
    b.mark_setup_done()
    for _ in b.rounds():
        refresh("edit", timed=True)
        refresh("noop", timed=True)
    b.mark("timed")
    b.last_out = out

    def final():
        # the initial cold build, with every edited doc replaced by the
        # in-process kernel's rows, must equal the maintained KG
        got = checks.kg_digests(out)
        ids = sorted(set(reference["nodes"]) | set(reference["edges"])
                     | set(got["nodes"]) | set(got["edges"]))
        checks.compare_digests(got, reference, ids,
                               "maintained KG vs cold build")
    b.checked(final)
    edits = [s for k, s in b.ops if k == "edit"]
    b.dirty_share = _median(dirty_shares)
    return {"refresh_s_p50": _median(edits),
            "noop_refresh_s_p50": _median(
                [s for k, s in b.ops if k == "noop"])}


WORKLOADS = {"bulk_build": bulk_build, "edit_refresh": edit_refresh}
MAIN_OP = {"bulk_build": "build", "edit_refresh": "edit"}
E2E_UNITS = {"setup_s": "s", "op_s_p50": "s",
             "output_bytes_per_input_byte": "B/B", "doc_error_share": "share"}


# ------------------------------------------------------------------ main

def _install_spans(tracer: probes.Tracer) -> None:
    from propertygraph_spark.pipeline import canonicalize, linking
    from propertygraph_spark.pipeline import materialize as mat
    stage_span = {"linked": "link.write", "nodes": "materialize.nodes",
                  "edges": "materialize.edges"}
    tracer.wrap(mat, "extract_incremental", "extract")
    tracer.wrap(mat, "bucket_fingerprints", "extract.fingerprint")
    tracer.wrap(mat, "write_stage_buckets", lambda df, path, *a, **k:
                stage_span.get(os.path.basename(path), "write"))
    tracer.wrap(mat, "write_stage", "canon.write")
    tracer.wrap(canonicalize, "connected_components", "canon.cc")
    symtab = linking.corpus_symbol_table

    def corpus_symbol_table(*a, **k):
        # lazy: its Spark work runs in the caller's collect()
        df = symtab(*a, **k)
        collect = df.collect

        def traced_collect():
            with tracer.span("link.symtab"):
                return collect()
        df.collect = traced_collect
        return df
    corpus_symbol_table.__wrapped__ = symtab
    linking.corpus_symbol_table = corpus_symbol_table


def _clean_runs_dir() -> int:
    """Remove what earlier runs left behind; return how many they left."""
    left = os.listdir(RUNS_DIR) if os.path.isdir(RUNS_DIR) else []
    for name in left:
        shutil.rmtree(os.path.join(RUNS_DIR, name), ignore_errors=True)
    return len(left)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "propertygraph_spark")):
        print(f"kgbench: no propertygraph_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    leftovers = _clean_runs_dir()
    b = Bench(args)
    for d in ("local", "tmp", "warehouse", "derby", "checkpoints",
              "eventlog", "data"):
        os.makedirs(os.path.join(b.run_root, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.run_root, "local")
    os.environ["TMPDIR"] = os.path.join(b.run_root, "tmp")
    # no /tmp/hsperfdata_<user> file from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if o)
    if b.trace:
        _install_spans(b.tracer)
    corpus = corpus_mod.generate(args.seed, SPEC[args.workload])
    host = probes.HostRecord()
    memory = b.memory
    try:
        try:
            detail = WORKLOADS[args.workload](b, corpus)
            if b.trace:               # every query class, once, untimed
                for cls in QUERIES:
                    b.run_query(b.last_out, cls, timed=False)
        finally:
            if b.spark is not None:
                memory.sample()
                b.stop_session()
                b.mark("stopped")
        host_rec = host.result()
        values = {
            "setup_s": b.setup_s,
            "op_s_p50": _median([s for k, s in b.ops
                                 if k == MAIN_OP[args.workload]]),
            "output_bytes_per_input_byte": b.output_ratio,
            "doc_error_share": b.error_share,
        }
        metrics = {k: (values[k], u) for k, u in E2E_UNITS.items()}
        if b.trace:
            replay = probes.kernel_replay(corpus.sources())
            ev = [os.path.join(dp, f) for dp, _d, fs in
                  os.walk(os.path.join(b.run_root, "eventlog")) for f in fs]
            probes.attribute_event_log(ev[0], b.tracer.spans)
            per_layer = layers.compute(
                b.tracer.spans, MAIN_OP[args.workload], replay, CPUS,
                len(memory.python_pids), memory.peak_mb())
            os.makedirs(SPANS_DIR, exist_ok=True)
            span_file = os.path.join(
                SPANS_DIR, f"{args.workload}-seed{args.seed}.json")
            b.tracer.write(span_file)
            metrics = {k: (v, _unit(k)) for k, v in per_layer.items()}
            detail["span_file"] = os.path.relpath(span_file, ROOT)
    finally:
        shutil.rmtree(b.run_root, ignore_errors=True)
        if os.path.isdir(RUNS_DIR) and not os.listdir(RUNS_DIR):
            os.rmdir(RUNS_DIR)
    qs = [s * 1e3 for k, s in b.ops if k == "query"]
    series = {}
    for k, s in b.ops:
        series.setdefault(k, []).append(round(s, 4))
    detail.update({
        "query_ms_p50": _median(qs), "query_n": len(qs),
        "peak_rss_mb": memory.peak_mb(),
        "failed_ops_share": b.failed / max(b.attempted, 1),
        "trend_second_half_over_first": {
            k: _trend(v) for k, v in series.items()},
        "series_s": series,
        "leftover_runs_cleaned": leftovers,
        "processes_killed_at_exit": b.killed_at_exit,
        "phase_end_s": b.phases,
    })
    print("inputs " + json.dumps(b.describe(corpus)))
    print("host " + json.dumps(host_rec))
    print("detail " + json.dumps(detail))
    if b.failures:
        print("failures " + json.dumps(b.failures[:10]))
    print(json.dumps({
        "correct": b.failed == 0, "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if b.failed == 0 else 1


def _trend(xs):
    """Median of the second half of a series over that of the first."""
    if len(xs) < 2:
        return None
    h = len(xs) // 2
    return round(statistics.median(xs[-h:]) / statistics.median(xs[:h]), 4)


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    leaf = name.split(".")[-1]
    if leaf in RATE_UNITS:
        return RATE_UNITS[leaf]
    if "_ms_" in leaf:
        return "ms"
    if leaf.endswith("_s") or leaf.endswith("_s_p50"):
        return "s"
    if "bytes" in leaf:
        return "B"
    return "count" if leaf in COUNTS else "ratio"


RATE_UNITS = {"peak_rss_mb": "MB",
              "docs_per_s_1core": "docs/s", "methods_per_doc": "methods/doc",
              "rows_per_doc": "rows/doc", "files_per_bucket": "files/bucket"}
COUNTS = {"dirty_buckets", "files_written", "files_read", "rows_in",
          "rows_out", "tasks", "python_workers"}


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.exit(main())
