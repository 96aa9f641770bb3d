"""CLI driver — the spark-submit twin of the reference's
`java -jar PropertyGraph.jar -d <dir> [-p] [-c] [-a]`
(graphToDot/Write.java:7-70, README.md:21-26).

Usage (spark-submit --py-files propertygraph_spark.zip main.py ... or
plain python -m propertygraph_spark.main ...):

  # a directory of .java files, like the reference CLI
  ... --input-dir /path/to/java/src --out /tmp/kg --graphs ast,cfg,pdg

  # a parquet docs table in the north-rule interleaved-span shape
  ... --input-parquet /path/to/docs.parquet --out /tmp/kg

  # optional per-document DOT dumps (debug scale, like the reference's
  # AST/ CFG/ PDG/ output dirs)
  ... --dot --dot-limit 20

The heavy path is always the same fused pipeline
(pipeline/materialize.run_pipeline): extract -> link -> canonicalize ->
partitioned node/edge tables + metrics, resumable via stage manifests.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _docs_from_dir(spark, input_dir: str):
    """Reference S1/S2: recursive *.java scan (MainTest.getFiles,
    test/java/com/tinypdg/MainTest.java:13-29) -> one single-span doc per
    file. Small-scale convenience; real corpora arrive as tables."""
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    rows = []
    for path in sorted(glob.glob(os.path.join(input_dir, "**", "*.java"),
                                 recursive=True)):
        with open(path, "r", encoding="utf-8", errors="replace") as f:
            code = f.read()
        doc_id = os.path.relpath(path, input_dir)
        rows.append((doc_id, [("code", code, "", 0)]))
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="propertygraph_spark pipeline")
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--input-dir", help="directory of .java files")
    src.add_argument("--input-parquet",
                     help="parquet docs table (doc_id, spans)")
    ap.add_argument("--audit", action="store_true",
                    help="audit stage manifests under --out and exit "
                         "(footer-only, no Spark session)")
    ap.add_argument("--expire-snapshots", type=int, default=None,
                    metavar="N",
                    help="trim every stage's snapshot log to the last "
                         "N commits and exit (Iceberg expire_snapshots "
                         "twin; chain + manifest fingerprint preserved)")
    ap.add_argument("--remove-orphans", action="store_true",
                    help="delete files no committed state references "
                         "under --out's stages and exit (Iceberg "
                         "remove_orphan_files twin; --dry-run lists "
                         "only)")
    ap.add_argument("--dry-run", action="store_true",
                    help="with --remove-orphans: report, delete nothing")
    ap.add_argument("--compact", action="store_true",
                    help="compact small files in bucket-incremental "
                         "stages under --out and exit (Iceberg "
                         "rewrite_data_files twin; fingerprints and "
                         "rows unchanged, commit logged)")
    ap.add_argument("--sql", metavar="QUERY", default=None,
                    help="run a Spark SQL query over the materialized "
                         "stage tables under --out (views: extracted, "
                         "linked, canonical, nodes, edges), print the "
                         "result and exit — the ad-hoc query surface "
                         "over a previous run's output")
    ap.add_argument("--sql-limit", type=int, default=20,
                    help="max rows --sql prints (full count is always "
                         "reported)")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--graphs", default="ast,cfg,pdg",
                    help="comma list: ast,cfg,pdg (reference -a/-c/-p)")
    ap.add_argument("--link", action=argparse.BooleanOptionalAction,
                    default=True, help="run entity linking + CC canon")
    ap.add_argument("--dot", action="store_true",
                    help="also write per-doc DOT files (debug scale)")
    ap.add_argument("--ntriples", action="store_true",
                    help="also export the edge table as sharded "
                         "N-Triples text under <out>/edges_nt")
    ap.add_argument("--dot-limit", type=int, default=20)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=32)
    args = ap.parse_args(argv)

    if args.audit:
        from propertygraph_spark.pipeline.materialize import (
            audit_bucket_stage, audit_stage)
        rc = 0
        for stage in ("extracted", "linked", "canonical", "nodes", "edges"):
            p = os.path.join(args.out, stage)
            if not os.path.isdir(p):
                continue
            if os.path.exists(os.path.join(p, "_manifest.json")):
                a, mode = audit_stage(p), "manifest"
            else:
                # bucket-incremental stage: content state lives in
                # _buckets.json (per-bucket fingerprints) — verify the
                # state file parses, every footer reads, and no stray
                # bucket dir lurks; FAIL when neither state file exists
                # (ADVICE r4: this used to skip silently with exit 0)
                a, mode = audit_bucket_stage(p), "buckets"
            status = "OK" if a["ok"] else "FAIL"
            extra = "" if a["ok"] else f" problems={a['problems']}"
            if a.get("warnings"):
                extra += f" warnings={a['warnings']}"
            print(f"audit {stage} [{mode}]: {status} files={a['n_files']} "
                  f"rows={a['total_rows']}{extra}")
            rc |= 0 if a["ok"] else 1
        return rc
    if args.remove_orphans:
        from propertygraph_spark.pipeline.materialize import (
            remove_orphan_files)
        for stage in ("extracted", "linked", "canonical", "nodes",
                      "edges"):
            p = os.path.join(args.out, stage)
            if not os.path.isdir(p):
                continue
            try:
                res = remove_orphan_files(p, delete=not args.dry_run)
            except ValueError as exc:
                print(f"orphans {stage}: SKIP ({exc})")
                continue
            verb = "found" if args.dry_run else "removed"
            print(f"orphans {stage} [{res['mode']}]: {verb}="
                  f"{len(res['orphans'])}"
                  + (f" {res['orphans'][:5]}" if res["orphans"] else ""))
        return 0
    if args.expire_snapshots is not None:
        from propertygraph_spark.pipeline.materialize import (
            expire_snapshots)
        for stage in ("extracted", "linked", "canonical", "nodes",
                      "edges"):
            p = os.path.join(args.out, stage)
            if not os.path.isdir(p):
                continue
            res = expire_snapshots(p, keep_last=args.expire_snapshots)
            print(f"expire {stage}: expired={res['expired']} "
                  f"retained={res['retained']}")
        return 0
    if args.compact:
        from propertygraph_spark.pipeline.materialize import (
            compact_stage_buckets)
        from propertygraph_spark.pipeline.session import get_spark
        spark = get_spark("propertygraph_spark_compact", cpus=args.cpus)
        try:
            for stage in ("extracted", "linked", "nodes", "edges"):
                p = os.path.join(args.out, stage)
                if not os.path.isdir(p) or not os.path.exists(
                        os.path.join(p, "_buckets.json")):
                    continue
                done = compact_stage_buckets(spark, p)
                detail = ", ".join(f"{b}:{a}->{c}"
                                   for b, (a, c) in sorted(done.items()))
                print(f"compact {stage}: {len(done)} buckets"
                      + (f" [{detail}]" if done else ""))
        finally:
            spark.stop()
        return 0
    if args.sql:
        from pyspark.sql import SparkSession
        from propertygraph_spark.pipeline.materialize import read_stage
        from propertygraph_spark.pipeline.session import get_spark
        # only stop a session WE created (in-process callers — tests,
        # notebooks — own theirs; get_spark is getOrCreate)
        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark("propertygraph_spark_sql", cpus=args.cpus)
        try:
            n_views = 0
            for stage in ("extracted", "linked", "canonical", "nodes",
                          "edges"):
                p = os.path.join(args.out, stage)
                if not os.path.isdir(p):
                    continue
                try:
                    read_stage(spark, p).createOrReplaceTempView(stage)
                    n_views += 1
                except Exception as exc:  # unreadable stage: name it
                    print(f"sql: skipping view {stage}: {exc}")
            if not n_views:
                print(f"sql: no readable stage tables under {args.out}")
                return 1
            df = spark.sql(args.sql)
            rows = df.limit(args.sql_limit + 1).collect()
            cols = df.columns
            print("\t".join(cols))
            for r in rows[:args.sql_limit]:
                print("\t".join(str(r[c]) for c in cols))
            if len(rows) > args.sql_limit:
                print(f"... (+more rows; total="
                      f"{df.count()}, raise --sql-limit)")
            else:
                print(f"({len(rows)} rows)")
        finally:
            if not preexisting:
                spark.stop()
        return 0
    if not (args.input_dir or args.input_parquet):
        ap.error("one of --input-dir/--input-parquet is required "
                 "(or --audit)")
    if args.input_dir and not os.path.isdir(args.input_dir):
        ap.error(f"--input-dir {args.input_dir!r} is not a directory")

    from propertygraph_spark.pipeline.session import get_spark
    spark = get_spark("propertygraph_spark", cpus=args.cpus)
    try:
        if args.input_dir:
            docs = _docs_from_dir(spark, args.input_dir)
        else:
            docs = spark.read.parquet(args.input_parquet)

        from propertygraph_spark.pipeline.materialize import run_pipeline
        graphs = tuple(g for g in args.graphs.split(",") if g)
        metrics = run_pipeline(spark, docs, args.out,
                               n_buckets=args.buckets, graphs=graphs)
        print(f"triples={metrics['total']} nodes={metrics['nodes']} "
              f"stages={metrics['stage_times']}")

        if args.ntriples:
            from propertygraph_spark.pipeline.ntriples import write_ntriples
            edges_df = spark.read.parquet(os.path.join(args.out, "edges"))
            n = write_ntriples(edges_df,
                               os.path.join(args.out, "edges_nt"))
            print(f"ntriples: {n} lines -> {args.out}/edges_nt")

        if args.dot:
            from pyspark.sql import functions as F
            from propertygraph_spark.pipeline.dot import FORMATTERS
            nodes = spark.read.parquet(os.path.join(args.out, "nodes"))
            edges = spark.read.parquet(os.path.join(args.out, "edges"))
            wanted = [g for g in args.graphs.split(",") if g]
            doc_ids = [r["doc_id"] for r in
                       nodes.select("doc_id").distinct()
                       .orderBy("doc_id").limit(args.dot_limit).collect()]
            for graph in wanted:
                gdir = os.path.join(args.out, graph.upper())
                os.makedirs(gdir, exist_ok=True)
                for doc_id in doc_ids:
                    dot = FORMATTERS[graph](nodes, edges, doc_id)
                    safe = doc_id.replace("/", "_").replace("\\", "_")
                    with open(os.path.join(gdir, f"{safe}_{graph}.dot"),
                              "w") as f:
                        f.write(dot)
            print(f"dot: {len(doc_ids)} docs x {wanted} -> {args.out}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
