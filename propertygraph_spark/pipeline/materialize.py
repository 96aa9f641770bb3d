"""Materialization: partitioned node/edge tables + manifest-keyed
checkpoint/resume + per-partition lineage metrics.

north_rule requirements covered here:
- graph materialization into node and edge tables partitioned by doc_id
  bucket (Iceberg-style layout over Parquet — no Iceberg runtime jar in
  this sandbox, documented substitution per SURVEY.md §7);
- per-partition lineage and triple-count metrics written alongside each
  commit (_metrics/*.json next to the data);
- checkpoint-based resume: every stage write is keyed by a fingerprint of
  its inputs + logic version; re-running skips stages whose manifest
  matches, so a failed run replays only dirty stages.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import local_frame

N_BUCKETS_DEFAULT = 32
_LOGIC_VERSION = "2"  # bump to invalidate all stage checkpoints
_STATE_FILE = "_bucket_state.json"


def fingerprint(*parts) -> str:
    import hashlib
    h = hashlib.sha256()
    for p in parts:
        h.update(str(p).encode())
        h.update(b"\x00")
    h.update(_LOGIC_VERSION.encode())
    return h.hexdigest()[:24]


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest.json")


def stage_is_current(path: str, fp: str) -> bool:
    try:
        with open(_manifest_path(path)) as f:
            return json.load(f).get("fingerprint") == fp
    except (OSError, ValueError):
        return False


def read_bucket_state(path: str) -> dict:
    """A stage's per-bucket state ledger, ``{bucket: sorted values}``:
    the facts a global consumer needs from each bucket (class_decl pairs
    of ``extracted``, alias-pair hashes of ``linked``), recorded by the
    bucket writes while they write. Strict read: the stage writer
    commits it on every call, so a missing file is a real fault."""
    with open(os.path.join(path, _STATE_FILE)) as f:
        return json.load(f)


def _commit_bucket_state(path: str, current, dirty: list, removed: list,
                         observed: list) -> None:
    """Rewrite the state ledger of a stage whose ``current`` buckets
    this write left as they were except the ``dirty`` and ``removed``
    ones: clean buckets' entries carry over, the rows ``observed``
    during the write, ``(bucket, value)`` pairs, replace the dirty
    ones, and removed buckets and dirty buckets that came back with no
    state drop out. Called after the data commit and BEFORE
    ``_buckets.json``: a crash in between leaves the buckets dirty, so
    the next run redoes data and state together."""
    ledger = os.path.join(path, _STATE_FILE)
    if not dirty and not removed and os.path.exists(ledger):
        return
    clean = [str(b) for b in current if b not in dirty]
    state: dict = {}
    if clean:
        previous = read_bucket_state(path)
        state = {b: previous[b] for b in clean if b in previous}
    for bucket, value in observed:
        if value is not None:
            state.setdefault(str(bucket), []).append(value)
    with open(ledger, "w") as f:
        json.dump({b: sorted(state[b]) for b in sorted(state, key=int)}, f,
                  separators=(",", ":"))


def _data_files(path: str) -> list:
    """Iceberg-style snapshot file listing: every data file with its
    partition values, byte size, and footer row count (pyarrow reads
    footers only — no data scan). This is the documented stand-in for an
    Iceberg manifest list (no Iceberg runtime jar in this sandbox,
    SURVEY.md §7): readers can prune partitions and audit row counts
    from the manifest alone."""
    import pyarrow.parquet as pq
    files = []
    for root, _dirs, names in os.walk(path):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, path)
            partition_vals = dict(
                part.split("=", 1) for part in rel.split(os.sep)[:-1]
                if "=" in part)
            files.append({
                "path": rel,
                "partition": partition_vals,
                "bytes": os.path.getsize(full),
                "rows": pq.ParquetFile(full).metadata.num_rows,
            })
    return files


def _append_snapshot(path: str, operation: str, fp: str,
                     summary: dict) -> dict:
    """Iceberg-flavor commit log: append-only ``_snapshots.json`` beside
    the data, each entry linked to its parent — the audit/lineage slice
    of Iceberg's snapshot metadata (which commit produced what, from
    which input fingerprint, touching which partitions). Data files of
    superseded snapshots are NOT retained (overwrite reclaims them — the
    documented substitution for a real Iceberg table; no Iceberg runtime
    jar in this sandbox), so this is commit lineage, not data time
    travel."""
    log_file = os.path.join(path, "_snapshots.json")
    history: list = []
    try:
        with open(log_file) as f:
            history = json.load(f)
    except (OSError, ValueError):
        pass
    snap = {
        "snapshot_id": fingerprint(fp, len(history), operation),
        "parent_id": history[-1]["snapshot_id"] if history else None,
        "sequence_number": len(history),
        "operation": operation,
        "fingerprint": fp,
        "committed_at": time.time(),
        **summary,
    }
    history.append(snap)
    with open(log_file, "w") as f:
        json.dump(history, f)
    return snap


def snapshot_history(path: str) -> list:
    try:
        with open(os.path.join(path, "_snapshots.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def write_stage(df: DataFrame, path: str, fp: str,
                partition_by: Optional[list] = None,
                spark: Optional[SparkSession] = None) -> DataFrame:
    """Idempotent stage write: skip if the manifest matches ``fp``; else
    overwrite and commit an Iceberg-style snapshot manifest (fingerprint
    + data-file list with partition values/bytes/row counts). Returns a
    reader over the output (downstream stages consume the materialized
    parquet, which truncates lineage and makes resume possible), pinned
    to ``df``'s schema so no schema-inference job runs."""
    spark = spark or df.sparkSession
    if stage_is_current(path, fp):
        return spark.read.schema(df.schema).parquet(path)
    t0 = time.time()
    # Spark's full overwrite replaces the whole directory — carry the
    # commit log across it so lineage stays append-only (r4; the
    # incremental dynamic-overwrite path never wipes the root)
    prior_history = snapshot_history(path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if prior_history:
        with open(os.path.join(path, "_snapshots.json"), "w") as f:
            json.dump(prior_history, f)
    files = _data_files(path)
    with open(_manifest_path(path), "w") as f:
        json.dump({"fingerprint": fp,
                   "snapshot_id": fingerprint(fp, len(files)),
                   "written_at": time.time(),
                   "elapsed_sec": round(time.time() - t0, 3),
                   "partition_by": partition_by or [],
                   "total_rows": sum(x["rows"] for x in files),
                   "total_bytes": sum(x["bytes"] for x in files),
                   "data_files": files}, f)
    _append_snapshot(path, "overwrite", fp, {
        "total_rows": sum(x["rows"] for x in files),
        "total_bytes": sum(x["bytes"] for x in files),
        "n_data_files": len(files)})
    return spark.read.schema(df.schema).parquet(path)


def _bucket_diff(path: str, bucket_fps: dict) -> tuple:
    """(current fps keyed by str bucket, dirty buckets, removed buckets)
    of a bucket-incremental stage against its committed ``_buckets.json``."""
    current = {str(b): fp for b, fp in bucket_fps.items()}
    previous: dict = {}
    try:
        with open(os.path.join(path, "_buckets.json")) as f:
            previous = json.load(f)
    except (OSError, ValueError):
        pass
    dirty = sorted((b for b in current if previous.get(b) != current[b]),
                   key=int)
    removed = sorted((b for b in previous if b not in current), key=int)
    return current, dirty, removed


def _state_fingerprint(bucket_fps: dict) -> str:
    """Digest of a stage's whole ``{bucket: fp}`` state, in bucket order."""
    return fingerprint(*(f"{b}={bucket_fps[b]}"
                         for b in sorted(bucket_fps, key=int)))


def _commit_buckets(rows: Optional[DataFrame], path: str, parts: list,
                    rewritten: list, removed: list, *aggs,
                    keep=None) -> dict:
    """The one commit of a bucket-partitioned stage: ``rows``, the new
    rows of the ``rewritten`` buckets partitioned by ``parts`` (ending
    in ``bucket``), replace those buckets' partition dirs by dynamic
    partition overwrite, so clean buckets' dirs are untouched on disk.

    The partition tuples present in ``rows`` (``parts``) and the
    caller's extra ``aggs`` are observed during the write job, with no
    second pass. Rows for which ``keep`` is false are observed but not
    written. Dynamic overwrite replaces only the partitions it sees, so
    a partition dir of a rewritten bucket that came back without rows
    would survive as phantom rows: it is purged against the observed
    set, as are the dirs of ``removed`` buckets, AFTER the write
    commits (purging first would lose the old rows if the write
    failed). The session's overwrite mode is restored whatever
    happens. Returns the observed values, ``{}`` when no bucket is
    rewritten (``rows`` is then unused)."""
    import glob
    import shutil
    got: dict = {}
    if rewritten:
        from pyspark.sql import Observation
        spark = rows.sparkSession
        obs = Observation(f"commit_{os.path.basename(path)}")
        observed = rows.observe(
            obs, F.collect_set(F.struct(*parts)).alias("parts"), *aggs)
        if keep is not None:
            observed = observed.filter(keep)
        mode = "spark.sql.sources.partitionOverwriteMode"
        mode0 = spark.conf.get(mode, "static")
        spark.conf.set(mode, "dynamic")
        try:
            observed.write.mode("overwrite").partitionBy(*parts).parquet(path)
        finally:
            spark.conf.set(mode, mode0)
        got = obs.get
    present = {tuple(str(v) for v in r) for r in got.get("parts", [])}
    gone = {str(b) for b in removed}
    for b in [*rewritten, *removed]:
        pattern = os.path.join(glob.escape(path), *["*"] * (len(parts) - 1),
                               f"bucket={b}")
        for bdir in glob.glob(pattern):
            values = tuple(d.split("=", 1)[1] for d in
                           os.path.relpath(bdir, path).split(os.sep))
            if str(b) in gone or values not in present:
                shutil.rmtree(bdir)
    return got


def _read_buckets(spark: SparkSession, path: str, schema,
                  infer: bool = False) -> DataFrame:
    """Reader over a bucket-partitioned stage, pinned to ``schema`` so
    no schema-inference job runs (``infer`` reads the footers' schema
    instead). A stage with no partition dir (empty corpus, every bucket
    removed or deleted) reads as an empty ``schema`` LocalRelation
    instead of failing."""
    names = set(schema.fieldNames())
    dirs = os.listdir(path) if os.path.isdir(path) else []
    if not any(d.split("=", 1)[0] in names for d in dirs if "=" in d):
        return local_frame(spark, [], schema)
    return (spark.read if infer else spark.read.schema(schema)).parquet(path)


def write_stage_buckets(df: DataFrame, path: str, bucket_fps: dict,
                        spark: Optional[SparkSession] = None,
                        transform=None, state=None) -> DataFrame:
    """Bucket-incremental stage write — the generalization of
    ``extract_incremental``'s dirty-partition commit to the DOWNSTREAM
    stages (north_rule: 'failed stages replay only dirty partitions';
    VERDICT r4 #7: a one-doc edit used to recompute linking and
    materialize globally).

    ``bucket_fps`` maps bucket -> a fingerprint of EVERYTHING that
    determines this stage's rows for that bucket (upstream bucket
    content + any global inputs like the corpus symbol table — a global
    input's fp must be folded into every bucket's fp so its change
    dirties all of them). Buckets whose fp matches the stored
    ``_buckets.json`` are untouched on disk; dirty buckets are
    recomputed — ``df`` is filtered on its int ``bucket`` column BEFORE
    ``transform`` runs, so partition pruning reaches the upstream scan
    and per-bucket work (linking joins, dedup shuffles) happens only
    for dirty data — and committed by ``_commit_buckets``, the dynamic
    partition overwrite extract_incremental shares, which also purges
    the stale dir of a dirty bucket that produces zero rows. ``state``,
    a Column over the written rows, is observed per bucket during the
    write job and kept in the stage's ``_bucket_state.json`` ledger
    (``read_bucket_state``), so a global consumer merges it on the
    driver instead of rescanning the stage. Returns a reader over the
    full stage output, pinned to the written schema."""
    spark = spark or df.sparkSession
    os.makedirs(path, exist_ok=True)
    current, dirty, removed = _bucket_diff(path, bucket_fps)
    sub = None
    if dirty:
        sub = df.filter(F.col("bucket").isin([int(b) for b in dirty]))
        if transform is not None:
            sub = transform(sub)
    aggs = [] if state is None else [
        F.collect_set(F.struct("bucket", state)).alias("state")]
    got = _commit_buckets(sub, path, ["bucket"], dirty, removed, *aggs)
    if state is not None:
        _commit_bucket_state(path, current, dirty, removed,
                             got.get("state", []))
    if dirty or removed:
        # a stage that previously committed via full-overwrite manifests
        # must not leave the stale _manifest.json behind — the audit
        # would prefer it over _buckets.json and flag every file
        try:
            os.remove(_manifest_path(path))
        except OSError:
            pass
        # ... nor its ROOT-LEVEL part files: a legacy (non-partitioned)
        # write_stage commit leaves part-*.parquet at the stage root,
        # and after the bucket=*/ rewrite above a mixed-depth layout
        # would crash the closing read ("conflicting directory
        # structures") and double-count footer sums. previous == {}
        # means every current bucket was dirty, so the bucket dirs now
        # hold the COMPLETE dataset and any root data file is stale by
        # construction. Deleted only after the write committed.
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if name.endswith(".parquet") and os.path.isfile(full):
                os.remove(full)
        _append_snapshot(
            path, "dynamic-overwrite", _state_fingerprint(current),
            {"dirty_buckets": [int(b) for b in dirty],
             "removed_buckets": [int(b) for b in removed]})
    with open(os.path.join(path, "_buckets.json"), "w") as f:
        json.dump(current, f)
    if sub is None:             # nothing written: plan the transform once
        sub = transform(df) if transform is not None else df
    return _read_buckets(spark, path, sub.schema)


def stage_rows(path: str) -> int:
    """Exact row count of a committed stage without a scan job: the
    full-overwrite manifest carries it; bucket-incremental stages sum
    parquet footer counts (footers only, no data pages)."""
    try:
        with open(_manifest_path(path)) as f:
            return json.load(f)["total_rows"]
    except (OSError, ValueError):
        pass
    import pyarrow.parquet as pq
    total = 0
    for root, _dirs, names in os.walk(path):
        # legacy layout only: KGs written before kernel telemetry moved
        # to _metrics/pipeline.json keep an extracted/_runmetrics table
        if "_runmetrics" in os.path.relpath(root, path).split(os.sep):
            continue
        for name in names:
            if name.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(root, name)).metadata.num_rows
    return total


def audit_stage(path: str) -> dict:
    """Verify a stage directory against its committed manifest — the
    table-inspector slice of Iceberg's metadata (round 4): every
    manifested data file must exist with the recorded byte size and
    parquet-footer row count, no unmanifested parquet file may lurk in
    the stage dir, and the snapshot log must be a well-formed
    parent-linked sequence ending at the manifest's fingerprint.
    Footer-only reads — no data pages are scanned, so auditing a
    100 TB table costs one metadata pass. Returns
    ``{"ok": bool, "n_files": int, "total_rows": int,
    "problems": [str, ...]}`` — catches partial writes, external edits
    and manifest drift before a downstream stage consumes them."""
    import pyarrow.parquet as pq
    problems: list = []
    try:
        with open(_manifest_path(path)) as f:
            manifest = json.load(f)
    except (OSError, ValueError) as exc:
        return {"ok": False, "n_files": 0, "total_rows": 0,
                "problems": [f"unreadable manifest: {exc}"]}
    manifested = {x["path"]: x for x in manifest.get("data_files", [])}
    for rel, entry in manifested.items():
        full = os.path.join(path, rel)
        if not os.path.exists(full):
            problems.append(f"missing data file: {rel}")
            continue
        size = os.path.getsize(full)
        if size != entry["bytes"]:
            problems.append(f"byte-size drift: {rel} "
                            f"manifest={entry['bytes']} disk={size}")
            continue
        try:
            rows = pq.ParquetFile(full).metadata.num_rows
        except Exception as exc:  # same-size overwrite / torn footer
            problems.append(f"unreadable parquet footer: {rel} ({exc})")
            continue
        if rows != entry["rows"]:
            problems.append(f"row-count drift: {rel} "
                            f"manifest={entry['rows']} footer={rows}")
    on_disk = {os.path.relpath(os.path.join(root, name), path)
               for root, _dirs, names in os.walk(path)
               for name in names if name.endswith(".parquet")}
    for rel in sorted(on_disk - set(manifested)):
        problems.append(f"unmanifested data file: {rel}")
    warnings: list = []
    history = snapshot_history(path)
    if not history:
        # a stage written before the commit log existed (pre-r4) has a
        # valid manifest but no _snapshots.json — intact data, so this
        # is a WARNING, not a failure (ADVICE r4); chain checks only
        # apply once a log exists
        warnings.append("no snapshot log (legacy stage; lineage "
                        "starts at next commit)")
    else:
        for i, snap in enumerate(history):
            want_parent = history[i - 1]["snapshot_id"] if i else None
            if snap.get("parent_id") != want_parent or \
                    snap.get("sequence_number") != i:
                problems.append(
                    f"broken snapshot chain at sequence {i}")
                break
        if history[-1].get("fingerprint") != manifest.get("fingerprint"):
            problems.append("manifest fingerprint != last snapshot")
    return {"ok": not problems, "n_files": len(manifested),
            "total_rows": manifest.get("total_rows", 0),
            "problems": problems, "warnings": warnings}


def audit_bucket_stage(path: str) -> dict:
    """Audit a bucket-incremental stage (dynamic-partition-overwrite
    output whose content state lives in ``_buckets.json``, not a
    file-list manifest): the bucket state file must exist and parse,
    and every parquet data file under the stage dir must carry a
    readable footer (footer-only pass, no data pages — same cost model
    as ``audit_stage``). A stage with NEITHER ``_manifest.json`` nor
    ``_buckets.json`` is unauditable and FAILS (ADVICE r4: it used to
    skip silently with exit 0). Returns the same shape as
    ``audit_stage``."""
    import pyarrow.parquet as pq
    problems: list = []
    warnings: list = []
    state_file = os.path.join(path, "_buckets.json")
    try:
        with open(state_file) as f:
            state = json.load(f)
        if not isinstance(state, dict):
            raise ValueError(f"not an object: {type(state).__name__}")
    except (OSError, ValueError) as exc:
        return {"ok": False, "n_files": 0, "total_rows": 0,
                "problems": [f"no auditable state (neither _manifest.json "
                             f"nor readable _buckets.json): {exc}"],
                "warnings": []}
    n_files = total_rows = 0
    buckets_on_disk: set = set()
    for root, _dirs, names in os.walk(path):
        if "_runmetrics" in os.path.relpath(root, path).split(os.sep):
            continue  # legacy run telemetry dir, not content
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, path)
            in_bucket = False
            for part in rel.split(os.sep)[:-1]:
                if part.startswith("bucket="):
                    buckets_on_disk.add(part.split("=", 1)[1])
                    in_bucket = True
            if not in_bucket:
                # a data file outside any bucket= dir is ungoverned by
                # _buckets.json and can never be replaced by dynamic
                # partition overwrite (e.g. a stale root-level part file
                # from a pre-conversion full-overwrite commit): reads
                # crash on the mixed-depth layout or double-count
                problems.append(f"data file outside bucket layout: {rel}")
                continue
            try:
                total_rows += pq.ParquetFile(full).metadata.num_rows
            except Exception as exc:  # torn/partial write
                problems.append(f"unreadable parquet footer: {rel} ({exc})")
                continue
            n_files += 1
    stray = sorted(buckets_on_disk - {str(k) for k in state})
    for b in stray:
        problems.append(f"bucket dir not in _buckets.json: bucket={b}")
    if not snapshot_history(path):
        warnings.append("no snapshot log")
    return {"ok": not problems, "n_files": n_files,
            "total_rows": total_rows, "problems": problems,
            "warnings": warnings}


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT,
                key: str = "doc_id") -> DataFrame:
    """Add the int ``bucket`` column: pmod(xxhash64(key), n_buckets)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int"))


# ------------------------------------------------- partition-level resume

def bucket_fingerprints(docs: DataFrame, n_buckets: int) -> dict:
    """Content fingerprint per doc_id bucket: order-insensitive sum of
    per-doc content hashes (bucket membership is a pure function of
    doc_id, so a changed/added/removed doc dirties exactly one bucket).
    One cheap aggregation -> tiny driver-side map."""
    rows = (with_bucket(docs, n_buckets)
            .withColumn("h", F.xxhash64("doc_id", F.to_json(F.col("spans"))))
            .groupBy("bucket")
            # bit_xor: order-insensitive and overflow-free under ANSI
            # (sum of 64-bit hashes overflows long)
            .agg(F.expr("bit_xor(h)").alias("fp"),
                 F.count("*").alias("n"))
            .collect())
    return {int(r["bucket"]): f'{r["fp"]}:{r["n"]}' for r in rows}


def extract_incremental(spark: SparkSession, docs: DataFrame, path: str,
                        n_buckets: int = N_BUCKETS_DEFAULT,
                        graphs: tuple = ("ast", "cfg", "pdg")) -> tuple:
    """Dirty-partition extraction (north_rule: 'failed stages replay only
    dirty partitions'): compare per-bucket content fingerprints with the
    previous run's manifest, run the kernel ONLY over docs in changed
    buckets, and commit via dynamic partition overwrite so clean bucket
    directories are untouched on disk.

    Returns (reader over the full output, sorted dirty bucket list,
    content_state, kernel) where content_state is a stable digest of the
    current per-bucket fingerprint map — downstream stage fingerprints
    MUST key on it (not on a caller-supplied corpus label) so editing the
    input re-runs linking/canonicalization/materialize, not just
    extraction — and kernel is the typed sum of this run's per-batch
    kernel telemetry, ``{batches, docs, rows, sec}`` (all zero when no
    bucket is dirty). Each bucket's ``class_decl`` (mention, candidate)
    pairs are kept in the stage's state ledger (``read_bucket_state``):
    the input of the corpus symbol table."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .extract import UNION_SCHEMA, extract_docs

    graphs_tag = f"{'+'.join(sorted(graphs))}:v{_LOGIC_VERSION}"
    current, dirty, removed = _bucket_diff(path, {
        b: f"{fp}:{graphs_tag}"
        for b, fp in bucket_fingerprints(docs, n_buckets).items()})
    content_state = _state_fingerprint(current)
    union = None
    if dirty:
        subset = (with_bucket(docs, n_buckets)
                  .filter(F.col("bucket").isin([int(b) for b in dirty]))
                  .drop("bucket"))
        # The commit observes AFTER this shuffle, which the metric rows
        # ride (one per kernel batch): the shuffle is then never empty,
        # even when every dirty doc comes back without rows. AQE
        # replaces an empty shuffle and everything above it by an empty
        # relation, and an Observation below it would never report.
        # Co-locating (row_kind, bucket) in one task also keeps the
        # write from spraying tasks x dirs small files.
        union = (with_bucket(extract_docs(subset, graphs=graphs), n_buckets)
                 .repartition("row_kind", "bucket"))
    # Besides the partition set, two driver-side facts come out of the
    # kernel pass without running it twice: the per-batch metric rows,
    # RUN telemetry the driver sums into typed counters (observed, never
    # written: their doc_id is synthetic and would churn an unrelated
    # bucket dir), and the class_decl pairs of each dirty bucket, the
    # bucket's share of the corpus symbol table (state ledger).
    # collect_set/collect_list skip the when()-nulls.
    kind = F.col("row_kind")
    got = _commit_buckets(
        union, path, ["row_kind", "bucket"], dirty, removed,
        F.collect_list(F.when(kind == "metric", F.col("text")))
        .alias("metrics"),
        F.collect_set(F.when(
            (kind == "mention") & (F.col("kind") == "class_decl"),
            F.struct("bucket", F.array("mention", "candidate"))))
        .alias("decls"),
        keep=kind != "metric")
    kernel = {"batches": 0, "docs": 0, "rows": 0, "sec": 0.0}
    for text in got.get("metrics", []):    # "docs=<n> rows=<n> sec=<s>"
        batch = dict(kv.split("=", 1) for kv in text.split())
        kernel["batches"] += 1
        kernel["docs"] += int(batch["docs"])
        kernel["rows"] += int(batch["rows"])
        kernel["sec"] += float(batch["sec"])
    kernel["sec"] = round(kernel["sec"], 3)
    os.makedirs(path, exist_ok=True)
    _commit_bucket_state(path, current, dirty, removed, got.get("decls", []))
    with open(os.path.join(path, "_buckets.json"), "w") as f:
        json.dump(current, f)
    dirty = [int(b) for b in dirty]
    if dirty or removed:
        _append_snapshot(path, "dynamic-overwrite", content_state, {
            "dirty_buckets": dirty,
            "removed_buckets": [int(b) for b in removed],
            "n_buckets": n_buckets})
    schema = StructType(UNION_SCHEMA.fields
                        + [StructField("bucket", IntegerType())])
    return _read_buckets(spark, path, schema), dirty, content_state, kernel


def write_metrics(edges: DataFrame, out_dir: str, carried: list,
                  recount: list) -> dict:
    """Per-partition lineage + triple-count metrics beside the commit:
    the (bucket, pred) counts of ``carried`` (rows of the previous
    ``triples_by_bucket_pred`` still valid) plus a recount of the
    ``recount`` buckets of ``edges``. With nothing to recount, no
    Spark job runs."""
    rows = list(carried)
    if recount:
        rows += [r.asDict() for r in
                 edges.filter(F.col("bucket").isin([int(b) for b in recount]))
                 .groupBy("bucket", "pred").count().collect()]
    # sorted on the driver: the table is bounded (buckets x preds), and
    # a Spark orderBy would add a range-sampling job and a shuffle
    rows.sort(key=lambda r: (r["bucket"], r["pred"]))
    metrics = {
        "triples_by_bucket_pred": [
            {"bucket": r["bucket"], "pred": r["pred"], "count": r["count"]}
            for r in rows],
        "total": int(sum(r["count"] for r in rows)),
        "generated_at": time.time(),
    }
    os.makedirs(os.path.join(out_dir, "_metrics"), exist_ok=True)
    with open(os.path.join(out_dir, "_metrics", "triples.json"), "w") as f:
        json.dump(metrics, f)
    return metrics


def _carry_triple_counts(out_dir: str, edges_path: str,
                         edges_fps: dict) -> tuple:
    """Split the edge buckets into the previous triple counts that stay
    valid (the rows of buckets the edges write leaves clean) and the
    buckets ``write_metrics`` must recount. When the edges write will
    change anything, ``triples.json`` is deleted BEFORE it: a crash
    between the edges commit and the metrics write then leaves no file,
    and the next run recounts every bucket instead of carrying stale
    counts for buckets that look clean."""
    metrics_file = os.path.join(out_dir, "_metrics", "triples.json")
    current, dirty, removed = _bucket_diff(edges_path, edges_fps)
    try:
        with open(metrics_file) as f:
            previous = json.load(f)["triples_by_bucket_pred"]
    except (OSError, ValueError, KeyError):
        return [], sorted(current, key=int)
    if dirty or removed:
        os.remove(metrics_file)
    clean = {int(b) for b in current if b not in dirty}
    return [r for r in previous if r["bucket"] in clean], dirty


def run_pipeline(spark: SparkSession, docs: DataFrame, out_dir: str,
                 n_buckets: int = N_BUCKETS_DEFAULT,
                 graphs: tuple = ("ast", "cfg", "pdg")) -> dict:
    """Full KG-construction pipeline with per-stage checkpoint/resume.

    docs -> [extract: map-only Arrow kernel] -> union rows (partitioned by
    row_kind: partition pruning splits node/triple/mention reads for free)
    -> [link: packed broadcast join, map-only] -> [canonicalize: CC loop]
    -> node/edge tables partitioned by doc bucket + metrics.

    A refresh pays only for its dirty buckets. The global inputs of the
    later stages, the corpus symbol table (linking) and the alias set
    (canonicalize), are merged on the driver from per-bucket state the
    extract and link writes record while they write (each stage's
    ``_bucket_state.json``); the triple counts of clean buckets carry
    over from the previous ``_metrics/triples.json``. An unchanged
    corpus runs no job past the extract fingerprint.

    The returned metrics are also written to ``_metrics/pipeline.json``:
    triple counts per (bucket, pred), ``stage_times``, row totals and
    ``kernel``, the typed sum of the extract kernel's per-batch
    telemetry for this run (``{batches, docs, rows, sec}``; docs counts
    the docs of the dirty buckets only).

    Staleness is keyed purely on per-bucket CONTENT fingerprints (plus
    the symbol-table / alias-set fingerprints for the global stages), so
    a rerun over an unchanged corpus skips every stage and an edited doc
    replays its bucket.
    """
    from .canonicalize import canonicalize_entities
    from .extract import MENTION_COLS, NODE_COLS, TRIPLE_COLS
    from .linking import (SYMTAB_SCHEMA, link_mentions,
                          packed_symbol_dictionary, qualify_cross_file,
                          symbol_table_rows)

    os.makedirs(out_dir, exist_ok=True)
    stage_times: dict = {}

    # stage 1: fused extraction with PARTITION-level resume — per-bucket
    # content fingerprints; only dirty buckets run the kernel, clean
    # bucket dirs are untouched (dynamic partition overwrite). Inside,
    # (row_kind, bucket) are co-located into one task before the write
    # (otherwise tasks x dirs small-file explosion).
    t0 = time.time()
    union_path = os.path.join(out_dir, "extracted")
    union, dirty_buckets, content_state, kernel = extract_incremental(
        spark, docs, union_path, n_buckets, graphs=graphs)
    # per-bucket content fps of the just-committed extract stage: every
    # downstream stage keys its OWN bucket fps on these (VERDICT r4 #7 —
    # a one-doc edit used to recompute link/canonicalize/materialize
    # globally; now it replays only the dirty bucket in every
    # bucket-local stage)
    # STRICT read, no fallback: extract_incremental wrote this file a
    # moment ago, so a read/parse failure here is a real I/O fault. A
    # silent {} would make every downstream write_stage_buckets call see
    # zero current buckets, classify ALL committed buckets as removed,
    # and delete them — total silent data loss. Fail loudly instead.
    with open(os.path.join(union_path, "_buckets.json")) as f:
        extract_bfps: dict = json.load(f)
    stage_times["extract"] = round(time.time() - t0, 3)
    stage_times["extract_dirty_buckets"] = len(dirty_buckets)

    nodes = union.filter(F.col("row_kind") == "node") \
                 .select(*NODE_COLS, "bucket")
    triples = union.filter(F.col("row_kind") == "triple") \
                   .select(*TRIPLE_COLS, "bucket")
    mentions = union.filter(F.col("row_kind") == "mention") \
                    .select(*MENTION_COLS, "bucket")

    # stage 2: entity linking, bucket-incremental. Linking is bucket-
    # local (per-occurrence scoring against the driver-packed
    # dictionary) EXCEPT for its one global input, the corpus symbol
    # table (cross-file receiver typing). The driver builds that table
    # from the class_decl pairs each extract bucket recorded in its
    # state ledger (no job scans the mentions), ships it as a
    # LocalRelation, and folds its content fingerprint into EVERY
    # bucket's fp — so a new class declaration in one doc correctly
    # re-links all buckets, while a body-only edit re-links just its own.
    t0 = time.time()
    sym = packed_symbol_dictionary(spark)
    symtab_rows = symbol_table_rows(
        tuple(pair) for pairs in read_bucket_state(union_path).values()
        for pair in pairs)
    symtab_local = local_frame(spark, symtab_rows, SYMTAB_SCHEMA)
    symtab_fp = fingerprint("symtab", *(f"{a}->{b}" for a, b in symtab_rows))
    linked_bfps = {b: fingerprint("link", bfp, symtab_fp)
                   for b, bfp in extract_bfps.items()}

    def _link_transform(m: DataFrame) -> DataFrame:
        m = qualify_cross_file(m.drop("bucket"), symtab=symtab_local) \
            .drop("xfile_qualified")
        # bucket is a pure function of doc_id — recompute after linking
        # instead of threading it through the joins
        return with_bucket(link_mentions(m, sym), n_buckets)

    linked_path = os.path.join(out_dir, "linked")
    # each bucket's distinct (mention, fqn) alias pairs, as hashes,
    # ride the link write: the alias set of stage 3
    linked = write_stage_buckets(mentions, linked_path, linked_bfps,
                                 spark=spark, transform=_link_transform,
                                 state=F.xxhash64("mention", "fqn"))
    stage_times["link"] = round(time.time() - t0, 3)

    # stage 3: alias canonicalization. CC is inherently global (a
    # component can span buckets), so it is not bucket-sliced — instead
    # its fingerprint keys on its ACTUAL input, the distinct
    # (mention, fqn) alias set, merged on the driver from the linked
    # buckets' state ledger: an edit that doesn't change any alias pair
    # (the common body-only edit) skips the CC loop entirely, and one
    # that does recomputes it from ``linked``, which is the correct
    # global cost. The check comes BEFORE canonicalize_entities, whose
    # size probe and driver-side CC run eagerly.
    t0 = time.time()
    aliases = set().union(*read_bucket_state(linked_path).values())
    fp3 = fingerprint("canon", functools.reduce(operator.xor, aliases, 0),
                      len(aliases))
    canon_path = os.path.join(out_dir, "canonical")
    if not stage_is_current(canon_path, fp3):
        write_stage(canonicalize_entities(linked), canon_path, fp3,
                    spark=spark)
    stage_times["canonicalize"] = round(time.time() - t0, 3)

    # stage 4: final node/edge tables partitioned by doc bucket —
    # bucket-incremental: both are pure per-bucket functions of the
    # extracted content (node rows are a projection; edge dedup keys
    # start with doc_id, so dedup never crosses a bucket).
    t0 = time.time()
    write_stage_buckets(
        nodes, os.path.join(out_dir, "nodes"),
        {b: fingerprint("nodes", bfp) for b, bfp in extract_bfps.items()},
        spark=spark)

    def _edge_transform(t: DataFrame) -> DataFrame:
        # cluster the deduped edges by (bucket, doc-hash sub) before the
        # partitioned write: the dropDuplicates shuffle redistributes
        # rows by full-key hash, so every write task would otherwise
        # hold every bucket — tasks x dirs small files (measured 1024
        # files for 32 buckets at sf0.1). The sub-split keeps a
        # mega-bucket spread across tasks instead of funneling it
        # through one (same pattern as ops/export.py's (split,
        # hash-sub) clustering).
        return (t.dropDuplicates(
                    ["doc_id", "method_id", "subj", "pred", "obj", "label"])
                .repartition(F.col("bucket"),
                             F.pmod(F.xxhash64("doc_id"), F.lit(4))))

    edges_path = os.path.join(out_dir, "edges")
    edges_bfps = {b: fingerprint("edges", bfp)
                  for b, bfp in extract_bfps.items()}
    carried, recount = _carry_triple_counts(out_dir, edges_path, edges_bfps)
    edges_out = write_stage_buckets(triples, edges_path, edges_bfps,
                                    spark=spark, transform=_edge_transform)
    stage_times["materialize"] = round(time.time() - t0, 3)

    metrics = write_metrics(edges_out, out_dir, carried, recount)
    metrics["stage_times"] = stage_times
    metrics["kernel"] = kernel
    metrics["nodes"] = stage_rows(os.path.join(out_dir, "nodes"))
    metrics["canonical_entities"] = stage_rows(canon_path)
    with open(os.path.join(out_dir, "_metrics", "pipeline.json"), "w") as f:
        json.dump(metrics, f)
    return metrics


def compact_stage_buckets(spark: SparkSession, path: str,
                          target_files: int = 1,
                          min_files: int = 2) -> dict:
    """Small-file compaction for a bucket-incremental stage — the
    Iceberg ``rewrite_data_files`` maintenance action. Months of
    dirty-bucket incremental commits leave each ``bucket=N`` dir with
    one part file per touched micro-batch; scan cost then grows with
    COMMIT COUNT instead of data size. Every bucket dir holding >=
    ``min_files`` part files is rewritten to ``target_files`` via a
    bucket-local coalesce: rows are bit-identical, ``_buckets.json``
    is untouched (fingerprints key on upstream CONTENT, not file
    layout — a later incremental write sees identical fps and replays
    nothing), and the commit lands in the snapshot log as a
    ``compaction`` operation with per-bucket before/after file counts.

    Write-then-swap per bucket: the coalesced copy materializes into a
    sibling temp dir BEFORE the original dir is removed, so a crash
    mid-compaction never loses rows (worst case: a stray temp dir the
    next run ignores and the audit flags). Returns
    {bucket: (files_before, files_after)} for the compacted buckets."""
    return _rewrite_bucket_files(
        spark, path, "compaction",
        lambda rows: rows.coalesce(target_files),
        lambda out: {"compacted": {b: list(v) for b, v in out.items()}},
        min_files)


def expire_snapshots(path: str, keep_last: int = 10) -> dict:
    """Snapshot-log retention — the Iceberg ``expire_snapshots``
    maintenance action, scoped to what this table format retains:
    since overwrites reclaim superseded data files immediately
    (documented substitution — commit LINEAGE, not data time travel),
    expiry here trims the append-only ``_snapshots.json`` so the log
    stops growing with commit count. A stage committed to every few
    minutes for a year carries ~100k log entries that every audit and
    every ``_append_snapshot`` rewrite pays for; retention caps that
    at ``keep_last``.

    The expired prefix collapses into ONE ``expire`` tombstone whose
    ``snapshot_id`` is exactly the first retained entry's
    ``parent_id``, so the parent-linked chain the audit verifies stays
    intact end-to-end (sequence numbers are renumbered from the
    tombstone at 0). The manifest fingerprint is untouched — the LAST
    snapshot still matches it, which is the invariant consumers check.
    Returns {"expired": n, "retained": n, "ok": bool}; a log at or
    under the cap is a no-op."""
    history = snapshot_history(path)
    if len(history) <= keep_last:
        return {"expired": 0, "retained": len(history), "ok": True}
    expired, kept = history[:-keep_last], history[-keep_last:]
    tomb = {
        "snapshot_id": kept[0]["parent_id"],
        "parent_id": None,
        "sequence_number": 0,
        "operation": "expire",
        "fingerprint": expired[-1].get("fingerprint"),
        "committed_at": time.time(),
        "expired_count": len(expired),
        "expired_first_id": expired[0]["snapshot_id"],
        "expired_last_committed_at": expired[-1].get("committed_at"),
    }
    out = [tomb] + kept
    for i, snap in enumerate(out):
        snap["sequence_number"] = i
    with open(os.path.join(path, "_snapshots.json"), "w") as f:
        json.dump(out, f)
    return {"expired": len(expired), "retained": len(out), "ok": True}


def remove_orphan_files(path: str, delete: bool = False) -> dict:
    """Orphan-file cleanup — the Iceberg ``remove_orphan_files``
    maintenance action for this table format. An orphan is any file
    under the stage dir that no committed state references: a parquet
    data file absent from the manifest's ``data_files`` list (torn
    job attempt, killed executor's stray part file), a data file in a
    ``bucket=B`` dir that ``_buckets.json`` does not govern, any
    root-level data file in a bucket-incremental layout (dynamic
    overwrite can never reclaim it and mixed-depth layouts crash the
    reader), and anything inside a ``_temporary`` dir (a failed
    commit's staging debris). At fleet scale these accumulate silently
    and a 100 TB table drags TBs of dead bytes through every list/audit
    — Iceberg ships the same action for the same reason.

    Table state files (``_manifest.json``/``_buckets.json``/
    ``_snapshots.json``/``_SUCCESS``) and the run telemetry dir
    ``_runmetrics`` of KGs written before kernel telemetry moved to
    ``_metrics/pipeline.json`` are never orphans. ``delete=False``
    (default) is the dry run: it only reports. Returns ``{"mode": "manifest" |
    "buckets", "orphans": [rel paths], "deleted": bool}``; raises
    ``ValueError`` on a dir with neither state file (unauditable — the
    caller cannot know what is live, same rule as the audit)."""
    keep_names = {"_manifest.json", "_buckets.json", "_snapshots.json",
                  "_SUCCESS"}
    has_manifest = os.path.exists(_manifest_path(path))
    state_file = os.path.join(path, "_buckets.json")
    has_buckets = os.path.exists(state_file)
    if not has_manifest and not has_buckets:
        raise ValueError(f"no committed state under {path} (neither "
                         f"_manifest.json nor _buckets.json): refusing "
                         f"to classify files as orphans")
    if has_manifest:
        mode = "manifest"
        with open(_manifest_path(path)) as f:
            live = {x["path"] for x in json.load(f)["data_files"]}
        governed_buckets: set = set()
    else:
        mode = "buckets"
        live = set()
        with open(state_file) as f:
            governed_buckets = {str(k) for k in json.load(f)}
    orphans: list = []
    for root, dirs, names in os.walk(path):
        rel_root = os.path.relpath(root, path)
        parts = [] if rel_root == "." else rel_root.split(os.sep)
        if "_runmetrics" in parts:
            continue
        in_temp = any(p == "_temporary" for p in parts)
        bucket = next((p.split("=", 1)[1] for p in parts
                       if p.startswith("bucket=")), None)
        for name in sorted(names):
            # a Hadoop ChecksumFileSystem companion (".<data>.crc") is
            # live exactly when its data file is live — classify it by
            # the data file's name, never on its own
            data_name = name
            if name.startswith(".") and name.endswith(".crc"):
                data_name = name[1:-4]
            rel = name if rel_root == "." else os.path.join(rel_root, name)
            data_rel = (data_name if rel_root == "."
                        else os.path.join(rel_root, data_name))
            if rel_root == "." and data_name in keep_names:
                continue
            if in_temp:
                orphans.append(rel)
            elif mode == "manifest":
                if data_rel not in live and data_name.endswith(".parquet"):
                    orphans.append(rel)
            else:
                if not data_name.endswith(".parquet"):
                    continue
                if bucket is None or bucket not in governed_buckets:
                    orphans.append(rel)
    if delete:
        for rel in orphans:
            full = os.path.join(path, rel)
            if os.path.isfile(full):
                os.remove(full)
        # prune now-empty dirs bottom-up (a deleted stray bucket dir or
        # _temporary tree must not linger and re-flag the audit)
        for root, dirs, names in os.walk(path, topdown=False):
            if root != path and not os.listdir(root):
                os.rmdir(root)
    return {"mode": mode, "orphans": sorted(orphans), "deleted": delete}


def read_stage(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-aware stage reader — the Iceberg read-side of
    ADD COLUMN: bucket-incremental commits may carry a WIDER schema in
    newly-rewritten buckets than in untouched ones (a pipeline upgrade
    adds a column; only dirty buckets rewrite). A plain parquet read
    picks one footer's schema at random and silently drops the new
    column; ``mergeSchema`` unions all footers, old buckets surface
    NULL for columns they predate — exactly Iceberg's
    schema-evolution contract. Use this instead of
    ``spark.read.parquet`` wherever mixed-schema stages are legal."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def zorder_rewrite_buckets(spark: SparkSession, path: str, cols: list,
                           target_files: int = 4, bits: int = 8) -> dict:
    """Z-order layout rewrite for a bucket-incremental stage — the
    Iceberg/Delta ``OPTIMIZE ZORDER BY`` maintenance action (the WRITE
    path of what ``relational.zorder_skipping_stats`` evaluates): per
    bucket, rows are rewritten in Morton order over ``cols`` (each
    dimension folded to ``bits`` bits via pmod), split into
    ``target_files`` range-partitioned, internally sorted files. Rows
    are bit-identical as a SET and ``_buckets.json`` fingerprints are
    untouched (content-keyed, not layout-keyed) — but every parquet
    footer's min/max column statistics now cover a narrow z-range, so
    engines with zone-map skipping (Spark row-group pruning, Trino,
    DuckDB) scan a fraction of the files for multi-dimensional range
    predicates. Write-then-swap per bucket (crash-safe, same recipe as
    compaction); commit logged as a ``zorder`` snapshot. Returns
    {bucket: n_files_after}."""
    mask = (1 << bits) - 1
    zkey = sum(
        (F.shiftright(F.pmod(F.col(c).cast("long"), F.lit(mask + 1)), i)
         .bitwiseAND(1) * F.lit(1 << (len(cols) * i + k)))
        for i in range(bits) for k, c in enumerate(cols)).cast("long")
    out = _rewrite_bucket_files(
        spark, path, "zorder",
        lambda rows: (rows.withColumn("_zkey", zkey)
                      .repartitionByRange(target_files, "_zkey")
                      .sortWithinPartitions("_zkey")
                      .drop("_zkey")),
        lambda out: {"zorder_cols": list(cols),
                     "buckets": {b: n for b, (_, n) in out.items()}})
    return {b: n for b, (_, n) in out.items()}


def _rewrite_bucket_files(spark: SparkSession, path: str, operation: str,
                          rewrite, summary, min_files: int = 0) -> dict:
    """Write-then-swap layout rewrite of a bucket-incremental stage,
    shared by compaction and z-ordering: every ``bucket=N`` dir holding
    >= ``min_files`` part files has ``rewrite`` of its rows written to a
    sibling temp dir BEFORE the original dir is removed, so a crash
    mid-rewrite never loses rows (worst case: a stray temp dir the next
    run ignores and the audit flags). ``_buckets.json`` is untouched,
    since its fingerprints key on content, not layout. The commit lands
    in the snapshot log as one ``operation`` entry whose summary is
    ``summary(out)``. Returns out, {bucket: (files_before,
    files_after)} for the rewritten buckets."""
    import shutil

    def n_files(d: str) -> int:
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    out: dict = {}
    for name in sorted(os.listdir(path)):
        if not name.startswith("bucket="):
            continue
        bdir = os.path.join(path, name)
        before = n_files(bdir)
        if before < min_files:
            continue
        tmp = os.path.join(path, f"_{operation}_tmp_{name}")
        shutil.rmtree(tmp, ignore_errors=True)
        rewrite(spark.read.parquet(bdir)).write.mode("overwrite").parquet(tmp)
        for extra in os.listdir(tmp):       # byte-noise the dirs don't keep
            if not extra.endswith(".parquet"):
                os.remove(os.path.join(tmp, extra))
        shutil.rmtree(bdir)
        os.rename(tmp, bdir)
        out[name.split("=", 1)[1]] = (before, n_files(bdir))
    if out:
        try:
            with open(os.path.join(path, "_buckets.json")) as f:
                current = json.load(f)
        except (OSError, ValueError):
            current = {}
        _append_snapshot(path, operation, _state_fingerprint(current),
                         summary(out))
    return out


def read_stage_as_of(spark: SparkSession, path: str,
                     snapshot_id: str) -> DataFrame:
    """Time-travel read — the Iceberg ``VERSION AS OF`` twin for
    APPEND-ONLY stages (the streaming commit sink's ``batch=<id>/``
    layout, where every committed batch's data files are RETAINED):
    reconstruct the table exactly as it stood at ``snapshot_id`` by
    reading every batch dir EXCEPT those committed after it. Exclusion
    (rather than inclusion) is what makes the read ``expire_snapshots``
    -safe: batches whose ledger entries collapsed into the tombstone
    are still on disk and still belong to every retained snapshot, so
    they are readable without their original entries.

    Overwrite-committed stages reclaim superseded data files
    immediately (the documented lineage-not-time-travel substitution),
    so as-of there is only valid for the LATEST snapshot; asking for an
    earlier one raises with the reclaim explanation rather than
    silently returning current data. An id that is not in the ledger
    (expired, or never existed) raises KeyError.

    Scale shape: pure ledger bookkeeping on the driver (the ledger is
    retention-capped by expire_snapshots) + one parquet read whose
    path list prunes whole batch dirs — no data is scanned to decide
    membership."""
    history = snapshot_history(path)
    if not history:
        raise KeyError(f"no snapshot ledger at {path}")
    by_id = {s["snapshot_id"]: i for i, s in enumerate(history)}
    if snapshot_id not in by_id:
        raise KeyError(
            f"snapshot {snapshot_id!r} not in the ledger at {path} "
            f"(expired via expire_snapshots, or never committed)")
    cut = by_id[snapshot_id]
    target = history[cut]
    after = history[cut + 1:]
    if target["operation"] == "expire":
        raise KeyError(
            f"snapshot {snapshot_id!r} is the expire tombstone — its "
            f"constituent commits were expired; read a retained one")
    if any(s["operation"] not in ("streaming-append", "expire")
           for s in history):
        # overwrite-flavor stage: only the latest snapshot has data
        if after:
            raise KeyError(
                f"stage at {path} commits by overwrite (superseded "
                f"data files are reclaimed); as-of is only valid for "
                f"the latest snapshot {history[-1]['snapshot_id']!r}")
        return spark.read.parquet(path)
    excluded = {s["batch_id"] for s in after}
    dirs = sorted(
        os.path.join(path, d) for d in os.listdir(path)
        if d.startswith("batch=")
        and int(d.split("=", 1)[1]) not in excluded)
    if not dirs:
        return spark.read.parquet(path).limit(0)
    return spark.read.parquet(*dirs)


def require_one_row_per_key(rows: DataFrame, key_cols: list) -> None:
    """MERGE's cardinality rule: a batch may carry at most one row per
    key. Two rows for one key would leave the merged row to chance, so
    the batch raises ``ValueError`` before anything is written, as
    Iceberg's MERGE raises "multiple source rows matched"."""
    dup = (rows.groupBy(*key_cols).agg(F.count("*").alias("_n"))
           .filter(F.col("_n") > 1).limit(1).collect())
    if dup:
        key = {c: dup[0][c] for c in key_cols}
        raise ValueError(f"MERGE batch carries {dup[0]['_n']} rows for key "
                         f"{key}: a batch may carry at most one row per key")


def merge_stage_buckets(spark: SparkSession, path: str,
                        updates: DataFrame, key_cols: list,
                        delete_col: Optional[str] = None,
                        n_buckets: int = N_BUCKETS_DEFAULT,
                        bucket_from: str = "doc_id") -> dict:
    """MERGE INTO — the Iceberg/Delta row-level upsert/delete twin for
    bucket-incremental stages: rows in ``updates`` REPLACE target rows
    sharing their ``key_cols`` (UPDATE SET *), unmatched rows INSERT,
    and rows flagged true in ``delete_col`` DELETE their key (a
    missing key deletes nothing). Only buckets that contain touched
    keys are rewritten (dynamic partition overwrite — the
    write_stage_buckets machinery); untouched buckets' files stay
    byte-identical on disk, and a bucket whose rows are all deleted is
    purged like any phantom.

    Fingerprint contract: a MERGE is an OUT-OF-BAND data correction
    (late fix, GDPR delete) that breaks the 'derived from upstream
    fingerprints' invariant by design, so merged buckets' entries in
    ``_buckets.json`` are rewritten as ``merge:<hash>`` — any later
    incremental rebuild sees them as dirty and re-derives them from
    upstream (the merge is durable until the next pipeline run
    recomputes the bucket, exactly Iceberg's behavior when a MERGE
    lands on a table a backfill job later overwrites). The commit logs
    one ``merge`` snapshot with matched/inserted/deleted counts.

    A batch may carry at most one row per key (``require_one_row_per_key``):
    a duplicate raises ``ValueError`` and the table stays unchanged.

    A path with neither ``_buckets.json`` nor a data file is an empty
    stage: its current rows are an empty frame of the update's schema,
    so the first MERGE creates the table. A path holding data files but
    no ``_buckets.json`` has no committed state to merge into and
    raises ``ValueError`` (the rule ``audit_bucket_stage`` and
    ``remove_orphan_files`` apply).

    Scale shape: bucket assignment is the stage's own hash rule, so
    update rows prune to their buckets before any join; the
    anti/semi joins run only over affected buckets' rows, hashed on
    the key — a 10^12-row table with a 1000-row merge touches ~1000
    buckets' files and nothing else."""
    state_file = os.path.join(path, "_buckets.json")
    try:
        with open(state_file) as f:
            state = json.load(f)
    except FileNotFoundError:
        if any(name.endswith(".parquet")
               for _root, _dirs, names in os.walk(path) for name in names):
            raise ValueError(f"no committed state under {path}: data files "
                             f"but no _buckets.json") from None
        state = {}      # nothing committed yet: MERGE into an empty stage
    upd = with_bucket(updates, n_buckets, key=bucket_from)
    is_del = (F.col(delete_col) if delete_col
              else F.lit(False)).alias("_is_del")
    upd = upd.select(*[c for c in upd.columns if c != delete_col],
                     is_del).localCheckpoint(eager=True)
    require_one_row_per_key(upd, key_cols)
    affected = sorted(r["bucket"] for r in
                      upd.select("bucket").distinct().collect())
    if not affected:
        return {"matched": 0, "inserted": 0, "deleted": 0, "buckets": []}
    cur = (_read_buckets(spark, path, upd.drop("_is_del").schema, infer=True)
           .filter(F.col("bucket").isin(affected)))
    keys = list(key_cols)
    upd_keys = upd.select("bucket", *keys).distinct()
    n_matched = (cur.join(upd.filter(~F.col("_is_del"))
                          .select("bucket", *keys).distinct(),
                          ["bucket"] + keys, "left_semi").count())
    n_deleted = (cur.join(upd.filter(F.col("_is_del"))
                          .select("bucket", *keys).distinct(),
                          ["bucket"] + keys, "left_semi").count())
    inserts = (upd.filter(~F.col("_is_del")).drop("_is_del")
               .join(cur, ["bucket"] + keys, "left_anti"))
    n_inserted = inserts.count()
    survivors = cur.join(upd_keys, ["bucket"] + keys, "left_anti")
    new_rows = survivors.unionByName(
        inserts.unionByName(
            upd.filter(~F.col("_is_del")).drop("_is_del")
            .join(cur.select("bucket", *keys).distinct(),
                  ["bucket"] + keys, "left_semi")))
    got = _commit_buckets(new_rows, path, ["bucket"], affected, [])
    present = {r["bucket"] for r in got["parts"]}
    for b in affected:
        key = str(b)
        if b in present:
            state[key] = "merge:" + fingerprint(path, key,
                                                n_matched, n_inserted,
                                                n_deleted, time.time())
        else:
            state.pop(key, None)
    with open(state_file, "w") as f:
        json.dump(state, f)
    _append_snapshot(path, "merge",
                     fingerprint(*(f"{b}={state.get(str(b), '')}"
                                   for b in affected)),
                     {"matched": n_matched, "inserted": n_inserted,
                      "deleted": n_deleted,
                      "merged_buckets": affected})
    return {"matched": n_matched, "inserted": n_inserted,
            "deleted": n_deleted, "buckets": affected}


def read_changes_between(spark: SparkSession, path: str,
                         from_snapshot: str,
                         to_snapshot: str) -> DataFrame:
    """Incremental (CDC-style) read over the append-only sink layout —
    Iceberg's incremental scan: the rows committed AFTER
    ``from_snapshot`` and at-or-before ``to_snapshot``, i.e. exactly
    the batch dirs of the ledger interval (from, to]. The expire
    tombstone is a valid LOWER bound (changes since everything it
    absorbed = every retained batch up to ``to``), but not a valid
    upper bound; unknown ids raise KeyError. The complement of
    read_stage_as_of: as_of(to) == as_of(from) UNION changes(from, to).

    Scale shape: ledger bookkeeping + a parquet read whose path list
    IS the change set — no data scanned to find changes, no
    row-level diffing."""
    history = snapshot_history(path)
    by_id = {s["snapshot_id"]: i for i, s in enumerate(history)}
    for sid in (from_snapshot, to_snapshot):
        if sid not in by_id:
            raise KeyError(f"snapshot {sid!r} not in the ledger at {path}")
    lo, hi = by_id[from_snapshot], by_id[to_snapshot]
    if history[hi]["operation"] == "expire":
        raise KeyError("the expire tombstone is not a valid upper bound")
    if lo > hi:
        raise KeyError(f"{from_snapshot!r} is newer than {to_snapshot!r}")
    batches = [s["batch_id"] for s in history[lo + 1:hi + 1]
               if s["operation"] == "streaming-append"]
    if any(s["operation"] not in ("streaming-append", "expire")
           for s in history):
        raise KeyError(
            f"stage at {path} commits by overwrite — incremental "
            f"reads need the append-only (batch=) layout")
    if not batches:
        return spark.read.parquet(path).limit(0)
    dirs = [os.path.join(path, f"batch={b}") for b in batches]
    return spark.read.parquet(*dirs)
