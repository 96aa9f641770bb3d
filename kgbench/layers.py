"""Per-layer metrics of a traced run, from the spans (with their Spark
event-log attribution), the per-op stage file statistics and the
in-process kernel replay. Every value is the median over the run's
timed ops unless its name says otherwise."""

from __future__ import annotations

import os
import statistics
from typing import Dict, List

STAGE_DIRS = {"link": ("linked",), "canon": ("canonical",),
              "materialize": ("nodes", "edges")}
LEDGERS = ("_snapshots.json", "_buckets.json", "_manifest.json")
SPARK_FIELDS = {"executor_run_s": ("run_ms", 1e-3),
                "executor_cpu_s": ("cpu_ns", 1e-9),
                "gc_s": ("gc_ms", 1e-3),
                "shuffle_read_bytes": ("shuffle_read_bytes", 1),
                "shuffle_write_bytes": ("shuffle_write_bytes", 1),
                "spill_bytes": ("spill_bytes", 1),
                "tasks": ("tasks", 1)}


def stage_writes(out_dir: str, before: dict, after: dict) -> dict:
    """Given the ``checks.listing`` of the KG before and after an op, per
    layer: files and bytes the op wrote, rows in the parquet
    files it wrote (footers only), ledger bytes after the op and, for
    materialize, data files per bucket dir."""
    import pyarrow.parquet as pq
    res = {}
    for layer, dirs in STAGE_DIRS.items():
        files = nbytes = rows = ledger = 0
        data_files = bucket_dirs = 0
        for stage in dirs:
            old = before.get(stage, {})
            for rel, meta in after[stage].items():
                name = os.path.basename(rel)
                if name in LEDGERS and os.sep not in rel:
                    ledger += meta[0]
                if rel.endswith(".parquet"):
                    data_files += 1
                if old.get(rel) == meta:
                    continue
                files += 1
                nbytes += meta[0]
                if rel.endswith(".parquet") and not rel.startswith("_"):
                    rows += pq.read_metadata(
                        os.path.join(out_dir, stage, rel)).num_rows
            bucket_dirs += len({os.path.dirname(r) for r in after[stage]
                                if r.startswith("bucket=")})
        res[layer] = {"files_written": files, "bytes_written": nbytes,
                      "rows_out": rows, "ledger_bytes": ledger}
        if layer == "materialize":
            res[layer]["files_per_bucket"] = (
                data_files / bucket_dirs if bucket_dirs else 0.0)
    return res


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _children(spans: List[dict], parent: dict) -> List[dict]:
    """All spans below ``parent``."""
    ids, out = {parent["id"]}, []
    for s in spans:                       # spans are in start order
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def compute(spans: List[dict], kind: str, kernel: dict, cpus: int,
            python_workers: int, peak_rss_mb: float) -> Dict[str, float]:
    ops = [s for s in spans if s["name"] == "op" and s.get("timed")
           and s["kind"] == kind]
    per_op = []
    for op in ops:
        kids = _children(spans, op)
        by = {}
        for s in kids:
            by.setdefault(s["name"], []).append(s)
        tree = [op] + kids
        rec = {"op_s": _dur(op)}

        def wall(*names):
            return sum(_dur(s) for n in names for s in by.get(n, []))

        def spark(field, *names):
            return sum(s["spark"][field] for n in names
                       for s in by.get(n, []) if "spark" in s)

        rec["extract.wall_s"] = wall("extract")
        rec["extract.fingerprint_s"] = wall("extract.fingerprint")
        rec["extract.dirty_buckets"] = op["stage_times"][
            "extract_dirty_buckets"]
        skews = [s["spark"].get("task_skew") for s in by.get("extract", [])
                 if "spark" in s]
        rec["extract.task_skew"] = skews[0] if skews else None
        k_s = sum(kernel["per_doc_s"].get(d, 0.0)
                  for d in op.get("extracted_docs", ()))
        rec["extract.kernel_efficiency"] = (
            k_s / (cpus * rec["extract.wall_s"])
            if rec["extract.wall_s"] else None)
        for layer, names in (("link", ("link.symtab", "link.write")),
                             ("canon", ("canon.cc", "canon.write")),
                             ("materialize", ("materialize.nodes",
                                              "materialize.edges"))):
            rec[f"{layer}.wall_s"] = wall(*names)
            rec[f"{layer}.rows_in"] = spark("input_records", *names)
            for k, v in op["writes"][layer].items():
                rec[f"{layer}.{k}"] = v
        rec["link.symtab_s"] = wall("link.symtab")
        rec["canon.cc_s"] = wall("canon.cc")
        for name, (field, scale) in SPARK_FIELDS.items():
            rec[f"spark.{name}"] = scale * sum(
                s["spark"][field] for s in tree if "spark" in s)
        per_op.append(rec)

    out: Dict[str, float] = {}
    for key in sorted({k for r in per_op for k in r}):
        out[key] = _med(r.get(key) for r in per_op)
    out["trace.op_s_p50"] = out.pop("op_s", 0.0)
    out["spark.python_workers"] = float(python_workers)
    out["process.peak_rss_mb"] = peak_rss_mb

    queries = [s for s in spans if s["name"] == "query"]
    for cls in sorted({q["cls"] for q in queries}):
        out[f"query.{cls}_ms_p50"] = 1e3 * _med(
            _dur(s) for s in queries if s["cls"] == cls)
    for name, field in (("files_read", "files_read"),
                        ("bytes_read", "input_bytes")):
        out[f"query.{name}"] = _med(
            sum(c["spark"][field] for c in [q] + _children(spans, q)
                if "spark" in c) for q in queries)

    n = kernel["docs"]
    for layer, secs in kernel["self_s"].items():
        out[f"kernel.{layer}_ms_per_doc"] = 1e3 * secs / n
    out["kernel.docs_per_s_1core"] = n / kernel["total_s"]
    out["kernel.methods_per_doc"] = kernel["methods"] / n
    out["kernel.rows_per_doc"] = kernel["rows"] / n
    out["kernel.self_sum_share"] = (sum(kernel["self_s"].values())
                                    / kernel["total_s"])
    return {k: round(v, 6) for k, v in sorted(out.items())}
