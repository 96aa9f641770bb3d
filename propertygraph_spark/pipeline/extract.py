"""Fused Spark extraction stage: docs table -> nodes/triples/mentions rows.

Spark-first design notes (SURVEY.md §3.4, §4.2):
- ONE Arrow-vectorized kernel pass per document (mapInPandas) emits every
  graph family; Catalyst cannot fuse across UDFs, so fusion is done here —
  the parser never runs twice for a doc;
- the stage is map-only: no shuffle between the scan and the kernel except
  the explicit cost-based routing repartition;
- skew: AQE splits skewed JOINS but not UDF stages, so pathological
  mega-docs are routed to a dedicated wide repartition by a cost column
  (total code chars) before the kernel;
- output is a single union-schema DataFrame (row_kind discriminator);
  written once partitioned by row_kind, downstream reads prune partitions.
"""

from __future__ import annotations

import time
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

UNION_SCHEMA = StructType([
    StructField("row_kind", StringType(), False),   # node|triple|mention|error|metric
    StructField("doc_id", StringType(), False),
    StructField("method_id", StringType(), True),
    StructField("node_id", LongType(), True),
    StructField("graph", StringType(), True),
    StructField("kind", StringType(), True),
    StructField("category", StringType(), True),
    StructField("text", StringType(), True),
    StructField("start_line", IntegerType(), True),
    StructField("end_line", IntegerType(), True),
    StructField("subj", LongType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", LongType(), True),
    StructField("label", StringType(), True),
    StructField("mention", StringType(), True),
    StructField("candidate", StringType(), True),
    StructField("error", StringType(), True),
])

NODE_COLS = ["doc_id", "method_id", "node_id", "graph", "kind", "category",
             "text", "start_line", "end_line"]
TRIPLE_COLS = ["doc_id", "method_id", "subj", "pred", "obj", "label"]
MENTION_COLS = ["doc_id", "method_id", "node_id", "mention", "kind", "candidate"]


def _code_source_col():
    """Compilation unit assembly, fully JVM-side: filter code spans, sort by
    offset, concatenate (predicate/ordering stay out of Python)."""
    code = F.filter("spans", lambda s: s["kind"] == F.lit("code"))
    ordered = F.array_sort(
        code, lambda a, b: F.when(a["offset"] < b["offset"], F.lit(-1))
        .when(a["offset"] > b["offset"], F.lit(1)).otherwise(F.lit(0)))
    return F.array_join(F.transform(ordered, lambda s: s["text"]), "")


def with_source(docs: DataFrame) -> DataFrame:
    return docs.withColumn("source", _code_source_col()) \
               .withColumn("cost", F.length(F.col("source")))


def route_by_cost(docs_with_cost: DataFrame, heavy_threshold: int = 200_000,
                  light_partitions: int | None = None,
                  heavy_partitions: int | None = None) -> DataFrame:
    """Mega-doc isolation: heavy docs get their own narrow partitions so one
    pathological file cannot straggle a 512-doc partition. At cluster scale
    the two legs are sized independently of the input partitioning."""
    spark = docs_with_cost.sparkSession
    default = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    light_partitions = light_partitions or default
    heavy_partitions = heavy_partitions or max(default // 2, 4)
    light = docs_with_cost.filter(F.col("cost") <= heavy_threshold) \
        .repartition(light_partitions, "doc_id")
    heavy = docs_with_cost.filter(F.col("cost") > heavy_threshold) \
        .repartition(heavy_partitions)  # round-robin: spread the giants
    return light.unionByName(heavy)


_PA_TYPES = {"row_kind": "string", "doc_id": "string", "method_id": "string",
             "node_id": "int64", "graph": "string", "kind": "string",
             "category": "string", "text": "string", "start_line": "int32",
             "end_line": "int32", "subj": "int64", "pred": "string",
             "obj": "int64", "label": "string", "mention": "string",
             "candidate": "string", "error": "string"}


def _arrow_schema():
    import pyarrow as pa
    return pa.schema([(n, getattr(pa, t)()) for n, t in _PA_TYPES.items()])


def _kind_batch(schema, filled: dict, n: int):
    """RecordBatch with `filled` columns populated and every other union
    column a null array — columnar construction, no per-row boxing."""
    import pyarrow as pa
    arrays = []
    for field in schema:
        if field.name in filled:
            arrays.append(pa.array(filled[field.name], type=field.type))
        else:
            arrays.append(pa.nulls(n, field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _kernel(batches, graphs=("ast", "cfg", "pdg")) -> Iterator:
    """mapInArrow kernel: one fused pass per document; output is built
    column-wise per row_kind from the kernel's own columnar form (no
    per-row dicts anywhere on this path — the pandas-object detour costs
    ~1.6x the kernel itself at 32 cores, and even the dict-row detour
    paid one dict build plus one per-column re-scan per row).

    Each input batch also yields one ``metric`` row with text
    ``docs=<n> rows=<n> sec=<s>``. It is run telemetry, never written
    to disk: ``materialize.extract_incremental`` observes these rows
    during its write job and ``run_pipeline`` records their typed sum
    as ``kernel: {batches, docs, rows, sec}`` in
    ``_metrics/pipeline.json``."""
    # heavy import inside the worker, once per python worker
    from propertygraph_spark.kernel.extract import (MENTION_COLS_K,
                                                    NODE_COLS_K,
                                                    TRIPLE_COLS_K,
                                                    extract_document_columns)

    schema = _arrow_schema()
    for batch in batches:
        t0 = time.monotonic()
        doc_ids = batch.column("doc_id").to_pylist()
        sources = batch.column("source").to_pylist()
        nd: dict = {c: [] for c in NODE_COLS_K}
        td: dict = {c: [] for c in TRIPLE_COLS_K}
        md: dict = {c: [] for c in MENTION_COLS_K}
        nd_doc: list = []
        td_doc: list = []
        md_doc: list = []
        error_rows: list = []
        for doc_id, source in zip(doc_ids, sources):
            nc, tc, mc, err = extract_document_columns(
                doc_id, source or "", graphs=graphs)
            n = len(nc["node_id"])
            if n:
                nd_doc.extend([doc_id] * n)
                for c in NODE_COLS_K:
                    nd[c].extend(nc[c])
            n = len(tc["subj"])
            if n:
                td_doc.extend([doc_id] * n)
                for c in TRIPLE_COLS_K:
                    td[c].extend(tc[c])
            n = len(mc["node_id"])
            if n:
                md_doc.extend([doc_id] * n)
                for c in MENTION_COLS_K:
                    md[c].extend(mc[c])
            if err is not None:
                error_rows.append((doc_id, err))
        if nd_doc:
            yield _kind_batch(schema, {
                "row_kind": ["node"] * len(nd_doc), "doc_id": nd_doc, **nd,
            }, len(nd_doc))
        if td_doc:
            yield _kind_batch(schema, {
                "row_kind": ["triple"] * len(td_doc), "doc_id": td_doc,
                **td,
            }, len(td_doc))
        if md_doc:
            yield _kind_batch(schema, {
                "row_kind": ["mention"] * len(md_doc), "doc_id": md_doc,
                **md,
            }, len(md_doc))
        if error_rows:
            yield _kind_batch(schema, {
                "row_kind": ["error"] * len(error_rows),
                "doc_id": [d for d, _ in error_rows],
                "error": [e for _, e in error_rows],
            }, len(error_rows))
        elapsed = time.monotonic() - t0
        n_out = len(nd_doc) + len(td_doc) + len(md_doc)
        yield _kind_batch(schema, {
            "row_kind": ["metric"], "doc_id": ["_partition"],
            "text": [f"docs={len(doc_ids)} rows={n_out} sec={elapsed:.3f}"],
        }, 1)


def extract_docs(docs: DataFrame, heavy_threshold: int = 200_000,
                 route: bool = True,
                 graphs: tuple = ("ast", "cfg", "pdg")) -> DataFrame:
    """docs(doc_id, spans) -> union-schema rows (map-only after routing).
    ``graphs`` selects the emitted families (reference -a/-c/-p flags,
    graphToDot/Write.java:57-65) — one fused parse regardless."""
    import functools
    src = with_source(docs)
    if route:
        src = route_by_cost(src, heavy_threshold)
    kernel = functools.partial(_kernel, graphs=tuple(graphs))
    return src.select("doc_id", "source").mapInArrow(kernel, UNION_SCHEMA)


def split_union(union_df: DataFrame) -> Tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(nodes, triples, mentions, errors) views over the union output."""
    nodes = union_df.filter(F.col("row_kind") == "node").select(*NODE_COLS)
    triples = union_df.filter(F.col("row_kind") == "triple").select(*TRIPLE_COLS)
    mentions = union_df.filter(F.col("row_kind") == "mention").select(*MENTION_COLS)
    errors = union_df.filter(F.col("row_kind") == "error").select("doc_id", "error")
    return nodes, triples, mentions, errors
