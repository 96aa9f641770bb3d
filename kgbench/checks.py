"""Output checks. Each raises ``CheckFailed`` and none passes on an empty
result.

The committed KG is read with DuckDB straight from the parquet files the
program wrote, so the checks share no code path with the Spark reader
under test. Rows are compared as per-doc multiset digests (row count and
the sum of row hashes), which DuckDB computes the same way for the KG and
for the in-process kernel output.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, List, Tuple

NODE_KEY = ("method_id", "node_id", "graph", "kind", "category", "text",
            "start_line", "end_line")
EDGE_KEY = ("method_id", "subj", "pred", "obj", "label")
BUCKETED = ("extracted", "linked", "nodes", "edges")


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _con():
    import duckdb
    return duckdb.connect()


def stage_glob(out_dir: str, stage: str) -> str:
    if stage == "extracted":
        return os.path.join(out_dir, stage, "row_kind=*", "bucket=*",
                            "*.parquet")
    if stage == "canonical":
        return os.path.join(out_dir, stage, "*.parquet")
    return os.path.join(out_dir, stage, "bucket=*", "*.parquet")


def _scan(out_dir: str, stage: str) -> str:
    g = stage_glob(out_dir, stage).replace("'", "''")
    return f"read_parquet('{g}', hive_partitioning = true)"


def _digest_sql(source: str, key: Tuple[str, ...], distinct: bool) -> str:
    cols = ", ".join(("doc_id",) + key)
    rows = f"(SELECT DISTINCT {cols} FROM {source})" if distinct else source
    return (f"SELECT doc_id, count(*) AS n, "
            f"sum(hash({', '.join(key)})::HUGEINT) AS h "
            f"FROM {rows} GROUP BY doc_id")


def kg_digests(out_dir: str, doc_ids: Iterable[str] | None = None
               ) -> Dict[str, dict]:
    """{"nodes"|"edges": {doc_id: (n, h)}} of the committed KG."""
    con = _con()
    out = {}
    for stage, key in (("nodes", NODE_KEY), ("edges", EDGE_KEY)):
        src = _scan(out_dir, stage)
        if doc_ids is not None:
            con.execute("CREATE OR REPLACE TEMP TABLE want(doc_id VARCHAR)")
            con.executemany("INSERT INTO want VALUES (?)",
                            [(d,) for d in doc_ids])
            src = f"(SELECT * FROM {src} WHERE doc_id IN (SELECT doc_id FROM want))"
        out[stage] = {d: (n, int(h)) for d, n, h in
                      con.execute(_digest_sql(src, key, False)).fetchall()}
    con.close()
    return out


def kernel_digests(sources: Dict[str, str]) -> Dict[str, dict]:
    """The same digests over the in-process kernel output. Edges are
    distinct, because materialize de-duplicates them."""
    import pyarrow as pa
    from propertygraph_spark.kernel.extract import extract_document_columns
    nodes = {c: [] for c in ("doc_id",) + NODE_KEY}
    edges = {c: [] for c in ("doc_id",) + EDGE_KEY}
    for doc_id, src in sources.items():
        nc, tc, _mc, _err = extract_document_columns(doc_id, src)
        nodes["doc_id"] += [doc_id] * len(nc["node_id"])
        for c in NODE_KEY:
            nodes[c] += nc[c]
        edges["doc_id"] += [doc_id] * len(tc["subj"])
        for c in EDGE_KEY:
            edges[c] += tc[c]
    types = {"node_id": pa.int64(), "subj": pa.int64(), "obj": pa.int64(),
             "start_line": pa.int32(), "end_line": pa.int32()}
    con = _con()
    out = {}
    for stage, cols, key in (("nodes", nodes, NODE_KEY),
                             ("edges", edges, EDGE_KEY)):
        tbl = pa.table({c: pa.array(v, type=types.get(c, pa.string()))
                        for c, v in cols.items()})
        con.register("k", tbl)
        out[stage] = {d: (n, int(h)) for d, n, h in
                      con.execute(_digest_sql("k", key, stage == "edges"))
                      .fetchall()}
        con.unregister("k")
    con.close()
    return out


def compare_digests(got: Dict[str, dict], want: Dict[str, dict],
                    doc_ids: Iterable[str], what: str) -> int:
    """Every named doc must carry the same node and edge multisets; the
    docs with rows must be a non-empty set. Returns the rows compared."""
    rows = 0
    for stage in ("nodes", "edges"):
        for d in doc_ids:
            g, w = got[stage].get(d), want[stage].get(d)
            require(g == w, f"{what}: {stage} of {d} differ: "
                            f"KG {g} vs reference {w}")
            rows += w[0] if w else 0
    require(rows > 0, f"{what}: no rows compared")
    return rows


def table_digest(out_dir: str) -> Tuple[int, int, int, int]:
    """(node rows, node hash, edge rows, edge hash) of the whole KG."""
    con = _con()
    res = []
    for stage, key in (("nodes", NODE_KEY), ("edges", EDGE_KEY)):
        n, h = con.execute(
            f"SELECT count(*), sum(hash({', '.join(key)})::HUGEINT) "
            f"FROM {_scan(out_dir, stage)}").fetchone()
        res += [n, int(h or 0)]
    con.close()
    require(res[0] > 0 and res[2] > 0, "KG has no node or edge rows")
    return tuple(res)


def docs_with_rows(out_dir: str) -> Tuple[set, set]:
    """(docs with node rows, docs with error rows) of the committed KG."""
    con = _con()
    with_nodes = {r[0] for r in con.execute(
        f"SELECT DISTINCT doc_id FROM {_scan(out_dir, 'nodes')}").fetchall()}
    with_err = set()
    if os.path.isdir(os.path.join(out_dir, "extracted", "row_kind=error")):
        with_err = {r[0] for r in con.execute(
            f"SELECT DISTINCT doc_id FROM "
            f"{_scan(out_dir, 'extracted')} WHERE row_kind = 'error'")
            .fetchall()}
    con.close()
    return with_nodes, with_err


def coverage(out_dir: str, doc_ids: Iterable[str]) -> Tuple[int, int]:
    """Every input doc appears in nodes or in the error rows. Returns
    (docs with nodes, docs with error rows)."""
    with_nodes, with_err = docs_with_rows(out_dir)
    want = set(doc_ids)
    missing = sorted(want - with_nodes - with_err)
    require(want, "no input docs")
    require(not missing, f"{len(missing)} docs vanished, e.g. {missing[:3]}")
    return len(with_nodes & want), len(with_err & want)


# ----------------------------------------------------------- file layout

def listing(out_dir: str) -> Dict[str, Dict[str, tuple]]:
    """stage dir -> {path relative to it: (size, mtime_ns)} for every
    file of the KG ("" holds the files directly under ``out_dir``)."""
    res: Dict[str, Dict[str, tuple]] = {}
    for root, _dirs, names in os.walk(out_dir):
        rel = os.path.relpath(root, out_dir)
        stage, _, sub = rel.partition(os.sep)
        stage = "" if stage == "." else stage
        files = res.setdefault(stage, {})
        for n in names:
            st = os.stat(os.path.join(root, n))
            files[os.path.join(sub, n)] = (st.st_size, st.st_mtime_ns)
    return res


def by_bucket(lst: Dict[str, dict]) -> Dict[Tuple[str, int], dict]:
    """(stage, bucket) -> {relative path: (size, mtime_ns)} over the
    bucket-partitioned stages of a ``listing``."""
    out: Dict[Tuple[str, int], dict] = {}
    for stage in BUCKETED:
        for rel, meta in lst.get(stage, {}).items():
            parts = [p for p in rel.split(os.sep) if p.startswith("bucket=")]
            if parts:
                b = int(parts[-1].split("=", 1)[1])
                out.setdefault((stage, b), {})[rel] = meta
    return out


def untouched_unchanged(before: dict, after: dict, dirty: set) -> int:
    """Given two ``listing``s: files of every bucket outside ``dirty`` are
    byte-for-byte the same files (same names, sizes and mtimes). Returns
    the buckets compared."""
    before, after = by_bucket(before), by_bucket(after)
    keys = {k for k in before if k[1] not in dirty}
    require(keys, "no untouched buckets to compare")
    for k in sorted(keys):
        require(after.get(k) == before[k],
                f"untouched bucket {k[0]}/bucket={k[1]} was rewritten")
    return len(keys)


# ---------------------------------------------------------------- queries

def parse_cli_rows(text: str) -> Tuple[List[str], List[tuple]]:
    """Header and rows from the CLI ``--sql`` printout."""
    lines = [ln for ln in text.splitlines() if not ln.startswith("sql:")]
    require(len(lines) >= 2 and lines[-1].endswith("rows)"),
            f"unexpected --sql output: {text[-200:]!r}")
    return lines[0].split("\t"), [tuple(ln.split("\t"))
                                  for ln in lines[1:-1]]


def duckdb_rows(out_dir: str, sql: str) -> List[tuple]:
    """The same SQL over DuckDB views of the same parquet files, values
    rendered the way the CLI prints them."""
    con = _con()
    for stage in ("linked", "canonical", "nodes", "edges"):
        if os.path.isdir(os.path.join(out_dir, stage)):
            con.execute(f"CREATE VIEW {stage} AS SELECT * FROM "
                        f"{_scan(out_dir, stage)}")
    rows = [tuple(str(v) for v in r) for r in con.execute(sql).fetchall()]
    con.close()
    return rows


def check_query(out_dir: str, sql: str, cli_text: str) -> int:
    _cols, got = parse_cli_rows(cli_text)
    want = duckdb_rows(out_dir, sql)
    require(want, f"reference result is empty for: {sql}")
    require(sorted(got) == sorted(want),
            f"query result differs from DuckDB ({len(got)} vs {len(want)} "
            f"rows): {sql}")
    return len(got)
