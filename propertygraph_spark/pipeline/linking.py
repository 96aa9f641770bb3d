"""Entity linking: mention table vs a driver-packed symbol dictionary.

north_star: "Entity linking scores candidate symbol mentions against a
broadcast dictionary of fully-qualified declarations (salted hash join to
absorb hot symbols like java.lang.String)".

``link_mentions`` has one join strategy: the dictionary is packed on the
driver to one row per simple name carrying its candidate array
(``packed_dictionary``), shipped as an Arrow-backed ``LocalRelation`` and
broadcast-joined; the argmax is an in-row fold, so the stage is map-only
and hot names such as java.lang.String cause no skew (one dictionary row
however popular the name), which is what the salted join was for.
"""

from __future__ import annotations

import random
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, StringType, StructField,
                               StructType)

from .session import local_frame

PACKED_DICT_SCHEMA = StructType([
    StructField("simple_name", StringType(), False),
    StructField("cands", ArrayType(StructType([
        StructField("fqn", StringType(), False),
        StructField("weight", DoubleType(), False),
    ]), False), False),
])

SYMTAB_SCHEMA = StructType([
    StructField("recv_simple", StringType(), False),
    StructField("decl_fqn", StringType(), False),
])

_PKGS = ("java.lang java.util java.io org.acme.core org.acme.io"
         " com.example.app com.example.util net.synth.gen").split()
_HOT = ["String", "Object", "Integer", "List", "Map", "Exception"]


def symbol_rows(n_symbols: int = 2000,
                seed: int = 42) -> List[Tuple[str, str, str, float]]:
    """Deterministic dictionary rows (fqn, simple_name, sym_kind, weight) —
    pure Python, shared by the Spark dictionary AND the DuckDB oracle
    freezer (ops/kgdocs.linked_oracle_sql), which replays the scoring
    host-side. Weights are pairwise-distinct WITHIN every simple-name
    group — the only place ties would matter (a tied argmax need not
    pick the row the replay picks): the hot/method/twin
    blocks use name sets or denominator ranges disjoint from the generic
    pool."""
    rng = random.Random(seed)
    rows: List[Tuple[str, str, str, float]] = []
    for i, name in enumerate(_HOT):
        rows.append((f"java.lang.{name}", name, "class", 1.0 / (i + 1)))
    # methods of the synthetic corpus (fixtures.py) + heuristic-list names
    for name in ("replace", "trim", "split", "length", "debug", "put",
                 "parseInt", "println", "getValue", "setValue", "isEmpty"):
        rows.append((f"java.lang.String.{name}", name, "method",
                     1.0 / (len(rows) + 1)))
    # alias twins under a second class: the same simple name resolvable to
    # two fqns (via typed-receiver evidence), so canonicalization has real
    # multi-node components to merge. Denominators 100000+ sit beyond the
    # generic pool's range (1/(i+10), i < n_symbols), so these weights are
    # truly pairwise-distinct from EVERY other entry — score ties would
    # make the argmax order-dependent and break the host-side replay.
    for i, name in enumerate(("trim", "put", "getValue", "length")):
        rows.append((f"org.acme.util.Text.{name}", name, "method",
                     1.0 / (100000 + i)))
    for i in range(n_symbols - len(rows)):
        pkg = rng.choice(_PKGS)
        kind = rng.choice(["class", "method", "field"])
        name = (f"Type{i}" if kind == "class" else f"m{i % 64}") \
            if rng.random() < 0.7 else f"sym{i}"
        rows.append((f"{pkg}.{name}", name, kind, 1.0 / (i + 10)))
    return rows


def packed_dictionary(spark: SparkSession, rows) -> DataFrame:
    """Dictionary rows (fqn, simple_name, sym_kind, weight) packed on the
    driver to one row per simple name, ``(simple_name, cands)`` with
    ``cands`` its (fqn, weight) array, as an Arrow-backed
    ``LocalRelation``: the input of ``link_mentions``. The
    dictionary is a driver-held constant, so packing it here keeps the
    groupBy shuffle (and its jobs) out of every linking plan."""
    by_name: dict = {}
    for fqn, name, _kind, weight in rows:
        by_name.setdefault(name, []).append({"fqn": fqn, "weight": weight})
    return local_frame(spark, sorted(by_name.items()), PACKED_DICT_SCHEMA)


def packed_symbol_dictionary(spark: SparkSession, n_symbols: int = 2000,
                             seed: int = 42) -> DataFrame:
    """The deterministic symbol dictionary (``symbol_rows``: Zipf-ish
    weights, deliberately hot head keys, and the synthetic corpus'
    method/class names so linking produces matches), packed for
    ``link_mentions``."""
    return packed_dictionary(spark, symbol_rows(n_symbols, seed))


def corpus_symbol_table(mentions: DataFrame) -> DataFrame:
    """(recv_simple, decl_fqn): every class simple name declared under
    exactly ONE fully-qualified name anywhere in the corpus.

    The Spark-native stand-in for classpath type bindings (VERDICT r3
    #6): the kernel already emits a ``class_decl`` mention with the
    package-qualified fqn for every type declaration it parses
    (pebuilder.py build_type_declaration; the reference gets the same
    fact from JDT bindings, PEASTVisitor.java:1017-1025), so the
    corpus's own declaration rows ARE a global symbol table. Ambiguous
    simple names (declared under 2+ distinct fqns) are dropped —
    without the using file's imports there is no safe winner, matching
    javac's ambiguity conservatism.

    Scale shape: distinct over class_decl rows (a tiny fraction of
    mentions), then one groupBy on the simple name — output is one row
    per distinct declared class name, orders of magnitude smaller than
    the corpus, hence broadcast-able in qualify_cross_file."""
    decls = (mentions.filter(F.col("kind") == "class_decl")
             .select(F.col("mention").alias("recv_simple"),
                     F.col("candidate").alias("decl_fqn"))
             .distinct())
    return (decls.groupBy("recv_simple")
            .agg(F.count("*").alias("n_fqns"),
                 F.min("decl_fqn").alias("decl_fqn"))
            .filter(F.col("n_fqns") == 1)
            .select("recv_simple", "decl_fqn"))


def symbol_table_rows(decls) -> List[Tuple[str, str]]:
    """``corpus_symbol_table`` on the driver, from the corpus's
    ``class_decl`` (simple name, fqn) pairs: the sorted
    (recv_simple, decl_fqn) rows of every simple name declared under
    exactly one fqn. ``run_pipeline`` feeds it the pairs each extract
    bucket recorded at write time, so no Spark job scans the mentions;
    ship the rows with ``local_frame(spark, rows, SYMTAB_SCHEMA)``."""
    fqns: dict = {}
    for name, fqn in decls:
        fqns.setdefault(name, set()).add(fqn)
    return sorted((name, next(iter(f))) for name, f in fqns.items()
                  if len(f) == 1)


# static-receiver call form the kernel could NOT qualify: one uppercase
# simple name, one dot, call parens — multi-dot candidates are already
# resolved (import / java.lang / same-unit)
_XFILE_RE = r"^([A-Z][A-Za-z0-9_$]*)\.[A-Za-z_$][A-Za-z0-9_$]*\(\)$"


def qualify_cross_file(mentions: DataFrame,
                       symtab: DataFrame | None = None) -> DataFrame:
    """Rewrite call-site candidates whose receiver type the kernel left
    unqualified (``Recv.m()``) to the corpus-declared fqn
    (``org.acme.Recv.m()``) when exactly one class named ``Recv`` is
    declared anywhere in the corpus — receivers whose type lives in
    ANOTHER file finally resolve, the last K2 gap closable without a
    classpath (COVERAGE.md). Identity on every other row; adds an
    ``xfile_qualified`` flag.

    Scale shape: the symbol table broadcasts (one row per declared class
    name); the probe is a map-side broadcast-hash join against the
    extracted receiver name — no shuffle added to the linking stage."""
    if symtab is None:
        symtab = corpus_symbol_table(mentions)
    recv = F.when(F.col("kind") == "call_site",
                  F.regexp_extract("candidate", _XFILE_RE, 1)) \
            .otherwise(F.lit(""))
    m = mentions.withColumn("recv_simple", recv)
    joined = m.join(F.broadcast(symtab).withColumnRenamed("recv_simple", "rs"),
                    (F.col("recv_simple") == F.col("rs"))
                    & (F.col("recv_simple") != ""), "left")
    hit = (F.col("decl_fqn").isNotNull()
           & (F.col("decl_fqn") != F.col("recv_simple")))
    new_cand = F.when(
        hit,
        F.concat(F.col("decl_fqn"),
                 F.expr("substring(candidate, length(recv_simple) + 1)"))) \
        .otherwise(F.col("candidate"))
    return (joined
            .withColumn("candidate", new_cand)
            .withColumn("xfile_qualified", hit)
            .drop("rs", "decl_fqn", "recv_simple"))


def link_mentions(mentions: DataFrame, symbol_dict: DataFrame) -> DataFrame:
    """mentions(doc_id, method_id, node_id, mention, kind, candidate)
    -> linked rows with the best-scored fqn per mention occurrence.

    Scoring (replayed host-side by ops/kgdocs._host_best_link — keep in
    sync): dictionary weight,
    +0.5 when the candidate's qualified stem (candidate minus the
        trailing ``()``) is the fqn or a ``.``-suffix of it — the
        typed-receiver evidence produced by the kernel's declared-type
        apiName resolution ("Text.trim()" -> org.acme.util.Text.trim);
    +0.25 when the candidate merely has call form for this simple name
        (ends with ``name()``) — weak evidence that still prefers
        method-kind fqns. Exact string compares, no LIKE wildcards, so
        the host replay is bit-identical.

    ``symbol_dict`` is the driver-packed dictionary (``packed_dictionary``:
    ONE row per simple name carrying a (fqn, weight) candidate array);
    an unpacked one raises ``ValueError``. Each mention occurrence
    broadcast-joins exactly one row and the argmax is an in-row
    ``array_max`` over scored structs. MAP-ONLY — no exchange besides
    the dictionary's broadcast, so the 10^12-row mention table never
    shuffles, and hot simple names cause no skew by construction.
    Weights are pairwise-distinct within a simple-name group
    (symbol_rows docstring), so the argmax is tie-free and matches the
    host replay row for row (pinned in tests/test_linking_canon.py).
    Stateless, so the streaming path reuses it verbatim."""
    if "cands" not in symbol_dict.columns:
        raise ValueError("link_mentions takes a packed dictionary "
                         "(linking.packed_dictionary)")
    m = mentions.withColumn("simple_name", F.col("mention"))
    joined = m.join(F.broadcast(symbol_dict), "simple_name", "inner")
    # one SQL expression: built from Column lambdas, the same fold
    # took some 350 more py4j round trips to plan
    stem = "substring(candidate, 1, length(candidate) - 2)"
    best = F.expr(
        "array_max(transform(cands, x -> named_struct('score', x.weight"
        " + CASE WHEN candidate IS NOT NULL"
        " AND endswith(candidate, '()')"
        f" AND (x.fqn = {stem} OR endswith(x.fqn, concat('.', {stem})))"
        " THEN 0.5D ELSE 0.0D END"
        " + CASE WHEN candidate IS NOT NULL"
        " AND endswith(candidate, concat(simple_name, '()'))"
        " AND endswith(x.fqn, simple_name) THEN 0.25D ELSE 0.0D END,"
        " 'fqn', x.fqn)))")
    return (joined.withColumn("best", best)
            .select("doc_id", "method_id", "node_id", "mention", "kind",
                    F.col("best.fqn").alias("fqn"),
                    F.col("best.score").alias("score")))
