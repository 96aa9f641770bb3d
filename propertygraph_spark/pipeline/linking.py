"""Entity linking: mention table vs broadcast symbol dictionary.

north_star: "Entity linking scores candidate symbol mentions against a
broadcast dictionary of fully-qualified declarations (salted hash join to
absorb hot symbols like java.lang.String)".

Two join strategies are provided:
- ``broadcast`` (default): the dictionary is small relative to mentions;
  a broadcast hash join is immune to build-side skew — the right default
  on a 1000-executor cluster while dict << executor memory;
- ``salted``: when the dictionary outgrows broadcast, the sort-merge path
  suffers hot keys (java.lang.String-class names dominate Zipf-style).
  The mention side gets salt = pmod(xxhash64(doc_id, node_id), S) and the
  dictionary is replicated xS with explode(sequence(...)), turning one hot
  key into S evenly-sized keys.
"""

from __future__ import annotations

import random
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, StringType, StructField, StructType)

from .session import local_frame

DICT_SCHEMA = StructType([
    StructField("fqn", StringType(), False),
    StructField("simple_name", StringType(), False),
    StructField("sym_kind", StringType(), False),
    StructField("weight", DoubleType(), False),
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
    group — the only place ties would matter (max_by picks an unspecified
    row on ties, which would break the replay): the hot/method/twin
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
    # make max_by order-dependent and break the host-side oracle replay.
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


def symbol_dictionary(spark: SparkSession, n_symbols: int = 2000,
                      seed: int = 42) -> DataFrame:
    """Deterministic symbol dictionary with Zipf-ish weights; head keys are
    made deliberately hot, and the synthetic corpus' method/class names are
    included so linking produces matches."""
    return local_frame(spark, symbol_rows(n_symbols, seed), DICT_SCHEMA)


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


def driver_symbol_table(mentions: DataFrame) -> Tuple[list, DataFrame]:
    """``corpus_symbol_table`` collected to the driver: its sorted
    (recv_simple, decl_fqn) rows, for fingerprinting, and the same rows
    as an Arrow-backed ``LocalRelation`` for the broadcast join in
    ``qualify_cross_file`` (one collect job; the table is broadcast-scale
    by construction)."""
    table = corpus_symbol_table(mentions)
    rows = sorted((r["recv_simple"], r["decl_fqn"]) for r in table.collect())
    return rows, local_frame(mentions.sparkSession, rows, table.schema)


# static-receiver call form the kernel could NOT qualify: one uppercase
# simple name, one dot, call parens — multi-dot candidates are already
# resolved (import / java.lang / same-unit)
_XFILE_RE = r"^([A-Z][A-Za-z0-9_$]*)\.[A-Za-z_$][A-Za-z0-9_$]*\(\)$"


def qualify_cross_file(mentions: DataFrame,
                       symtab: DataFrame | None = None,
                       broadcast_table: bool = True) -> DataFrame:
    """Rewrite call-site candidates whose receiver type the kernel left
    unqualified (``Recv.m()``) to the corpus-declared fqn
    (``org.acme.Recv.m()``) when exactly one class named ``Recv`` is
    declared anywhere in the corpus — receivers whose type lives in
    ANOTHER file finally resolve, the last K2 gap closable without a
    classpath (COVERAGE.md). Identity on every other row; adds an
    ``xfile_qualified`` flag.

    Scale shape: the symbol table broadcasts (one row per declared class
    name); the probe is a map-side broadcast-hash join against the
    extracted receiver name — no shuffle added to the linking stage. For
    a corpus whose class-name universe outgrows broadcast, pass
    ``broadcast_table=False`` for a shuffled hash join (build side is
    still 1 row per key; AQE absorbs probe-side hot names)."""
    if symtab is None:
        symtab = corpus_symbol_table(mentions)
    recv = F.when(F.col("kind") == "call_site",
                  F.regexp_extract("candidate", _XFILE_RE, 1)) \
            .otherwise(F.lit(""))
    m = mentions.withColumn("recv_simple", recv)
    tab = F.broadcast(symtab) if broadcast_table else symtab
    joined = m.join(tab.withColumnRenamed("recv_simple", "rs"),
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


def link_mentions(mentions: DataFrame, symbol_dict: DataFrame,
                  strategy: str = "packed", salt: int = 16) -> DataFrame:
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
        method-kind fqns. Exact string compares (right()/concat), no LIKE
        wildcards, so the host replay is bit-identical.

    Strategies:
    - ``packed`` (default, r5): the dictionary is pre-grouped to ONE row
      per simple name carrying a (fqn, weight) candidate array; each
      mention occurrence broadcast-joins exactly one row and the argmax
      is an in-row ``array_max`` over scored structs. MAP-ONLY — no
      occurrence groupBy, so the 10^12-row mention table never
      shuffles, and hot simple names cause no skew by construction
      (one dictionary row regardless of popularity). Weights are
      pairwise-distinct within a simple-name group (symbol_rows
      docstring), so the argmax is tie-free and all three strategies
      are row-identical (pinned in tests/test_linking_canon.py).
      Stateless, so the streaming path reuses it verbatim.
    - ``broadcast``: exploded-dictionary broadcast join + max_by
      aggregation (one occurrence-keyed shuffle).
    - ``salted``: the shuffle-join variant for a dictionary too large
      to broadcast; the salt spreads hot simple names over ``salt``
      partitions."""
    m = mentions.withColumn("simple_name", F.col("mention"))
    if strategy == "packed":
        packed = (symbol_dict.groupBy("simple_name")
                  .agg(F.collect_list(F.struct("fqn", "weight"))
                       .alias("cands")))
        joined = m.join(F.broadcast(packed), "simple_name", "inner")
        stem = F.expr("substring(candidate, 1, length(candidate) - 2)")
        cand, sn = F.col("candidate"), F.col("simple_name")

        def _score(x):
            typed_hit = (cand.isNotNull() & cand.endswith("()")
                         & ((x["fqn"] == stem)
                            | x["fqn"].endswith(F.concat(F.lit("."), stem))))
            call_form = (cand.isNotNull()
                         & cand.endswith(F.concat(sn, F.lit("()")))
                         & x["fqn"].endswith(sn))
            return (x["weight"]
                    + F.when(typed_hit, F.lit(0.5)).otherwise(F.lit(0.0))
                    + F.when(call_form, F.lit(0.25)).otherwise(F.lit(0.0)))

        best = F.array_max(F.transform(
            "cands", lambda x: F.struct(_score(x).alias("score"),
                                        x["fqn"].alias("fqn"))))
        return (joined.withColumn("best", best)
                .select("doc_id", "method_id", "node_id", "mention", "kind",
                        F.col("best.fqn").alias("fqn"),
                        F.col("best.score").alias("score")))
    if strategy == "broadcast":
        joined = m.join(F.broadcast(symbol_dict), "simple_name", "inner")
    elif strategy == "salted":
        s = F.pmod(F.xxhash64("doc_id", "node_id"), F.lit(salt)).cast("int")
        m_salted = m.withColumn("salt", s)
        d_rep = symbol_dict.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        joined = m_salted.join(d_rep, ["simple_name", "salt"], "inner") \
                         .drop("salt")
    else:
        raise ValueError(strategy)

    stem = "substring(candidate, 1, length(candidate) - 2)"
    typed_hit = (
        F.col("candidate").isNotNull()
        & F.expr("right(candidate, 2) = '()'")
        & F.expr(f"(fqn = {stem} OR "
                 f"right(fqn, length({stem}) + 1) = concat('.', {stem}))"))
    call_form = (
        F.col("candidate").isNotNull()
        & F.expr("right(candidate, length(simple_name) + 2)"
                 " = concat(simple_name, '()')")
        & F.expr("right(fqn, length(simple_name)) = simple_name"))
    scored = joined.withColumn(
        "score",
        F.col("weight")
        + F.when(typed_hit, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(call_form, F.lit(0.25)).otherwise(F.lit(0.0)))
    # best candidate per mention occurrence — max_by avoids a window shuffle
    return (scored.groupBy("doc_id", "method_id", "node_id", "mention", "kind")
            .agg(F.max_by("fqn", "score").alias("fqn"),
                 F.max("score").alias("score")))
