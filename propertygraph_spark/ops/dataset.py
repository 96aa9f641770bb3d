"""Dataset assembly operators: the last mile of a training-data pipeline.

- ``split_assign``: deterministic hash-based train/val/test assignment.
  The split is a pure function of doc_id (md5 — the engine's standard
  cross-engine-checkable hash), so it is stable across runs, clusters and
  engines, and never requires a shuffle: map-only, any scale.
- ``pack_sequences``: sequence packing — assign documents to
  ~budget-token bins by cumulative token count (the streaming
  approximation of greedy packing used by pretraining pipelines: bins
  are filled in doc order; a doc larger than the budget gets bins to
  itself). Expressed as ONE ordered window cumsum; ``shard_by=...``
  packs per shard in parallel (the corpus-scale path — the global
  default is a single-partition sort for oracle-scale data only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .text import tokens_col


def split_assign(docs: DataFrame, val_pm: int = 50,
                 test_pm: int = 50) -> DataFrame:
    """(doc_id, split, bucket_pm): per-mille hash bucket from the first 8
    hex chars of md5(doc_id); buckets [0, test_pm) -> 'test',
    [test_pm, test_pm + val_pm) -> 'val', rest -> 'train'. Map-only,
    deterministic, engine-checkable (DuckDB twin does the same hex
    arithmetic)."""
    hex8 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    bucket = F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(1000))
    split = (F.when(bucket < test_pm, "test")
             .when(bucket < test_pm + val_pm, "val")
             .otherwise("train"))
    return docs.select("doc_id", split.alias("split"),
                       bucket.cast("long").alias("bucket_pm"))


def select_token_budget(docs: DataFrame, budget: int = 2000,
                        stratum: str = "lang") -> DataFrame:
    """Budgeted corpus selection: per stratum, keep documents in
    deterministic doc_id order while the stratum's RUNNING token total
    stays within ``budget`` — the 'fill each language's token quota'
    step of a training-mix assembly. A doc is kept iff the cumulative
    count INCLUDING it is <= budget (prefix-greedy, order-deterministic
    so the oracle reproduces it exactly).

    Scale shape: one hash exchange on the stratum carries the single
    cumulative-sum window; no global sort, no collect. Skewed strata
    are bounded by the budget itself — the window scan can stop
    mattering after ~budget tokens but stays a linear pass; for
    pathological mega-strata pre-filter with a per-doc cap first.
    Returns (doc_id, stratum, n_tokens, cum_tokens) for kept docs."""
    from propertygraph_spark.ops.text import tokens_col
    d = docs.select("doc_id", F.col(stratum).alias("stratum"),
                    F.size(tokens_col()).cast("long").alias("n_tokens"))
    w = Window.partitionBy("stratum").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # unbounded kept set: no terminal orderBy (VERDICT r4 #3)
    return (d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= budget))


def pack_sequences(docs: DataFrame, budget: int = 256,
                   shard_by: list | None = None,
                   allow_global: bool = False) -> DataFrame:
    """(doc_id, n_tokens, bin_id, offset_in_bin [, *shard_by]): documents
    packed into ~``budget``-token bins in doc_id order. bin_id =
    floor(exclusive cumulative tokens / budget) — the standard streaming
    packing: bin boundaries land wherever the running total crosses a
    budget multiple, so bins hold ~budget tokens (an oversized doc spans
    bins by itself). ONE window cumsum; no Python.

    SAFE BY DEFAULT: without ``shard_by`` a global pack is a
    single-partition sort — every row through ONE task, a silent
    scale-killer at corpus size — so it must be opted into explicitly
    with ``allow_global=True`` (the oracle/driver-friendly path). At
    corpus scale pass the shard columns (e.g. ["split"] or a bucket
    column): each shard packs independently in parallel and bin_id is
    per-shard."""
    if not shard_by and not allow_global:
        raise ValueError(
            "pack_sequences without shard_by is a global single-partition "
            "sort; pass shard_by=[...] (corpus-scale path) or opt in "
            "explicitly with allow_global=True (small data only)")
    base = Window.partitionBy(*shard_by) if shard_by else Window
    w = base.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    cols = ["doc_id"] + list(shard_by or [])
    d = docs.select(*cols,
                    F.size(tokens_col()).cast("long").alias("n_tokens"))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (d.withColumn("cum_before", cum_before)
            .select(*cols, "n_tokens",
                    F.floor(F.col("cum_before") / budget).cast("long")
                    .alias("bin_id"),
                    F.pmod(F.col("cum_before"), F.lit(budget)).cast("long")
                    .alias("offset_in_bin")))


def sample_stratified(docs: DataFrame, strata: str = "lang",
                      rate_pm: int = 250) -> DataFrame:
    """Deterministic stratified sampling: keep ~rate_pm per-mille of each
    stratum, membership decided by the doc's md5 per-mille bucket (the
    split_assign arithmetic) — a pure function of doc_id: map-only, no
    shuffle, stable across runs/engines/cluster sizes, and composable
    with split_assign (independent choice of hash salt via the 'smp|'
    prefix). Returns the kept rows with their stratum + bucket."""
    hex8 = F.substring(
        F.md5(F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))), 1, 8)
    bucket = F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(1000))
    # unbounded sample: no terminal orderBy (VERDICT r4 #3)
    return (docs.select("doc_id", F.col(strata).alias("stratum"),
                        bucket.cast("long").alias("sample_pm"))
            .filter(F.col("sample_pm") < rate_pm))


def sample_balanced(docs: DataFrame, strata: str = "lang",
                    per_stratum: int = 50,
                    pre_partitions: int = 64) -> DataFrame:
    """Balanced quota sampling: exactly min(N, |stratum|) docs per
    stratum, chosen by deterministic hash order (md5 of doc_id) — the
    standard fix for a skewed source/language mix.

    TWO-PHASE top-N so a mega-stratum never funnels through one task
    (a single Window.partitionBy(stratum) would put a 10^11-doc stratum
    in ONE sort): phase 1 ranks within (stratum, hash-sub-partition) and
    keeps N per sub-partition — every sub-group is a bounded share of
    the stratum; phase 2 ranks the surviving pre_partitions x N rows per
    stratum (tiny). Winners are identical: the global top-N by (h,
    doc_id) are each top-N within their own sub-partition."""
    h = F.md5(F.concat(F.lit("bal|"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", F.col(strata).alias("stratum"),
                        h.alias("h"))
    sub = F.pmod(F.xxhash64("doc_id"), F.lit(pre_partitions))
    w1 = Window.partitionBy("stratum", "sub").orderBy("h", "doc_id")
    pre = (keyed.withColumn("sub", sub)
           .withColumn("prk", F.row_number().over(w1))
           .filter(F.col("prk") <= per_stratum))
    w2 = Window.partitionBy("stratum").orderBy("h", "doc_id")
    return (pre.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= per_stratum)
            .select("doc_id", "stratum",
                    F.col("rk").cast("long").alias("rk")))


PIVOT_SOURCES = tuple(f"src{i}" for i in range(20))


def pivot_lang_source(docs: DataFrame,
                      sources: tuple = PIVOT_SOURCES) -> DataFrame:
    """lang x source contingency table via ``pivot`` with an EXPLICIT
    value list — the deterministic-schema form (value discovery would
    add a separate distinct job and make the schema data-dependent).
    Catalyst rewrites the pivot into one pass of conditional aggregates:
    map-side partials, one exchange, |langs| result rows. Empty cells
    coalesce to 0 so the table is dense."""
    piv = docs.groupBy("lang").pivot("source", list(sources)).count()
    cols = [F.coalesce(F.col(f"`{s}`"), F.lit(0)).cast("long").alias(s)
            for s in sources]
    return piv.select("lang", *cols).orderBy("lang")


def corpus_stats_cube(docs: DataFrame) -> DataFrame:
    """Corpus composition report over every (lang, source) roll-up level
    at once — ``CUBE(lang, source)``: per-cell doc and char counts plus
    the grouping bitmask (``gid``: bit 1 = lang rolled up, bit 0 =
    source rolled up, Spark's grouping_id == SQL GROUPING(lang,
    source)). Rolled-up dimensions render as '(all)'.

    Scale shape: a cube is ONE hash aggregate over the 4 grouping sets
    with map-side partial aggregation — Catalyst expands the sets
    before the exchange, so the shuffle carries only per-set partials,
    never the corpus. Output cardinality = |langs| x |sources| + |langs|
    + |sources| + 1, tiny at any corpus size."""
    return (docs.cube("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("n_chars"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("lang", F.lit("(all)")).alias("lang"),
                    F.coalesce("source", F.lit("(all)")).alias("source"),
                    F.col("gid").cast("long").alias("gid"),
                    "n_docs", "n_chars")
            .orderBy("gid", "lang", "source"))


def mixture_sample(docs: DataFrame, strata: str = "lang") -> DataFrame:
    """Temperature-balanced mixture resampling (T=2), the standard
    multilingual/multi-source corpus rebalancing: kept counts per
    stratum are made proportional to sqrt(n_s) (upsampling temperature
    alpha = 1/T = 0.5) by keeping each stratum at per-mille rate

        rate_pm = least(1000, floor(1000 * sqrt(n_min) / sqrt(n_s)))

    normalized so the smallest stratum keeps everything (no replication
    needed). sqrt over integer-valued doubles is CORRECTLY ROUNDED by
    IEEE-754 (unlike pow/ln), and both engines evaluate the identical
    expression tree, so the rates are bit-identical cross-engine —
    this is why T=2 is the exposed default rather than a float
    ``alpha`` knob. Membership is the md5('mix|'+doc_id) per-mille
    bucket — a pure function of doc_id: stable across runs, engines
    and cluster sizes.

    Scale shape: one agg over |strata| groups (bounded — languages or
    sources, not documents), a 1-row global min crossJoined broadcast,
    the rate table broadcast-joined back onto the corpus, then a
    map-side filter. No window over document rows, no global sort."""
    counts = (docs.groupBy(F.col(strata).alias("stratum"))
              .agg(F.count("*").alias("n")))
    min_row = counts.agg(F.min("n").alias("min_n"))
    rates = (counts.crossJoin(F.broadcast(min_row))
             .select("stratum",
                     F.least(
                         F.lit(1000),
                         F.floor(F.lit(1000.0) * F.sqrt("min_n")
                                 / F.sqrt("n"))).cast("long")
                     .alias("rate_pm")))
    hex8 = F.substring(
        F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 8)
    bucket = F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(1000))
    return (docs.select("doc_id", F.col(strata).alias("stratum"),
                        bucket.cast("long").alias("sample_pm"))
            .join(F.broadcast(rates), "stratum")
            .filter(F.col("sample_pm") < F.col("rate_pm"))
            .select("doc_id", "stratum", "sample_pm", "rate_pm"))


def shuffle_shards(docs: DataFrame, n_shards: int = 16,
                   seed: str = "s0") -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    every doc gets an md5 sort key from (seed, doc_id), a shard from the
    key's low bits, and a position within its shard — together a stable
    pseudo-random permutation that any engine reproduces bit-for-bit
    (reshuffling = changing ``seed``; no RNG state, no collect).

    Scale shape: shard assignment is map-only; the within-shard
    row_number windows on the shard column, so each of the n_shards
    sorts runs where its rows live — no global single-partition sort.
    At 100 TB you'd raise n_shards to O(output files), keeping every
    per-shard sort memory-bounded."""
    key = F.md5(F.concat(F.lit(seed), F.lit(":"),
                         F.col("doc_id").cast("string")))
    shard = F.pmod(F.conv(F.substring(key, 1, 12), 16, 10).cast("long"),
                   F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (docs.select("doc_id", key.alias("shuffle_key"),
                        shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select("doc_id", "shard", "pos", "shuffle_key"))


def unimax_allocation(docs: DataFrame, budget_tokens: int = 20_000,
                      epoch_cap_pm: int = 3000,
                      stratum: str = "lang") -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): distribute a total token budget across
    languages as uniformly as possible, subject to a per-language epoch
    cap (no language is repeated more than ``epoch_cap_pm/1000``
    epochs). The published algorithm is a waterfill — visit languages
    by ascending corpus size; each takes min(cap, remaining/left) — and
    because both the caps and the equal share are monotone along that
    order, the capped set is exactly a PREFIX: with
    ``g(i) = cap_i * (L - i + 1) + cumcap_{i-1}`` (token-per-mille
    units), language i is capped iff ``g(i) <= budget_pm``, and every
    uncapped language gets the identical integer share
    ``(budget_pm - cumcap_t) div (L - t)``. That closed form replaces
    the sequential loop with two ordered windows over the BOUNDED
    per-language table, and its all-integer arithmetic is the DuckDB
    twin's arithmetic, bit for bit.

    Scale shape: one map-side-combined agg to |languages| rows; every
    window after that runs on the bounded table (a handful of rows at
    any corpus size — the 10^12 documents are touched exactly once, in
    the agg). Output (bounded, so the readable ordering is free):
    one row per language with its token count, allocation, capped flag
    and realized epochs in per-mille."""
    per = (docs.groupBy(F.col(stratum).alias("stratum"))
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.size(tokens_col()).cast("long")).alias("n_tokens")))
    b_pm = budget_tokens * 1000
    # ascending corpus-size order (stratum tiebreak: determinism)
    asc = Window.orderBy("n_tokens", "stratum")
    run = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = asc.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    d = (per.withColumn("cap_pm", F.col("n_tokens") * epoch_cap_pm)
         .withColumn("i", F.row_number().over(asc))
         .withColumn("nlang", F.count("*").over(full))
         .withColumn("cumcap_prev",
                     F.sum("cap_pm").over(run) - F.col("cap_pm"))
         .withColumn("capped",
                     (F.col("cap_pm") * (F.col("nlang") - F.col("i") + 1)
                      + F.col("cumcap_prev") <= F.lit(b_pm)).cast("int")))
    d = (d.withColumn("t", F.sum("capped").over(full))
         .withColumn("cumcap_t",
                     F.coalesce(F.sum(F.when(F.col("capped") == 1,
                                             F.col("cap_pm"))).over(full),
                                F.lit(0))))
    share = F.expr(f"({b_pm} - cumcap_t) div (nlang - t)")
    alloc_pm = F.when(F.col("capped") == 1, F.col("cap_pm")) \
                .otherwise(F.when(F.col("t") == F.col("nlang"), F.lit(0))
                           .otherwise(share))
    return (d.withColumn("alloc_pm", alloc_pm)
            .select("stratum", "n_docs", "n_tokens",
                    F.expr("alloc_pm div 1000").alias("alloc_tokens"),
                    F.expr("CASE WHEN n_tokens > 0 THEN alloc_pm div"
                           " n_tokens ELSE 0 END").alias("epochs_pm"),
                    F.col("capped").cast("long").alias("capped"))
            .orderBy("stratum"))


def dsir_sample(docs: DataFrame, target_lang: str = "en",
                n_buckets: int = 64, lam: int = 2) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how much its hashed-unigram distribution looks
    like a TARGET slice (here: ``lang == target_lang``) relative to the
    full corpus, then keep it with probability proportional to that
    importance weight — the standard way to tilt a raw crawl toward a
    high-quality / on-domain reference set without training a model.

    Integer-rational proxy (house rule — cross-engine bit-identical,
    same spirit as ``text.lm_bigram_fluency``): tokens hash into
    ``n_buckets`` feature buckets via the first 4 hex chars of md5;
    each bucket gets an add-one-smoothed target/source probability
    ratio in parts-per-million

        r_ppm(b) = floor((c_t(b)+1) * (N_s+V) * 1e6
                         / ((c_s(b)+1) * (N_t+V)))

    and a doc's importance is the mean r_ppm over its tokens (integer
    ``sum div count`` — monotone in DSIR's mean log-ratio for the
    decisions a threshold makes, and exactly reproducible in DuckDB).
    The resample keeps a doc iff its deterministic md5('dsir|'+doc_id)
    per-million draw satisfies draw_ppm * lam < importance_ppm, i.e.
    Bernoulli(min(1, w / (lam * 1e6))) with a pure-function-of-doc_id
    coin — stable across runs, engines and cluster sizes. Empty docs
    keep a row (importance 0, never kept) so row counts reconcile.

    Scale shape: both distribution estimates come from ONE
    map-side-combined explode+agg pass into ``n_buckets`` rows (bounded,
    independent of vocabulary and corpus size — that is DSIR's own
    trick; the corpus totals fold those 64 rows); the ratio table
    broadcast-joins back onto the exploded tokens; the only corpus-sized
    exchange is the per-doc groupBy(doc_id). The decimal
    product (c_t+1)*(N_s+V)*1e6 is exact to 10^38 — a 10^13-token
    corpus peaks near 10^32, inside decimal(38,0) range."""
    toks = tokens_col()
    ex = docs.select("doc_id", "lang", F.explode(toks).alias("tok"))
    bucket = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long"),
        F.lit(n_buckets))
    exb = ex.select("doc_id", "lang", bucket.alias("bucket"))
    # ONE explode+agg pass yields both per-bucket counts; the corpus
    # totals fold the resulting n_buckets rows (the stats exchange is
    # shared across both consumers — ReusedExchange under AQE)
    stats = exb.groupBy("bucket").agg(
        F.count("*").alias("c_s"),
        F.sum(F.when(F.col("lang") == target_lang, 1)
              .otherwise(0)).alias("c_t"))
    totals = stats.agg(F.sum("c_s").alias("n_s"),
                       F.sum("c_t").alias("n_t"))
    ratio = (stats.crossJoin(F.broadcast(totals))
             .select("bucket", F.expr(
                 f"CAST((CAST(c_t + 1 AS DECIMAL(38,0)) * (n_s + {n_buckets})"
                 f" * 1000000) DIV (CAST(c_s + 1 AS DECIMAL(38,0))"
                 f" * (n_t + {n_buckets})) AS BIGINT)").alias("r_ppm")))
    per_doc = (exb.join(F.broadcast(ratio), "bucket")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.expr("sum(r_ppm) div count(*)")
                    .alias("importance_ppm")))
    hex8 = F.substring(
        F.md5(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string"))),
        1, 8)
    draw = F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(1000000))
    # unbounded per-doc output: no terminal orderBy (VERDICT r4 #3)
    return (docs.select("doc_id", "lang")
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "lang",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("importance_ppm", F.lit(0))
                    .alias("importance_ppm"),
                    draw.alias("draw_ppm"))
            .withColumn("kept",
                        (F.col("draw_ppm") * lam
                         < F.col("importance_ppm")).cast("int")))


def priority_sample(docs: DataFrame, k: int = 25,
                    weight: str = "n_chars") -> DataFrame:
    """Weighted priority sampling (Duffield, Lund & Thorup 2007): each
    row draws a deterministic 48-bit uniform u = md5(doc_id)[0:12] and
    gets priority q = u div w (integer division by its weight); the
    bottom-k rows by (q, doc_id) are the sample. Heavier rows draw
    stochastically smaller priorities, so inclusion probability is
    proportional to weight — the PPS-without-replacement estimator the
    paper proves near-optimal — while staying a PURE function of
    doc_id: stable across runs, engines and cluster sizes.

    Scale shape: one TakeOrderedAndProject — each partition keeps its
    local bottom-k (O(k) state), the driver merges; NO shuffle of the
    corpus. This is the weighted counterpart of a reservoir sample at
    10^12 rows."""
    u48 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                             1, 12), 16, 10).cast("long")
    w = F.greatest(F.col(weight).cast("long"), F.lit(1))
    d = docs.select("doc_id", w.alias("weight"), u48.alias("u48"))
    d = d.withColumn("priority", F.expr("u48 div weight")).drop("u48")
    return d.orderBy("priority", "doc_id").limit(k)


def group_split(docs: DataFrame, group: str = "source", val_pm: int = 50,
                test_pm: int = 50) -> DataFrame:
    """Leakage-safe train/val/test assignment (the GroupKFold /
    group-shuffle-split policy every eval-hygiene pipeline needs): the
    split is a pure function of md5(GROUP), not of doc_id, so every
    document of a group — near-duplicates, shards of one crawl source,
    chapters of one book — lands in the SAME split and can never leak
    train data into eval. Same hash->per-mille-bucket arithmetic as
    split_assign (which remains the per-doc policy). Map-only, no
    shuffle, engine-checkable."""
    hex8 = F.substring(F.md5(F.col(group).cast("string")), 1, 8)
    bucket = F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(1000))
    split = (F.when(bucket < test_pm, "test")
             .when(bucket < test_pm + val_pm, "val")
             .otherwise("train"))
    return docs.select("doc_id", F.col(group).alias("group_key"),
                       split.alias("split"),
                       bucket.cast("long").alias("bucket_pm"))


def curriculum_order(docs: DataFrame, n_bins: int = 8) -> DataFrame:
    """Curriculum ordering (Bengio et al. 2009 applied to pretraining
    data): assign every document a quality bin (fixed-width over the
    corpus' observed quality-score range — easy/high-quality bins
    first) and a total-order sort key '<bin|md5(doc_id)>' that plays
    the curriculum: ascending key = descending quality bins with a
    deterministic intra-bin shuffle. Emitting a KEY instead of a
    materialized global row_number is deliberate — a rank would be one
    single-task window over the corpus; the key lets the write path
    lay the curriculum out with repartitionByRange(sort_key) (the same
    contract as the z-order op) at any scale.

    The two-pass shape (one 1-row min/max aggregate, then a map-only
    scan) is the engine's standard scalar-threshold pattern; bins are
    a pure function of (score, corpus min/max), so the result is
    partitioning- and engine-independent."""
    from .text import quality_score

    q = quality_score(docs).select("doc_id", "quality_score")
    row = q.agg(F.min("quality_score").alias("lo"),
                F.max("quality_score").alias("hi")).collect()[0]
    lo, hi = int(row["lo"]), int(row["hi"])
    span = max(hi - lo + 1, 1)
    # bin 0 = HIGHEST quality (curriculum starts easy/clean)
    b = (F.lit(n_bins - 1)
         - F.expr(f"(quality_score - {lo}) * {n_bins} div {span}"))
    return (q.withColumn("bin", b.cast("long"))
            .withColumn("sort_key",
                        F.format_string("%02d|%s", F.col("bin"),
                                        F.md5(F.col("doc_id")
                                              .cast("string"))))
            .select("doc_id", F.col("quality_score").cast("long"),
                    "bin", "sort_key"))


def alpha_sample(docs: DataFrame, alpha_budget: int = 300,
                 stratum: str = "lang") -> DataFrame:
    """Temperature-scaled multilingual sampling (Conneau & Lample 2019;
    XLM-R's alpha-smoothed language distribution, alpha = 0.5): the
    sampling share of stratum s is sqrt(n_s) / sum_t sqrt(n_t), so
    low-resource strata are upsampled RELATIVE to proportional
    sampling while the head stratum still dominates absolutely. The
    per-doc keep probability that realizes an expected ``alpha_budget``
    docs is

        keep_ppm_s = min(1e6, alpha_budget * isqrt(n_s) * 1e6
                              div (sum_t isqrt(n_t) * n_s))

    and a doc keeps iff md5(doc_id)'s first-12-hex value mod 1e6 <
    keep_ppm_s — a pure function of doc_id, so the sample is stable
    across runs, engines and cluster sizes. isqrt is exact-integer
    (floor(sqrt(double)) + a +-1 correction CASE, valid far beyond any
    stratum count), so the whole rate computation is BIGINT on both
    engines.

    Returns the BOUNDED per-stratum allocation: (stratum, n_docs,
    isqrt_docs, keep_ppm, n_sampled).

    Scale shape: one map-side-combined count per stratum (bounded
    table), the rate arithmetic on that bounded table, one broadcast
    join back, one map-only coin + one bounded-key count — the corpus
    is scanned twice (count + coin), shuffled never."""
    per = docs.groupBy(F.col(stratum).alias("stratum")) \
              .agg(F.count("*").alias("n_docs"))
    s0 = F.expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)")
    isq = (F.when((s0 + 1) * (s0 + 1) <= F.col("n_docs"), s0 + 1)
           .when(s0 * s0 > F.col("n_docs"), s0 - 1).otherwise(s0))
    per = per.withColumn("isqrt_docs", isq.cast("long"))
    tot = per.agg(F.sum("isqrt_docs").alias("t")).collect()[0]["t"]
    # an empty corpus has no strata (sum is NULL): the rate expression
    # then runs over no rows and the allocation table comes back empty
    keep = F.least(
        F.lit(1_000_000).cast("long"),
        F.expr(f"{alpha_budget} * isqrt_docs * 1000000"
               f" div ({int(tot or 1)} * n_docs)"))
    per = per.withColumn("keep_ppm", keep.cast("long"))
    coin = F.pmod(F.conv(F.substring(F.md5(F.col("doc_id")
                                           .cast("string")), 1, 12),
                         16, 10).cast("long"), F.lit(1_000_000))
    kept = (docs.select("doc_id", F.col(stratum).alias("stratum"))
            .join(F.broadcast(per), "stratum")
            .filter(coin < F.col("keep_ppm"))
            .groupBy("stratum").agg(F.count("*").alias("n_sampled")))
    return (per.join(kept, "stratum", "left")
            .select("stratum", "n_docs", "isqrt_docs", "keep_ppm",
                    F.coalesce("n_sampled", F.lit(0)).cast("long")
                    .alias("n_sampled"))
            .orderBy("stratum"))
