"""Physical-plan audits: assert the plans Catalyst produces are the ones
we designed for 100 TB — filters reach the parquet scan, projections are
pruned, small dims broadcast, aggregates have map-side partials, windows
share one exchange. These are the `.explain("formatted")` checks the
task brief demands, frozen as tests so a regression in plan shape fails
CI, not a production run.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from propertygraph_spark.ops import dedup, relational, text
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_q1_pushdown_and_partial_agg(spark):
    p = plan(relational.pricing_summary(spark, SF))
    # filter reaches the parquet scan
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]
    # two-phase aggregation: partial before the exchange, final after
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p
    # projection pruned to the referenced columns only
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema


def test_q3_broadcasts_customer(spark):
    p = plan(relational.top_unshipped_orders(spark, SF))
    assert "BroadcastHashJoin" in p
    # top-10 handled by TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in p


def test_q5_broadcasts_all_dims(spark):
    p = plan(relational.local_supplier_volume(spark, SF))
    # supplier, customer, nation+region all broadcast
    assert p.count("BroadcastHashJoin") >= 3


def test_token_stats_prunes_scan(docs):
    p = plan(text.token_stats(docs))
    read_schema = p.split("ReadSchema")[1][:300]
    assert "text" in read_schema
    # untouched columns never leave the scan
    assert "lang" not in read_schema and "source" not in read_schema


def test_exact_dedup_partial_agg(docs):
    p = plan(dedup.exact_duplicates(docs))
    assert "partial_count" in p and "partial_min" in p
    # shuffle key is the md5 grouping expression, never the full text
    exchange = p.split("hashpartitioning(")[1][:60]
    assert "_groupingexpression" in exchange or "md5" in exchange
    assert "text" not in exchange


def test_sessions_share_one_exchange(spark):
    """lag-window, running-sum window and the (user_id, session_seq)
    groupBy must all ride ONE hashpartitioning(user_id) exchange —
    hashpartitioning(user_id) satisfies the agg's ClusteredDistribution,
    so Catalyst plans partial+final HashAggregate with no re-shuffle.
    The only other exchange is the final orderBy's rangepartitioning."""
    p = plan(relational.user_sessions(spark, SF))
    assert p.count("hashpartitioning(user_id") == 1, p
    assert p.count("rangepartitioning(") == 1, p


def test_kernel_stage_is_map_only(spark, docs):
    """No exchange between the corpus scan and the Arrow kernel."""
    from propertygraph_spark.ops.kgdocs import docs_with_spans
    from propertygraph_spark.pipeline.extract import extract_docs
    p = plan(extract_docs(docs_with_spans(docs), route=False))
    assert "Exchange" not in p
    assert "MapInArrow" in p or "ArrowEvalPython" in p or "MapInPandas" in p


def test_minhash_single_signature_pass(docs):
    """The banded LSH plan must aggregate the shingle table ONCE (one
    pair of partial/final aggregates for the 16 min-hashes), not once per
    band — banding is a Generate (explode) after the aggregation, and the
    whole pipeline needs only 3 exchanges: shingle distinct (whose
    (doc_id, shingle) partitioning also satisfies the doc_id signature
    agg), (band,bucket) windowing, the explicit chunk-pair-group
    repartition (load-bearing for hot-bucket parallelism — see
    _bucket_pairs_chunked), and the final pair count. The chunked
    expansion must NOT replan the signature aggregation (a bucket-keyed
    self-join would: 3x partial_min)."""
    p = plan(dedup.minhash_lsh_pairs(docs))
    import re
    assert p.count("hashpartitioning(") <= 4, p
    # formatted mode lists each node twice (tree + details section)
    # shingles, bands, chunk-pair keys, pairs
    assert len(re.findall(r"\(\d+\) Generate", p)) == 4
    # ONE partial aggregation node computes all 16 min-hashes (16
    # partial_min functions, not 16 aggregation passes)
    assert p.count("partial_min") == 16


def test_range_join_is_not_cartesian(spark):
    """The banded range join must plan as an equi-join on (user, bin
    window) — never BroadcastNestedLoopJoin/CartesianProduct, which is
    what a naive inequality-only join degenerates to."""
    p = plan(relational.events_range_join(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_range_join_bin_is_equi_key(spark):
    """bin must be a JOIN KEY, not a post-match filter: a user_id-only
    key materializes O(n_user^2) pairs per user before filtering (a
    10^6-event user = one never-finishing join group at corpus scale).
    Both join-key lists must pair user_id WITH bin — whether the plan
    broadcasts (small SF) or shuffles (hashpartitioning would then
    cluster on (user_id, bin))."""
    import re
    p = plan(relational.events_range_join(spark, SF))
    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", p)
    assert keys, p
    for s in keys:
        assert "user_id" in s and "bin" in s, (s, p)
    # exploding to bin-1..bin+1 must appear as a Generate on ONE side
    assert re.search(r"explode\(array\(", p), p
    # the exact window predicate survives as the join condition
    assert "Join condition" in p and "abs(" in p


def test_q19_disjunctive_stays_equi_join(spark):
    """The OR block across both join sides must not degrade the partkey
    equi-join into a nested-loop/cartesian plan."""
    p = plan(relational.discounted_revenue(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_q10_take_ordered(spark):
    p = plan(relational.returned_item_customers(spark, SF))
    assert "TakeOrderedAndProject" in p
    # the o_orderdate range reaches the orders scan (several scans carry
    # PushedFilters sections; the orders one must list the date bounds)
    segs = p.split("PushedFilters")[1:]
    assert segs and any("o_orderdate" in s[:400] for s in segs)


def test_q22_anti_join(spark):
    p = plan(relational.idle_rich_customers(spark, SF))
    assert "LeftAnti" in p or "left_anti" in p.lower()


def test_asof_join_single_exchange(spark):
    """The as-of window formulation rides one user_id exchange."""
    p = plan(relational.asof_view_before_click(spark, SF))
    assert p.count("hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in p


def test_q18_take_ordered_no_cartesian(spark):
    """The HAVING side pre-aggregates before joining back; the final
    top-100 must plan as TakeOrderedAndProject, and the customer dim
    broadcasts."""
    p = plan(relational.large_quantity_orders(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_q16_anti_join_broadcasts(spark):
    """The negative-balance exclusion plans as a broadcast anti join;
    the size IN-list reaches the part scan as a pushed filter."""
    p = plan(relational.supplier_part_counts(spark, SF))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "In(p_size" in p  # pushed to the part parquet scan


def test_q9_dims_broadcast(spark):
    """supplier + nation broadcast; the only shuffle-joined pair is
    lineitem x orders."""
    import re
    p = plan(relational.nation_year_revenue(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
    # partial aggregation before the final group exchange
    assert re.search(r"HashAggregate .*partial", p, re.S) or \
        "partial_sum" in p


def test_q13_left_join_preserves_zero_customers(spark):
    """The left join must not degrade to inner (zero-order customers are
    the point of Q13)."""
    p = plan(relational.customer_order_counts(spark, SF))
    assert "LeftOuter" in p
    assert "CartesianProduct" not in p


def test_contamination_broadcasts_eval_set(spark, docs):
    """The eval n-gram side must broadcast (map-side probe at 100 TB);
    only the doc scan's text column is read."""
    from propertygraph_spark.ops import text as text_ops
    p = plan(text_ops.contamination_check(docs))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_fuzzy_vocab_equi_join_on_deletion_keys(spark, docs):
    """SymSpell candidates come from an equi-join on deletion keys —
    never a nested-loop cross join of the vocabulary."""
    from propertygraph_spark.ops import text as text_ops
    p = plan(text_ops.vocab_fuzzy_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # levenshtein verification happens AFTER the candidate join
    assert "levenshtein" in p


def test_sample_balanced_two_phase_windows(spark, docs):
    """Quota sampling must rank in (stratum, sub-partition) FIRST — a
    single stratum-keyed window would funnel a mega-stratum through one
    task. Both exchanges must appear, sub-keyed before stratum-keyed."""
    from propertygraph_spark.ops.dataset import sample_balanced
    d = docs.withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    p = plan(sample_balanced(d, per_stratum=5))
    import re
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    two_key = [s for s in keys if "stratum" in s and "sub" in s]
    one_key = [s for s in keys if "stratum" in s and "sub" not in s]
    assert two_key, p  # phase-1 sub-partitioned exchange present
    assert one_key, p  # phase-2 per-stratum exchange present


def test_triangle_count_joins_are_keyed_not_cartesian(spark):
    from propertygraph_spark.ops.graph import triangle_count
    edges = spark.createDataFrame(
        [("m", 1, 2), ("m", 2, 3), ("m", 1, 3)],
        "scope string, src long, dst long")
    # distributed wedge-join path (unbounded scopes)
    p = plan(triangle_count(edges, scope="scope", bounded_scopes=False))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # both joins carry (scope, node) equi-keys
    assert p.count("Join") >= 2
    # bounded-scope default: one scope exchange + a map stage, no joins
    p = plan(triangle_count(edges, scope="scope"))
    assert "MapInPandas" in p and "Join" not in p


def test_q2_window_shares_group_shuffle(spark):
    p = plan(relational.min_cost_supplier(spark, SF))
    # the per-part min window must hash on p_partkey (never a global sort)
    assert "hashpartitioning(p_partkey" in p
    assert "TakeOrderedAndProject" in p
    # dims broadcast; lineitem never broadcasts
    assert "BroadcastHashJoin" in p


def test_boilerplate_topn_is_take_ordered(spark, docs):
    p = plan(text.boilerplate_ngrams(docs))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p  # map-side combine before the shuffle


def test_shuffle_shards_windows_on_shard(spark, docs):
    from propertygraph_spark.ops.dataset import shuffle_shards
    p = plan(shuffle_shards(docs))
    # per-shard window: hash on shard, no single-partition global sort
    assert "hashpartitioning(shard" in p


def test_weekly_retention_equi_joins_on_user_and_week(spark):
    import re
    p = plan(relational.weekly_retention(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # the self-join must carry BOTH keys — user_id alone would regroup
    # every user's full history pairwise
    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", p)
    assert any("user_id" in k and "week" in k for k in keys), p


def test_top_events_per_user_two_phase_windows(spark):
    """Grouped top-k must rank in (user_id, sub) FIRST — a single
    user-keyed window funnels a mega-user through one sort task."""
    import re
    p = plan(relational.top_events_per_user(spark, SF))
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("user_id" in s and "sub" in s for s in keys), p
    assert any("user_id" in s and "sub" not in s for s in keys), p


def test_mixture_sample_broadcasts_rate_table(spark, docs):
    from propertygraph_spark.ops.dataset import mixture_sample
    p = plan(mixture_sample(docs))
    # the |strata|-sized rate table broadcasts onto the corpus side
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_salient_terms_window_partitions_by_doc(spark, docs):
    import re
    p = plan(text.salient_terms(docs))
    # per-doc top-k window hashes on doc_id; tf agg has map-side partials
    assert "hashpartitioning(doc_id" in p
    assert "partial_count" in p
    # the vocabulary join must carry the anti-skew salt as a key —
    # token alone puts every stopword's tf rows on one reducer
    keys = re.findall(r"keys \[\d+\]: \[([^\]]*)\]", p)
    assert any("token" in s and "salt" in s for s in keys), p


def test_bfs_levels_joins_are_scoped(spark):
    from propertygraph_spark.ops.graph import bfs_levels
    edges = spark.createDataFrame(
        [("m", 1, 2), ("m", 2, 3), ("n", 1, 2)],
        "scope string, src long, dst long")
    p = plan(bfs_levels(edges, scope="scope", max_iter=2,
                        bounded_scopes=False))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # bounded-scope default: one scope exchange + a map stage, no joins
    p = plan(bfs_levels(edges, scope="scope"))
    assert "MapInPandas" in p and "Join" not in p


def test_scoped_fastpath_plans_single_exchange(spark):
    """Every bounded-scope fast path is exactly ONE scope-hash exchange
    feeding a MapInPandas — no joins, no iterative barrier rounds."""
    from propertygraph_spark.ops.graph import (kcore_nodes, pagerank_int,
                                               transitive_closure)
    edges = spark.createDataFrame(
        [("m", 1, 2), ("m", 2, 3), ("n", 1, 2)],
        "scope string, src long, dst long")
    for fn in (transitive_closure, pagerank_int, kcore_nodes):
        p = plan(fn(edges, scope="scope"))
        assert "MapInPandas" in p and "Join" not in p, (fn.__name__, p)
        # formatted mode lists each node twice (tree + detail section)
        assert p.count("hashpartitioning") == 1, (fn.__name__, p)
        # the scope sort that makes scopes contiguous for the streaming
        # kernel is partition-LOCAL (spillable, no second exchange)
        assert "rangepartitioning" not in p, (fn.__name__, p)


def test_corpus_cube_single_exchange_with_partials(spark, docs):
    from propertygraph_spark.ops.dataset import corpus_stats_cube
    p = plan(corpus_stats_cube(docs))
    # grouping sets expand BEFORE one partial-agg + one exchange
    assert "Expand" in p
    assert "partial_count" in p
    assert p.count("Exchange hashpartitioning") <= 2  # agg + final sort


def test_decontaminate_anti_join_is_keyed(spark, docs):
    from propertygraph_spark.ops.text import decontaminate
    p = plan(decontaminate(docs))
    assert "CartesianProduct" not in p
    # the eval n-gram probe broadcasts; the flag anti-join is on doc_id
    assert "BroadcastHashJoin" in p
    assert "LeftAnti" in p


def test_substring_dup_spans_plan_is_shingle_keyed(spark, docs):
    """r4 substring marking: no cartesian anywhere, no per-pair arrays
    (collect_list), joins keyed on the shingle / doc_id."""
    from propertygraph_spark.ops.dedup import substring_dup_spans
    p = plan(substring_dup_spans(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "collect_list" not in p
    assert "partial_count" in p  # df + cover counts aggregate map-side


def test_unbounded_outputs_have_no_terminal_global_sort(spark, docs):
    """VERDICT r4 #3: per-doc (unbounded) outputs must not end in a
    global Sort — it existed only to canonicalize oracle order, which
    the driver's hash compare never needed, and it is a pointless total
    exchange at 10^12 rows. Top-k/windowed ops keep their SEMANTIC
    sorts (window-local, rangepartitioning-free tails checked here)."""
    from propertygraph_spark.ops.dataset import (dsir_sample,
                                                 mixture_sample,
                                                 sample_balanced,
                                                 sample_stratified,
                                                 select_token_budget)
    from propertygraph_spark.ops.dedup import (dedup_clusters,
                                               substring_dup_spans)
    from propertygraph_spark.ops.text import (contamination_check,
                                              decontaminate,
                                              repetition_ratio)
    unbounded = [substring_dup_spans(docs), dedup_clusters(docs),
                 decontaminate(docs), contamination_check(docs),
                 repetition_ratio(docs), sample_stratified(docs),
                 mixture_sample(docs), select_token_budget(docs),
                 sample_balanced(docs), dsir_sample(docs)]
    for df in unbounded:
        p = plan(df)
        # a terminal global orderBy compiles to Exchange rangepartitioning
        assert "rangepartitioning" not in p, p[:800]


def test_token_budget_single_stratum_exchange(spark, docs):
    """r4 budgeted selection: ONE hashpartitioning(stratum) exchange
    carries the cumulative window — never a single-partition window.
    (A literal stratum column would be constant-folded out of the
    window partitioning, so the probe input must vary it.)"""
    from propertygraph_spark.ops.dataset import select_token_budget
    d = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de"))
    p = plan(select_token_budget(d))
    assert "hashpartitioning(stratum" in p
    # the only window runs over the stratum partitioning (formatted
    # mode prints each node once in the tree and once as a "(n) Window"
    # detail header — count the headers)
    assert p.count(") Window") == 1


def test_bpe_pairs_aggregates_before_explode(spark, docs):
    """r4 BPE scoring: the pair explode runs over the AGGREGATED word
    table (partial_count proves map-side vocab agg feeds it) and the
    top-N lands via TakeOrderedAndProject, never a global sort."""
    from propertygraph_spark.ops.text import bpe_pair_counts
    p = plan(bpe_pair_counts(docs))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p   # word-freq agg is map-side partial
    assert "partial_sum" in p     # pair counts aggregate map-side too
    assert "explode" in p


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """The brief's co-location story, demonstrated end to end: two
    tables bucketed AND sorted on the join key produce a SortMergeJoin
    with NO Exchange and NO Sort on either side — the plan a nightly
    pipeline relies on when a fact table is re-joined daily. (Broadcast
    is disabled for the assertion: it would otherwise win at this toy
    size and hide the bucketing.)"""
    wh = str(tmp_path_factory.mktemp("warehouse"))
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_status"))
    items = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("l_orderkey"),
        (F.col("id") % 13).alias("l_qty"))
    for name, df, key in [("b_orders", orders, "o_orderkey"),
                          ("b_items", items, "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.format("parquet").option("path", f"{wh}/{name}")
         .bucketBy(8, key).sortBy(key).saveAsTable(name))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (spark.table("b_orders")
                  .join(spark.table("b_items"),
                        F.col("o_orderkey") == F.col("l_orderkey"))
                  .groupBy("o_status").agg(F.sum("l_qty").alias("q")))
        p = plan(joined)
        assert "SortMergeJoin" in p, p
        # bucketing replaces the shuffle: no exchange below the join
        assert "Exchange hashpartitioning(o_orderkey" not in p, p
        assert "Exchange hashpartitioning(l_orderkey" not in p, p
        assert joined.count() == 7
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_rolling_sum_single_user_exchange(spark):
    p = plan(relational.events_rolling_sum(spark, SF))
    # the RANGE window rides one user_id exchange; final orderBy ranges
    assert p.count("hashpartitioning(user_id") == 1, p


def test_event_transitions_one_exchange_then_agg(spark):
    p = plan(relational.event_transitions(spark, SF))
    # lead window rides one user_id exchange; bigram agg has partials
    assert p.count("hashpartitioning(user_id") == 1, p
    assert "partial_count" in p


def test_pivot_is_single_conditional_agg(spark, docs):
    from propertygraph_spark.ops.dataset import pivot_lang_source
    p = plan(pivot_lang_source(docs))
    # pivot rewrites to conditional aggregates: one partial/final pair,
    # never a per-source pass or a join
    assert "partial_count" in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning(lang") <= 1


def test_json_props_extraction_stays_jvm_side(spark):
    p = plan(relational.events_json_props(spark, SF))
    # get_json_object runs in codegen — no Python evaluation node
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_count" in p  # map-side partials under the agg


def test_ivfpq_topk_single_cell_exchange_no_joins(spark):
    """IVF-PQ ADC top-k (the 10^12-vector layout): the whole query is
    encode (map-only Arrow pass) -> ONE hashpartitioning(cell) exchange
    -> per-cell ADC kernel. No joins, no second shuffle — the index's
    codes ride the same rows as the queries."""
    from propertygraph_spark.ops import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for fn in (similarity.ann_ivfpq_topk,
               similarity.ann_ivfpq_refine_topk):
        p = plan(fn(emb, k=5))
        assert "MapInPandas" in p              # encode pass
        assert "FlatMapGroupsInPandas" in p    # per-cell ADC (+refine)
        assert "Join" not in p
        assert p.count("hashpartitioning(cell") == 1, p


def test_packed_linking_is_map_only(spark):
    """Entity linking: one broadcast hash join + an in-row argmax
    fold — the 10^12-row mention table must NOT shuffle (a max_by
    aggregation would pay a full occurrence-keyed exchange), and
    since the dictionary is packed on
    the driver, no exchange at all besides the broadcast of that
    LocalRelation: no groupBy over the dictionary stays in the plan."""
    import re

    from propertygraph_spark.pipeline.linking import (
        link_mentions, packed_symbol_dictionary)
    mentions = spark.createDataFrame(
        [("d1", "m0", 1, "String", "call_site", "String()")],
        "doc_id string, method_id string, node_id long, mention string,"
        " kind string, candidate string")
    p = plan(link_mentions(mentions, packed_symbol_dictionary(spark, 200)))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastExchange" in p and "LocalTableScan" in p
    assert not re.search(r"\bExchange\b", p), p       # no shuffle
    assert "HashAggregate" not in p and "hashpartitioning" not in p, p


def test_dsir_sample_broadcast_ratio_single_doc_exchange(spark, docs):
    """DSIR: the 64-row ratio table must BROADCAST onto the exploded
    tokens (never shuffle the corpus on bucket), the target-slice filter
    must reach the parquet scan, and the only corpus-sized exchange is
    the per-doc aggregation."""
    from propertygraph_spark.ops.dataset import dsir_sample
    p = plan(dsir_sample(docs))
    assert "BroadcastHashJoin" in p
    # BOTH distribution estimates ride ONE conditional partial agg over
    # a single token explode (no second lang-filtered corpus pass)
    assert "partial_sum(CASE WHEN" in p and "partial_count" in p
    # corpus-sized exchanges: per-doc agg + the final doc_id join side;
    # bucket-keyed exchanges are 64-row agg partials, never the corpus
    assert "Exchange hashpartitioning(tok" not in p
    assert "rangepartitioning" not in p


def test_latest_state_single_exchange_partial_maxby(spark):
    """events_latest_state: ONE hash exchange on the group key with the
    max_by reduced map-side (partial_max_by before the exchange) — the
    compaction must stay a single-shuffle agg, never a window sort."""
    from propertygraph_spark.ops.relational import events_latest_state
    p = plan(events_latest_state(spark, SF))
    assert p.count("hashpartitioning(") == 1
    assert "hashpartitioning(user_id" in p
    assert "partial_max_by" in p
    # partition-local SortAggregate sorts are fine; a Window or a global
    # range exchange would not be
    assert "Window" not in p and "rangepartitioning" not in p


def test_scc_and_dominator_fastpaths_are_one_exchange_map(spark):
    """Bounded-scope SCC and dominator-tree must compile to exactly one
    scope-hash exchange feeding a MapInPandas — no joins, no per-round
    barriers (the distributed twins are the unbounded-graph path)."""
    from propertygraph_spark.ops.graph import (dag_layers, dominator_tree,
                                               strongly_connected_components)
    edges = spark.createDataFrame(
        [("m", 1, 2), ("m", 2, 3), ("m", 3, 1)],
        "scope string, src long, dst long")
    for fn in (strongly_connected_components, dominator_tree, dag_layers):
        p = plan(fn(edges, scope="scope"))
        assert "MapInPandas" in p and "Join" not in p, p
        assert p.count("hashpartitioning(") == 1, p


def test_gopher_repetition_is_exchange_free(spark):
    """All five Gopher repetition metrics ride the map-only sorted-array
    run-length aggregates — a corpus scan with ZERO exchanges."""
    from propertygraph_spark.ops.text import gopher_repetition
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    p = plan(gopher_repetition(df))
    assert "Exchange" not in p, p


def test_events_anomaly_single_exchange(spark):
    """Minutely pre-agg (map-side combined) + the ROWS frame must share
    ONE hashpartitioning(event_type) exchange."""
    p = plan(relational.events_anomaly(spark, SF))
    assert p.count("hashpartitioning(event_type") >= 1
    # no second data exchange beyond the event_type hash + terminal sort
    assert p.count("hashpartitioning(") <= 2, p


def test_bloom_semijoin_word_lookups_broadcast(spark):
    """The k=3 bit-word lookups must be BroadcastHashJoins (the filter
    is 16 rows — bytes on the wire); the probe side must never shuffle
    for them."""
    p = plan(relational.bloom_semijoin(spark, SF))
    assert p.count("BroadcastHashJoin") >= 3, p


def test_gopher_quality_is_exchange_free(spark):
    """The Gopher quality battery is one whole-stage-codegen scan."""
    from propertygraph_spark.ops.text import gopher_quality
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    p = plan(gopher_quality(df))
    assert "Exchange" not in p, p


def test_priority_sample_is_take_ordered(spark):
    """Bottom-k by priority must be TakeOrderedAndProject (per-partition
    O(k) state + driver merge), not a global sort exchange."""
    from propertygraph_spark.ops.dataset import priority_sample
    df = spark.createDataFrame([(1, 10)], "doc_id long, n_chars long")
    p = plan(priority_sample(df, k=5))
    assert "TakeOrderedAndProject" in p, p


def test_language_mixture_is_exchange_free(spark):
    """Per-line langid + Gini is pure higher-order functions — a corpus
    scan with ZERO exchanges (r5s5) — AND the heavy line-label
    transform must stay in its own projection: each marker list's
    array_contains appears exactly ONCE in the physical plan. If
    CollapseProject ever re-inlines it per downstream reference the
    count jumps to ~6x (measured 16x slower)."""
    from propertygraph_spark.ops.text import LANG_MARKERS, language_mixture
    df = spark.createDataFrame([(1, "a b\nc d")], "doc_id long, text string")
    p = plan(language_mixture(df))
    assert "Exchange" not in p, p
    assert p.count("array_contains") == len(LANG_MARKERS), p


def test_bm25_topk_is_take_ordered_with_broadcasts(spark):
    """BM25's top-k must be TakeOrderedAndProject (never a global
    sort), and the bounded sides (per-term df, corpus stats) must
    broadcast — the corpus-sized side never shuffles for them."""
    df = spark.createDataFrame([(1, "q x")], "doc_id long, text string")
    p = plan(text.bm25_topk(df, ["q"]))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastExchange" in p, p


def test_rarity_buckets_salts_the_token_join(spark):
    """The vocabulary join key is skewed (stopwords), so the count side
    must be salted: the plan joins on (token, salt) — both columns in
    one hashpartitioning — and the corpus total is a broadcast."""
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    p = plan(text.rarity_buckets(df))
    assert "BroadcastExchange" in p, p
    import re
    joins = re.findall(r"hashpartitioning\(token[^)]*salt", p)
    assert joins, p


def test_eval_fuzzy_contamination_broadcasts_eval_side(spark):
    """The eval slice joins via BROADCAST on (band, bucket): the train
    side must not shuffle for the probe (no SortMergeJoin anywhere)."""
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    p = plan(dedup.eval_fuzzy_contamination(df))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_media_phash_pairs_single_equijoin_no_cartesian(spark):
    """The pHash pair search is ONE equi-join on (band, nib) — never a
    cartesian/broadcast-nested-loop over the corpus."""
    from propertygraph_spark.ops.multimodal import (media_phash_pairs,
                                                    synthesize_media)
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    p = plan(media_phash_pairs(synthesize_media(df)))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_r5s7_new_op_plan_shapes(spark):
    """Plan pins for the session-7 ops: betweenness's scoped fast path
    is one scope-hash exchange feeding a MapInPandas (no joins);
    mutual_knn joins the kNN edge table without any cartesian product;
    gram_int8 is one MapInPandas feeding a single (i,j) aggregate
    exchange with no joins anywhere."""
    from propertygraph_spark.ops.graph import betweenness_int
    from propertygraph_spark.ops.similarity import gram_int8, mutual_knn

    edges = spark.createDataFrame(
        [("m", 1, 2), ("m", 2, 3), ("n", 1, 2)],
        "scope string, src long, dst long")
    p = plan(betweenness_int(edges, scope="scope"))
    assert "MapInPandas" in p and "Join" not in p, p
    assert p.count("hashpartitioning") == 1, p

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>")
    p = plan(mutual_knn(emb, k=2))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p, p

    p = plan(gram_int8(emb))
    assert "MapInPandas" in p and "Join" not in p, p
    assert p.count("hashpartitioning") == 1, p


def test_neg_samples_joins_all_broadcast(spark):
    """kg_neg_samples: the vocabulary lookup and the true-edge
    anti-join (and everything in the linking stage feeding it) are
    broadcast joins — the corpus-sized side never shuffles for a
    join; the global row_number rides the bounded dictionary only
    (the single-partition WindowExec warning is the documented
    dictionary-sized exception)."""
    from propertygraph_spark.ops.kgdocs import negative_samples
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(negative_samples(docs))
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_grouping_sets_single_expand_one_exchange(spark):
    """GROUPING SETS plans as ONE Expand + two-phase hash aggregate
    over a single exchange — three aggregation levels for one shuffle."""
    from propertygraph_spark.ops.relational import events_grouping_sets
    p = plan(events_grouping_sets(spark, SF))
    assert "Expand" in p, p
    assert p.count("HashAggregate") >= 2 and "partial_count" in p, p
    assert p.count("Exchange") <= 2, p  # formatted lists tree + details


def test_r5s9_new_op_plan_shapes(spark, docs):
    """Plan pins for the session-9 ops: alpha_sample's rate table joins
    back by BROADCAST (the corpus never shuffles for a join — its only
    exchanges are the two bounded stratum aggregations); the BPE
    trainer's per-round argmax is a 1-row TakeOrderedAndProject over
    the vocab table, and the evolving state is a localCheckpoint scan
    (no corpus lineage replay inside the loop); audience overlap's
    corpus-side work is the register aggregation with map-side
    partials."""
    from propertygraph_spark.ops.dataset import alpha_sample
    from propertygraph_spark.ops.relational import audience_overlap_hll

    p = plan(alpha_sample(docs))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p

    p = plan(audience_overlap_hll(spark, SF))
    assert "partial_max" in p, p  # register agg combines map-side

    # BPE: the returned merge table is a driver-local bounded result;
    # pin the LOOP plan instead — pair argmax compiles to a 1-row
    # TakeOrderedAndProject over a localCheckpoint scan, so round R
    # never replays rounds 1..R-1 (nor the corpus groupBy)
    from propertygraph_spark.ops.text import bpe_train, tokens_col
    state = (docs.select(F.explode(tokens_col()).alias("word"))
             .groupBy("word").agg(F.count("*").alias("freq"))
             .withColumn("s", F.col("word")).localCheckpoint())
    syms = F.split(F.col("s"), "")
    d = state.select("freq", syms.alias("syms")).filter(F.size("syms") >= 2)
    pairs = d.select("freq", F.explode(F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(syms[i-1] AS lsym, syms[i] AS rsym))")).alias("p"))
    argmax = (pairs.groupBy(F.col("p.lsym").alias("lsym"),
                            F.col("p.rsym").alias("rsym"))
              .agg(F.sum("freq").alias("cnt"))
              .orderBy(F.desc("cnt"), "lsym", "rsym").limit(1))
    p = plan(argmax)
    assert "TakeOrderedAndProject" in p, p
    assert "Scan ExistingRDD" in p or "LocalTableScan" in p, p
    # sanity: the real trainer produces its 6 merges on this corpus
    assert bpe_train(docs, n_merges=2).count() == 2


def test_driver_held_tables_plan_as_local_relations(spark, tmp_path):
    """Tables the driver already holds (the driver-packed symbol
    dictionary, the corpus symbol table built on the driver from
    class_decl pairs, the driver-path CC map, empty-stage readers) must
    plan as an Arrow-backed LocalRelation: a PythonRDD / LogicalRDD
    source would start Python workers in a job of its own only to
    unpickle rows the driver already has — the fixed cost local_frame
    removes from every run_pipeline call. A silent fallback to
    createDataFrame(list) fails here."""
    from propertygraph_spark.pipeline.canonicalize import \
        connected_components
    from propertygraph_spark.pipeline.fixtures import DOCS_SCHEMA
    from propertygraph_spark.pipeline.linking import (
        SYMTAB_SCHEMA, packed_symbol_dictionary, symbol_table_rows)
    from propertygraph_spark.pipeline.materialize import (
        extract_incremental, write_stage_buckets)
    from propertygraph_spark.pipeline.session import local_frame

    rows = symbol_table_rows([("Text", "org.acme.Text"),
                              ("Util", "org.acme.Util"),
                              ("Text", "org.acme.Text"),
                              ("Gizmo", "p1.Gizmo"), ("Gizmo", "p2.Gizmo")])
    assert rows == [("Text", "org.acme.Text"), ("Util", "org.acme.Util")]
    symtab = local_frame(spark, rows, SYMTAB_SCHEMA)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "src long, dst long")
    empty = spark.createDataFrame([], "doc_id long, bucket long")
    no_docs = spark.createDataFrame([], DOCS_SCHEMA)
    tables = {
        "packed_dictionary": packed_symbol_dictionary(spark),
        "symbol_table": symtab,
        "cc_driver_path": connected_components(edges),
        "empty_bucket_stage": write_stage_buckets(
            empty, str(tmp_path / "stage"), {}, spark=spark),
        "empty_extract_stage": extract_incremental(
            spark, no_docs, str(tmp_path / "extracted"), n_buckets=4)[0],
    }
    for name, df in tables.items():
        p = plan(df, mode="extended")
        assert "LocalRelation" in p and "LocalTableScan" in p, (name, p)
        for src in ("PythonRDD", "LogicalRDD", "ExistingRDD"):
            assert src not in p, (name, p)
    assert sorted(map(tuple, tables["symbol_table"].collect())) == rows
    assert {(r["id"], r["component"])
            for r in tables["cc_driver_path"].collect()} == {
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
