"""Dataset assembly operators: deterministic split + sequence packing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from propertygraph_spark.ops.dataset import pack_sequences, split_assign


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(3 + i % 7)))
            for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_split_matches_md5_reference(docs):
    out = {r["doc_id"]: (r["split"], r["bucket_pm"])
           for r in split_assign(docs).collect()}
    assert len(out) == 200
    for d, (split, pm) in out.items():
        want_pm = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 1000
        assert pm == want_pm
        want = "test" if pm < 50 else ("val" if pm < 100 else "train")
        assert split == want
    # all three splits actually present on this fixture (deterministic:
    # md5 buckets of doc_ids 0..199 hit all three ranges) and train
    # dominates at 5%/5% rates
    by = {}
    for s, _ in out.values():
        by[s] = by.get(s, 0) + 1
    assert set(by) == {"train", "val", "test"}
    assert by["train"] > by["val"] and by["train"] > by["test"]


def test_split_is_stable_under_repartition(docs):
    a = {(r["doc_id"], r["split"])
         for r in split_assign(docs.repartition(7)).collect()}
    b = {(r["doc_id"], r["split"])
         for r in split_assign(docs.repartition(2)).collect()}
    assert a == b


def test_pack_sequences_bins_respect_budget(docs):
    budget = 16
    rows = sorted(pack_sequences(docs, budget=budget,
                                 allow_global=True).collect(),
                  key=lambda r: r["doc_id"])
    # exclusive cumsum invariants: offset = cum_before % budget,
    # bins advance monotonically, every bin's token total is within
    # budget + max_doc (streaming packing never splits a doc)
    cum = 0
    per_bin: dict = {}
    for r in rows:
        assert r["bin_id"] == cum // budget
        assert r["offset_in_bin"] == cum % budget
        per_bin[r["bin_id"]] = per_bin.get(r["bin_id"], 0) + r["n_tokens"]
        cum += r["n_tokens"]
    max_doc = max(r["n_tokens"] for r in rows)
    assert all(v <= budget + max_doc for v in per_bin.values())
    # bins are dense from 0
    assert set(per_bin) == set(range(max(per_bin) + 1))


def test_pack_sequences_global_requires_opt_in(docs):
    """The no-shard default is a single-partition sort — a silent
    scale-killer — so it must refuse unless explicitly opted into."""
    with pytest.raises(ValueError, match="shard_by"):
        pack_sequences(docs, budget=16)


def test_pack_sequences_per_shard(docs):
    """shard_by packs each shard independently (the corpus-scale path):
    per-shard results equal a global pack of that shard's docs alone."""
    sharded = split_assign(docs).join(docs, "doc_id") \
        .select("doc_id", "text", "split")
    out = pack_sequences(sharded, budget=16, shard_by=["split"]).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["split"], []).append(r)
    assert len(by_shard) == 3
    import pyspark.sql.functions as F  # noqa: N812
    for shard, rows in by_shard.items():
        solo = {r["doc_id"]: (r["bin_id"], r["offset_in_bin"])
                for r in pack_sequences(
                    sharded.filter(F.col("split") == shard),
                    budget=16, allow_global=True).collect()}
        got = {r["doc_id"]: (r["bin_id"], r["offset_in_bin"]) for r in rows}
        assert got == solo


def test_sample_stratified_is_deterministic_hash_filter(docs):
    import hashlib
    from propertygraph_spark.ops.dataset import sample_stratified
    d = docs.withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    out = {r["doc_id"]: r["sample_pm"]
           for r in sample_stratified(d, rate_pm=400).collect()}
    for i in range(200):
        pm = int(hashlib.md5(f"smp|{i}".encode()).hexdigest()[:8], 16) % 1000
        assert (i in out) == (pm < 400)
        if i in out:
            assert out[i] == pm


def test_sample_balanced_quota_per_stratum(docs):
    from propertygraph_spark.ops.dataset import sample_balanced
    d = docs.withColumn("lang", (F.col("doc_id") % 4).cast("string"))
    out = sample_balanced(d, per_stratum=10).collect()
    by = {}
    for r in out:
        by.setdefault(r["stratum"], []).append(r["rk"])
    assert set(by) == {"0", "1", "2", "3"}
    for ranks in by.values():
        assert sorted(ranks) == list(range(1, 11))
    # deterministic: same result on a different partitioning
    again = sample_balanced(d.repartition(7), per_stratum=10).collect()
    assert sorted((r["doc_id"], r["rk"]) for r in out) == \
           sorted((r["doc_id"], r["rk"]) for r in again)


def test_shuffle_shards_is_a_deterministic_permutation(spark, docs):
    from propertygraph_spark.ops.dataset import shuffle_shards
    a = shuffle_shards(docs, n_shards=4).collect()
    b = shuffle_shards(docs, n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # stable
    # every doc exactly once; per-shard positions are dense 1..n
    assert len({r["doc_id"] for r in a}) == len(a)
    by_shard: dict = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # a different seed reorders (permutation changes)
    c = shuffle_shards(docs, n_shards=4, seed="other").collect()
    key_a = {r["doc_id"]: (r["shard"], r["pos"]) for r in a}
    key_c = {r["doc_id"]: (r["shard"], r["pos"]) for r in c}
    assert key_a != key_c


def test_mixture_sample_rates_and_membership(spark):
    """Rates follow floor(1000*sqrt(n_min)/sqrt(n)) with the smallest
    stratum kept whole; membership is exactly the md5('mix|'+id)
    per-mille filter (host-replayed here with hashlib)."""
    import math

    from propertygraph_spark.ops.dataset import mixture_sample
    rows = []
    for i in range(200):
        lang = "a" if i < 140 else ("b" if i < 180 else "c")
        rows.append((i, "t", lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = mixture_sample(docs).collect()
    n = {"a": 140, "b": 40, "c": 20}
    want_rate = {s: min(1000, math.floor(1000.0 * math.sqrt(20)
                                         / math.sqrt(ns)))
                 for s, ns in n.items()}
    assert want_rate["c"] == 1000
    got_rate = {r["stratum"]: r["rate_pm"] for r in out}
    assert got_rate == want_rate
    kept = {r["doc_id"] for r in out}
    for i, _t, lang in rows:
        pm = int(hashlib.md5(f"mix|{i}".encode()).hexdigest()[:8], 16) % 1000
        assert (i in kept) == (pm < want_rate[lang]), (i, lang, pm)


def test_corpus_cube_levels(spark):
    from propertygraph_spark.ops.dataset import corpus_stats_cube
    rows = [(1, "a", "web", 10), (2, "a", "book", 20), (3, "b", "web", 5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long")
    out = {(r["lang"], r["source"]): (r["gid"], r["n_docs"], r["n_chars"])
           for r in corpus_stats_cube(docs).collect()}
    assert out[("(all)", "(all)")] == (3, 3, 35)      # grand total
    assert out[("a", "(all)")] == (1, 2, 30)          # source rolled up
    assert out[("(all)", "web")] == (2, 2, 15)        # lang rolled up
    assert out[("a", "web")] == (0, 1, 10)            # leaf cell
    assert len(out) == 3 + 2 + 2 + 1


def test_pivot_dense_counts(spark):
    from propertygraph_spark.ops.dataset import pivot_lang_source
    rows = [(1, "a", "src0"), (2, "a", "src0"), (3, "a", "src1"),
            (4, "b", "src19")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    out = {r["lang"]: r for r in pivot_lang_source(docs).collect()}
    assert out["a"]["src0"] == 2 and out["a"]["src1"] == 1
    assert out["a"]["src19"] == 0       # empty cell densified
    assert out["b"]["src19"] == 1 and out["b"]["src0"] == 0


def test_select_token_budget_prefix_greedy(spark):
    from propertygraph_spark.ops.dataset import select_token_budget
    rows = [(1, "en", "a b c"), (2, "en", "d e"), (3, "en", "f g h i"),
            (4, "de", "x y")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = [(r["doc_id"], r["stratum"], r["n_tokens"], r["cum_tokens"])
           for r in select_token_budget(docs, budget=5).collect()]
    # en: doc1 (3, cum 3) + doc2 (2, cum 5) fit; doc3 would hit 9 -> cut
    # de: doc4 (2, cum 2) fits
    assert got == [(4, "de", 2, 2), (1, "en", 3, 3), (2, "en", 2, 5)]


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from propertygraph_spark.ops.text import bpe_pair_counts
    docs = spark.createDataFrame(
        [(1, "aa ab aa"), (2, "aab x")], "doc_id long, text string")
    # word freqs: aa:2 ab:1 aab:1 x:1(len-1 skipped)
    # pair 'aa' = 2 (aa) + 1 (aab) = 3; 'ab' = 1 (ab) + 1 (aab) = 2
    got = [(r["rank"], r["pair"], r["n_occurrences"])
           for r in bpe_pair_counts(docs).collect()]
    assert got == [(1, "aa", 3), (2, "ab", 2)]


def _dsir_reference(rows, n_buckets=64, lam=2):
    """Pure-Python twin of dsir_sample's integer-rational arithmetic."""
    bucket = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:4],
                           16) % n_buckets
    toks = {d: (txt.split() if txt else []) for d, _, txt in rows}
    langs = {d: lg for d, lg, _ in rows}
    c_s, c_t, n_s, n_t = {}, {}, 0, 0
    for d, ts in toks.items():
        for t in ts:
            b = bucket(t)
            c_s[b] = c_s.get(b, 0) + 1
            n_s += 1
            if langs[d] == "en":
                c_t[b] = c_t.get(b, 0) + 1
                n_t += 1
    r_ppm = {b: ((c_t.get(b, 0) + 1) * (n_s + n_buckets) * 1000000)
             // ((cs + 1) * (n_t + n_buckets)) for b, cs in c_s.items()}
    out = {}
    for d, ts in toks.items():
        imp = (sum(r_ppm[bucket(t)] for t in ts) // len(ts)) if ts else 0
        draw = int(hashlib.md5(f"dsir|{d}".encode()).hexdigest()[:8],
                   16) % 1000000
        out[d] = (len(ts), imp, draw, int(draw * lam < imp))
    return out


def test_dsir_sample_matches_python_reference(spark):
    from propertygraph_spark.ops.dataset import dsir_sample
    rows = ([(i, "en", "the quick brown fox and the lazy dog") for i in
             range(8)]
            + [(100 + i, "de", "der schnelle braune fuchs und der hund")
               for i in range(4)]
            + [(200, "en", "der the mixed fox hund") , (201, "de", "")])
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    want = _dsir_reference(rows)
    got = {r["doc_id"]: (r["n_tokens"], r["importance_ppm"], r["draw_ppm"],
                         r["kept"]) for r in dsir_sample(docs).collect()}
    assert got == want
    # on-target (en-token) docs must score above the off-target docs
    assert got[0][1] > got[100][1]
    # empty doc keeps a row, never kept
    assert got[201] == (0, 0, want[201][2], 0)


def test_dsir_sample_stable_under_repartition(spark):
    from propertygraph_spark.ops.dataset import dsir_sample
    rows = [(i, "en" if i % 3 else "de",
             " ".join(f"w{(i * 7 + j) % 23}" for j in range(1 + i % 9)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    a = {tuple(r) for r in dsir_sample(docs.repartition(11)).collect()}
    b = {tuple(r) for r in dsir_sample(docs.repartition(3)).collect()}
    assert a == b and len(a) == 60


def _unimax_reference(lang_tokens, budget=20_000, e_pm=3000):
    """Sequential waterfill (the published UniMax loop) — the closed-form
    prefix implementation must reproduce it exactly."""
    b_pm = budget * 1000
    order = sorted(lang_tokens.items(), key=lambda kv: (kv[1], kv[0]))
    out, remaining = {}, b_pm
    for idx, (lang, n_tok) in enumerate(order):
        k = len(order) - idx
        cap = n_tok * e_pm
        # exact-rational compare: cap <= remaining / k
        alloc = cap if cap * k <= remaining else remaining // k
        out[lang] = alloc
        remaining -= alloc
    return {lang: (a // 1000,
                   (a // lang_tokens[lang]) if lang_tokens[lang] else 0)
            for lang, a in out.items()}


def test_unimax_matches_sequential_waterfill(spark):
    from propertygraph_spark.ops.dataset import unimax_allocation
    # 4 langs: tiny (capped), small (capped), medium, huge — budget binds
    rows = ([(i, "ga", "a b") for i in range(5)]
            + [(100 + i, "de", "a b c d") for i in range(50)]
            + [(1000 + i, "fr", " ".join("w" * 1 for _ in range(8)))
               for i in range(300)]
            + [(10000 + i, "en", " ".join(f"t{j}" for j in range(12)))
               for i in range(2000)])
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lang_tokens = {"ga": 10, "de": 200, "fr": 2400, "en": 24000}
    want = _unimax_reference(lang_tokens)
    got = {r["stratum"]: r for r in unimax_allocation(docs).collect()}
    assert set(got) == set(want)
    for lang, (alloc_tokens, epochs_pm) in want.items():
        assert got[lang]["alloc_tokens"] == alloc_tokens, lang
        assert got[lang]["epochs_pm"] == epochs_pm, lang
        assert got[lang]["n_tokens"] == lang_tokens[lang]
    # tiny langs hit the epoch cap (3 epochs), the huge lang shares budget
    assert got["ga"]["capped"] == 1 and got["ga"]["epochs_pm"] == 3000
    assert got["en"]["capped"] == 0 and got["en"]["epochs_pm"] < 3000
    # budget is respected: total allocation <= budget
    assert sum(r["alloc_tokens"] for r in got.values()) <= 20_000


def test_unimax_budget_exceeds_all_caps(spark):
    """When the budget dwarfs the corpus every language is capped at the
    epoch limit and part of the budget goes unused (t == L path)."""
    from propertygraph_spark.ops.dataset import unimax_allocation
    rows = [(1, "en", "a b c"), (2, "de", "x y")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["stratum"]: r for r in unimax_allocation(docs).collect()}
    assert all(r["capped"] == 1 and r["epochs_pm"] == 3000
               for r in got.values())
    assert got["en"]["alloc_tokens"] == 9 and got["de"]["alloc_tokens"] == 6


def test_leakage_safe_split_clusters_move_atomically(spark):
    """Near-duplicate docs must land in the SAME split: seed exact
    near-copies across many distinct base texts; every cluster has one
    split verdict, both splits are populated, and re-running is
    bit-identical."""
    from propertygraph_spark.ops.dedup import leakage_safe_split
    rows = []
    for i in range(40):
        base = f"alpha beta gamma delta epsilon zeta eta theta doc{i}"
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + " tail"))  # near-copy of its base
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # train_pm=700: with ~40 clusters the 90% default has a ~1%
    # deterministic chance of an all-train draw on this fixture
    out = leakage_safe_split(docs, train_pm=700)
    got = [(r["doc_id"], r["cluster_id"], r["split"])
           for r in out.collect()]
    assert len(got) == 80
    by_cluster: dict = {}
    for doc, cl, sp in got:
        by_cluster.setdefault(cl, set()).add(sp)
    assert all(len(v) == 1 for v in by_cluster.values())  # atomic
    # the near-copy pairs actually clustered together (not 80 singletons)
    assert len(by_cluster) < 80
    splits = {sp for _, _, sp in got}
    assert splits == {"train", "eval"}
    again = [(r["doc_id"], r["cluster_id"], r["split"])
             for r in leakage_safe_split(docs, train_pm=700).collect()]
    assert sorted(again) == sorted(got)


# ------------------------------------------------------- alpha sampling

def test_alpha_sample_upsamples_low_resource_strata(spark):
    from propertygraph_spark.ops.dataset import alpha_sample
    rows = ([(i, "x", "en") for i in range(900)]
            + [(1000 + i, "x", "fr") for i in range(100)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    out = {r["stratum"]: r for r in
           alpha_sample(docs, alpha_budget=300).collect()}
    assert set(out) == {"en", "fr"}
    en, fr = out["en"], out["fr"]
    # exact isqrt: 900 -> 30, 100 -> 10
    assert en["isqrt_docs"] == 30 and fr["isqrt_docs"] == 10
    # expected keep rates: 300 * r_s * 1e6 // (40 * n_s)
    assert en["keep_ppm"] == 300 * 30 * 1_000_000 // (40 * 900)
    assert fr["keep_ppm"] == 300 * 10 * 1_000_000 // (40 * 100)
    # temperature 0.5 upsamples the tail stratum RELATIVE to
    # proportional sampling: fr keep rate = 3x en keep rate
    assert fr["keep_ppm"] == 3 * en["keep_ppm"]
    # expected-count sanity: realized samples within a loose band of
    # n_s * keep_ppm (the md5 coin is uniform)
    for r in (en, fr):
        expect = r["n_docs"] * r["keep_ppm"] / 1_000_000
        assert 0.5 * expect <= r["n_sampled"] <= 1.6 * expect


def test_alpha_sample_empty_corpus(spark):
    """No docs -> no strata: an empty allocation table with the usual
    columns, not a TypeError from the NULL stratum sum."""
    from propertygraph_spark.ops.dataset import alpha_sample
    docs = spark.createDataFrame([], "doc_id long, text string, "
                                     "lang string")
    out = alpha_sample(docs)
    assert out.columns == ["stratum", "n_docs", "isqrt_docs", "keep_ppm",
                           "n_sampled"]
    assert out.collect() == []


def test_alpha_sample_caps_rate_and_is_deterministic(spark):
    from propertygraph_spark.ops.dataset import alpha_sample
    rows = [(i, "x", "en" if i % 10 else "fr") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    # budget >= corpus: every stratum saturates at 1e6 ppm and the
    # sample is the whole corpus
    out = {r["stratum"]: r for r in
           alpha_sample(docs, alpha_budget=5000).collect()}
    for r in out.values():
        assert r["keep_ppm"] == 1_000_000
        assert r["n_sampled"] == r["n_docs"]
    # stable under repartition (pure function of doc_id)
    a = sorted(map(tuple, alpha_sample(docs.repartition(7)).collect()))
    b = sorted(map(tuple, alpha_sample(docs.repartition(2)).collect()))
    assert a == b


def test_alpha_sample_isqrt_edges(spark):
    from propertygraph_spark.ops.dataset import alpha_sample
    # stratum sizes sitting exactly on/next to perfect squares exercise
    # the +-1 isqrt correction: 1, 2, 3, 4 docs
    rows = []
    did = 0
    for lang, n in (("a", 1), ("b", 2), ("c", 3), ("d", 4)):
        for _ in range(n):
            rows.append((did, "x", lang))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    out = {r["stratum"]: r["isqrt_docs"]
           for r in alpha_sample(docs, alpha_budget=1).collect()}
    assert out == {"a": 1, "b": 1, "c": 1, "d": 2}
