"""Structured Streaming tests: windowed event counts vs the batch twin,
and incremental KG extraction over a file-source stream."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from propertygraph_spark.streaming.events import (read_events_stream,
                                                  run_to_memory,
                                                  streaming_event_counts,
                                                  streaming_extract)

EVENTS = [
    (1, "2024-01-01 00:00:10", 1, "click", 1.0, "{}"),
    (2, "2024-01-01 00:00:40", 1, "click", 2.0, "{}"),
    (3, "2024-01-01 00:01:10", 2, "view", 3.0, "{}"),
    (4, "2024-01-01 00:01:30", 2, "click", 4.0, "{}"),
    (5, "2024-01-01 00:03:05", 1, "view", 5.0, "{}"),
]


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events") / "ev.parquet")
    df = spark.createDataFrame(
        EVENTS, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string") \
        .withColumn("ts", F.to_timestamp("ts"))
    df.repartition(3).write.parquet(path)  # several files -> several triggers
    return path


def test_streaming_counts_match_batch(spark, events_path):
    stream = read_events_stream(spark, events_path, max_files_per_trigger=1)
    counts = streaming_event_counts(stream)
    # complete mode: append would hold windows open until the watermark
    # passes them, which never happens on a finite 3-minute fixture
    q = run_to_memory(counts, "stream_counts", output_mode="complete")
    try:
        got = {(str(r["window_start"]), r["event_type"]):
               (r["n_events"], r["sum_value"])
               for r in spark.sql("select * from stream_counts").collect()}
    finally:
        q.stop()
    batch = (spark.read.parquet(events_path)
             .groupBy(F.date_trunc("minute", "ts").alias("m"), "event_type")
             .agg(F.count("*").alias("n"), F.sum("value").alias("s")))
    want = {(str(r["m"]), r["event_type"]): (r["n"], r["s"])
            for r in batch.collect()}
    assert got == want


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate text arriving in a LATER
    micro-batch (inside the watermark) must still be suppressed; distinct
    texts all pass. State holds md5 digests only."""
    from propertygraph_spark.streaming.events import streaming_dedup_docs
    src = str(tmp_path / "docs_in")
    os.makedirs(src)

    def write_batch(rows, name):
        df = spark.createDataFrame(
            rows, "doc_id long, ts string, text string") \
            .withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(f"{src}/{name}")

    write_batch([(1, "2024-01-01 00:00:01", "alpha beta"),
                 (2, "2024-01-01 00:00:02", "gamma delta")], "f1")
    write_batch([(3, "2024-01-01 00:00:03", "alpha beta"),   # dup of 1
                 (4, "2024-01-01 00:00:04", "epsilon")], "f2")
    schema = "doc_id long, ts timestamp, text string"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = run_to_memory(streaming_dedup_docs(stream), "dedup_stream",
                      output_mode="append")
    try:
        got = {r["doc_id"] for r in
               spark.sql("select * from dedup_stream").collect()}
    finally:
        q.stop()
    assert 3 not in got          # cross-batch duplicate suppressed
    assert {1, 2, 4} <= got      # distinct texts all pass


def test_streaming_extract_incremental(spark, tmp_path):
    from propertygraph_spark.ops.kgdocs import (TEMPLATE_TRIPLE_COUNTS,
                                                docs_with_spans)
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 10) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long")
    spans_path = str(tmp_path / "docs.parquet")
    docs_with_spans(docs).repartition(2).write.parquet(spans_path)

    stream = (spark.readStream
              .schema("doc_id string, spans array<struct<kind:string,"
                      "text:string,media_ref:string,offset:int>>")
              .option("maxFilesPerTrigger", 1)
              .parquet(spans_path))
    union = streaming_extract(stream)
    q = run_to_memory(union, "stream_kg", output_mode="append")
    try:
        triples = spark.sql(
            "select pred, count(*) as n from stream_kg"
            " where row_kind = 'triple' group by pred").collect()
    finally:
        q.stop()
    got = {r["pred"]: r["n"] for r in triples}
    exp: dict = {}
    for d in range(8):
        for pred, c in TEMPLATE_TRIPLE_COUNTS[d % 4].items():
            exp[pred] = exp.get(pred, 0) + c
    assert got == exp


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionization: completed sessions (gap
    observed in-stream) must match the batch sessionizer's output."""
    from propertygraph_spark.streaming.events import streaming_user_sessions
    rows = [
        # user 1: two sessions separated by a 2h gap
        (1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 00:10:00", 2.0),
        (3, "2024-01-01 02:30:00", 3.0),
        # user 2: one session, then a 1h gap, then one event
        (4, "2024-01-01 00:00:00", 4.0), (5, "2024-01-01 00:05:00", 5.0),
        (6, "2024-01-01 01:10:00", 6.0),
    ]
    path = str(tmp_path / "sess.parquet")
    df = spark.createDataFrame(
        [(i, ts, 1 if i <= 3 else 2, "e", v, "{}")
         for (i, ts, v) in rows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string") \
        .withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(path)

    from propertygraph_spark.streaming.events import (read_events_stream,
                                                      run_to_memory)
    stream = read_events_stream(spark, path)
    sessions = streaming_user_sessions(stream, gap_sec=1800)
    q = run_to_memory(sessions, "stateful_sessions", output_mode="append")
    try:
        got = {(r["user_id"], str(r["session_start"]), r["n_events"],
                r["sum_value"])
               for r in spark.sql("select * from stateful_sessions").collect()}
    finally:
        q.stop()
    # completed sessions only (the trailing open session per user stays
    # in state until a timeout that never fires under availableNow)
    assert (1, "2024-01-01 00:00:00", 2, 3.0) in got
    assert (2, "2024-01-01 00:00:00", 2, 9.0) in got


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late data beyond the watermark is dropped from append-mode state:
    feed batch 1 with fresh rows up to 01:00, then batch 2 with a row
    40 minutes older than the watermark — its window must emit WITHOUT
    the late row's contribution."""
    from propertygraph_spark.streaming.events import (read_events_stream,
                                                      streaming_event_counts)
    base = str(tmp_path / "wm")
    os.makedirs(base)
    schema = ("event_id long, ts string, user_id long, event_type string,"
              " value double, props string")

    def write_file(rows, name):
        spark.createDataFrame(rows, schema) \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.parquet(f"{base}/{name}")

    # batch 1 only on disk: window 00:00 gets one row; max ts 01:00 ->
    # watermark becomes 00:55 after this batch commits
    write_file([(1, "2024-01-01 00:00:10", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 01:00:00", 1, "click", 1.0, "{}")], "f1")

    stream = (spark.readStream.schema(schema.replace("ts string",
                                                     "ts timestamp"))
              .parquet(base + "/*"))
    counts = streaming_event_counts(stream, window="1 minute",
                                    watermark="5 minutes")
    q = (counts.writeStream.format("memory").queryName("wm_counts")
         .outputMode("append").start())
    q.processAllAvailable()  # batch 1 committed, watermark = 00:55
    # batch 2: a LATE row for window 00:00 (behind the watermark) plus a
    # fresh row far ahead that closes all earlier windows
    write_file([(3, "2024-01-01 00:00:20", 1, "click", 9.0, "{}"),
                (4, "2024-01-01 03:00:00", 1, "click", 1.0, "{}")], "f2")
    q.processAllAvailable()
    q.processAllAvailable()  # extra cycle: watermark advance -> emission
    q.stop()
    got = {str(r["window_start"]): r["n_events"]
           for r in spark.sql("select * from wm_counts").collect()}
    # the 00:00 window emitted with ONLY the on-time row (late row dropped)
    assert got.get("2024-01-01 00:00:00") == 1, got


def test_streaming_parquet_sink_exactly_once(spark, tmp_path):
    """Production sink pattern: checkpointed parquet writeStream. A
    restart with the same checkpointLocation must not duplicate rows,
    and newly arriving files are picked up where the last run left off."""
    from propertygraph_spark.ops.kgdocs import docs_with_spans
    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def write_docs(lo, hi, name):
        docs = spark.createDataFrame(
            [(i, f"text {i}", "en", "s", 10) for i in range(lo, hi)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long")
        docs_with_spans(docs).coalesce(1).write.parquet(f"{src_dir}/{name}")

    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src_dir + "/*"))
        from propertygraph_spark.streaming.events import streaming_extract
        q = (streaming_extract(stream)
             .filter("row_kind = 'triple'")
             .select("doc_id", "method_id", "subj", "pred", "obj", "label")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()

    write_docs(0, 4, "f1")
    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0
    # restart with no new data: nothing re-emitted
    run_once()
    assert spark.read.parquet(out_dir).count() == n1
    # new file arrives; restart processes ONLY the new docs
    write_docs(4, 6, "f2")
    run_once()
    out = spark.read.parquet(out_dir)
    assert out.count() > n1
    assert out.select("doc_id").distinct().count() == 6
    # exactly-once: the streamed total equals a one-shot batch extraction
    # over the same 6 docs. (A dropDuplicates proxy would be wrong: a
    # multi-operand infix legitimately emits the same ast_child edge
    # twice — the reference re-appends the SAME OperatorInfo per extended
    # operand, PEASTVisitor.java:673 — so identical rows CAN be correct.)
    from propertygraph_spark.pipeline.extract import extract_docs
    batch = (extract_docs(spark.read.schema(schema).parquet(src_dir + "/*"),
                          route=False)
             .filter("row_kind = 'triple'").count())
    assert out.count() == batch


def test_streaming_near_dedup_matches_batch_banding(spark, tmp_path):
    """Streaming LSH near-dedup: (1) the map-only streaming signature
    equals the batch groupBy signature (same (band, bucket) per doc);
    (2) cross-batch exact duplicates are suppressed in every bucket;
    (3) the keeper per bucket is the FIRST arrival."""
    from propertygraph_spark.ops.dedup import _minhash_banded
    from propertygraph_spark.streaming.events import streaming_near_dedup
    src = str(tmp_path / "nd_in")
    os.makedirs(src)
    rows1 = [(1, "2024-01-01 00:00:01", "the quick brown fox jumps high"),
             (2, "2024-01-01 00:00:02", "completely different text body here")]
    rows2 = [(3, "2024-01-01 00:00:03", "the quick brown fox jumps high"),
             (4, "2024-01-01 00:00:04", "yet another unrelated document text")]

    def write_batch(rows, name):
        spark.createDataFrame(rows, "doc_id long, ts string, text string") \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.parquet(f"{src}/{name}")

    write_batch(rows1, "f1")
    write_batch(rows2, "f2")
    stream = (spark.readStream.schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = run_to_memory(streaming_near_dedup(stream), "near_dedup",
                      output_mode="append")
    try:
        got = [(r["doc_id"], r["band"], r["bucket"]) for r in
               spark.sql("select * from near_dedup").collect()]
    finally:
        q.stop()
    # streaming banding == batch banding for the surviving docs
    all_docs = spark.createDataFrame(
        [(d, t) for d, _ts, t in rows1 + rows2], "doc_id long, text string")
    batch = {(r["doc_id"], r["band"], r["bucket"])
             for r in _minhash_banded(all_docs).collect()}
    assert set(got) <= batch
    keepers = {d for d, _b, _k in got}
    assert 3 not in keepers           # exact dup of doc 1, later arrival
    assert {1, 2, 4} == keepers       # one rep per bucket, first arrival
    # every bucket of every keeper survived exactly once
    assert len(got) == len(set(got))
    # the documented post-filter recipe (ADVICE r3): per-doc surviving-
    # band count — a doc retained with < N_BANDS rows lost >= 1 band to
    # an earlier near-dup and can be dropped by recall-strict consumers.
    # Here every keeper is either first-in-all-bands or unrelated, so
    # all counts are full; doc 3 (all bands lost) has zero rows.
    from propertygraph_spark.ops.dedup import N_BANDS
    band_counts: dict = {}
    for d, _b, _k in got:
        band_counts[d] = band_counts.get(d, 0) + 1
    assert all(c == N_BANDS for c in band_counts.values())
    assert 3 not in band_counts


def test_streaming_near_dedup_strict_matches_greedy_reference(spark, tmp_path):
    """streaming_near_dedup_strict = batch-recall keepers: a doc kept
    only if it wins ALL its (band, bucket) first-seen races. Pinned
    against a greedy arrival-order reference computed from the batch
    banding, on a corpus with all three collision regimes: exact dup
    (all bands lost), partial near-dup (1 of N_BANDS lost — the case
    plain streaming_near_dedup RETAINS and strict drops), unrelated."""
    from propertygraph_spark.ops.dedup import N_BANDS, _minhash_banded
    from propertygraph_spark.streaming.events import (
        run_to_memory, streaming_near_dedup_strict)
    src = str(tmp_path / "nds_in")
    os.makedirs(src)
    rows = [
        (1, "2024-01-01 00:00:01",
         "the quick brown fox jumps over the lazy dog again and again"),
        (2, "2024-01-01 00:00:02",
         "the quick brown fox jumps over the lazy cat again and again"),
        (3, "2024-01-01 00:00:03",
         "the quick brown fox jumps over the lazy dog again and again"),
        (4, "2024-01-01 00:00:04",
         "completely unrelated text about spark structured streaming state"),
        (5, "2024-01-01 00:00:05",
         "mostly unrelated body discussing product quantization codebooks today"),
        # sentinel an hour later: advances the watermark past the first
        # minute window so the append-mode windowed count finalizes (its
        # own window never closes — it must NOT appear in the output)
        (99, "2024-01-01 01:00:00",
         "watermark advancing sentinel document text body"),
    ]
    for i, row in enumerate(rows):
        spark.createDataFrame([row], "doc_id long, ts string, text string") \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.parquet(f"{src}/f{i:02d}")
    stream = (spark.readStream
              .schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = run_to_memory(streaming_near_dedup_strict(stream), "nd_strict",
                      output_mode="append")
    try:
        out = spark.sql("select * from nd_strict").collect()
    finally:
        q.stop()
    got = {r["doc_id"] for r in out}
    assert all(r["n_bands_survived"] == N_BANDS for r in out)

    # greedy arrival-order reference from the batch banding (identical
    # signatures — pinned by test_streaming_near_dedup_matches_batch_banding)
    all_docs = spark.createDataFrame(
        [(d, t) for d, _ts, t in rows[:-1]], "doc_id long, text string")
    per_doc: dict = {}
    for r in _minhash_banded(all_docs).collect():
        per_doc.setdefault(r["doc_id"], set()).add((r["band"], r["bucket"]))
    seen: set = set()
    ref = set()
    for d in sorted(per_doc):  # arrival order == doc_id order
        if not (per_doc[d] & seen):
            ref.add(d)
        seen |= per_doc[d]
    assert got == ref
    # the corpus exercises what strict adds over plain near-dedup:
    ov12 = per_doc[1] & per_doc[2]
    assert 0 < len(ov12) < N_BANDS   # partial collision exists...
    assert 2 not in got              # ...and strict drops it
    assert 3 not in got              # exact dup: all bands lost
    assert {1, 4, 5} == got
    assert 99 not in got             # sentinel window never finalized


def test_streaming_contamination_stream_static_join(spark, tmp_path):
    from propertygraph_spark.streaming.events import streaming_contamination
    src = str(tmp_path / "ct_in")
    os.makedirs(src)
    shared = "alpha beta gamma delta epsilon"
    spark.createDataFrame(
        [(1, "x " + shared + " y"), (2, "clean words only in this doc")],
        "doc_id long, text string").coalesce(1).write.parquet(f"{src}/f1")
    eval_docs = spark.createDataFrame(
        [(100, shared + " zeta")], "doc_id long, text string")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    # stateless append mode — no per-doc streaming aggregation state
    q = run_to_memory(streaming_contamination(stream, eval_docs),
                      "contam", output_mode="append")
    try:
        got = {r["doc_id"]: r["n_contaminated_ngrams"] for r in
               spark.sql("select * from contam").collect()}
    finally:
        q.stop()
    assert got.get(1, 0) >= 1
    assert 2 not in got  # clean docs are not emitted at all


def test_streaming_link_mentions_matches_batch(spark, tmp_path):
    """Incremental extract+link == the batch path row-for-row: the
    stream-static broadcast join with an in-row argmax fold must pick
    the same fqn at the same score as batch link_mentions' max_by
    aggregation, across micro-batch boundaries."""
    from propertygraph_spark.ops.kgdocs import docs_with_spans
    from propertygraph_spark.pipeline.extract import extract_docs, split_union
    from propertygraph_spark.pipeline.linking import (link_mentions,
                                                      symbol_dictionary)
    from propertygraph_spark.streaming.events import (
        run_to_memory, streaming_link_mentions)
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 10) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long")
    spans = docs_with_spans(docs)
    src = str(tmp_path / "lm_in")
    spans.filter("CAST(doc_id AS INT) % 2 = 0").coalesce(1) \
        .write.parquet(f"{src}/f1")
    spans.filter("CAST(doc_id AS INT) % 2 = 1").coalesce(1) \
        .write.parquet(f"{src}/f2")
    sym = symbol_dictionary(spark, 500)
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = run_to_memory(streaming_link_mentions(stream, sym), "linked_stream",
                      timeout_sec=120.0)
    try:
        got = sorted(
            (r["doc_id"], r["method_id"], r["node_id"], r["mention"],
             r["kind"], r["fqn"], int(r["score"] * 1000 // 1))
            for r in spark.sql("select * from linked_stream").collect())
    finally:
        q.stop()
    mentions = split_union(extract_docs(spans, route=False))[2]
    want = sorted(
        (r["doc_id"], r["method_id"], r["node_id"], r["mention"],
         r["kind"], r["fqn"], int(r["score"] * 1000 // 1))
        for r in link_mentions(mentions, sym).collect())
    assert len(want) > 0
    assert got == want


def test_streaming_latest_state_matches_batch(spark, events_path):
    """Streaming latest-wins compaction == the same op on the static
    table, row for row: max_by over the totally ordered time|id key is
    associative, so micro-batch arrival order cannot show. 1-file
    triggers force several incremental state updates."""
    from propertygraph_spark.streaming.events import streaming_latest_state
    stream = read_events_stream(spark, events_path, max_files_per_trigger=1)
    q = run_to_memory(streaming_latest_state(stream), "latest_state",
                      output_mode="complete")
    try:
        got = {tuple(r) for r in
               spark.table("latest_state").collect()}
    finally:
        q.stop()
    static = spark.read.parquet(events_path)
    want = {tuple(r) for r in streaming_latest_state(static).collect()}
    assert got == want and len(want) == 4
    # user 1 'click': event 2 (later ts) wins over event 1
    by_key = {(r[0], r[1]): r for r in got}
    assert by_key[(1, "click")][2] == 2


def test_streaming_anomaly_matches_batch_on_closed_minutes(spark, tmp_path):
    """Streaming rolling z-score == the batch op on every CLOSED minute
    (the batch op additionally scores each type's final minute, which a
    stream can never close). Three time-slice files with forced
    mod-time order drive three mini-batches, so the trailing-window
    state demonstrably carries across triggers — including the spike
    minute landing in a later slice than its baseline."""
    import datetime
    import os

    from propertygraph_spark.ops.relational import events_anomaly
    from propertygraph_spark.streaming.events import streaming_anomaly

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for m in range(36):
        n = 50 if m != 30 else 400          # spike in the LAST slice
        for j in range(n):
            rows.append((eid, base + datetime.timedelta(minutes=m,
                                                        seconds=j % 50),
                         j % 5, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    path = str(tmp_path / "events.parquet")
    # one file per 12-minute slice, mod-times forced ascending so the
    # file source feeds slices oldest-first one trigger at a time
    stamped: set = set()
    for i, (lo, hi) in enumerate([(0, 12), (12, 24), (24, 36)]):
        cut_lo = base + datetime.timedelta(minutes=lo)
        cut_hi = base + datetime.timedelta(minutes=hi)
        (df.filter((F.col("ts") >= cut_lo) & (F.col("ts") < cut_hi))
         .coalesce(1).write.mode("append").parquet(path))
        # stamp THIS slice's fresh part files (names are random UUIDs —
        # filename order says nothing about slice order)
        for f in os.listdir(path):
            if f.endswith(".parquet") and f not in stamped:
                stamped.add(f)
                os.utime(os.path.join(path, f),
                         (1_700_000_000 + i, 1_700_000_000 + i))

    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    q = run_to_memory(streaming_anomaly(stream), "stream_anomaly")
    try:
        got = {(r["event_type"], str(r["minute"])):
               (r["cnt"], r["n_prior"], r["is_anomaly"])
               for r in spark.table("stream_anomaly").collect()}
    finally:
        q.stop()
    batch = events_anomaly(spark, str(tmp_path)).collect()
    last = max(r["minute"] for r in batch)
    want = {(r["event_type"], str(r["minute"])):
            (r["cnt"], r["n_prior"], r["is_anomaly"])
            for r in batch if r["minute"] != last}
    assert got == want and len(want) == 35
    spike = [v for (t, m), v in got.items() if v[0] == 400]
    assert spike == [(400, 30, True)]
    flags = sum(1 for v in got.values() if v[2])
    assert flags == 1


def test_streaming_hll_registers_match_batch(spark, events_path):
    """Streaming HLL register table == the same derivation on the
    static table (max over registers is associative, so arrival order
    cannot show), and folding the streamed registers through the batch
    estimator's integer harmonic mean yields the batch estimate —
    state is m rows per type, never the user ids."""
    from propertygraph_spark.ops.relational import hll_registers
    from propertygraph_spark.streaming.events import (
        streaming_user_hll_registers)
    stream = read_events_stream(spark, events_path, max_files_per_trigger=1)
    q = run_to_memory(streaming_user_hll_registers(stream), "hll_regs",
                      output_mode="complete")
    try:
        got = {tuple(r) for r in spark.table("hll_regs").collect()}
    finally:
        q.stop()
    static = spark.read.parquet(events_path)
    want = {tuple(r) for r in hll_registers(static).collect()}
    assert got == want and len(want) > 0


def test_streaming_view_click_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join == the identical batch join, with
    the attribution pair SPLIT ACROSS TRIGGERS (the view arrives two
    files before its click — both-side state carries it), an
    out-of-window view excluded, and cross-user pairs never joined."""
    import os

    from propertygraph_spark.streaming.events import (
        read_events_stream, run_to_memory, streaming_view_click_join)
    rows = [
        # u1: view at 00:00, click at 00:03 (in window, CROSS-file)
        (10, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        # u2: view at 00:01, clicks at 00:02 and 00:04 (both credit it)
        (11, "2024-01-01 00:01:00", 2, "view", 1.0, "{}"),
        (12, "2024-01-01 00:02:00", 2, "click", 1.0, "{}"),
        # file 2
        (13, "2024-01-01 00:03:00", 1, "click", 1.0, "{}"),
        (14, "2024-01-01 00:04:00", 2, "click", 1.0, "{}"),
        # u3: view 10 minutes before its click -> OUT of 5-min window
        (15, "2024-01-01 00:00:00", 3, "view", 1.0, "{}"),
        # file 3
        (16, "2024-01-01 00:10:00", 3, "click", 1.0, "{}"),
        (17, "2024-01-01 00:20:00", 9, "click", 1.0, "{}"),  # advances wm
    ]
    path = str(tmp_path / "ev.parquet")
    os.makedirs(path)
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn(
            "ts", F.to_timestamp("ts"))
    # mod-time-ordered files so triggers replay the order above
    import time as _t
    for i, frac in enumerate(((10, 11, 12), (13, 14, 15), (16, 17))):
        df.filter(F.col("event_id").isin(*frac)).coalesce(1) \
          .write.mode("append").parquet(path)
        _t.sleep(1.1)
    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    q = run_to_memory(streaming_view_click_join(stream), "vc_join",
                      output_mode="append")
    try:
        got = {(r["user_id"], r["view_id"], r["click_id"], r["lag_sec"])
               for r in spark.sql("select * from vc_join").collect()}
    finally:
        q.stop()
    batch = streaming_view_click_join(spark.read.parquet(path))
    want = {(r["user_id"], r["view_id"], r["click_id"], r["lag_sec"])
            for r in batch.collect()}
    assert got == want
    assert (1, 10, 13, 180) in got          # cross-trigger pair
    assert (2, 11, 12, 60) in got and (2, 11, 14, 180) in got
    assert not any(u == 3 for (u, _v, _c, _l) in got)   # out of window


def test_streaming_view_click_join_outer_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: a matched view emits
    its credited row (cross-trigger), a view whose only click falls
    OUTSIDE the window and a clickless view each emit exactly one
    NULL-click row once the watermark passes their eviction horizon —
    and the drained stream equals the identical batch left join."""
    import os
    import time as _t

    from propertygraph_spark.streaming.events import (
        read_events_stream, run_to_memory, streaming_view_click_join_outer)
    rows = [
        # file 1: three views
        (10, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (15, "2024-01-01 00:00:00", 3, "view", 1.0, "{}"),
        (18, "2024-01-01 00:02:00", 4, "view", 1.0, "{}"),
        # file 2: u1's click in window; u3's click 10 min late
        (13, "2024-01-01 00:03:00", 1, "click", 1.0, "{}"),
        (16, "2024-01-01 00:10:00", 3, "click", 1.0, "{}"),
        # file 3: far-future pair on BOTH sides -> watermark advances
        # past every file-1 view's eviction horizon
        (20, "2024-01-01 00:40:00", 9, "view", 1.0, "{}"),
        (21, "2024-01-01 00:40:00", 9, "click", 1.0, "{}"),
    ]
    path = str(tmp_path / "ev.parquet")
    os.makedirs(path)
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn(
            "ts", F.to_timestamp("ts"))
    for frac in ((10, 15, 18), (13, 16), (20, 21)):
        df.filter(F.col("event_id").isin(*frac)).coalesce(1) \
          .write.mode("append").parquet(path)
        _t.sleep(1.1)
    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    q = run_to_memory(streaming_view_click_join_outer(stream), "vc_outer",
                      output_mode="append")
    try:
        q.processAllAvailable()  # extra cycles: watermark advance ->
        q.processAllAvailable()  # null-row emission
        got = {(r["user_id"], r["view_id"], r["click_id"], r["lag_sec"])
               for r in spark.sql("select * from vc_outer").collect()}
    finally:
        q.stop()
    batch = streaming_view_click_join_outer(spark.read.parquet(path))
    want = {(r["user_id"], r["view_id"], r["click_id"], r["lag_sec"])
            for r in batch.collect()}
    assert got == want
    assert (1, 10, 13, 180) in got            # cross-trigger match
    assert (3, 15, None, None) in got         # only-click out of window
    assert (4, 18, None, None) in got         # clickless view
    assert (9, 20, 21, 0) in got              # same-trigger match
    assert len(got) == 4                      # each view exactly once


def test_streaming_commit_sink_exactly_once(spark, tmp_path):
    """foreachBatch commit sink: (1) a drained stream lands every input
    row exactly once with one parent-linked ledger entry per batch;
    (2) a REPLAYED batch (same id — the at-least-once case after a
    crash between sink work and offset commit) is a no-op even with
    different data; (3) a restart with new input appends only the new
    batch; (4) a torn write of an uncommitted batch is replaced
    wholesale on replay, not appended to."""
    import os
    import time as _t

    from propertygraph_spark.pipeline.materialize import snapshot_history
    from propertygraph_spark.streaming.events import (read_events_stream,
                                                      streaming_commit_sink)
    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    df = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", i % 3, "view", 1.0, "{}")
         for i in range(20)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn("ts", F.to_timestamp("ts"))
    df.filter(F.col("event_id") < 10).coalesce(1) \
      .write.mode("append").parquet(src)
    _t.sleep(1.1)
    df.filter(F.col("event_id") >= 10).coalesce(1) \
      .write.mode("append").parquet(src)

    q = streaming_commit_sink(read_events_stream(spark, src,
                                                 max_files_per_trigger=1),
                              out, ckpt)
    q.awaitTermination(60)
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert got.select("event_id").distinct().count() == 20
    hist = snapshot_history(out)
    batch_fps = [s["fingerprint"] for s in hist]
    assert sorted(batch_fps) == ["batch:0", "batch:1"]
    assert hist[1]["parent_id"] == hist[0]["snapshot_id"]

    # (2) replay of a committed batch: no-op before any write —
    # simulate the crash-replay by running the sink over a stream that
    # re-reads everything with a FRESH checkpoint but the SAME output
    # dir: batch ids 0/1 recur and must be skipped
    rows_before = got.count()
    q2 = streaming_commit_sink(read_events_stream(spark, src,
                                                  max_files_per_trigger=1),
                               out, str(tmp_path / "ckpt2"))
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == rows_before
    assert len(snapshot_history(out)) == 2

    # (3) restart with the ORIGINAL checkpoint + new input: only the
    # new batch commits
    df2 = spark.createDataFrame(
        [(100 + i, "2024-01-01 00:01:00", 7, "click", 1.0, "{}")
         for i in range(5)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn("ts", F.to_timestamp("ts"))
    _t.sleep(1.1)
    df2.coalesce(1).write.mode("append").parquet(src)
    q3 = streaming_commit_sink(read_events_stream(spark, src,
                                                  max_files_per_trigger=1),
                               out, ckpt)
    q3.awaitTermination(60)
    assert spark.read.parquet(out).count() == 25
    hist3 = snapshot_history(out)
    assert len(hist3) == 3 and hist3[-1]["fingerprint"] == "batch:2"

    # (4) torn write of an UNCOMMITTED batch: stray files under a
    # batch dir with no ledger entry are replaced wholesale on replay
    torn = os.path.join(out, "batch=3")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    _t.sleep(1.1)
    df2.withColumn("event_id", F.col("event_id") + 100).coalesce(1) \
       .write.mode("append").parquet(src)
    q4 = streaming_commit_sink(read_events_stream(spark, src,
                                                  max_files_per_trigger=1),
                               out, ckpt)
    q4.awaitTermination(60)
    assert not os.path.exists(os.path.join(torn, "part-torn.parquet"))
    assert spark.read.parquet(out).count() == 30
    assert snapshot_history(out)[-1]["fingerprint"] == "batch:3"


def test_streaming_kg_pipeline_exactly_once_sink(spark, tmp_path):
    """North-rule streaming composition: docs stream -> fused Arrow
    extraction kernel -> exactly-once commit sink. The landed triple
    table equals the batch kernel's output row-for-row, one ledger
    snapshot per micro-batch, and a re-run over the same source with a
    fresh checkpoint (the crash-replay shape) appends nothing."""
    from propertygraph_spark.ops.kgdocs import docs_with_spans
    from propertygraph_spark.pipeline.extract import extract_docs, split_union
    from propertygraph_spark.pipeline.materialize import snapshot_history
    from propertygraph_spark.streaming.events import (streaming_commit_sink,
                                                      streaming_extract)
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 10) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long")
    spans_path = str(tmp_path / "docs.parquet")
    docs_with_spans(docs).repartition(2).write.parquet(spans_path)

    stream = (spark.readStream
              .schema("doc_id string, spans array<struct<kind:string,"
                      "text:string,media_ref:string,offset:int>>")
              .option("maxFilesPerTrigger", 1)
              .parquet(spans_path))
    out = str(tmp_path / "kg_sink")
    q = streaming_commit_sink(streaming_extract(stream), out,
                              str(tmp_path / "ckpt"))
    q.awaitTermination(90)

    landed = (spark.read.parquet(out)
              .filter(F.col("row_kind") == "triple")
              .select("doc_id", "method_id", "subj", "pred", "obj",
                      "label"))
    batch = split_union(extract_docs(docs_with_spans(docs),
                                     route=False))[1]
    assert landed.exceptAll(batch).count() == 0
    assert batch.exceptAll(landed).count() == 0
    n_snaps = len(snapshot_history(out))
    assert n_snaps >= 2  # one per micro-batch (maxFilesPerTrigger=1)

    # crash-replay shape: fresh checkpoint, same source, same sink
    q2 = streaming_commit_sink(streaming_extract(stream), out,
                               str(tmp_path / "ckpt2"))
    q2.awaitTermination(90)
    assert len(snapshot_history(out)) == n_snaps
    assert landed.count() == spark.read.parquet(out) \
        .filter(F.col("row_kind") == "triple").count()


def test_native_session_window_matches_batch(spark, tmp_path):
    """F.session_window sessionization: sessions split across triggers
    merge in the engine's session state; the drained stream equals the
    identical batch aggregation, and a 2h gap splits sessions."""
    import time as _t

    from propertygraph_spark.streaming.events import (
        read_events_stream, run_to_memory, streaming_session_windows)
    rows = [
        (1, "2024-01-01 00:00:00", 1, "e", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 1, "e", 2.0, "{}"),
        # file 2: continues user 1's session (within gap), new user 2
        (3, "2024-01-01 00:25:00", 1, "e", 3.0, "{}"),
        (4, "2024-01-01 00:00:00", 2, "e", 4.0, "{}"),
        # file 3: user 1 after a 2h gap -> second session; far-future
        # row advances the watermark so closed sessions emit
        (5, "2024-01-01 02:30:00", 1, "e", 5.0, "{}"),
        (6, "2024-01-01 09:00:00", 9, "e", 0.0, "{}"),
    ]
    path = str(tmp_path / "ev.parquet")
    os.makedirs(path)
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn("ts", F.to_timestamp("ts"))
    for frac in ((1, 2), (3, 4), (5, 6)):
        df.filter(F.col("event_id").isin(*frac)).coalesce(1) \
          .write.mode("append").parquet(path)
        _t.sleep(1.1)
    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    q = run_to_memory(streaming_session_windows(stream), "native_sessions",
                      output_mode="append")
    try:
        q.processAllAvailable()
        got = {(r["user_id"], str(r["session_start"]), r["n_events"],
                r["sum_value_x1000"])
               for r in spark.sql("select * from native_sessions").collect()}
    finally:
        q.stop()
    # closed sessions: user 1's merged 3-event session (00:00-00:55),
    # its second session at 02:30, user 2's singleton
    assert (1, "2024-01-01 00:00:00", 3, 6000) in got
    assert (1, "2024-01-01 02:30:00", 1, 5000) in got
    assert (2, "2024-01-01 00:00:00", 1, 4000) in got
    batch = {(r["user_id"], str(r["session_start"]), r["n_events"],
              r["sum_value_x1000"])
             for r in streaming_session_windows(
                 spark.read.parquet(path)).collect()}
    # the stream emits exactly the batch sessions whose end precedes
    # the final watermark (user 9's session stays open)
    assert got == {g for g in batch if g[0] != 9}


def test_read_stage_as_of_time_travel(spark, tmp_path):
    """VERSION AS OF over the append-only sink: as-of snapshot k
    reconstructs exactly batches 0..k; after expire_snapshots the
    surviving snapshots stay readable (batch dirs outlive their
    ledger entries via exclusion semantics), the tombstone itself and
    unknown ids raise; an overwrite stage raises for non-latest and
    reads current for latest."""
    import os
    import time as _t

    from propertygraph_spark.pipeline.materialize import (
        expire_snapshots, read_stage_as_of, snapshot_history, write_stage)
    from propertygraph_spark.streaming.events import (read_events_stream,
                                                      streaming_commit_sink)
    import pytest as _pytest

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for lo in (0, 10, 20):
        spark.createDataFrame(
            [(i, "2024-01-01 00:00:00", i % 3, "view", 1.0, "{}")
             for i in range(lo, lo + 10)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string") \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)
    q = streaming_commit_sink(read_events_stream(spark, src,
                                                 max_files_per_trigger=1),
                              out, ckpt)
    q.awaitTermination(60)
    hist = snapshot_history(out)
    assert [s["fingerprint"] for s in hist] == \
        ["batch:0", "batch:1", "batch:2"]
    # as-of each snapshot = prefix of batches (ids partition the rows
    # deterministically: each batch is one source file)
    counts = [read_stage_as_of(spark, out, s["snapshot_id"]).count()
              for s in hist]
    assert counts == [10, 20, 30]
    mid = read_stage_as_of(spark, out, hist[1]["snapshot_id"])
    assert mid.agg(F.max("event_id")).collect()[0][0] == 19

    # expire down to the last 2: batch:0's entry collapses into the
    # tombstone, but snapshots 1 and 2 still read their full prefixes
    assert expire_snapshots(out, keep_last=2)["expired"] == 1
    hist2 = snapshot_history(out)
    assert hist2[0]["operation"] == "expire"
    assert read_stage_as_of(spark, out,
                            hist2[1]["snapshot_id"]).count() == 20
    assert read_stage_as_of(spark, out,
                            hist2[2]["snapshot_id"]).count() == 30
    with _pytest.raises(KeyError):
        read_stage_as_of(spark, out, hist2[0]["snapshot_id"])  # tombstone
    with _pytest.raises(KeyError):
        read_stage_as_of(spark, out, "nope")

    # overwrite stage: latest ok, earlier raises with the reclaim story
    ow = str(tmp_path / "ow")
    df1 = spark.range(5).select(F.col("id").alias("x"))
    write_stage(df1, ow, "fp1", spark=spark)
    write_stage(spark.range(9).select(F.col("id").alias("x")),
                ow, "fp2", spark=spark)
    h = snapshot_history(ow)
    assert read_stage_as_of(spark, ow, h[-1]["snapshot_id"]).count() == 9
    with _pytest.raises(KeyError):
        read_stage_as_of(spark, ow, h[0]["snapshot_id"])


def test_streaming_upsert_sink_converges_to_latest(spark, tmp_path):
    """CDC apply: three micro-batches upserting overlapping keys (with
    one delete) converge to latest-per-key exactly as a batch MERGE
    sequence would; a full restart with a fresh checkpoint (replaying
    every batch) changes nothing — ledger no-op + merge fixpoint."""
    import os
    import time as _t

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "table")
    os.makedirs(src)
    batches = [
        [(1, "a1", False), (2, "b1", False)],
        [(1, "a2", False), (3, "c1", False)],
        [(2, "zz", True), (4, "d1", False)],   # delete key 2
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "k long, val string, is_del boolean") \
            .coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)
    from propertygraph_spark.streaming.events import streaming_upsert_sink
    stream = (spark.readStream.schema("k long, val string, is_del boolean")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming_upsert_sink(stream, out, str(tmp_path / "ck1"),
                              ["k"], delete_col="is_del")
    q.awaitTermination(60)
    got = {r["k"]: r["val"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "a2", 3: "c1", 4: "d1"}
    from propertygraph_spark.pipeline.materialize import snapshot_history
    n_snaps = len(snapshot_history(out))
    # fresh checkpoint -> all three batches REPLAY; table unchanged,
    # ledger unchanged (each fp already present)
    stream2 = (spark.readStream
               .schema("k long, val string, is_del boolean")
               .option("maxFilesPerTrigger", 1).parquet(src))
    q2 = streaming_upsert_sink(stream2, out, str(tmp_path / "ck2"),
                               ["k"], delete_col="is_del")
    q2.awaitTermination(60)
    got2 = {r["k"]: r["val"] for r in spark.read.parquet(out).collect()}
    assert got2 == got
    assert len(snapshot_history(out)) == n_snaps


def test_streaming_upsert_sink_keys_buckets_beside_doc_id(spark, tmp_path):
    """A stream that carries its own ``doc_id`` column but buckets on a
    different key: the bootstrap batch must hash ``bucket_from``
    without touching ``doc_id`` (a rename round trip to ``doc_id``
    collided with the existing column), and later merges must land in
    the same buckets."""
    import os
    import time as _t

    from propertygraph_spark.pipeline.materialize import with_bucket
    from propertygraph_spark.streaming.events import streaming_upsert_sink

    schema = "doc_id string, k long, val string"
    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "table")
    os.makedirs(src)
    batches = [[("d1", 1, "a1"), ("d2", 2, "b1"), ("d3", 3, "c1")],
               [("d1", 1, "a2"), ("d4", 4, "e1")]]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        _t.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming_upsert_sink(stream, out, str(tmp_path / "ck"), ["k"],
                              n_buckets=4, bucket_from="k")
    q.awaitTermination(60)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["bucket", "doc_id", "k", "val"]
    assert {(r["k"], r["doc_id"], r["val"]) for r in got.collect()} == {
        (1, "d1", "a2"), (2, "d2", "b1"), (3, "d3", "c1"), (4, "d4", "e1")}
    # every row sits in the bucket of its k, and the data is such that
    # doc_id-keyed buckets would differ (the check can tell them apart)
    by_k = with_bucket(got.drop("bucket"), 4, key="k").select(*got.columns)
    by_doc = with_bucket(got.drop("bucket"), 4).select(*got.columns)
    assert got.exceptAll(by_k).count() == 0
    assert got.exceptAll(by_doc).count() > 0
