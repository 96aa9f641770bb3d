"""Structured Streaming over the events table + streaming KG extraction.

Two streaming entry points:

- ``streaming_event_counts``: watermarked tumbling-window counts per
  event_type — the streaming twin of ops.relational.events_minutely.
  Late rows beyond the watermark are dropped by Spark's state store; at
  cluster scale state is partitioned by (window, event_type), so the
  low-cardinality type key never concentrates state on one executor
  (window advances dominate the key space).

- ``streaming_extract``: the KG kernel bolted onto a readStream of docs —
  the same fused mapInPandas stage as the batch path (the kernel is
  oblivious to micro-batching), proving extraction works incrementally
  with exactly-once file-sink semantics + checkpointLocation.

Tests drive both with tiny file sources and the foreachBatch/memory sink
(tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def streaming_event_counts(events: DataFrame,
                           window: str = "1 minute",
                           watermark: str = "5 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation (append-capable)."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def streaming_dedup_docs(docs_stream: DataFrame,
                         watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first-seen wins per content digest, with
    state bounded by the event-time watermark (dropDuplicatesWithinWatermark
    evicts digests older than the watermark, so state size tracks the
    duplicate-arrival window instead of corpus history — the only way a
    dedup stream survives 10^12 docs). Dedup key is the md5 of the text,
    never the text itself: state stores 16-byte digests.

    Streaming twin of ops.dedup.exact_duplicates' keep-first semantics
    (input: doc_id, ts event time, text)."""
    keyed = docs_stream.select(
        "doc_id", "ts", F.md5("text").alias("content_md5"))
    return (keyed.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["content_md5"]))


def streaming_latest_state(events: DataFrame) -> DataFrame:
    """Streaming latest-wins compaction: the streaming twin of
    ops.relational.events_latest_state — per (user_id, event_type),
    the LAST event by (time, event_id). Expressed as the identical
    tie-free max_by against the zero-padded '<epoch-sec>|<event_id>'
    key, as a streaming aggregation: incremental state is exactly one
    key row per group (the partial max_by), so state size is
    |users x types|, independent of stream length — the materialized-
    view pattern (run with update/complete mode; at production scale,
    sink into a key-value upsert).

    Batch == streaming row-for-row: max_by over a totally ordered key
    is associative/commutative, so micro-batch arrival order cannot
    show in the result (pinned in tests/test_streaming.py)."""
    sec = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ "
                 "'1970-01-01 00:00:00', date_trunc('second', ts))")
    key = F.format_string("%020d|%020d", sec, F.col("event_id"))
    v1000 = F.round(F.col("value") * 1000).cast("long")
    return (events.select("user_id", "event_type", "event_id",
                          sec.alias("sec"), v1000.alias("v1000"),
                          key.alias("o"))
            .groupBy("user_id", "event_type")
            .agg(F.max_by("event_id", F.col("o")).alias("last_event_id"),
                 F.max_by("sec", F.col("o")).alias("last_sec"),
                 F.max_by("v1000", F.col("o")).alias("last_value_x1000"),
                 F.count("*").alias("n_events")))


def streaming_extract(docs_stream: DataFrame) -> DataFrame:
    """Incremental KG extraction: same fused Arrow kernel as the batch
    pipeline, applied per micro-batch (map-only → no streaming state)."""
    from propertygraph_spark.pipeline.extract import extract_docs
    return extract_docs(docs_stream, route=False)


def run_to_memory(stream_df: DataFrame, query_name: str,
                  timeout_sec: float = 60.0, output_mode: str = "append"):
    """Drive a streaming DF to completion against a memory sink (test
    helper): processes all available data, then stops."""
    q = (stream_df.writeStream.format("memory").queryName(query_name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(timeout_sec)
    return q


# ------------------------------------------------------- stateful session

SESSION_OUTPUT_DDL = ("user_id long, session_start timestamp, "
                      "session_end timestamp, n_events long, "
                      "sum_value double")
SESSION_STATE_DDL = ("start long, last long, n long, total double")


def streaming_user_sessions(events: DataFrame,
                            gap_sec: int = 1800) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState: state
    per user_id = (session_start, last_ts, n_events, sum_value); a
    completed session is emitted whenever a gap > gap_sec is observed or
    the group times out. State is partitioned by user_id across the
    cluster — the streaming twin of ops.relational.user_sessions."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                rows.append((user_id, pd.Timestamp(start, unit="s"),
                             pd.Timestamp(last, unit="s"), n, total))
                state.remove()
            yield pd.DataFrame(rows, columns=[
                "user_id", "session_start", "session_end", "n_events",
                "sum_value"])
            return
        events_df = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for ts, value in zip(events_df["ts"], events_df["value"]):
            sec = int(pd.Timestamp(ts).timestamp())
            if start is None:
                start, last, n, total = sec, sec, 1, float(value)
            elif sec - last > gap_sec:
                rows.append((user_id, pd.Timestamp(start, unit="s"),
                             pd.Timestamp(last, unit="s"), n, total))
                start, last, n, total = sec, sec, 1, float(value)
            else:
                last, n, total = sec, n + 1, total + float(value)
        state.update((start, last, n, total))
        state.setTimeoutDuration(gap_sec * 1000)
        yield pd.DataFrame(rows, columns=[
            "user_id", "session_start", "session_end", "n_events",
            "sum_value"])

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                fn, SESSION_OUTPUT_DDL, SESSION_STATE_DDL,
                "append", GroupStateTimeout.ProcessingTimeTimeout))


def streaming_near_dedup(docs_stream: DataFrame,
                         watermark: str = "10 minutes") -> DataFrame:
    """Streaming NEAR-duplicate filtering via MinHash-LSH buckets:
    each doc explodes to its 4 (band, bucket) keys (the same banding as
    ops.dedup._minhash_banded — stateless, map-only) and
    dropDuplicatesWithinWatermark keeps the FIRST doc per bucket. State
    per bucket is one 16-byte digest + timestamp, watermark-evicted —
    the only state shape that survives 10^12 docs.

    RECALL GAP vs the batch path (ADVICE r3) — this is NOT an exact
    streaming twin of ops.dedup.dedup_clusters: a doc counts as a keeper
    here if it survives in >= 1 of its 4 bands, so a near-duplicate that
    collides with an earlier doc in only SOME bands is retained, whereas
    dedup_clusters drops any doc sharing even one bucket with a cluster
    representative. Only exact duplicates (which collide in ALL bands)
    are guaranteed dropped. Consumers wanting batch-equivalent recall
    post-filter on surviving-band count: the output keeps one row per
    surviving (band, bucket), so ``groupBy(doc_id)`` count < N_BANDS
    identifies docs that lost >= 1 band (i.e. near-dup suspects) —
    see tests/test_streaming.py for the recipe.

    Input: (doc_id, ts, text). Output: the surviving (doc_id, ts, band,
    bucket) rows; distinct doc_ids = the keeper set; per-doc row count =
    surviving-band count."""
    from propertygraph_spark.ops.dedup import N_BANDS, N_MINHASH, ROWS_PER_BAND
    from propertygraph_spark.ops.text import with_shingle_arr

    # the banding over a STREAMING frame: minhash_signatures groupBys
    # (batch-only), so compute the identical signature MAP-ONLY per row —
    # permutation i's min over the shingle ARRAY (array_min == the
    # batch's F.min over exploded shingles; duplicates can't change a
    # min). Docs with < k tokens have no shingles in the batch path and
    # are excluded there too. NGram (with_shingle_arr) is a stateless
    # per-row projection, so it composes with a streaming frame.
    shingled = with_shingle_arr(docs_stream, 3)

    def _perm(i):
        # NB: a default-arg lambda would become a 2-arg callable and
        # PySpark's transform() would pass the ELEMENT INDEX into it
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))

    sig_cols = [F.array_min(F.transform("sh", _perm(i))).alias(f"h{i}")
                for i in range(N_MINHASH)]
    sig = (shingled.select("doc_id", "ts", *sig_cols)
           .filter(F.col("h0").isNotNull()))
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"h{i}")
                                     for i in range(b * ROWS_PER_BAND,
                                                    (b + 1) * ROWS_PER_BAND)]))
            .alias("bucket"))
        for b in range(N_BANDS)])
    banded = (sig.select("doc_id", "ts", F.explode(band_arr).alias("bb"))
              .select("doc_id", "ts", F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))
    return (banded.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["band", "bucket"]))


def streaming_link_mentions(docs_stream: DataFrame,
                            symbol_dict: DataFrame) -> DataFrame:
    """Incremental KG construction, extract + link: the fused Arrow
    kernel per micro-batch, then entity linking as a stream-static
    BROADCAST join against the driver-packed per-simple-name dictionary
    (``symbol_dict``, from linking.packed_dictionary) with the argmax
    folded INSIDE the row — no groupBy, no streaming state, so the
    query stays append-mode at 10^12 docs.

    This IS the batch linking (pipeline.linking.link_mentions) applied
    to a streaming frame — the in-row ``array_max`` fold is stateless,
    so the identical code path serves both, where a max_by aggregation
    could not run unbounded on a stream. Weights are
    pairwise-distinct within a simple-name group (linking.symbol_rows
    docstring), so the argmax is tie-free and batch == streaming
    row-for-row (pinned in tests/test_streaming.py). Global CC
    canonicalization stays a batch stage by design — it needs the
    whole alias graph."""
    from propertygraph_spark.pipeline.extract import MENTION_COLS
    from propertygraph_spark.pipeline.linking import link_mentions

    mentions = (streaming_extract(docs_stream)
                .filter(F.col("row_kind") == "mention")
                .select(*MENTION_COLS))
    return link_mentions(mentions, symbol_dict)


def streaming_near_dedup_strict(docs_stream: DataFrame,
                                watermark: str = "10 minutes",
                                window: str = "1 minute") -> DataFrame:
    """Batch-recall streaming near-dedup (closes the documented
    ``streaming_near_dedup`` recall gap): a doc is a keeper only if it
    wins the first-seen race in ALL of its N_BANDS (band, bucket) keys.
    Losing >= 1 band means the doc shares an LSH bucket with an earlier
    doc — exactly the batch ``dedup_clusters`` drop rule (any shared
    bucket with an earlier cluster member), applied greedily in arrival
    order.

    Two stateful operators chained in ONE streaming query (supported
    since Spark's multiple-stateful-operator work):
    ``dropDuplicatesWithinWatermark`` per (band, bucket), then a
    windowed per-doc surviving-band count that finalizes in append mode
    when the doc's event-time window passes the watermark. State stays
    bounded: stage 1 holds one digest per live bucket
    (watermark-evicted), stage 2 one counter per (window, doc) — both
    O(arrival-window), never O(corpus), which is what survives 10^12
    docs. Output: (doc_id, window_start, n_bands_survived) — keepers
    only.

    Caveat vs batch CC semantics: greedy first-wins can keep a doc the
    batch path would merge transitively through a LATER doc (order
    matters in a stream); exact duplicates and direct near-dups of any
    earlier doc are always dropped, which is the monotone half batch
    consumers rely on. tests/test_streaming.py pins equality against a
    greedy arrival-order reference."""
    from propertygraph_spark.ops.dedup import N_BANDS

    survived = streaming_near_dedup(docs_stream, watermark)
    return (survived
            .groupBy(F.window("ts", window).alias("win"), "doc_id")
            .agg(F.count("*").alias("n_bands_survived"))
            .filter(F.col("n_bands_survived") == N_BANDS)
            .select("doc_id", F.col("win.start").alias("window_start"),
                    "n_bands_survived"))


def streaming_contamination(docs_stream: DataFrame,
                            eval_docs: DataFrame, k: int = 5) -> DataFrame:
    """Stream-static broadcast probe: incoming docs checked against a
    STATIC eval-set n-gram dictionary (stream-static joins need no
    state; the eval side broadcasts). The streaming twin of
    ops.text.contamination_check.

    STATELESS by design: the per-doc overlap count is computed INSIDE
    the row (size of the intersection between the doc's distinct
    k-grams and the broadcast eval set — an array_intersect against a
    literal-free broadcast join would need a doc_id-keyed streaming
    aggregation whose state grows with every doc ever seen; counting
    within the row keeps the query append-mode and state-free at
    10^12 docs). Emits only contaminated docs. The eval set rides in a
    single broadcast array row — fine for benchmark suites (10^5-10^6
    n-grams); for larger dictionaries use the batch join
    (ops.text.contamination_check) or shard the eval set."""
    from propertygraph_spark.ops.text import with_shingle_arr
    eval_sh = (with_shingle_arr(eval_docs, k)
               .select(F.explode(F.array_distinct("sh")).alias("shingle"))
               .distinct()
               .groupBy().agg(F.collect_set("shingle").alias("eval_set")))
    n_hit = F.size(F.array_intersect(
        F.array_distinct("sh"), F.col("eval_set")))
    return (with_shingle_arr(docs_stream, k)
            .crossJoin(F.broadcast(eval_sh))
            .select("doc_id",
                    n_hit.cast("long").alias("n_contaminated_ngrams"))
            .filter(F.col("n_contaminated_ngrams") > 0))


ANOMALY_OUTPUT_DDL = ("event_type string, minute timestamp, cnt long, "
                      "n_prior long, is_anomaly boolean")
ANOMALY_STATE_DDL = "open_min long, open_cnt long, trail array<long>"


def streaming_anomaly(events: DataFrame, window: int = 30, z: int = 3,
                      min_n: int = 10) -> DataFrame:
    """Streaming twin of ops.relational.events_anomaly: per event type,
    a rolling integer z-test over the minutely count series, kept as
    bounded state via applyInPandasWithState — state per type is ONE
    open (minute, count) pair plus the trailing ``window`` CLOSED
    minute counts, regardless of stream length.

    A minute is scored and emitted only when a strictly LATER minute
    arrives for the type (the minute is then closed — its count is
    final); the identical denominators-cleared test
    (n*x - s)^2 > z^2 (n*q - s^2), n >= min_n runs against the trail.
    Premise: per-type minutes arrive non-decreasing (file-source
    micro-batches in mod-time order; a late minute after its close
    would re-open history and is dropped). Batch == streaming is pinned
    in tests over every CLOSED minute — the batch op additionally
    scores each type's final minute, which a stream can never close."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (etype,) = key
        if state.hasTimedOut:      # NoTimeout: unreachable, keep simple
            yield pd.DataFrame([], columns=[
                "event_type", "minute", "cnt", "n_prior", "is_anomaly"])
            return
        pdf = pd.concat(list(pdfs))
        per_min = (pdf["ts"].dt.floor("min").value_counts().sort_index())
        if state.exists:
            open_min, open_cnt, trail = state.get
            trail = list(trail)
        else:
            open_min, open_cnt, trail = None, 0, []
        rows = []
        for m, c in per_min.items():
            sec = int(pd.Timestamp(m).timestamp())
            if open_min is None:
                open_min, open_cnt = sec, int(c)
            elif sec == open_min:
                open_cnt += int(c)
            elif sec > open_min:
                n, s = len(trail), sum(trail)
                q = sum(v * v for v in trail)
                flag = (n >= min_n and
                        (n * open_cnt - s) ** 2 > z * z * (n * q - s * s))
                rows.append((etype, pd.Timestamp(open_min, unit="s"),
                             open_cnt, n, flag))
                trail = (trail + [open_cnt])[-window:]
                open_min, open_cnt = sec, int(c)
            # else: late minute after close — dropped (premise above)
        state.update((open_min, open_cnt, trail))
        yield pd.DataFrame(rows, columns=[
            "event_type", "minute", "cnt", "n_prior", "is_anomaly"])

    return (events.groupBy("event_type")
            .applyInPandasWithState(
                fn, ANOMALY_OUTPUT_DDL, ANOMALY_STATE_DDL,
                "append", GroupStateTimeout.NoTimeout))


def streaming_user_hll_registers(events: DataFrame,
                                 m: int = 64) -> DataFrame:
    """Streaming HyperLogLog: the distinct-user sketch maintained
    incrementally — the EXACT register derivation + max-aggregation of
    ops.relational.hll_registers run as a streaming aggregation. State
    is m rows per event_type REGARDLESS of stream length (max is
    associative/commutative, so micro-batch arrival order cannot show
    — same argument as streaming_latest_state), which is precisely the
    HLL mergeability property: this is how a 10^12-event stream keeps a
    live distinct-user estimate without ever storing user ids. Run with
    update/complete mode; the batch estimator (event_user_hll) folds
    the same register table into the integer harmonic mean."""
    from propertygraph_spark.ops.relational import hll_registers
    return hll_registers(events, m=m)


def streaming_view_click_join(events: DataFrame,
                              max_delay: str = "5 minutes",
                              watermark: str = "10 minutes") -> DataFrame:
    """Stream-STREAM interval join — the attribution query (every view
    a user's click can be credited to, view within ``max_delay``
    BEFORE the click), run with state on BOTH sides: views wait for
    future clicks, clicks wait for late views. This is the one
    Structured Streaming state shape the suite's stream-static and
    aggregation ops don't exercise.

    State bound: both inputs are watermarked, and the join's time-range
    condition lets Spark evict a buffered view once the click-side
    watermark passes view_ts + max_delay (and clicks likewise) — state
    tracks the delay window, not the stream length. Inner join, so
    matches emit as they are found (append mode, no watermark wait for
    results). The batch twin is the identical join expression over the
    static table; equality across multi-file triggers is pinned in
    tests (a view buffered in an early trigger joins a click arriving
    triggers later)."""
    views = (events.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    cond = ((F.col("v_user") == F.col("c_user"))
            & (F.col("view_ts") <= F.col("click_ts"))
            & (F.col("view_ts") >=
               F.col("click_ts") - F.expr(f"INTERVAL {max_delay}")))
    return (views.join(clicks, cond)
            .select(F.col("v_user").alias("user_id"), "view_id",
                    "click_id", "view_ts", "click_ts",
                    (F.unix_timestamp("click_ts")
                     - F.unix_timestamp("view_ts"))
                    .cast("long").alias("lag_sec")))


def streaming_view_click_join_outer(events: DataFrame,
                                    max_delay: str = "5 minutes",
                                    watermark: str = "10 minutes"
                                    ) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the unmatched-row
    state shape the inner attribution join can't exercise: every view
    emits exactly once, either credited to a click inside
    ``max_delay`` or, once the watermark proves no such click can
    still arrive, as a NULL-click row (the 'unconverted impressions'
    feed billing/funnel pipelines reconcile against). Inner matches
    emit as found; null rows emit only when the view's state is
    evicted at watermark + delay — which is why the batch twin (the
    identical left join over the static table) equals the stream
    output exactly once the watermark has passed every view's
    eviction horizon (pinned in tests with a cross-trigger match, a
    view whose only click is out of window, and a clickless view)."""
    views = (events.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    cond = ((F.col("v_user") == F.col("c_user"))
            & (F.col("view_ts") <= F.col("click_ts"))
            & (F.col("view_ts") >=
               F.col("click_ts") - F.expr(f"INTERVAL {max_delay}")))
    return (views.join(clicks, cond, "leftOuter")
            .select(F.col("v_user").alias("user_id"), "view_id",
                    "click_id", "view_ts", "click_ts",
                    (F.unix_timestamp("click_ts")
                     - F.unix_timestamp("view_ts"))
                    .cast("long").alias("lag_sec")))


def streaming_commit_sink(stream_df: DataFrame, path: str,
                          checkpoint_dir: str):
    """Exactly-once streaming sink into the stage-commit format —
    foreachBatch + an idempotent batch ledger. Structured Streaming's
    foreachBatch is at-least-once (a batch whose sink work finished
    but whose checkpoint offset commit did not is REPLAYED on
    restart); exactly-once is recovered the way Iceberg/Delta sinks
    do it, by making the commit idempotent on the batch id:

    - each micro-batch writes its rows under ``batch=<id>/`` with
      mode=overwrite (a torn previous attempt of the SAME batch is
      replaced wholesale, never appended to), then
    - appends ONE snapshot with fingerprint ``batch:<id>`` to the
      stage's ``_snapshots.json`` commit ledger;
    - a replayed batch whose id is already in the ledger is a no-op
      BEFORE any write.

    Row counts come from parquet footers of the just-written dir (no
    second scan job). The output is a normal partitioned stage dir:
    ``spark.read.parquet(path)`` sees every committed batch, and the
    ledger's parent-linked chain records the ingest lineage
    (batch ids, rows, files) exactly like the batch pipeline's
    commits. Restart-safe end to end: killed-after-write-before-
    ledger and killed-mid-write are both pinned in tests."""
    import os

    from propertygraph_spark.pipeline.materialize import (_append_snapshot,
                                                          snapshot_history)

    def commit_batch(bdf: DataFrame, batch_id: int) -> None:
        fp = f"batch:{batch_id}"
        if any(s.get("fingerprint") == fp
               for s in snapshot_history(path)):
            return  # replay of an already-committed batch
        target = os.path.join(path, f"batch={batch_id}")
        bdf.write.mode("overwrite").parquet(target)
        import pyarrow.parquet as pq
        n_rows = n_files = 0
        for name in sorted(os.listdir(target)):
            if name.endswith(".parquet"):
                n_files += 1
                n_rows += pq.ParquetFile(
                    os.path.join(target, name)).metadata.num_rows
        _append_snapshot(path, "streaming-append", fp,
                         {"batch_id": batch_id, "total_rows": n_rows,
                          "n_data_files": n_files})

    return (stream_df.writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def streaming_session_windows(events: DataFrame,
                              gap: str = "30 minutes",
                              watermark: str = "1 hour") -> DataFrame:
    """Native session-window aggregation (F.session_window) — the
    ENGINE-managed sessionizer next to the suite's custom
    applyInPandasWithState one (streaming_user_sessions): Spark merges
    overlapping per-event gap windows in its own session state store,
    no user state function at all. Worth both paths: the native
    operator gets incremental state merging, RocksDB spill and
    watermark eviction for free, while the custom operator expresses
    semantics session_window can't (emit-on-gap mid-stream, custom
    carry-over). Output one row per closed session with integer-exact
    value sums (x1000); batch == streaming pinned in tests (session
    merge is associative, so trigger slicing cannot show)."""
    return (events.withWatermark("ts", watermark)
            .groupBy("user_id",
                     F.session_window("ts", gap).alias("win"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 1000).cast("long"))
                 .alias("sum_value_x1000"))
            .select("user_id",
                    F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"),
                    "n_events", "sum_value_x1000"))


def streaming_upsert_sink(stream_df: DataFrame, path: str,
                          checkpoint_dir: str, key_cols: list,
                          delete_col: str | None = None,
                          n_buckets: int = 8,
                          bucket_from: str | None = None):
    """Streaming CDC APPLY — the Delta/Iceberg 'foreachBatch + MERGE'
    pattern as a first-class sink: every micro-batch merges into a
    keyed bucket-stage table (update rows replace their key, new keys
    insert, flagged rows delete), so the table converges to
    latest-state-per-key however the stream slices. Exactly-once two
    ways deep: the batch id is checked against the stage's snapshot
    ledger BEFORE any work (an at-least-once replay of a committed
    batch is a no-op), and even a crash BETWEEN the merge and its
    ledger entry replays safely, because MERGE of the same update set
    is a fixpoint (re-replacing a key with the same row, re-deleting
    an absent key and re-inserting a now-present key all land on the
    same table) — where a blind append would double rows.

    Scale shape: merge_stage_buckets prunes each micro-batch to the
    buckets its keys hash into; a quiet stream touching 100 keys per
    trigger rewrites ~100 bucket files per trigger regardless of
    table size. State is the table itself — the streaming query
    carries NO state store at all (contrast streaming_latest_state,
    which keeps one row per key in memory: this sink is the durable,
    table-backed version of the same convergence).

    Every micro-batch, the first one included, is one
    ``merge_stage_buckets``: the first batch merges into an empty stage
    (no ``_buckets.json``, no data file), so bootstrap has no write path
    of its own. A micro-batch may carry at most one row per key: a
    duplicate raises ``ValueError`` before the batch writes anything
    (``materialize.require_one_row_per_key``)."""
    import os

    from propertygraph_spark.pipeline.materialize import (
        _append_snapshot, merge_stage_buckets, snapshot_history)

    bfrom = bucket_from or key_cols[0]

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        fp = f"upsert-batch:{batch_id}"
        if any(s.get("fingerprint") == fp
               for s in snapshot_history(path)):
            return  # replayed, already merged
        merge_stage_buckets(bdf.sparkSession, path, bdf, key_cols,
                            delete_col=delete_col,
                            n_buckets=n_buckets, bucket_from=bfrom)
        os.makedirs(path, exist_ok=True)  # an empty batch writes nothing
        _append_snapshot(path, "streaming-upsert", fp,
                         {"batch_id": batch_id})

    return (stream_df.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
