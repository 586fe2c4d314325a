"""Structured Streaming surface (SURVEY §2.10).

The reference has no streaming; its closest analog is incremental commit
batching (U9).  Here the batch window operators
(lwetl_spark/operators/windows.py) get true streaming counterparts:
`readStream` over a parquet directory → watermarked windowed aggregation →
memory/foreachBatch sink.  The aggregate expressions are shared with the
batch path so batch and streaming results line up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lwetl_spark.operators._fsutil import path_exists as _path_exists
from lwetl_spark.operators._fsutil import read_parquet, replace_table


def _file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A file stream over the parquet directory ``path``, its schema read
    once from the directory's footer; ``max_files_per_trigger`` (when
    given) caps each micro-batch's files."""
    reader = spark.readStream.schema(read_parquet(spark, path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def _reject_cross_batch_rules(rules: list[dict]) -> None:
    """Per-batch validation sees one micro-batch at a time, so a rule
    that needs cross-batch state (an FD broken across batches folds to
    0 violations) is refused up front."""
    for r in rules:
        if r["kind"] in ("unique", "foreign_key", "functional_dependency"):
            raise ValueError(
                f"rule {r['rule']!r}: {r['kind']} needs cross-batch state — "
                "validate the published table with a batch pass instead"
            )


def _vector_kwargs(
    batch: DataFrame,
    vector_index_path: str | None,
    id_col: str,
    vec_col: str,
    vector_index_kind: str,
) -> dict:
    """`ingest_increment`'s dual-index keywords for one micro-batch: the
    batch's (id, vector) rows and the vector index, or none without one."""
    if vector_index_path is None:
        return {}
    return {
        "embeddings": batch.select(id_col, vec_col),
        "vector_index_path": vector_index_path,
        "vec_col": vec_col,
        "vector_index_kind": vector_index_kind,
    }


def stream_events_tumbling(
    spark: SparkSession,
    events_path: str,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window streaming aggregate over an events
    parquet directory.  `F.window` here (not epoch arithmetic) because
    streaming state management requires the native window column.
    """
    stream = _file_stream(spark, events_path)
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_exact(
    spark: SparkSession,
    events_path: str,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication: watermark-bounded dropDuplicates.

    The batch form (operators/dedup.exact_dedup) keeps the whole digest
    space; streaming state is bounded by the watermark horizon — at
    100 TB/day the state holds one key per distinct event inside the
    lateness window only.
    """
    keys = keys or ["user_id", "event_type", "ts"]
    stream = _file_stream(spark, events_path)
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicates(keys)
    )


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    gap_seconds: int = 1800,
    watermark: str = "1 second",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (SURVEY §2.10 — the reference has no
    streaming; this is the scale-path form of operators/windows.sessionize).

    State per user = the open session (start/end/count/sum as epoch-µs
    scalars).  Sessions closed by an in-batch gap emit immediately;
    the trailing open session emits on event-time timeout once the
    watermark passes session_end + gap.  Batch and streaming share the
    same gap rule, so closed sessions match the batch operator exactly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        _file_stream(spark, events_path, max_files_per_trigger)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    gap_us = gap_seconds * 1_000_000

    # NOTE: closure is pickled by value for the Python workers — imports
    # stay inside, no references to module-level helpers (see
    # .claude/skills/verify gotchas).
    def fn(key, pdf_iter, state):
        import pandas as pd

        user = key[0]

        def emit(start_us, end_us, n, s):
            return pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                    "sum_value": [round(s, 2)],
                }
            )

        if state.hasTimedOut:
            (start_us, end_us, n, s) = state.get
            state.remove()
            yield emit(start_us, end_us, n, s)
            return

        rows = []
        for pdf in pdf_iter:
            for ts, val in zip(pdf["ts"], pdf["value"]):
                rows.append((int(pd.Timestamp(ts).value // 1000), float(val)))
        rows.sort()
        cur = state.get if state.exists else None  # (start, end, n, sum)
        for ts_us, val in rows:
            if cur is None:
                cur = (ts_us, ts_us, 1, val)
            elif ts_us - cur[1] > gap_us:
                yield emit(*cur)
                cur = (ts_us, ts_us, 1, val)
            else:
                cur = (cur[0], max(cur[1], ts_us), cur[2] + 1, cur[3] + val)
        if cur is not None:
            deadline_ms = cur[1] // 1000 + gap_seconds * 1000
            wm_ms = state.getCurrentWatermarkMs()
            if deadline_ms <= wm_ms:
                state.remove() if state.exists else None
                yield emit(*cur)
            else:
                state.update(cur)
                state.setTimeoutTimestamp(deadline_ms)

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, session_start timestamp, session_end timestamp, "
            "n_events long, sum_value double"
        ),
        stateStructType="start long, end long, n long, s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_multi_rollup(
    spark: SparkSession,
    events_path: str,
    fine: str = "5 minutes",
    coarse: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming continuous aggregate at two resolutions: a watermarked
    fine-grained tumbling aggregate CHAINED into a coarse re-aggregation
    (`F.window_time` over the fine window — the multiple-stateful-
    operator support of Spark ≥ 3.4).  This is the streaming counterpart
    of the batch `x_multi_rollup` (5m → 1h → 1d re-aggregation): coarse
    buckets consume finalized fine buckets, never raw events, so
    per-operator state is bounded by windows in the lateness horizon —
    not by event volume.  Append mode is required: a coarse bucket emits
    once, when the watermark passes its end."""
    stream = _file_stream(spark, events_path)
    fine_agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", fine))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    return (
        fine_agg.groupBy(F.window(F.window_time("window"), coarse))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    watermark: str = "10 minutes",
    max_gap: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream INNER join: pair each left-type event
    with the same user's right-type events that follow within
    ``max_gap`` (click→purchase attribution — the canonical
    stream-stream use).

    Scale design: a stream-stream join buffers BOTH sides in state; the
    two things that bound that state are exactly what this plan encodes
    — a watermark on each side (late data horizon) and a TIME-RANGE
    predicate in the join condition (``r.ts BETWEEN l.ts AND l.ts +
    gap``), which lets Spark evict any buffered row once the watermark
    passes its last possible match.  An equi-join without the range
    bound would accumulate state forever.  The join itself shuffles both
    streams on user_id once per micro-batch; the state store is
    partitioned the same way, so matching is local thereafter.
    """

    def _side(tag: str, typ: str) -> DataFrame:
        return (
            _file_stream(spark, events_path).filter(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{tag}_user"),
                F.col("ts").cast("timestamp").alias(f"{tag}_ts"),
                F.col("value").alias(f"{tag}_value"),
            )
            .withWatermark(f"{tag}_ts", watermark)
        )

    left, right = _side("l", left_type), _side("r", right_type)
    return left.join(
        right,
        F.expr(
            "l_user = r_user AND "
            f"r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {max_gap}"
        ),
    ).select(
        F.col("l_user").alias("user_id"), "l_ts", "r_ts", "l_value", "r_value"
    )


def stream_to_memory(df: DataFrame, name: str = "stream_out", mode: str = "complete") -> DataFrame:
    """Drive a streaming DataFrame to completion against the available
    input (processAllAvailable) and return the materialized result from
    the memory sink.  Complete mode → every window present once; append
    mode (stateful/dedup queries) → only finalized rows.
    """
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def stream_enrich(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    static dimension.  The dim side is broadcast (stateless — no join
    state accumulates, unlike stream-stream joins) and is re-resolved
    each batch, so a slowly-changing dimension refreshes without a query
    restart.  This is the streaming face of the J1/J2 dimension joins."""
    stream = _file_stream(spark, events_path)
    return stream.join(F.broadcast(dim), on, how)


def stream_upload(
    spark: SparkSession,
    events_path: str,
    uploader,
    transform=None,
) -> "object":
    """The true streaming analog of the reference's per-N-rows commit
    loop (U9, sql_query/main.py:196-244 / db_copy/main.py:329-360):
    `foreachBatch` hands each micro-batch to the Uploader's bulk path,
    so the reference's "commit every N rows" becomes "commit every
    micro-batch" with the same dry-run/commit write-policy gate applied
    per batch.  Returns the started StreamingQuery (caller stops it);
    exactly-once per batch comes from the checkpoint + idempotent
    append-by-batchId discipline of foreachBatch sinks."""
    stream = _file_stream(spark, events_path)
    if transform is not None:
        stream = transform(stream)

    def sink(batch_df, batch_id: int) -> None:
        uploader.insert_df(batch_df)

    return stream.writeStream.foreachBatch(sink).start()


def stream_cms(
    spark: SparkSession,
    docs_path: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
    max_files_per_trigger: int = 2,
):
    """Streaming count-min sketch (NEW; pairs with operators/sketch.py).

    Each micro-batch runs ONE map-side-combinable aggregation producing
    at most d·w counter rows; `foreachBatch` folds them counter-wise
    into a constant-size accumulator.  This is the sketch's mergeability
    made operational: state is d·w longs REGARDLESS of stream volume —
    the streaming analog of merging per-partition sketches in batch.
    Exactly the same counters as a batch `cms_build` over the union of
    all batches (addition is associative/commutative), pinned by
    test_streaming.

    Returns (query, counters) — caller awaits the query, then reads
    `counters` {(j, pos): cnt}.
    """
    from lwetl_spark.functions.text import tokens
    from lwetl_spark.operators.sketch import cms_build

    stream = _file_stream(spark, docs_path, max_files_per_trigger)
    counters: dict[tuple[int, int], int] = {}

    def sink(batch_df, batch_id: int) -> None:
        tok = batch_df.select(F.explode(tokens(text_col)).alias("token"))
        for r in cms_build(tok, depth=depth, width=width).collect():
            k = (r["j"], r["pos"])
            counters[k] = counters.get(k, 0) + r["cnt"]

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    return q, counters


def stream_paragraph_dedup(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_files_per_trigger: int = 2,
):
    """Streaming twin of operators/dedup.paragraph_dedup (r9): every
    micro-batch's paragraphs dedup against the PERSISTED seen-paragraph
    state AND within the batch (first occurrence by (doc_id, pos)),
    cleaned documents append to ``out_path``, and only the novel
    fingerprints append to the state — so a paragraph admitted in any
    earlier batch never survives a later one (the cross-batch
    first-occurrence rule a daily-crawl boilerplate filter needs).

    Scale shape per micro-batch: one min-struct agg over the batch's
    paragraphs, one anti-join against state keyed on the 16-byte
    fingerprint (paragraph text never joins against state), one
    reassembly agg.  State grows by exactly the novel paragraphs."""
    stream = _file_stream(spark, docs_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        parts = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), sep, -1)).alias(
                "pos", "para"),
        ).withColumn("fp", F.md5("para")).localCheckpoint(eager=True)
        # existence probe + unguarded read (the r9 state-read rule)
        if _path_exists(sess, state_path):
            seen = read_parquet(sess, state_path).select("fp")
            fresh = parts.join(seen.hint("shuffle_hash"), "fp",
                               "left_anti")
        else:
            fresh = parts
        winners = fresh.groupBy("fp").agg(
            F.min(F.struct("doc_id", "pos")).alias("w")
        ).select(
            "fp",
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.pos").alias("pos"),
        ).localCheckpoint(eager=True)
        kept = fresh.join(
            winners.hint("shuffle_hash"), ["fp", "doc_id", "pos"],
            "left_semi",
        ).unionByName(
            parts.filter(F.trim("para") == "")
            .join(winners.hint("shuffle_hash"),
                  ["fp", "doc_id", "pos"], "left_anti")
        )
        agg = kept.groupBy("doc_id").agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
            ).alias("text"),
            F.count("*").cast("long").alias("n_kept"),
        )
        totals = parts.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("n_paras")
        )
        out = totals.join(agg.hint("shuffle_hash"), "doc_id", "left").select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long")
            .alias("n_kept"),
        ).localCheckpoint(eager=True)
        out.write.mode("append").parquet(out_path)
        winners.select("fp").write.mode("append").parquet(state_path)

    return stream.writeStream.foreachBatch(sink).start()


def stream_dedup_against_corpus(
    spark: SparkSession,
    docs_path: str,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 2,
):
    """Incremental corpus-ingestion dedup (NEW; the streaming form of
    bloom_filter_dedup's corpus-vs-batch split): every micro-batch of
    documents is fingerprinted (md5 of normalized text), checked against
    the PERSISTED admitted-fingerprint state, and only novel fingerprints
    are admitted — the state parquet grows by exactly the admitted rows,
    so re-ingesting a document (or a retry replaying a batch) can never
    admit it twice.

    Scale shape: the state probe is one anti-join per micro-batch keyed
    on the 16-byte fingerprint — (fp, id) rows only, document text never
    leaves the batch.  At 100 TB of accumulated state, front the
    anti-join with `operators/dedup.bloom_pruned_join` (broadcast bit-set
    prune, then exact anti-join) — same plan shape, same output.  The
    admitted batch is eagerly materialized (localCheckpoint) BEFORE the
    append so the state read and the state write never overlap on the
    same files.

    Returns the started StreamingQuery (caller stops it); the admitted
    state lives at `state_path` as (fp, doc_id) parquet.
    """

    stream = _file_stream(spark, docs_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        firsts = (
            batch_df.select(
                F.col(id_col),
                F.md5(F.lower(F.trim(F.col(text_col)))).alias("fp"),
            )
            .groupBy("fp")
            .agg(F.min(id_col).alias(id_col))  # in-batch dedup, min-id rep
        )
        sess = batch_df.sparkSession
        # existence probe + unguarded read (ADVICE/VERDICT r8 #7): a
        # genuinely corrupt state parquet must surface, not silently
        # restart dedup state as if this were the first batch
        if _path_exists(sess, state_path):
            state = read_parquet(sess, state_path).select("fp")
            novel = firsts.join(state, "fp", "left_anti")
        else:  # first batch: no state yet
            novel = firsts
        # eager materialization: the append below must not race the
        # state scan feeding the anti-join (same directory)
        novel = novel.localCheckpoint(eager=True)
        novel.write.mode("append").parquet(state_path)

    return stream.writeStream.foreachBatch(sink).start()


def stream_validate(
    spark: SparkSession,
    src_path: str,
    rules: list[dict],
    max_files_per_trigger: int = 2,
):
    """Streaming data-contract gate (NEW; the foreachBatch form of
    operators/validate.py — the ingest-time quality gate a 100 TB
    pipeline runs BEFORE publishing each partition).

    Every micro-batch runs the same one-scan conditional-count
    validation as the batch operator (row-local rules only — unique/FK/
    functional-dependency need cross-batch state: an FD broken across
    micro-batches folds additively to 0 violations, so those are the
    persisted-state pattern of stream_dedup_against_corpus, not a
    per-batch census); violation
    counts fold additively into a constant-size accumulator, so the
    gate's state is one counter pair per rule REGARDLESS of stream
    volume — mergeable exactly like the count-min counters.

    Totals equal the batch validate() over the union of all batches
    (addition is associative; pinned by test_streaming).  Returns
    (query, totals) — caller awaits the query, then reads
    `totals` {rule: {"n_checked": .., "n_violations": ..}}.
    """
    from lwetl_spark.operators.validate import validate

    _reject_cross_batch_rules(rules)
    stream = _file_stream(spark, src_path, max_files_per_trigger)
    totals: dict[str, dict[str, int]] = {}

    def sink(batch_df, batch_id: int) -> None:
        for r in validate(batch_df, rules).collect():
            t = totals.setdefault(r["rule"], {"n_checked": 0, "n_violations": 0})
            t["n_checked"] += r["n_checked"]
            t["n_violations"] += r["n_violations"]

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    return q, totals


def stream_hll_distinct(
    spark: SparkSession,
    src_path: str,
    state_path: str,
    key_col: str,
    lg_k: int = 14,
    max_files_per_trigger: int = 2,
):
    """Streaming incremental distinct count (NEW; the streaming form of
    x_hll_sketch_store): every micro-batch reduces to ONE Datasketches
    HLL blob appended to the sketch store; the running distinct estimate
    is an `hll_union_agg` over the store — no batch is ever re-scanned,
    and re-counting history costs |batches| sketch rows, not data.

    Cross-batch duplicates are handled by the sketch itself (a key
    inserted in two batches unions to one), which a running sum of
    per-batch exact counts cannot do.  State grows by one ~2^lg_k-byte
    row per batch regardless of batch size; compact by periodically
    rewriting the store as the single merged sketch
    (`hll_union_agg` → overwrite), the same maintenance shape as
    compact_files.

    Returns the started query; read the estimate with
    `hll_store_estimate(spark, state_path)`.
    """
    stream = _file_stream(spark, src_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        sk = batch_df.agg(
            F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch")
        ).withColumn("batch_id", F.lit(batch_id))
        sk.write.mode("append").parquet(state_path)

    return stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()


def hll_store_estimate(spark: SparkSession, state_path: str) -> int:
    """Merged distinct estimate over a sketch store written by
    `stream_hll_distinct` (or any per-slice `hll_sketch_agg` writer)."""
    return int(
        read_parquet(spark, state_path)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("e"))
        .collect()[0]["e"]
    )


def stream_pit_enrich(
    spark: SparkSession,
    src_path: str,
    dim_path: str,
    out_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_files_per_trigger: int = 2,
):
    """Streaming point-in-time enrichment (NEW; the streaming form of
    x_pit_join): every micro-batch of facts joins to the PERSISTED SCD2
    dimension row valid AT each fact's event time — the feature-store
    backfill rule ("no time-travel leakage") applied at ingest instead
    of in a batch repair later.

    The dimension parquet is re-read per micro-batch (stream-static:
    picks up dimension updates between batches without restarting the
    query); the join is keyed on `key_col` with the half-open
    [valid_from, valid_to) residual in the same stage — per-key work is
    facts × that key's regimes, and the dimension is never broadcast
    (it grows with keys; x_pit_join's plan rule).  Late or pre-history
    facts that precede every interval enrich to NULL regime via the
    left join — they are data, not errors.

    Enriched batches append to `out_path`; equality with the batch PIT
    join over the union of batches is pinned by test_streaming.
    """
    stream = _file_stream(spark, src_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        dim = read_parquet(sess, dim_path)
        e = batch_df.alias("e")
        d = dim.alias("d")
        enriched = e.join(
            d,
            (F.col(f"e.{key_col}") == F.col(f"d.{key_col}"))
            & (F.col(f"e.{ts_col}") >= F.col("d.valid_from"))
            & (F.col(f"e.{ts_col}") < F.col("d.valid_to")),
            "left",
        ).select("e.*", F.col("d.regime").alias("regime"))
        enriched.write.mode("append").parquet(out_path)

    return stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()


def stream_quarantine(
    spark: SparkSession,
    src_path: str,
    rules: list[dict],
    clean_path: str,
    dlq_path: str,
    max_files_per_trigger: int = 2,
):
    """Streaming dead-letter routing (NEW; `stream_validate` counts,
    this one ROUTES): every micro-batch splits under the row-local
    contract rules — clean rows append to `clean_path`, violating rows
    append to `dlq_path` WITH their `violated_rules` tag array, so bad
    records are preserved for repair instead of poisoning the published
    table or being dropped silently.

    Per batch this is operators/validate.quarantine verbatim: one flag
    projection, two filtered appends — rule evaluation happens once.
    Union(clean, dlq-sans-tags) equals the source exactly (nothing
    dropped, nothing doubled; pinned by test_streaming).
    """
    from lwetl_spark.operators.validate import quarantine

    _reject_cross_batch_rules(rules)
    stream = _file_stream(spark, src_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        clean, bad = quarantine(batch_df, rules)
        clean.write.mode("append").parquet(clean_path)
        bad.write.mode("append").parquet(dlq_path)

    return stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()


def stream_markov(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    max_files_per_trigger: int = 2,
):
    """Streaming first-order transition counting with CROSS-BATCH state
    (NEW; the streaming form of x_markov_chain, and the pattern
    stream_validate's docstring points stateful kinds at): a user's
    transition can straddle a micro-batch boundary, so per-batch lag
    alone undercounts — this keeps each user's LAST event as persisted
    state and stitches the boundary transition (state.last_type →
    first in-batch type) before folding counts additively.

    Per micro-batch: one user-keyed lag window over the batch (within-
    batch transitions), one keyed join of per-user batch-firsts to the
    state (boundary transitions), one keyed window for per-user batch-
    lasts, and a state rewrite of one row per user ever seen —
    (user_id, last_type, last_ts, last_event_id) only, never event
    payloads.  At 100 TB of users, swap the overwrite for a Delta MERGE
    (same keyed shape); counts stay a constant-size accumulator keyed
    by (prev, cur) exactly like stream_validate's totals.

    ASSUMES event files arrive in time order per user (the standard
    log-shipping contract; within a batch, ordering is re-established
    by (ts, event_id)).  Under that contract the accumulated totals
    equal the batch x_markov_chain counts over the union of all batches
    (pinned by test_streaming).

    Returns (query, totals) — totals is {(prev, cur): n}, live-updated.
    """
    stream = _file_stream(spark, events_path, max_files_per_trigger)
    totals: dict[tuple[str, str], int] = {}

    def sink(batch_df, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        sess = batch_df.sparkSession
        b = batch_df.select("user_id", "event_id", "ts", "event_type")
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        with_prev = b.withColumn("prev", F.lag("event_type").over(w))
        # existence probe + unguarded read — corrupt state must surface
        state = (read_parquet(sess, state_path)
                 if _path_exists(sess, state_path) else None)
        within = with_prev.filter(F.col("prev").isNotNull()).select(
            "prev", F.col("event_type").alias("cur")
        )
        trans = within
        if state is not None:
            boundary = (
                with_prev.filter(F.col("prev").isNull())
                .join(state, "user_id")
                .select(
                    F.col("last_type").alias("prev"),
                    F.col("event_type").alias("cur"),
                )
            )
            trans = within.unionByName(boundary)
        for r in trans.groupBy("prev", "cur").agg(F.count("*").alias("n")).collect():
            k = (r["prev"], r["cur"])
            totals[k] = totals.get(k, 0) + r["n"]
        wl = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        last = (
            b.withColumn("_rn", F.row_number().over(wl))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("last_type"),
                F.col("ts").alias("last_ts"),
                "event_id",
            )
        )
        if state is not None:
            carried = state.join(
                b.select("user_id").distinct(), "user_id", "left_anti"
            )
            last = last.unionByName(
                carried.select("user_id", "last_type", "last_ts", "event_id")
            )
        # the new state reads the old one (same directory)
        replace_table(sess, last, state_path)

    return stream.writeStream.foreachBatch(sink).start(), totals


def stream_ab_test(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    value_threshold: float = 90.0,
    max_files_per_trigger: int = 2,
):
    """Streaming A/B conversion monitoring with CROSS-BATCH per-user
    state (NEW; the streaming form of x_ab_test): a user's conversion is
    a MAX over their whole event history, so per-batch aggregation alone
    undercounts — each batch's per-user conversions merge into a
    persisted (user_id, variant, conv) table via coalesce-max (exactly
    the stream_markov state pattern; at 100 TB of users, a Delta MERGE
    on the same keys).

    Returns (query, stats) — ``stats()`` reads the state and computes
    the pooled two-proportion z² with the SAME operator the batch query
    uses (`operators/grouped.two_proportion_z2`), so after
    processAllAvailable the streaming statistic equals the batch one
    over the union of all batches (pinned by test_streaming).
    """
    from lwetl_spark.operators.grouped import two_proportion_z2

    stream = _file_stream(spark, events_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        b = (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > value_threshold)
                    ).cast("int")
                ).alias("conv")
            )
            .select(
                "user_id",
                (F.col("user_id") % 2).cast("long").alias("variant"),
                "conv",
            )
        )
        # existence probe + unguarded read — corrupt state must surface
        if _path_exists(sess, state_path):
            state = read_parquet(sess, state_path)
            merged = (
                b.select(
                    "user_id", "variant", F.col("conv").alias("_new")
                )
                .join(
                    state.select("user_id", F.col("conv").alias("_old")),
                    "user_id",
                    "full_outer",
                )
                .select(
                    "user_id",
                    F.coalesce(
                        F.col("variant"), (F.col("user_id") % 2).cast("long")
                    ).alias("variant"),
                    F.greatest(
                        F.coalesce(F.col("_new"), F.lit(0)),
                        F.coalesce(F.col("_old"), F.lit(0)),
                    ).alias("conv"),
                )
            )
        else:  # first batch: no state yet
            merged = b
        replace_table(sess, merged, state_path)

    q = stream.writeStream.foreachBatch(sink).start()

    def stats():
        return two_proportion_z2(
            read_parquet(spark, state_path).select("variant", "conv")
        )

    return q, stats


def stream_ingest_increment(
    spark: SparkSession,
    docs_path: str,
    manifest_path: str,
    state_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 2,
    vector_index_path: str | None = None,
    vec_col: str = "embedding",
    vector_index_kind: str = "ivf",
    index_positions: bool = False,
):
    """Continuous daily-crawl ingestion: every micro-batch of crawled
    documents runs one delta-mode campaign increment
    (operators/incremental.ingest_increment, snapshot_is_delta=True) —
    manifest merge, content dedup against the persisted admitted set,
    incremental inverted-index update.  The streaming form of the batch
    campaign, built the stream_dedup_against_corpus way: foreachBatch +
    persisted parquet state, so a replayed batch is idempotent (its
    fingerprints are already admitted → nothing re-enters) and the
    index stays continuously probe-able while ingestion runs.

    With ``vector_index_path`` the stream maintains the vector index
    too (the dual-index campaign, VERDICT r5 #2; ``vector_index_kind``
    picks the ANN family — ivf/pq/lsh/ivfpq, VERDICT r6 #2): the streamed
    parquet then carries a ``vec_col`` embedding column (crawl + embed
    the delta arrive together), the FIRST admitting batch builds the
    index and freezes the quantizer, and every later batch's admitted
    vectors append — the same == rebuild-with-train_df= contract as the
    batch form, continuously probe-able.

    Scale shape: each batch's cost is O(batch) + id/digest-keyed joins
    against state (SCALE.md's campaign table measures the batch form
    flat across a 16× corpus); batches serialize through foreachBatch,
    which is exactly the ordering the manifest/state updates need.

    Returns the started StreamingQuery (caller stops it).
    """
    from lwetl_spark.operators.incremental import ingest_increment

    stream = _file_stream(spark, docs_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_increment(
            batch_df.sparkSession,
            batch_df.select(id_col, text_col),
            manifest_path,
            state_path,
            index_path,
            id_col=id_col,
            text_col=text_col,
            snapshot_is_delta=True,
            index_positions=index_positions,
            **_vector_kwargs(
                batch_df, vector_index_path, id_col, vec_col, vector_index_kind
            ),
        )

    return stream.writeStream.foreachBatch(sink).start()


def stream_ingest_cdc(
    spark: SparkSession,
    changes_path: str,
    manifest_path: str,
    state_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    delete_op: str = "D",
    max_files_per_trigger: int = 2,
    compact_changed: bool = False,
    compact_deferred_threshold: int | None = None,
    vector_index_path: str | None = None,
    vec_col: str = "embedding",
    order_col: str | None = None,
    vector_index_kind: str = "ivf",
):
    """CDC-stream form of the campaign: every micro-batch carries an
    ``op_col`` (upsert rows + ``delete_op`` tombstone rows — the
    Debezium/outbox delivery shape), and each batch runs ONE delta-mode
    `ingest_increment` with the batch's deletes as the tombstone feed:
    upserts admit/defer through the normal manifest-diff path, deletes
    purge index + state + manifest (and the vector index in dual-index
    mode), and deletion wins over a same-batch upsert of the same id
    (the tombstone contract).  ``compact_changed=True`` additionally
    applies deferred changed docs per batch — correct but postings-read
    priced; leave it off and batch compaction into a maintenance window
    unless the stream is small, or set ``compact_deferred_threshold=N``
    to let the backlog policy fire it automatically (each batch counts
    the deferred backlog with id-only joins and pays the postings read
    only when backlog ≥ N).

    ``order_col`` (a per-id total order: sequence id or log timestamp)
    enables LAST-WRITE-WINS reduction when one micro-batch can carry
    several changes for the same id — the apply_changelog contract,
    with the delete signal PRESERVED (a last-change delete tombstones;
    a delete followed by a later upsert in the same batch admits the
    upsert).  Without it, a batch is assumed to carry at most one
    change per id, except the delete+upsert pair the tombstone
    deletion-wins contract already defines.

    foreachBatch + persisted parquet state, like `stream_ingest_
    increment`: replays are idempotent, the index stays continuously
    probe-able, and batches serialize in exactly the order the
    manifest/state updates need.  Returns the started StreamingQuery.
    """
    from lwetl_spark.operators.incremental import ingest_increment

    stream = _file_stream(spark, changes_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import functions as F2
        from pyspark.sql.window import Window as W2

        if order_col is not None:
            w = W2.partitionBy(id_col).orderBy(F2.col(order_col).desc())
            batch_df = (
                batch_df.withColumn("_rn", F2.row_number().over(w))
                .filter(F2.col("_rn") == 1)
                .drop("_rn")
            )
        upserts = batch_df.filter(F2.col(op_col) != delete_op)
        deletes = batch_df.filter(F2.col(op_col) == delete_op).select(id_col)
        ingest_increment(
            batch_df.sparkSession,
            upserts.select(id_col, text_col),
            manifest_path,
            state_path,
            index_path,
            id_col=id_col,
            text_col=text_col,
            snapshot_is_delta=True,
            compact_changed=compact_changed,
            compact_deferred_threshold=compact_deferred_threshold,
            tombstones=deletes,
            **_vector_kwargs(
                upserts, vector_index_path, id_col, vec_col, vector_index_kind
            ),
        )

    return stream.writeStream.foreachBatch(sink).start()


def stream_event_pattern(
    spark: SparkSession,
    events_path: str,
    state_path: str,
    pattern: tuple[str, str, str] = ("view", "click", "purchase"),
    within_days: int = 7,
    max_files_per_trigger: int = 2,
):
    """Streaming strict-contiguity pattern detection with CROSS-BATCH
    state: the streaming form of x_event_pattern (consecutive
    p1→p2→p3 triples completing within ``within_days``).  A triple can
    straddle a micro-batch boundary with one OR two of its events in
    the previous batch, so the state keeps each user's last TWO events
    ((user_id, type, ts, event_id) × ≤2 — never payloads); each batch
    is detected over the stitched (state-tail + batch) sequence.

    No double counting, by construction: every match needs 3 events
    and the state tail holds only the final 2 of the previous batch —
    a triple counted now must END on an in-batch event (enforced with
    a row-source flag), and a triple ending in the previous batch was
    complete there.  Totals therefore equal the batch x_event_pattern
    counts over the union of all batches under the per-user
    time-ordered-arrival contract (same as stream_markov; pinned by
    test_streaming).

    Per micro-batch: one user-keyed window pass over (tail + batch),
    one keyed state rewrite.  At 100 TB of users the overwrite becomes
    a keyed MERGE, identical shape.  Returns (query, totals) — totals
    is {user_id: n_matches}, live-updated.
    """
    stream = _file_stream(spark, events_path, max_files_per_trigger)
    totals: dict[int, int] = {}
    p1, p2, p3 = pattern

    def sink(batch_df, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        sess = batch_df.sparkSession
        b = batch_df.select("user_id", "event_id", "ts", "event_type").withColumn(
            "from_state", F.lit(False)
        )
        # existence probe + unguarded read — corrupt state must surface
        state = (read_parquet(sess, state_path)
                 if _path_exists(sess, state_path) else None)
        stitched = b
        if state is not None:
            stitched = b.unionByName(
                state.withColumn("from_state", F.lit(True))
            )
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        s = stitched.select(
            "user_id",
            "ts",
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
            F.lead("ts", 2).over(w).alias("t3"),
            F.lead("from_state", 2).over(w).alias("ends_in_state"),
        )
        hits = s.filter(
            (F.col("event_type") == p1)
            & (F.col("e2") == p2)
            & (F.col("e3") == p3)
            & (F.col("t3") <= F.col("ts") + F.expr(f"INTERVAL {int(within_days)} DAY"))
            & (~F.col("ends_in_state"))
        )
        for r in hits.groupBy("user_id").agg(F.count("*").alias("n")).collect():
            totals[r["user_id"]] = totals.get(r["user_id"], 0) + r["n"]
        # new state: last 2 events per user over the stitched sequence —
        # but ONLY for users present in this batch (stitched also holds
        # idle users' state rows; recomputing their tail AND carrying
        # them forward would duplicate their rows each idle batch,
        # silently breaking strict contiguity); untouched users carry
        # their existing rows forward unchanged
        batch_users = b.select("user_id").distinct()
        wl = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        tail = (
            stitched.join(batch_users, "user_id", "left_semi")
            .withColumn("_rn", F.row_number().over(wl))
            .filter(F.col("_rn") <= 2)
            .select("user_id", "event_id", "ts", "event_type")
        )
        if state is not None:
            carried = state.join(batch_users, "user_id", "left_anti").select(
                "user_id", "event_id", "ts", "event_type"
            )
            tail = tail.unionByName(carried)
        replace_table(sess, tail, state_path)

    return stream.writeStream.foreachBatch(sink).start(), totals


def stream_media_meta(
    spark: SparkSession,
    media_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/media.media_meta: continuous
    container-metadata extraction over arriving (doc_id, payload
    binary) parquet — the front gate of a streaming multimodal ingest
    (route by sniffed format, drop corrupt files, bucket by
    resolution/duration before any expensive decode stage).  The Arrow
    parser is the SAME mapInPandas closure as the batch operator, so
    per-item results are identical by construction (pinned by
    test_streaming); corrupt payloads yield valid=false rows, never a
    failed micro-batch.  Returns the streaming DataFrame for the
    caller to sink."""
    from lwetl_spark.operators.media import media_meta

    return media_meta(_file_stream(spark, media_path, max_files_per_trigger))


def stream_mp4_frames(
    spark: SparkSession,
    media_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/media.mp4_frame_index (r8):
    continuous per-frame extraction over arriving video payloads — the
    stage a streaming multimodal ingest runs between the container
    gate (`stream_media_meta`) and any codec/embedding work, emitting
    one row per frame with its exact byte range and keyframe flag.
    Same Arrow closure as the batch operator (identical results by
    construction, pinned by test_streaming); payloads without a video
    sample table contribute no rows, malformed tables never fail a
    micro-batch."""
    from lwetl_spark.operators.media import mp4_frame_index

    return mp4_frame_index(
        _file_stream(spark, media_path, max_files_per_trigger)
    )


def stream_mkv_frames(
    spark: SparkSession,
    media_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/media.mkv_frame_index (r9): the
    Matroska leg of continuous frame extraction — same Arrow closure
    as the batch operator (identical results by construction, pinned
    by test_streaming); payloads without SimpleBlocks contribute no
    rows, corrupt clusters never fail a micro-batch."""
    from lwetl_spark.operators.media import mkv_frame_index

    return mkv_frame_index(_file_stream(spark, media_path, max_files_per_trigger))


def stream_image_dhash(
    spark: SparkSession,
    media_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/media.image_dhash (r9): continuous
    perceptual fingerprinting over arriving image payloads — the stage
    a streaming multimodal ingest runs between the container gate and
    near-dup admission (compose with `stream_dedup_against_corpus`
    keyed on the hash for cross-batch image dedup).  Same Arrow
    closure as the batch operator; corrupt payloads yield ok=false
    rows, never a failed micro-batch."""
    from lwetl_spark.operators.media import image_dhash

    return image_dhash(_file_stream(spark, media_path, max_files_per_trigger))


def stream_pdf_text(
    spark: SparkSession,
    media_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/media.pdf_text (r9): continuous
    PDF census + text extraction over arriving document payloads —
    the stage a streaming crawl ingest runs in front of the text
    pipeline (compose with `stream_ingest_increment` on the extracted
    text for campaign admission).  Same Arrow closure as the batch
    operator (identical results by construction, pinned by
    test_streaming); encrypted/corrupt payloads yield partial or NULL
    rows, never a failed micro-batch."""
    from lwetl_spark.operators.media import pdf_text

    return pdf_text(_file_stream(spark, media_path, max_files_per_trigger))


def stream_zip_members(
    spark: SparkSession,
    media_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/media.zip_member_contents (r9):
    continuous archive cataloguing + member extraction over arriving
    zip payloads — the front stage of a streaming bundle ingest (the
    tar/WebDataset twin's sibling for the other dominant archive
    format).  Same Arrow closure as the batch operator; corrupt
    archives yield partial catalogs, never a failed micro-batch."""
    from lwetl_spark.operators.media import zip_member_contents

    return zip_member_contents(
        _file_stream(spark, media_path, max_files_per_trigger)
    )


def stream_media_apply(
    spark: SparkSession,
    media_path: str,
    op,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Generic streaming twin for any batch media operator (r9):
    `op` is one of the (doc_id, payload) → rows operators
    (gif_pixel_stats, flac_meta, ogg_meta, tiff_pages,
    tiff_pixel_stats, avi_meta, …) — they are all single
    mapInPandas/select passes, so applying the SAME callable to a
    readStream frame yields identical per-item results by
    construction (pinned for two representatives in test_streaming;
    the named twins above remain for the operators that predate
    this).  Corrupt payloads follow each operator's own NULL/partial
    contract — never a failed micro-batch."""
    return op(_file_stream(spark, media_path, max_files_per_trigger))


def stream_dhash_neardup(
    spark: SparkSession,
    media_path: str,
    state_path: str,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
    checkpoint_path: str | None = None,
):
    """Streaming perceptual image admission (r10 — the image-side
    sibling of `stream_dedup_against_corpus`, with a hamming RADIUS
    instead of exact fingerprints): every micro-batch of
    (doc_id, payload) decodes through `image_dhash`, and an image is
    admitted iff it has NO smaller-id in-batch neighbor and NO
    already-admitted neighbor within ``max_hamming`` — so re-uploads
    and slight re-encodes of an admitted image are never admitted
    twice.  The admission rule is the set-based DOMINATOR form
    (reject on any smaller-id neighbor, admitted or not): one banded
    join per batch, no iterative closure — deterministic under any
    partitioning, and equal to the one-shot batch result whenever
    near-dup clusters are star-shaped around their smallest id (the
    common crawl case: N copies of one original; pinned in
    test_streaming).

    Scale shape: the persisted state at ``state_path`` is the
    `dhash_bands` layout — (__id, __hi, __lo, __b, __v) rows, 4 per
    admitted image — so the state probe is a (band, value) equi-join
    (shuffle_hash-hinted: the state grows with the corpus) plus the
    bit_count hamming verify; payload bytes never leave the batch.
    Returns the started StreamingQuery (caller stops it)."""
    from lwetl_spark.operators.media import (
        dhash_bands,
        dhash_near_dup,
        image_dhash,
    )

    if not 0 <= max_hamming <= 3:
        raise ValueError("4-band LSH recall is exact only to radius 3")
    stream = _file_stream(spark, media_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        hx = (
            image_dhash(batch_df)
            .filter("ok")
            .select("doc_id", "dhash")
            .localCheckpoint(eager=True)
        )
        # (1) smaller-id in-batch neighbor -> reject the larger id
        in_batch = dhash_near_dup(hx, max_hamming=max_hamming)
        rejects = in_batch.select(F.col("id_r").alias("doc_id"))
        # (2) neighbor among the admitted state's band rows
        if _path_exists(sess, state_path):
            state = read_parquet(sess, state_path)
            bands = dhash_bands(hx)
            ham = (
                F.bit_count(bands["__hi"].bitwiseXOR(state["__hi"]))
                + F.bit_count(bands["__lo"].bitwiseXOR(state["__lo"]))
            )
            st_rej = (
                bands.join(
                    state.hint("shuffle_hash"),
                    (bands["__b"] == state["__b"])
                    & (bands["__v"] == state["__v"]),
                )
                .filter(ham <= max_hamming)
                .select(bands["__id"].alias("doc_id"))
            )
            rejects = rejects.unionByName(st_rej)
        admitted = hx.join(
            rejects.distinct(), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)  # never race the state scan
        new_bands = dhash_bands(admitted)
        if _path_exists(sess, state_path):
            # Idempotent append (r11, advisor): a crash between this
            # write and the source-progress commit — or a restart under
            # a fresh checkpoint — replays the batch; anti-joining on
            # __id keeps the 4-rows-per-admitted-id state invariant.
            seen = read_parquet(sess, state_path).select("__id").distinct()
            # Materialize BEFORE the append so the state scan never
            # races the files this very write adds.
            new_bands = new_bands.join(seen, "__id", "left_anti") \
                .localCheckpoint(eager=True)
        new_bands.write.mode("append").parquet(state_path)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()


def stream_crawl_frontier(
    spark: SparkSession,
    pages_path: str,
    state_path: str,
    max_files_per_trigger: int | None = None,
    checkpoint_path: str | None = None,
):
    """Streaming crawl frontier (late r11 — the link-graph sibling of
    `stream_dedup_against_corpus`): every micro-batch of (doc_id,
    base, html) pages harvests hrefs (`html_links`), resolves them
    against the page URL (`resolve_url`, fragments never travel),
    canonicalizes to SURT urlkeys, and admits each urlkey ONCE across
    the whole stream — in-batch dedup keeps the smallest
    (doc_id, link_idx) witness, and the persisted state (one row per
    admitted urlkey with its first witness) anti-joins
    re-discoveries away, so a page linking to an already-known
    resource never re-enqueues it.  Non-http(s) references (mailto:,
    javascript:) are dropped at the door.  Equal to the one-shot
    batch result (first witness per distinct urlkey) — pinned in
    test_streaming.

    Scale shape: only (urlkey, url, doc_id, link_idx) rows ever
    shuffle — html bytes never leave their batch; the state probe is
    an equi-join on urlkey, shuffle_hash-hinted because the frontier
    grows with the crawl.  Idempotent append: a replayed batch
    anti-joins the already-admitted keys first (the
    stream_dhash_neardup contract).  Returns the started
    StreamingQuery (caller stops it)."""
    from pyspark.sql import Window

    from lwetl_spark.functions.text import (
        html_links,
        resolve_url,
        surt_key,
    )

    stream = _file_stream(spark, pages_path, max_files_per_trigger)

    def sink(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        links = batch_df.select(
            "doc_id", "base",
            F.posexplode(html_links(F.col("html")))
            .alias("link_idx", "ref"))
        resolved = resolve_url(F.col("base"), F.col("ref"))
        cand = (links.select(
            "doc_id", F.col("link_idx").cast("long").alias("link_idx"),
            resolved.alias("url"))
            .filter(F.col("url").rlike(r"(?i)^https?://"))
            .withColumn("urlkey", surt_key(F.col("url"))))
        wk = Window.partitionBy("urlkey").orderBy("doc_id", "link_idx")
        first = (cand.withColumn("_rn", F.row_number().over(wk))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        if _path_exists(sess, state_path):
            seen = read_parquet(sess, state_path).select("urlkey")
            first = first.join(
                seen.hint("shuffle_hash"), "urlkey", "left_anti")
        # materialize BEFORE the append so the state scan never races
        # the files this very write adds
        first.localCheckpoint(eager=True) \
            .write.mode("append").parquet(state_path)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()
