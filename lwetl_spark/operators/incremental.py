"""Incremental aggregate maintenance (materialized-view upkeep).

Keeps a grouped aggregate table current as delta batches arrive WITHOUT
recomputing the base: the delta is aggregated alone (tiny), then merged
into the state table group-by-group.  Works for any MERGEABLE
aggregate — sums, counts, min/max — and derived values computable from
them (avg = sum/count); non-mergeable exact aggregates (median,
count-distinct) need sketches instead (t-digest / HLL, see
x_approx_quantile / a5_approx_distinct).

Scale design (100 TB state, GB deltas): the delta aggregates map-side
to one row per TOUCHED group; the merge is a full-outer join of that
small set against the state — hash-partitioned on the group key, so
only the state partitions holding touched groups do row work.  If the
state table is stored bucketed on the key (write_bucketed), the merge
is exchange-free on the state side: the delta shuffles, the 100 TB
doesn't.  The recompute-from-scratch alternative scans the full base
every batch — the whole point of incremental maintenance is replacing
a base-sized scan with a delta-sized one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from lwetl_spark.operators import _fsutil
from lwetl_spark.operators import _parallel as _pl
# shared with similarity/retrieval/maintain (r8: one probe, no local copies)
from lwetl_spark.operators._fsutil import path_exists as _path_exists
from lwetl_spark.operators.maintain import auto_maintain, index_family


def merge_partial_aggs(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Merge a (keys, n, sums...) state table with a RAW delta batch:
    aggregate the delta to the same shape, full-outer join on the keys,
    coalesce-add every mergeable column.  Result is identical to
    re-aggregating base ∪ delta from scratch (the oracle pins this)."""
    d = delta.groupBy(*keys).agg(
        F.count("*").alias(count_col),
        *[F.sum(c).alias(c) for c in sum_cols],
    )
    merged = state.alias("s").join(d.alias("d"), keys, "full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in [count_col, *sum_cols]:
        out_cols.append(
            (
                F.coalesce(F.col(f"s.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
        )
    return merged.select(*out_cols)


def apply_changelog(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC change log to produce the current snapshot: for every
    key, the LAST change in ``order_cols`` order wins; keys whose last
    change is a delete vanish.  The standard upsert-log → table
    materialization (Debezium/outbox replay; the reference's nearest
    surface is U4/U5 row DML, lwetl/uploader.py:572-636 — this is the
    set-based form that replaces per-row apply loops).

    Semantics are pure SQL (one keyed window + a filter), so the
    result is engine-exact and the x_cdc_apply oracle rebuilds it
    verbatim.  ``order_cols`` must totally order changes within a key
    (ts + a unique sequence id — the log-shipping contract).

    Scale: ONE shuffle on the key columns; the window keeps only the
    row_number-1 row per key, so state per reducer is a single row at
    a time (no per-key buffering of history).  For continuous apply,
    pair with a streaming foreachBatch that merges per-batch winners
    into the snapshot (the stream_markov persisted-state shape).
    """
    if not key_cols or not order_cols:
        raise ValueError("apply_changelog needs key_cols and order_cols")
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col(op_col) != delete_op)
        .drop("_rn")
    )


def manifest_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    digest_col: str = "dg",
) -> DataFrame:
    """Snapshot diff by (id, content digest): one full-outer digest join
    emitting (id, status ∈ added/removed/changed/unchanged) — the
    incremental-crawl bookkeeping in front of incremental dedup and
    index maintenance (the reusable form of x_manifest_diff; the
    reference's nearest surface is C6 dimension sync).

    Scale: (id, 32-char digest) rows shuffle, never document text; the
    join is an equi-join on the id so AQE handles skew/coalesce."""
    a, b = old.alias("a"), new.alias("b")
    return a.join(b, id_col, "full_outer").select(
        F.col(id_col),
        F.when(F.col(f"b.{digest_col}").isNull(), "removed")
        .when(F.col(f"a.{digest_col}").isNull(), "added")
        .when(F.col(f"a.{digest_col}") != F.col(f"b.{digest_col}"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def ingest_increment(
    spark,
    snapshot: DataFrame,
    manifest_path: str,
    state_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_changed: bool = False,
    compact_deferred_threshold: int | None = None,
    index_positions: bool = False,
    snapshot_is_delta: bool = False,
    retire_removed: bool = False,
    tombstones: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    vector_index_path: str | None = None,
    vec_col: str = "embedding",
    vector_num_centroids: int = 16,
    vector_index_kind: str = "ivf",
    vector_auto_maintain: bool = False,
) -> dict:
    """One daily-crawl increment, composed end-to-end (VERDICT r4 #8):

    1. **manifest diff** — the new snapshot's (id, digest) manifest
       full-outer-joins the persisted manifest; only ``added``/
       ``changed`` docs continue.  A changed doc whose old version is
       already indexed is DEFERRED (append-only index: re-admitting an
       indexed id would duplicate postings/doclen rows — its new
       content waits for compaction); a changed doc whose old version
       was rejected as a duplicate admits normally.
    2. **dedup against the admitted corpus** — the batch form of
       streaming/pipeline.stream_dedup_against_corpus: normalized-text
       fingerprints anti-join the persisted admitted-fingerprint state,
       so re-crawled or cross-snapshot duplicate CONTENT is never
       admitted twice even under id churn.
    3. **index maintenance** — operators/retrieval.update_text_index
       appends the admitted delta's postings into their hash buckets
       and dynamic-overwrites only the affected df buckets.
       ``index_positions=True`` makes the BOOTSTRAP build positional
       (`build_text_index(positions=True)`) — every later increment
       and compaction inherits the flag from the persisted schema (the
       sticky-flag contract), so the campaign-maintained index serves
       `phrase_topk`/`proximity_topk` at any point in its life.

    Equivalence contract (pinned by tests/test_retrieval.py): after any
    sequence of increments, probing the index returns rankings
    IDENTICAL to a from-scratch build over the admitted union.

    Scale shape: every stage is delta-vs-state keyed on ids/digests —
    document text never shuffles and never re-tokenizes beyond the
    delta; state tables grow by exactly the admitted rows.  At 100 TB
    of state, front the anti-join with operators/dedup.bloom_pruned_join
    (same output, broadcast bit-set prune first).

    With ``compact_changed=True``, step 4 runs
    operators/retrieval.compact_text_index over the deferred changed
    docs whose NEW content is itself novel (not a duplicate of any
    other admitted doc's content): their index entries are replaced
    in-place and their state fingerprints updated — the full changed-doc
    lifecycle.  A changed doc whose new content duplicates another
    admitted doc stays deferred (it is now a duplicate; dedup wins).
    Compaction pays one postings read (term-partitioned index, see
    compact_text_index's cost model), so a 100 TB campaign batches it
    (weekly, or when the deferred count crosses a threshold) rather
    than per-increment — the flag exists for exactly that scheduling,
    and ``compact_deferred_threshold=N`` AUTOMATES it (the
    deferred-change-backlog policy, VERDICT r6 #5): every increment
    counts the backlog with id-only joins (cheap, reported as
    ``n_deferred``) and runs the full compaction pass only when
    backlog ≥ N — below it, changed docs stay deferred and the
    postings-read price is never paid.  ``compact_changed=True``
    remains the unconditional form (threshold 0, effectively).

    ``retire_removed=True`` (full-snapshot mode only — a delta batch
    carries no removal signal) additionally PURGES ``removed`` ids that
    are in the index: operators/retrieval.remove_from_index drops their
    postings/doclen rows and decrements df, and their state
    fingerprints vanish, so a re-crawl of the same content under a new
    id admits fresh.  The weekly full snapshot is exactly where
    takedowns/404s must take effect; like compaction it pays one
    postings read, so the two maintenance passes batch naturally
    together.

    ``tombstones`` (a one-column DataFrame of ids) retires documents by
    EXPLICIT deletion signal — the CDC-style feed real crawl pipelines
    ship alongside delta batches, closing the "removals need a full
    snapshot" gap for campaigns that never re-deliver everything.
    Tombstoned ids purge from the index (and the vector index in
    dual-index mode), the admitted state, and the manifest — so a later
    re-crawl of the id or its content admits fresh — and deletion WINS
    within the batch: a snapshot row carrying a tombstoned id is
    ignored.  Works in both full-snapshot and delta mode; equivalent to
    ``retire_removed`` on a full snapshot lacking those ids (pinned by
    test_retrieval).

    ``snapshot_is_delta=True`` declares the snapshot a PARTIAL batch
    (only the day's new/re-crawled files, the usual crawl delivery):
    ids absent from it are NOT treated as removed, and the manifest
    MERGES (old rows for untouched ids + the delta's rows) instead of
    replacing.  This makes the whole increment O(delta): full-snapshot
    mode must fingerprint every snapshot doc just to diff it (probe:
    64× corpus → ~2.2× increment wall, strongly sub-linear but
    snapshot-bound),
    while delta mode's per-doc work is delta-sized and the state joins
    stay id/digest-keyed (probe: flat across a 64× corpus,
    SCALE.md).  Removal detection needs full snapshots — run one
    weekly; daily deltas in between.

    **Dual-index mode** (VERDICT r5 #2): passing ``embeddings`` (a
    DataFrame of (``id_col``, ``vec_col``) rows covering the snapshot's
    docs — the embed-the-delta output of the same crawl) and
    ``vector_index_path`` maintains a persisted vector index from the
    SAME manifest diff that maintains the text index.
    ``vector_index_kind`` selects the ANN family (VERDICT r6 #2) —
    ``'ivf'`` (default), ``'pq'``, ``'lsh'``, or ``'ivfpq'`` — each
    dispatching to that family's existing build/update/remove lifecycle
    (operators/similarity, operators/ivfpq), with mirrored semantics
    per lifecycle event:

    - admitted docs' vectors append into their cells
      (`update_ivf_index`; the bootstrap increment builds the index and
      freezes the quantizer on its admitted vectors);
    - compacted changed docs remove-then-re-add, so the NEW content's
      embedding replaces the old one (`remove_from_ivf_index` +
      `update_ivf_index` — the vector-side analog of
      `compact_text_index`);
    - retired docs purge (`remove_from_ivf_index`);
    - DEFERRED changed docs touch neither index — the old vector stays,
      exactly as the old postings do, until a compact run applies both.

    Equivalence contract (pinned by test_retrieval +
    x_campaign_vectors for IVF, x_campaign_pq for PQ): after any
    sequence of increments, probing the vector index equals probing
    the family's ``build_*_index`` over the currently admitted docs'
    embeddings with ``train_df=`` the bootstrap increment's admitted
    vectors (LSH needs no anchor — its plane family is
    data-independent) — appends never move the frozen quantizers, and
    remove/re-add assigns by the same geometry.
    If supplied at all, ``embeddings`` must be supplied from the
    campaign's FIRST increment onward (the quantizer trains at
    bootstrap); ids lacking an embedding row enter the text index only.

    ``vector_auto_maintain=True`` closes the loop on the vector side:
    after this increment's index work, `operators/maintain.
    auto_maintain` reads the index's drift stats and executes a
    retrain if a threshold tripped (the default policy table).  NOTE:
    a fired retrain re-trains the quantizers over the CURRENT members
    — deliberately leaving the frozen-at-bootstrap family behind, so
    the `== rebuild with train_df=bootstrap` equivalence no longer
    describes the index (it now equals a FRESH build over the current
    members, the stronger property).  The returned
    ``vector_maintenance`` reports the decision ('noop'/'retrain'; ''
    when not requested or no vector leg).

    Returns {"n_snapshot", "n_new_or_changed", "n_admitted",
    "n_compacted", "n_deferred", "n_retired", "n_vec_indexed",
    "n_vec_retired", "vector_maintenance"}.  ``n_deferred`` is the
    backlog measured this increment (0 when no compaction scheduling
    was requested — the count is only computed when
    ``compact_changed`` or ``compact_deferred_threshold`` asks for
    it).
    """
    from lwetl_spark.operators.retrieval import update_text_index

    if (embeddings is None) != (vector_index_path is None):
        raise ValueError(
            "dual-index mode needs BOTH embeddings and vector_index_path"
        )
    # r11: a _spread(snapshot) at entry was tried and REVERTED (guide
    # §1.1 measure-first): the map work it parallelizes (md5
    # fingerprint, diff-join map sides) is trivial, while widening the
    # snapshot to 32 partitions multiplies the task count of every
    # downstream eager checkpoint in this delta-sized chain.
    # Best-of-N A/B on a quiet box: campaign_increment 4.81→6.16,
    # campaign_compact 10.36→10.80, campaign_bootstrap 6.00→7.17,
    # x_imgtext_pairs 6.08→6.57 (all WORSE with the spread).  At
    # 100 TB the snapshot scan has thousands of splits and the spread
    # would no-op anyway; the index build's tokenize parallelism comes
    # from the admission joins' shuffle partitioning, not from the
    # input's split count.
    if vector_index_path is not None:
        # the campaign's vector leg dispatches to any persisted ANN
        # family (VERDICT r6 #2); the first marker means bootstrapped
        vec = index_family(vector_index_kind)
        _vec_marker = f"{vector_index_path}/{vec.markers[0]}"

    def _vec_add(ids_df: DataFrame) -> int:
        """Append the ids' vectors into the vector index (build at
        bootstrap); returns the number of vectors indexed."""
        vec_delta, n = _fsutil.materialize(
            embeddings.select(id_col, vec_col).join(
                ids_df.select(id_col), id_col, "left_semi"
            )
        )
        if not n:
            return 0
        if _path_exists(spark, _vec_marker):
            vec.update(
                spark, vector_index_path, vec_delta,
                vec_col=vec_col, id_col=id_col,
            )
        else:  # bootstrap: quantizer trains on this batch (frozen after)
            vec.build(
                vec_delta, vector_index_path, vec_col=vec_col, id_col=id_col,
                **vec.build_kwargs(num_centroids=vector_num_centroids),
            )
        return n

    # --- cached state/manifest reads (r11, guide §1.1/§6): state_path
    # is consulted up to FIVE times per increment and every
    # spark.read.parquet pays a schema-inference footer job plus a
    # fresh driver-side file listing.  Both schemas are knowable here
    # (fp/dg are md5 hex strings; the id keeps the snapshot's type), so
    # reads pin the schema (no footer job), and one read is REUSED
    # until this function itself writes the path again — a DataFrame's
    # file listing is a read-time snapshot, so reuse across our own
    # appends/overwrites would miss them, but between writes the disk
    # state cannot change (single-writer campaign contract).
    from pyspark.sql import types as T

    _id_type = snapshot.schema[id_col].dataType
    _state_schema = T.StructType([
        T.StructField("fp", T.StringType()),
        T.StructField(id_col, _id_type),
    ])
    _state_cache: list = [None]

    def _read_state() -> DataFrame | None:
        """Current state table, or None when no state exists yet."""
        if _state_cache[0] is None and _path_exists(spark, state_path):
            _state_cache[0] = spark.read.schema(_state_schema).parquet(
                state_path
            )
        return _state_cache[0]

    def _state_written() -> None:
        _state_cache[0] = None

    tomb = None
    if tombstones is not None:
        tomb = (
            tombstones.select(F.col(tombstones.columns[0]).alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # deletion wins within the batch: a snapshot row carrying a
        # tombstoned id never reaches the diff or admission
        snapshot = snapshot.join(tomb, id_col, "left_anti")

    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    manifest_new, n_snapshot = _fsutil.materialize(
        snapshot.select(F.col(id_col), digest.alias("dg"))
    )

    have_manifest = _path_exists(spark, manifest_path)
    if have_manifest:
        # schema pinned for the same no-footer-job reason as the state
        manifest_old = spark.read.schema(
            T.StructType([
                T.StructField(id_col, _id_type),
                T.StructField("dg", T.StringType()),
            ])
        ).parquet(manifest_path)

    if have_manifest:
        diff = manifest_diff(manifest_old, manifest_new, id_col=id_col)
        fresh_ids = diff.filter(
            F.col("status").isin("added", "changed")
        ).select(id_col)
        fresh = snapshot.join(fresh_ids, id_col, "left_semi")
    else:
        fresh = snapshot
    # materialized: `fresh` is referenced on BOTH branches of the dedup
    # plan below (the groupBy-min side and the semi-probe side) and
    # Catalyst does not share subtrees across branches — without this,
    # the whole snapshot-scan + diff subtree re-executes per reference
    # inside ONE AQE mega-plan, which measured SUPER-LINEAR on the 64×
    # campaign probe (full-snapshot increment 17 s at 16× → 46 min at
    # 64×).  After the diff, fresh is added+changed rows only, so the
    # materialization is delta-sized in steady state and one
    # corpus-sized pass at bootstrap.  A bootstrap-only spread before it
    # measured slower (campaign_bootstrap median 10.98 s with it, 10.68 s
    # without).
    fresh, n_fresh = _fsutil.materialize(
        fresh.select(id_col, text_col, digest.alias("_fp"))
    )

    state = _read_state()
    if state is not None:
        novel = fresh.join(
            state.select("fp"), fresh["_fp"] == state["fp"], "left_anti"
        )
        # append-only index contract: an id already indexed can never
        # re-enter (a CHANGED doc whose old version was admitted would
        # duplicate its doc_id in postings/doclen and corrupt BM25 dl).
        # Its new content is deferred to compaction — the standard
        # append-only-index policy; a changed doc whose OLD version was
        # a rejected duplicate has no index entry and admits normally.
        novel = novel.join(
            state.select(id_col), id_col, "left_anti"
        )
    else:  # first increment: no admitted state yet
        novel = fresh
    # in-delta content dedup: min-id representative per fingerprint
    w_min = novel.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    # materialized before the state append below, so it cannot race
    # the state scan feeding `novel`
    admitted, n_admitted = _fsutil.materialize(
        novel.join(w_min.hint("shuffle_hash"), [id_col, "_fp"], "left_semi")
    )

    n_vec_indexed = 0
    if n_admitted:
        # first increment: no index yet — build instead of update
        have_index = _path_exists(spark, f"{index_path}/stats")
        delta_docs = admitted.select(id_col, text_col)

        def _text_leg():
            if have_index:
                update_text_index(
                    spark, index_path, delta_docs,
                    id_col=id_col, text_col=text_col,
                )
            else:
                from lwetl_spark.operators.retrieval import build_text_index

                build_text_index(
                    delta_docs, index_path, id_col=id_col, text_col=text_col,
                    positions=index_positions,
                )

        def _state_vec_leg() -> int:
            admitted.select(F.col("_fp").alias("fp"), id_col).write.mode(
                "append"
            ).parquet(state_path)
            _state_written()
            return _vec_add(admitted) if embeddings is not None else 0

        # r12 (guide §2.6): the text-index leg (index_path), the state
        # append (state_path) and the vector leg (vector_index_path) are
        # independent — all derive from the checkpoint-materialized
        # `admitted` and write disjoint paths — so the text leg runs on
        # a helper thread instead of serializing every downstream job
        # behind it.  Everything that depends on either leg (backlog,
        # retire, manifest) runs only after overlap_all joins both.
        n_vec_indexed += _pl.overlap_all(_text_leg, _state_vec_leg)
    n_compacted = 0
    n_deferred = 0
    compacted_ids = None
    want_backlog = compact_changed or compact_deferred_threshold is not None
    if want_backlog and have_manifest:
        from lwetl_spark.operators.retrieval import compact_text_index

        # Deferred-change set = any snapshot id that is ALREADY INDEXED
        # but whose new content digest differs from its indexed
        # fingerprint — derived from (id, fp) STATE PAIRS, not from the
        # diff status: a doc temporarily absent from one full snapshot
        # re-enters as status 'added' (its manifest row was dropped) yet
        # is just as much a deferred change as a 'changed' row — the
        # append-only admission path can never index it again, so only
        # compaction can apply its new content.
        # re-read AFTER this increment's admissions appended their rows.
        # A manifest can exist with NO state yet (empty first snapshot
        # admitted nothing, ADVICE r7): missing state = empty backlog,
        # not a read failure
        state_full = _read_state()
        if state_full is None:
            stale_ids = None
        else:
            # the backlog POLICY (VERDICT r6 #5's "deferred-change
            # backlog" threshold — the scheduling knob compact_changed's
            # docstring promised): ids whose applied content is stale
            # this snapshot.  id-only joins — the postings-read price is
            # paid ONLY when the threshold actually trips.
            stale_ids, n_deferred = _fsutil.materialize(
                manifest_new.join(
                    state_full.select(id_col), id_col, "left_semi"
                )
                .join(
                    state_full.select(id_col, F.col("fp").alias("dg")),
                    [id_col, "dg"],
                    "left_anti",
                )
                .select(id_col)
            )
            if not compact_changed and n_deferred < compact_deferred_threshold:
                stale_ids = None  # below threshold: stay deferred, no read
    if want_backlog and have_manifest and stale_ids is not None:
        cand = snapshot.join(stale_ids, id_col, "left_semi").select(
            id_col, text_col, digest.alias("_fp")
        )
        # eager checkpoint for the same reason as `fresh` above: cand
        # feeds three downstream branches (other_fps anti-probe, the
        # in-batch groupBy-min, and the semi probe) and its upstream is
        # a snapshot-sized scan + diff — checkpoint the delta-sized set
        # once instead of re-executing that subtree per branch
        cand = cand.localCheckpoint(eager=True)
        # novel-content guard: if the new content is already admitted
        # under ANY OTHER id, the changed doc is now a duplicate — it
        # stays deferred and dedup wins
        other_fps = state_full.join(
            cand.select(id_col), id_col, "left_anti"
        ).select("fp")
        cand = cand.join(other_fps, cand["_fp"] == other_fps["fp"], "left_anti")
        # in-batch content dedup among the compact set itself
        wc = cand.groupBy("_fp").agg(F.min(id_col).alias(id_col))
        cand, n_compacted = _fsutil.materialize(
            cand.join(wc.hint("shuffle_hash"), [id_col, "_fp"], "left_semi")
        )
        compacted_ids = cand.select(id_col)
        if n_compacted:

            def _compact_text_leg():
                compact_text_index(
                    spark,
                    index_path,
                    cand.select(id_col, text_col),
                    id_col=id_col,
                    text_col=text_col,
                )

            def _compact_state_vec_leg() -> int:
                # state fingerprints follow the content: drop the
                # compacted ids' old rows, append their new (fp, id) rows
                _fsutil.replace_table(
                    spark,
                    state_full.join(cand.select(id_col), id_col, "left_anti")
                    .unionByName(cand.select(F.col("_fp").alias("fp"), id_col)),
                    state_path,
                )
                _state_written()
                if embeddings is not None:
                    # vector-side compaction: remove-then-re-add, so the
                    # NEW content's embedding replaces the old one under
                    # the frozen quantizer (assign-only — == rebuild
                    # holds)
                    vec.remove(spark, vector_index_path, cand.select(id_col))
                    return _vec_add(cand)
                return 0

            # r12 (guide §2.6): same independence argument as the
            # admission legs — both legs derive from the materialized
            # `cand` / the already-read `state_full` and write disjoint
            # paths (index_path vs state_path + vector_index_path); the
            # retire/manifest sections below touch the text index and
            # re-read the state, so they run only after both legs join.
            n_vec_indexed += _pl.overlap_all(
                _compact_text_leg, _compact_state_vec_leg
            )

    def _purge(ids: DataFrame) -> int:
        """Retire the indexed ids among ``ids`` from the text index, the
        state and the vector index; returns how many were retired."""
        from lwetl_spark.operators.retrieval import remove_from_index

        state_now = _read_state()
        if state_now is None:
            return 0
        removed, n = _fsutil.materialize(
            ids.join(state_now.select(id_col), id_col, "left_semi")
        )
        if n:
            remove_from_index(spark, index_path, removed, id_col=id_col)
            _fsutil.replace_table(
                spark, state_now.join(removed, id_col, "left_anti"), state_path
            )
            _state_written()
            if embeddings is not None:
                vec.remove(spark, vector_index_path, removed)
        return n

    n_retired = 0
    if retire_removed and have_manifest and not snapshot_is_delta:
        n_retired = _purge(
            diff.filter(F.col("status") == "removed").select(id_col)
        )
    if tomb is not None:
        # explicit deletion feed: signal-driven, so it works in delta
        # mode too (idempotent with retire_removed: an id both retire
        # has left the state on the first pass, so the second finds
        # nothing)
        n_retired += _purge(tomb)
    # every purged id leaves the vector index too
    n_vec_retired = n_retired if embeddings is not None else 0

    # the manifest advances to the new snapshot (diff basis) — replaced
    # wholesale in full-snapshot mode, MERGED (untouched old ids keep
    # their rows) in delta mode.  EXCEPTION in both modes: ids whose
    # change was DEFERRED (indexed under a different fingerprint + not
    # compacted this round — whether the diff called them 'changed' or
    # they re-entered as 'added' after a snapshot gap) keep their OLD
    # manifest row (or none), so the next crawl re-detects them and a
    # later compact_changed run can still apply them — advancing their
    # digest here would silently forget the deferral forever.
    if snapshot_is_delta and have_manifest:
        manifest_out = manifest_old.join(
            manifest_new, id_col, "left_anti"
        ).unionByName(manifest_new)
    else:
        manifest_out = manifest_new
    if tomb is not None:
        # tombstoned ids leave the manifest too (delta mode keeps old
        # rows for untouched ids — a deleted id must not be one), so a
        # later re-crawl of the id re-enters as 'added'
        manifest_out = manifest_out.join(tomb, id_col, "left_anti")
    if have_manifest:
        state_pairs = _read_state()
        if state_pairs is not None:
            # deferred = indexed ids whose new digest differs from the
            # indexed fingerprint (same pair-derived set as compaction:
            # covers both 'changed' rows AND re-added ids whose manifest
            # row was dropped by an intervening snapshot).  Compacted
            # ids just updated their state fp, so the pair anti-join
            # already excludes them; the explicit anti keeps that
            # invariant visible.
            deferred = (
                manifest_new.join(state_pairs.select(id_col), id_col, "left_semi")
                .join(
                    state_pairs.select(id_col, F.col("fp").alias("dg")),
                    [id_col, "dg"],
                    "left_anti",
                )
                .select(id_col)
            )
            if compacted_ids is not None:
                deferred = deferred.join(compacted_ids, id_col, "left_anti")
            # formerly-present ids keep their OLD manifest row; a
            # re-added id has no old row and is dropped entirely, so the
            # next crawl re-detects it as 'added' and re-enters this
            # same deferral until a compact run applies it
            manifest_out = manifest_out.join(
                deferred, id_col, "left_anti"
            ).unionByName(manifest_old.join(deferred, id_col, "left_semi"))
    _fsutil.replace_table(spark, manifest_out, manifest_path)
    vec_action = ""
    if (
        vector_auto_maintain
        and vector_index_path is not None
        and _path_exists(spark, _vec_marker)
    ):
        vec_action = auto_maintain(
            spark, vector_index_path, kind=vector_index_kind
        ).collect()[0]["action"]
    return {
        "n_snapshot": n_snapshot,
        "n_new_or_changed": n_fresh,
        "n_admitted": n_admitted,
        "n_compacted": n_compacted,
        "n_deferred": n_deferred,
        "n_retired": n_retired,
        "n_vec_indexed": n_vec_indexed,
        "n_vec_retired": n_vec_retired,
        "vector_maintenance": vec_action,
    }
