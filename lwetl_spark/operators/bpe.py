"""Byte-pair-encoding train/apply as first-class vocabulary operators
(Sennrich et al. 2016, arXiv:1508.07909 — the tokenizer-training
primitive; NEW, no reference analog: lwetl has no text processing).

Spark-first shape — the ONLY corpus-sized stage is the (word, count)
aggregation in :func:`word_vocab`.  Everything after runs over the far
smaller vocabulary:

- **train**: a driver loop of ``n_merges`` vocabulary-sized jobs.  Each
  iteration re-segments the vocab with the merges learned so far,
  explodes adjacent unit pairs weighted by word count, and takes the
  single most frequent pair — exactly the pagerank/k-means bounded-
  driver-loop pattern (per-iteration driver state = one (pair, freq)
  row).  Segmentation during training is the EXACT per-word greedy
  merge (an Arrow-batched pandas_udf — the vocab is small, and exact
  pair statistics are what make trained merges correct).
- **apply**: exact mode uses the same per-word greedy merge; portable
  mode folds the merge list over ``F.replace`` on the space-separated
  symbol string — a deterministic whole-stage-codegen transform that
  any SQL engine reproduces verbatim (the x_bpe_apply oracle), BUT an
  APPROXIMATION of BPE: a plain substring replace can merge across
  unit boundaries when a merge's left symbol is the suffix of an
  existing unit (e.g. units ``ta b`` + merge (a, b) — true BPE has no
  adjacent (a, b) pair, the substring form still glues them).  Use
  exact mode for anything consumed by a tokenizer; portable mode
  exists for cross-engine hash-checking.

Both modes share the space-separated symbol representation
(``'table' -> 't a b l e' -> 'ta ble'``); ``bpe_apply(words,
bpe_train(words, n))`` composes as one pipeline (pinned by
tests/test_functions.py::test_bpe_train_apply_composed, including the
boundary counterexample above).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lwetl_spark.functions.text import tokens


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, wc) vocabulary: lowercase whitespace tokens with
    frequencies.  The one corpus-sized aggregation in the BPE pipeline."""
    return (
        docs.select(
            F.explode(tokens(text_col)).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


def segment_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """EXACT per-word BPE application (driver/worker-side Python): start
    from characters, apply each merge in training order by collapsing
    every adjacent (a, b) UNIT pair left-to-right.  The reference
    semantics both Spark paths are tested against."""
    units = list(word)
    for a, b in merges:
        i, out = 0, []
        while i < len(units):
            if i + 1 < len(units) and units[i] == a and units[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(units[i])
                i += 1
        units = out
    return units


def bpe_segment_exact(word_col, merges: list[tuple[str, str]]):
    """Column: exact BPE segmentation via an Arrow-batched pandas_udf —
    true unit-boundary-aware greedy merging (`segment_word`).  Runs over
    the VOCABULARY (already collapsed from the corpus), so the Python
    hop is vocab-sized, never corpus-sized."""
    from pyspark.sql.functions import pandas_udf

    frozen = [tuple(m) for m in merges]

    @pandas_udf("string")
    def _seg(words):
        import pandas as pd

        def one(w):
            units = list(w)
            for a, b in frozen:
                i, out = 0, []
                while i < len(units):
                    if i + 1 < len(units) and units[i] == a and units[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(units[i])
                        i += 1
                units = out
            return " ".join(units)

        return pd.Series([one(w) for w in words])

    return _seg(word_col)


def bpe_segment_col(word_col, merges: list[tuple[str, str]]):
    """Column expression: PORTABLE substring-replace segmentation.

    Folds each merge ``(a, b)`` as the string replace ``'a b' -> 'ab'``
    over the space-separated symbol string — pure built-in expressions
    (whole-stage codegen) that DuckDB replays verbatim, which is what
    makes x_bpe_apply hash-checkable cross-engine.  NOT exact BPE: the
    replace can glue across unit boundaries when a merge's left symbol
    suffixes an existing unit ('ta b' + (a, b) -> 'tab'; true BPE keeps
    'ta b').  Use :func:`bpe_segment_exact` when the segmentation feeds
    a tokenizer; this form exists for cross-engine verification.
    """
    base = F.trim(F.regexp_replace(word_col, "(.)", "$1 "))
    return reduce(
        lambda seg, m: F.replace(seg, F.lit(f"{m[0]} {m[1]}"), F.lit(f"{m[0]}{m[1]}")),
        merges,
        base,
    )


def _merge_once_expr(seg_col, a: str, b: str):
    """Column: ONE exact BPE merge pass over a space-separated unit
    string, as a single JVM-side ``regexp_replace`` (whole-stage
    codegen, no Python hop).

    The lookarounds pin both units to boundaries (start/space before
    ``a``, space/end after ``b``) so the replace can never glue across
    unit boundaries the way a plain substring replace can; Java's
    matcher consumes matches left-to-right over the original string
    without rescanning replaced text, which is exactly
    :func:`segment_word`'s single non-overlapping left-to-right pass
    (``a a a`` + merge (a, a) -> ``aa a``, not ``aa aa``)."""
    import re as _re

    pat = f"(?<=^| ){_re.escape(a)} {_re.escape(b)}(?= |$)"
    # Java replacement-string escapes: backslash and dollar are special.
    repl = (a + b).replace("\\", "\\\\").replace("$", "\\$")
    return F.regexp_replace(seg_col, pat, repl)


def _select_disjoint_batch(
    ranked: list[tuple[str, str, int]], k: int
) -> list[tuple[str, str]]:
    """Greedy prefix of up to ``k`` SYMBOL-DISJOINT merges from a
    (a, b, freq) list already in (freq DESC, pair ASC) order.

    Two merges conflict when they share any unit symbol (including
    a == b within the other pair) — disjoint merges touch disjoint
    symbol sets, so applying them in any order (or simultaneously via
    chained single-pass replaces) yields the same segmentation, and no
    batched merge's OUTPUT can be another's input (the concatenation
    ``ab`` is not a unit of any other selected pair by construction:
    it doesn't exist as a unit yet).  Conflicting candidates are
    SKIPPED, not batch-terminating (the standard maximal-independent-
    set selection of batched-BPE trainers): a skipped pair re-ranks
    next job with post-merge frequencies.  Skipping is what makes
    jobs ≪ merges on real vocabularies, where the top pairs share
    high-frequency symbols; the price is the documented batched-BPE
    divergence from strict sequential training order."""
    batch: list[tuple[str, str]] = []
    used: set[str] = set()
    for a, b, _freq in ranked:
        if len(batch) >= k:
            break
        if a in used or b in used:
            continue
        batch.append((a, b))
        used.update((a, b))
    return batch


def bpe_train(
    words: DataFrame,
    n_merges: int,
    min_freq: int = 2,
    checkpoint_every: int = 16,
    merges_per_job: int = 1,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a (word, wc) vocabulary.

    Driver loop of vocab-sized jobs: per iteration, count adjacent unit
    pairs weighted by wc, take the top pair (ties broken
    lexicographically — the same (freq DESC, pair ASC) order
    x_bpe_merge_step pins), stop early when the best pair's frequency
    drops below ``min_freq``.  Driver state per iteration is ONE row
    (``merges_per_job`` rows when batching); the vocab never leaves the
    cluster.

    The segmented vocabulary is INCREMENTAL state (VERDICT r4 #2):
    iteration *i* applies only the newest merge(s) to the carried
    ``seg`` column via :func:`_merge_once_expr` instead of re-applying
    all *i-1* learned merges from scratch, turning the per-iteration
    cost from O(i) merge passes into O(1).  ``localCheckpoint`` every
    ``checkpoint_every`` merges truncates the regexp_replace lineage so
    a 30k-merge train keeps a bounded plan (the
    ``pagerank(checkpoint_every)`` pattern, operators/graph.py).

    ``merges_per_job > 1`` (VERDICT r5 #5) batches up to that many
    SYMBOL-DISJOINT merges per pair-count job — the standard batched-
    BPE trainer move that removes the job-scheduling floor from large
    trains (a 50k-merge train at 1 job/merge is bounded by ~0.15 s of
    scheduling per job, not by data).  Batched merges are conflict-free
    by construction (:func:`_select_disjoint_batch`): no unit appears
    in two batched pairs, so their single-pass replaces compose in any
    order and no merge's output feeds another in the same batch.
    Conflicting candidates are skipped and re-rank next job; the
    learned list can differ from strict sequential training when an
    applied merge changes a skipped/later pair's standing (the
    documented batched-BPE approximation — leave the default of 1 for
    driver-checked keys that pin sequential order)."""
    if merges_per_job < 1:
        raise ValueError("merges_per_job must be >= 1")
    state = words.select(
        # 'table' -> 't a b l e': initial single-character units
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seg"),
        "wc",
    )
    merges: list[tuple[str, str]] = []
    chained = 0
    while len(merges) < n_merges:
        k = min(merges_per_job, n_merges - len(merges))
        pairs = (
            # materialize units as a real column FIRST: interpreted HOF
            # lambdas re-evaluate embedded subtrees once per element
            state.select(F.split("seg", " ").alias("u"), "wc")
            .filter(F.size("u") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(u) - 1), "
                        "i -> concat(element_at(u, i), ' ', element_at(u, i + 1)))"
                    )
                ).alias("pair"),
                "wc",
            )
        )
        ranked_df = (
            pairs.groupBy("pair")
            .agg(F.sum("wc").alias("freq"))
            .filter(F.col("freq") >= min_freq)
            .orderBy(F.desc("freq"), F.asc("pair"))
        )
        # k == 1 keeps the original one-row driver read; batching reads
        # extra candidate rows because conflict skips thin the batch
        # (bounded driver read: ≤ 8k tiny (pair, freq) rows)
        top_rows = ranked_df.take(1 if k == 1 else 8 * k)
        ranked = [
            (*r["pair"].split(" ", 1), r["freq"]) for r in top_rows
        ]
        if not ranked:
            break
        batch = _select_disjoint_batch(ranked, k)
        for a, b in batch:
            merges.append((a, b))
            state = state.select(
                _merge_once_expr(F.col("seg"), a, b).alias("seg"), "wc"
            )
            chained += 1
            if chained >= checkpoint_every:
                state = state.localCheckpoint()
                chained = 0
    return merges


def bpe_apply(
    words: DataFrame,
    merges: list[tuple[str, str]],
    mode: str = "exact",
) -> DataFrame:
    """Apply a trained merge list to a (word, wc) vocabulary.

    ``mode="exact"`` (default) uses true unit-boundary-aware greedy
    merging; ``mode="portable"`` uses the substring-replace expression
    the DuckDB oracle reproduces (see bpe_segment_col's caveat).

    Returns (word, wc, segmented, n_units, n_chars) — the segmentation
    table a tokenizer broadcast-joins back onto the token stream."""
    if mode == "exact":
        seg = bpe_segment_exact(F.col("word"), merges)
    elif mode == "portable":
        seg = bpe_segment_col(F.col("word"), merges)
    else:
        raise ValueError(f"mode must be 'exact' or 'portable', got {mode!r}")
    return words.withColumn("segmented", seg).select(
        "word",
        "wc",
        "segmented",
        (
            F.length("segmented")
            - F.length(F.replace(F.col("segmented"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_units"),
        F.length("word").cast("long").alias("n_chars"),
    )
