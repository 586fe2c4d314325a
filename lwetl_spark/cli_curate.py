"""corpus-curate CLI (NEW — the training-data composite program; the
reference's closest analog is the db-copy composite, db_copy/main.py).

One command runs the standard curation pass over a documents table and
writes a curated parquet plus a stats report:

    python -m lwetl_spark.cli_curate -d SF_DIR -o OUT_DIR
        [--min-tokens 10]            quality gate
        [--max-dup-fraction 0.5]     drop docs mostly made of duplicated
                                     20-token spans (Lee et al. 2022)
        [--no-dedup]                 skip exact normalized-text dedup
        [--decontaminate PARQUET]    drop docs sharing 3-gram shingles
                                     with a benchmark table (text column)
        [--report REPORT.xlsx]       multi-sheet report (summary + params)

The whole filter chain is ONE Catalyst plan over the documents scan: the
quality gate and span filter are column predicates, dedup keeps the
min-doc_id representative per normalized digest (one digest-only
shuffle), decontamination is a broadcast-gram anti-join.  Document text
shuffles only in the span-fingerprint stage, as bare (fingerprint, id)
pairs.
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="lwetl-spark-curate",
        description="curate a documents table into a training-ready parquet",
    )
    p.add_argument("-d", "--data-dir", default=None, help="parquet table directory")
    p.add_argument("-o", "--output", required=True, help="curated parquet output dir")
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument(
        "--max-dup-fraction", type=float, default=None,
        help="drop docs whose 20-token-span dup fraction exceeds this",
    )
    p.add_argument("--no-dedup", action="store_true", help="skip exact dedup")
    p.add_argument(
        "--decontaminate", metavar="PARQUET",
        help="benchmark parquet with a text column; overlapping docs drop",
    )
    p.add_argument(
        "--gopher", action="store_true",
        help="apply the Gopher quality-rule battery (arXiv:2112.11446)",
    )
    p.add_argument(
        "--gopher-min-words", type=int, default=50,
        help="lower word-count bound for the Gopher battery",
    )
    p.add_argument(
        "--gopher-stops", metavar="W1,W2,...", default=None,
        help="comma-separated stopword list for the Gopher stopword rule "
             "(default: the paper's English list; swap per language)",
    )
    p.add_argument(
        "--gopher-min-stops", type=int, default=2,
        help="distinct stopwords required by the Gopher stopword rule",
    )
    p.add_argument(
        "--drop-fluency-tail", action="store_true",
        help="drop the per-language CCNet fluency tail quartile",
    )
    p.add_argument(
        "--fuzzy-decontaminate", action="store_true",
        help="also drop MinHash band-collisions with the benchmark "
             "(needs --decontaminate)",
    )
    p.add_argument(
        "--shards", type=int, default=None, metavar="N",
        help="write output as N deterministic training shards "
             "(shard=K/ partition dirs) instead of a flat parquet",
    )
    p.add_argument(
        "--quality-model", action="store_true",
        help="train a logistic-regression quality scorer on the Gopher "
             "pass/fail labels and drop the low-score tail",
    )
    p.add_argument(
        "--quality-tail", type=float, default=0.1, metavar="FRAC",
        help="score-quantile below which --quality-model drops docs",
    )
    p.add_argument(
        "--html-extract", action="store_true",
        help="treat the text column as raw HTML: strip boilerplate "
             "(script/style/comments/tags, entity decode) before any gate",
    )
    p.add_argument(
        "--ppl-filter", action="store_true",
        help="drop the high-surprisal tail under the corpus bigram LM "
             "(doc_perplexity; the CCNet-style perplexity gate)",
    )
    p.add_argument(
        "--ppl-tail", type=float, default=0.1, metavar="FRAC",
        help="surprisal-quantile above which --ppl-filter drops docs",
    )
    p.add_argument("--report", help="write a multi-sheet XLSX report here")
    return p


def _size_estimate(df) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or None when
    it is unknown (no JVM plan to ask, as under Spark Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def curate(
    spark,
    sf_dir: str,
    out_dir: str,
    min_tokens: int = 10,
    max_dup_fraction: float | None = None,
    dedup: bool = True,
    decontaminate_path: str | None = None,
    gopher: bool = False,
    gopher_min_words: int = 50,
    gopher_stops: list[str] | None = None,
    gopher_min_stops: int = 2,
    drop_fluency_tail: bool = False,
    fuzzy: bool = False,
    n_shards: int | None = None,
    quality_model: bool = False,
    quality_tail: float = 0.1,
    ppl_filter: bool = False,
    ppl_tail: float = 0.1,
    html_extract: bool = False,
    attribution: bool = False,
):
    """Programmatic surface of the CLI; returns the stats dict.

    ``attribution=True`` additionally records the survivor count after
    every enabled stage (``n_after_<stage>`` keys) — the "why was this
    document removed" release-card breakdown.  Each mark materializes
    the surviving frame with its count (`_fsutil.materialize`), so the chain
    executes each stage ONCE (without the checkpoint, every count would
    re-run the whole upstream chain — O(stages²) passes); the cost is
    one materialization of the survivor set per enabled stage, so it is
    off by default and meant for release builds, not the per-batch hot
    path."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from lwetl_spark.catalog import load_table
    from lwetl_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    # a one-split corpus would run every rule on one core, and filters
    # push through a bare repartition: a widened frame is checkpointed
    # (OPTIMIZATION_r11.md); at real scale spread no-ops.
    from lwetl_spark.operators import _fsutil
    from lwetl_spark.operators._parallel import spread as _spread

    _wide = _spread(docs)
    n_input = None
    if _wide is not docs:
        # few splits need not mean small: checkpoint only under a known
        # size estimate of at most 2 GiB (fails closed when unknown)
        _est = _size_estimate(docs)
        if _est is not None and _est <= 2 * 1024**3:
            docs, n_input = _fsutil.materialize(_wide)
    if n_input is None:
        n_input = docs.count()
    stats = {"n_input": n_input}

    if html_extract:
        # strip HTML before any token/quality gate so every rule sees
        # prose; a pure JVM expression chain on the same scan
        from lwetl_spark.functions.text import html_text

        docs = docs.withColumn("text", html_text("text"))

    kept = docs.filter(token_count("text") >= min_tokens)

    def _mark(stage: str, frame):
        if attribution:
            frame, stats[f"n_after_{stage}"] = _fsutil.materialize(frame)
        return frame

    kept = _mark("min_tokens", kept)

    if gopher:
        # row-local rule battery: stays inside the same scan/plan
        from lwetl_spark.functions.text import gopher_rules, tokens

        staged = kept.withColumns(
            {
                "_toks": tokens("text"),
                "_lines": F.split("text", "\n"),
            }
        )
        kept = staged.filter(
            gopher_rules(
                "text",
                min_words=gopher_min_words,
                stops=gopher_stops,
                min_stops=gopher_min_stops,
            )["keep"]
        ).drop("_toks", "_lines")
        kept = _mark("gopher", kept)

    if quality_model:
        # a logistic regression trained on the Gopher labels ranks the
        # survivors and drops the low-score tail; the checkpointed
        # feature frame keeps the IRLS passes off the text (SCALE.md)
        from lwetl_spark.functions.text import gopher_rules, quality_features, tokens
        from lwetl_spark.operators.classifier import logreg_score, logreg_train

        q = quality_features("text")
        feat_exprs = {
            "_f_tokens": q["n_tokens"].cast("double"),
            "_f_tok_len": q["mean_token_len"].cast("double"),
            "_f_punct": q["punct_ratio"].cast("double"),
            "_f_stop": q["stopword_ratio"].cast("double"),
            "_f_alpha": q["alpha_ratio"].cast("double"),
        }
        feat_cols = list(feat_exprs)
        base = docs.filter(token_count("text") >= min_tokens).withColumns(
            {
                "_toks": tokens("text"),
                "_lines": F.split("text", "\n"),
            }
        )
        label = gopher_rules(
            "text",
            min_words=gopher_min_words,
            stops=gopher_stops,
            min_stops=gopher_min_stops,
        )["keep"].cast("long")
        feats = base.select(
            *[e.alias(c) for c, e in feat_exprs.items()], label.alias("_label")
        ).localCheckpoint(eager=True)
        classes = feats.agg(
            F.count_if(F.col("_label") == 1).alias("pos"),
            F.count_if(F.col("_label") == 0).alias("neg"),
        ).collect()[0]
        if classes["pos"] and classes["neg"]:
            beta = logreg_train(feats, feat_cols, "_label", iterations=8)
            scored = kept.withColumns(feat_exprs).withColumn(
                "_qscore", logreg_score(kept, feat_cols, beta)
            )
            thr_row = scored.agg(
                F.expr(
                    f"percentile_disc({quality_tail}) "
                    "WITHIN GROUP (ORDER BY _qscore)"
                ).alias("thr")
            ).collect()[0]
            stats["quality_beta"] = [round(b, 6) for b in beta]
            stats["quality_threshold"] = (
                round(thr_row["thr"], 6) if thr_row["thr"] is not None else None
            )
            if thr_row["thr"] is not None:
                # strict > drops AT LEAST the tail fraction (ties drop
                # together — deterministic, never splits a score band)
                scored = scored.filter(F.col("_qscore") > F.lit(thr_row["thr"]))
            kept = scored.drop("_qscore", *feat_cols)
            kept = _mark("quality_model", kept)
        else:
            # degenerate labels (all pass / all fail): nothing to learn
            # — heuristic stages already decided; skip, record why
            stats["quality_beta"] = None
            stats["quality_threshold"] = None

    if drop_fluency_tail:
        # corpus-relative score: one extra pass (vocab agg + join), then
        # an id-keyed semi-join back into the chain
        from lwetl_spark.operators.sampling import fluency_buckets

        good = fluency_buckets(kept).filter(F.col("bucket") != "tail")
        # the id set grows WITH the corpus — never let Catalyst broadcast
        # it (its size estimate under-counts post-filter cardinality; the
        # 16x rehearsal, tools/curate_rehearsal.py, failed here with
        # "Not enough memory to build and broadcast")
        kept = kept.join(
            good.select("doc_id").hint("shuffle_hash"), "doc_id", "left_semi"
        )
        kept = _mark("fluency_tail", kept)

    if ppl_filter:
        # CCNet-style gate: drop the high-surprisal tail under the
        # corpus's own bigram LM; the threshold is a data value (ties
        # stay together), and the anti-join keeps docs with < 2 tokens,
        # which have no score
        from lwetl_spark.operators.sampling import doc_perplexity

        ppl = doc_perplexity(kept).localCheckpoint(eager=True)
        thr_row = ppl.agg(
            F.expr(
                f"percentile_disc({1.0 - ppl_tail}) "
                "WITHIN GROUP (ORDER BY surprisal_ppm)"
            ).alias("thr")
        ).collect()[0]
        stats["ppl_threshold"] = (
            int(thr_row["thr"]) if thr_row["thr"] is not None else None
        )
        if thr_row["thr"] is not None:
            bad = ppl.filter(F.col("surprisal_ppm") > F.lit(thr_row["thr"]))
            kept = kept.join(
                bad.select("doc_id").hint("shuffle_hash"),
                "doc_id", "left_anti",
            )
        kept = _mark("ppl_filter", kept)

    if max_dup_fraction is not None:
        from lwetl_spark.operators.dedup import duplicate_spans

        spans = duplicate_spans(docs, window=20).select(
            "doc_id", "dup_fraction"
        )
        # left join: docs too short to have a span row pass the filter.
        # spans is corpus-sized — shuffle_hash, never broadcast
        kept = (
            kept.join(spans.hint("shuffle_hash"), "doc_id", "left")
            .filter(
                F.coalesce(F.col("dup_fraction"), F.lit(0.0)) <= max_dup_fraction
            )
            .drop("dup_fraction")
        )
        kept = _mark("dup_spans", kept)

    if dedup:
        digest = F.md5(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        )
        w_min = (
            kept.select(F.col("doc_id").alias("_keep_id"), digest.alias("_dg"))
            .groupBy("_dg")
            .agg(F.min("_keep_id").alias("_keep_id"))
        )
        # one representative id per digest — also corpus-sized
        kept = kept.join(
            w_min.hint("shuffle_hash"),
            kept["doc_id"] == w_min["_keep_id"],
            "left_semi",
        )
        kept = _mark("exact_dedup", kept)

    if decontaminate_path:
        from lwetl_spark.operators.decontaminate import decontaminate

        bench = _fsutil.read_parquet(spark, decontaminate_path)
        if "doc_id" not in bench.columns:  # gram extraction needs an id
            bench = bench.withColumn("doc_id", F.monotonically_increasing_id())
        kept = decontaminate(kept, bench, n=3)
        kept = _mark("decontaminate", kept)
        if fuzzy:
            from lwetl_spark.operators.decontaminate import fuzzy_decontaminate

            kept = fuzzy_decontaminate(kept, bench)
            kept = _mark("fuzzy_decontaminate", kept)

    if n_shards:
        from lwetl_spark.operators.sampling import write_training_shards

        write_training_shards(kept, out_dir, "doc_id", n_shards)
    else:
        kept.write.mode("overwrite").parquet(out_dir)
    try:
        curated = _fsutil.read_parquet(spark, out_dir)
    except AnalysisException:
        # a fully-filtered run writes only _SUCCESS (no part files to
        # infer a schema from -> UNABLE_TO_INFER_SCHEMA) — an empty
        # corpus is a valid outcome of aggressive filters, not a crash.
        # Real IO errors raise other exception classes and propagate.
        curated = spark.createDataFrame([], kept.schema)
    # the per-language groups (a null `lang` is a group too) cover
    # every curated row, so their sum is the kept count
    per_lang = {
        r["lang"]: r["n"]
        for r in curated.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    stats["n_kept"] = sum(per_lang.values())
    stats["n_dropped"] = n_input - stats["n_kept"]
    stats["langs"] = per_lang
    return stats


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from lwetl_spark.catalog import DEFAULT_SF_DIR
    from lwetl_spark.session import get_spark

    spark = get_spark(app_name="lwetl_spark_curate")
    stats = curate(
        spark,
        args.data_dir or DEFAULT_SF_DIR,
        args.output,
        min_tokens=args.min_tokens,
        max_dup_fraction=args.max_dup_fraction,
        dedup=not args.no_dedup,
        decontaminate_path=args.decontaminate,
        gopher=args.gopher,
        gopher_min_words=args.gopher_min_words,
        gopher_stops=(
            [w.strip().lower() for w in args.gopher_stops.split(",") if w.strip()]
            if args.gopher_stops
            else None
        ),
        gopher_min_stops=args.gopher_min_stops,
        drop_fluency_tail=args.drop_fluency_tail,
        fuzzy=args.fuzzy_decontaminate,
        n_shards=args.shards,
        quality_model=args.quality_model,
        quality_tail=args.quality_tail,
        ppl_filter=args.ppl_filter,
        ppl_tail=args.ppl_tail,
        html_extract=args.html_extract,
    )
    print(
        f"curated {stats['n_input']} -> {stats['n_kept']} docs "
        f"({stats['n_dropped']} dropped) into {args.output}"
    )
    for lang, n in sorted(stats["langs"].items()):
        print(f"  {lang}: {n}")

    if args.report:
        from pyspark.sql import functions as F

        from lwetl_spark.operators._fsutil import read_parquet
        from lwetl_spark.sinks.formatter import write_xlsx_sheets

        curated = read_parquet(spark, args.output)
        summary = curated.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.length("text")), 1).alias("avg_chars"),
        )
        params = spark.createDataFrame(
            [
                ("min_tokens", str(args.min_tokens)),
                ("max_dup_fraction", str(args.max_dup_fraction)),
                ("dedup", str(not args.no_dedup)),
                ("decontaminate", str(args.decontaminate)),
                ("n_input", str(stats["n_input"])),
                ("n_kept", str(stats["n_kept"])),
            ],
            "param string, value string",
        )
        write_xlsx_sheets([("summary", summary), ("params", params)], args.report)
        print(f"wrote {args.report}")
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
