"""Benchmark decontamination (training-data pipeline op, NEW — no
reference analog; the reference stops at row-level copy/dedup,
lwetl/programs/db_copy/main.py).

Removes (or flags) corpus documents that share a word n-gram with a
benchmark/eval set — the standard guard against test-set leakage before
pretraining (the GPT-3 appendix's 13-gram rule is the canonical form).

Scale design (100 TB corpus, MB-scale benchmark):
- The benchmark's distinct n-gram set is tiny relative to the corpus
  (eval suites are a few hundred MB of text at most), so it is
  BROADCAST: the corpus side streams through a map-side hash semi-join —
  no shuffle of corpus grams at all.  `broadcast_benchmark=False` falls
  back to a shuffle join for pathological benchmark sizes.
- Corpus grams are generated per-row by pure column expressions
  (split → sequence → slice → concat_ws): no Python UDF, fully
  whole-stage-codegen'd, and never materialized beyond the join probe.
- At 64-bit scale, join on `xxhash64(gram)` instead of the gram string
  (`hash_grams=True`): 8-byte probe keys, identical semantics modulo a
  ~2^-64 collision rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lwetl_spark.functions.text import tokens


def word_ngrams(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) pairs: whitespace word n-grams of lower(trim(text)).
    Documents shorter than n words produce no rows.  Pure column
    expressions — no UDF.

    The token array is materialized in its own projection FIRST: inlining
    the split into the gram lambda makes Catalyst re-evaluate it per
    GRAM, not per document (measured 8× slower on the corpus probe)."""
    grams = (
        f"case when size(_toks) >= {n} then "
        f"transform(sequence(1, size(_toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))) end"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks"))
        .select("doc_id", F.explode(F.expr(grams)).alias("gram"))
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
    hash_grams: bool = False,
) -> DataFrame:
    """Per-corpus-document count of DISTINCT n-grams also present in the
    benchmark: (doc_id, n_hits), contaminated docs only.  `hash_grams`
    joins on xxhash64(gram) — 8-byte probe keys for the 100 TB path
    (collision odds ~2^-64 per pair)."""

    def _grams(df: DataFrame) -> DataFrame:
        g = word_ngrams(df, n, text_col, id_col)
        return g.withColumn("gram", F.xxhash64("gram")) if hash_grams else g

    bench = _grams(benchmark).select("gram").distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    # probe BEFORE any corpus-side distinct: the broadcast join filters
    # map-side, so the only shuffle is the countDistinct over the (tiny)
    # contaminated subset — a corpus-gram distinct here would shuffle the
    # whole exploded corpus
    corp = _grams(corpus)
    return (
        corp.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus minus every document sharing an n-gram with the benchmark
    (left anti-join on the contaminated id set)."""
    hits = contamination_hits(
        corpus, benchmark, n, text_col, id_col, broadcast_benchmark, hash_grams
    ).select(F.col("doc_id").alias(id_col))
    return corpus.join(hits, id_col, "left_anti")


def blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: DataFrame | list[str],
    keep_audit_cols: bool = False,
) -> DataFrame:
    """Drop rows whose URL's registrable domain is on a blocklist — the
    domain-level curation pass every web corpus runs (spam/adult/SEO-farm
    lists).  (Training-pipeline op, NEW — no reference analog.)

    Scale design (100 TB): real blocklists are 10^5–10^7 domains — a few
    hundred MB at most — so the list is BROADCAST and the corpus streams
    through a map-side LEFT ANTI join: zero shuffle of the corpus, and
    the host/domain extraction (`parse_url` + `substring_index`) is pure
    codegen.  For a blocklist too big to broadcast, drop the hint and the
    same plan degrades gracefully to a shuffle anti-join on the 8-byte
    domain hash.

    `keep_audit_cols=True` retains `_host`/`_domain` for lineage audits.
    """
    from lwetl_spark.functions.text import registrable_domain, url_host

    if isinstance(blocked_domains, list):
        spark = df.sparkSession
        blocked = spark.createDataFrame(
            [(d.lower(),) for d in blocked_domains], "_domain STRING"
        ).distinct()
    else:
        cols = blocked_domains.columns
        blocked = blocked_domains.select(
            F.lower(F.col(cols[0])).alias("_domain")
        ).distinct()
    tagged = df.withColumn("_host", F.lower(url_host(url_col))).withColumn(
        "_domain", registrable_domain("_host")
    )
    out = tagged.join(F.broadcast(blocked), "_domain", "left_anti")
    return out if keep_audit_cols else out.drop("_host", "_domain")


def _minhash_bands(sig: DataFrame, n_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, key) rows: the signature's `n_perm` slots split
    into `bands` groups of r = n_perm/bands rows each; `key` is the
    group's slots joined into one string.  One stack() — row-local,
    no shuffle."""
    if n_perm % bands:
        raise ValueError(f"bands {bands} must divide n_perm {n_perm}")
    r = n_perm // bands
    parts = ", ".join(
        f"{b}, concat_ws('|', {', '.join(f'h{b * r + j}' for j in range(r))})"
        for b in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"stack({bands}, {parts}) AS (band, key)")
    )


def fuzzy_contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """NEAR-duplicate benchmark contamination: corpus documents whose
    MinHash signature collides with an eval-set document in ≥1 LSH band
    — catching paraphrased/lightly-edited test-set leakage that the
    exact n-gram rule (`contamination_hits`) misses.  The GPT-3
    appendix's exact 13-gram guard plus this fuzzy pass is the standard
    two-layer decontamination stack.

    Uses the md5 portable signature family (`portable_minhash_
    signatures`) so the DuckDB oracle rebuilds the collision set
    bit-for-bit; with n_perm=8, bands=4 (r=2), a pair at Jaccard s
    collides with prob 1-(1-s²)⁴ — ~0.94 at s=0.7.

    Scale (100 TB corpus, MB-scale benchmark): the corpus never
    shuffles — signatures reduce map-side to (doc_id, 8 longs), band
    rows are row-local, and the benchmark band table BROADCASTS, so
    the only shuffle is the count-distinct over actual collision
    pairs.  Returns (doc_id, n_bench_hits), contaminated docs only.
    """
    from lwetl_spark.operators.dedup import portable_minhash_signatures

    csig = portable_minhash_signatures(corpus, text_col, id_col, n_perm, shingle_len)
    bsig = portable_minhash_signatures(benchmark, text_col, id_col, n_perm, shingle_len)
    cb = _minhash_bands(csig, n_perm, bands)
    bb = _minhash_bands(bsig, n_perm, bands).withColumnRenamed("doc_id", "bench_id")
    if broadcast_benchmark:
        bb = F.broadcast(bb)
    pairs = cb.join(bb, ["band", "key"]).select("doc_id", "bench_id")
    return pairs.groupBy("doc_id").agg(
        F.count_distinct("bench_id").alias("n_bench_hits")
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Corpus minus every document MinHash-band-colliding with the
    benchmark (left anti-join on the fuzzy hit set)."""
    hits = fuzzy_contamination_hits(
        corpus, benchmark, text_col, id_col, n_perm, bands, shingle_len,
        broadcast_benchmark,
    ).select(F.col("doc_id").alias(id_col))
    return corpus.join(hits, id_col, "left_anti")


def corpus_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    gram_n: int = 5,
) -> DataFrame:
    """Pairwise corpus-overlap matrix: Jaccard similarity of the
    distinct word-`gram_n`-gram vocabularies of every pair of groups
    (sources, snapshots, language slices) — the corpus-level view of
    contamination_hits' doc-level check: which sources are near-copies
    of each other, which crawl snapshot duplicates which.

    Returns (src_a, src_b, n_a, n_b, n_common, jaccard_ppm) for pairs
    with n_common ≥ 1, src_a < src_b, jaccard as exact-integer ppm.

    Scale design: the unit of work is the DISTINCT (group, gram) pair —
    document text dies map-side in the gram projection.  The pair join
    is on the gram, and fan-out per gram is bounded by the NUMBER OF
    GROUPS (≤ S rows per gram after the distinct), so the join output
    is ≤ S²/2 per gram regardless of corpus size — a 100 TB corpus with
    20 sources produces the same 190-row matrix, through shuffles that
    carry (md5, source) pairs only.
    """
    # word_ngrams' id slot carries the GROUP (no uniqueness needed —
    # only the distinct gram set survives), skipping a doc_id join.
    grams = word_ngrams(df, gram_n, text_col=text_col, id_col=group_col)
    g = grams.select(
        F.col("doc_id").alias("_grp"), F.md5("gram").alias("gh")
    ).distinct()
    sz = g.groupBy("_grp").agg(F.count("*").alias("n"))
    a = g.select(F.col("_grp").alias("src_a"), "gh")
    b = g.select(F.col("_grp").alias("src_b"), "gh")
    inter = (
        a.join(b, "gh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("_grp").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("_grp").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("1000000 * n_common div (n_a + n_b - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )
