"""Deterministic sampling & corpus mixing (training-data pipeline ops).

`df.sample()` is seed- and partitioning-dependent — rerunning on a
re-partitioned 100 TB corpus yields a different sample.  These operators
hash a KEY instead: membership is a pure function of the row's key and
the salt, so samples are reproducible across runs, clusters, engines
(md5 is everywhere — the DuckDB oracle runs the same predicate), and
stable under retries.  Sampling a changed corpus keeps the overlap:
unchanged keys keep their verdict.

- `deterministic_sample`: keep rows whose md5(key ‖ salt) bucket falls
  below the fraction (16-bit bucket space → fraction granularity 1/65536).
- `split_by_key`: disjoint + exhaustive train/holdout split on the same
  hash — a row's split never changes when the corpus grows.
- `mix_corpora`: weighted union of named sources, each deterministically
  down-sampled — the "data mixture" step in front of tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lwetl_spark.functions.text import tokens

_BUCKETS = 65536  # 4 hex chars


def _bucket(key_col: str, salt: str):
    """16-bit bucket from md5(key ‖ salt) — portable across engines."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int")


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~`fraction` of rows, chosen by key hash (reproducible,
    partitioning-independent).  The predicate is a pure row-local
    expression — it pushes into the scan like any filter."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    cut = int(fraction * _BUCKETS)
    return df.filter(_bucket(key_col, salt) < cut)


def split_by_key(
    df: DataFrame, key_col: str, holdout_fraction: float, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """(train, holdout) — disjoint, exhaustive, and stable: a key keeps
    its split assignment forever (new data lands proportionally)."""
    cut = int(holdout_fraction * _BUCKETS)
    b = _bucket(key_col, salt)
    return df.filter(b >= cut), df.filter(b < cut)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sample: each stratum keeps its own
    fraction, chosen by the same key hash (so a row's verdict is stable
    and the per-stratum samples are NESTED across fractions — raising a
    stratum's rate only adds rows).  The predicate is one CASE + filter:
    row-local, pushdown-friendly, no shuffle."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction {frac} for stratum {name!r} outside [0, 1]")
    cut = None
    for name, frac in fractions.items():
        cond = F.col(strata_col) == name
        c = int(frac * _BUCKETS)
        cut = F.when(cond, c) if cut is None else cut.when(cond, c)
    cut = (
        F.lit(int(default_fraction * _BUCKETS))
        if cut is None
        else cut.otherwise(int(default_fraction * _BUCKETS))
    )
    return df.filter(_bucket(key_col, salt) < cut)


def mix_corpora(
    parts: dict[str, tuple[DataFrame, float]],
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Weighted corpus mixture: each named source is deterministically
    sampled to its fraction and tagged with `source_name`.  Columns are
    unioned by name (missing columns → NULL)."""
    out = None
    for name, (df, fraction) in parts.items():
        part = deterministic_sample(df, key_col, fraction, salt=f"{salt}:{name}")
        part = part.withColumn("source_name", F.lit(name))
        out = part if out is None else out.unionByName(part, allowMissingColumns=True)
    if out is None:
        raise ValueError("mix_corpora needs at least one part")
    return out


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "prio",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield–Lund–Thorup, JACM 2007): each row gets priority
    q = w / u with u ~ Uniform(0,1]; the k highest-priority rows form a
    weighted sample supporting unbiased subset-sum estimation.

    Determinism: u comes from the first 13 hex chars of
    md5(key ‖ salt) — a 52-bit integer, exactly representable as an
    IEEE double — so u, q, and therefore the SAMPLE ITSELF are a pure
    function of (key, salt), reproducible across runs, partitionings,
    and engines (exact DuckDB oracle, ties broken by key).

    Scale: priority is a map-side column expression; the top-k is
    `orderBy(desc).limit(k)` which Spark executes as TakeOrdered —
    per-partition heaps of size k, no global sort, no full shuffle.
    Returns (key, weight, priority).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    # (int53 + 1) / 2^52 ∈ (0, 1] — +1 keeps u nonzero
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + F.lit(1.0)) / F.lit(
        float(1 << 52)
    )
    q = F.col(weight_col).cast("double") / u
    return (
        df.select(key_col, weight_col, q.alias("priority"))
        .orderBy(F.desc("priority"), key_col)
        .limit(k)
    )


def percentile_filter(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    keep_frac: float = 0.3,
) -> DataFrame:
    """Keep the top `keep_frac` of rows by `value_col`, per group — the
    percentile-threshold curation step ("keep the top 30% of documents
    by quality, per language").  (Training-pipeline op, NEW — no
    reference analog.)

    The cut uses `percentile_disc` (a DISCRETE percentile: an actual
    data value, no interpolation), so the threshold — and therefore the
    kept set — is bit-identical across engines; the DuckDB oracle uses
    `quantile_disc` and must agree row-for-row.  Rows EQUAL to the
    threshold are kept, so the kept fraction is >= keep_frac (ties
    inflate it), never below.

    Scale design (100 TB): the threshold table is one row per group —
    broadcast back, so the data pays one aggregation and a map-side
    filter; no global sort, no window over the corpus.  Caveat: exact
    percentile aggregation buffers each group's values; beyond ~10^8
    rows per group swap `percentile_disc` for `approx_percentile`
    (mergeable t-digest sketch, same plan shape) and accept the
    documented +-1% rank error — the accuracy-band pattern of
    x_approx_quantile.

    Adds `_thr` (the group's threshold) to the output.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    q = 1.0 - keep_frac
    pd = F.expr(f"percentile_disc({q!r}) WITHIN GROUP (ORDER BY {value_col})")
    if group_col is None:
        thr = df.agg(pd.alias("_thr"))
        return df.crossJoin(F.broadcast(thr)).filter(F.col(value_col) >= F.col("_thr"))
    thr = df.groupBy(group_col).agg(pd.alias("_thr"))
    return df.join(F.broadcast(thr), group_col).filter(
        F.col(value_col) >= F.col("_thr")
    )


def dsir_weights(
    df: DataFrame,
    target_cond,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): score every document by how much its unigram
    distribution resembles a TARGET domain (rows matching `target_cond`)
    relative to the full corpus.  (Training-pipeline op, NEW — no
    reference analog.)

    Engine-portable scoring: the canonical DSIR weight is a sum of
    log-likelihood-ratios; `ln` is not bit-identical across engines, so —
    like x_tfidf's rational tf/df — each gram scores the SMOOTHED
    likelihood ratio as exact integer arithmetic,

        score(g) = (ct+1)·(Ns+V)·scale  DIV  (cs+1)·(Nt+V)

    (ct/cs = gram count in target/corpus, Nt/Ns = total grams, V =
    vocabulary size; Laplace smoothing), and a document's weight is the
    exact integer sum over its gram occurrences divided once at the end —
    every intermediate is a BIGINT, so the DuckDB oracle hash-matches.
    Monotone in the same direction as the log form for ranking/top-k
    selection; feed `weight` to `percentile_filter` or `priority_sample`
    for the resampling step.

    Scale shape (100 TB): gram explode → one vocab-keyed agg (map-side
    combinable counts), a 3-long totals row broadcast, one vocab-keyed
    join back, one doc-keyed agg.  Documents' text never shuffles — only
    (doc_id, tok) pairs and integer counts.  Overflow headroom: the
    numerator is ≤ (Nt+1)·(Ns+V)·scale; keep `scale`·corpus-grams² under
    2⁶³ (at ~10¹² grams drop `scale` to 1 or pre-divide Ns).

    Returns (doc_id, n_grams, sum_score, weight_ppm) for every document
    with ≥1 token; weight_ppm = sum_score DIV n_grams — the mean gram
    likelihood-ratio in millionths (kept integral: a float mean hits
    exact .5·10⁻⁶ rounding boundaries on real data, where HALF_UP vs
    HALF_EVEN engines disagree).
    """
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(target_cond, F.lit(1)).otherwise(F.lit(0)).alias("is_t"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    stats = grams.groupBy("tok").agg(
        F.count("*").alias("cs"), F.sum("is_t").alias("ct")
    )
    totals = stats.agg(
        F.sum("cs").alias("ns"), F.sum("ct").alias("nt"), F.count("*").alias("v")
    )
    # Catalyst underestimates explode output and tried to BROADCAST the
    # corpus-sized grams table (BuildLeft) — fatal at scale.  Hint the
    # vocab-sized stats side as the shuffle-hash build instead: no sort,
    # and nothing corpus-sized ever broadcasts.
    scored = (
        grams.join(stats.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr(
                f"(ct + 1) * (ns + v) * CAST({scale} AS BIGINT)"
                f" DIV ((cs + 1) * (nt + v))"
            ).alias("score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum("score").alias("sum_score"),
        F.expr("sum(score) DIV count(*)").alias("weight_ppm"),
    )


def shard_by_key(
    df: DataFrame, key_col: str, n_shards: int, salt: str = "shard"
) -> DataFrame:
    """Deterministic training-shard assignment: `shard` is a pure
    function of the row's key (md5 bucket mod `n_shards`), so a
    100 TB corpus re-sharded after retries, repartitioning, or an
    engine swap lands every document in the SAME shard — the property
    that makes training-data manifests reproducible.  Row-local
    expression; pushes past any partitioning.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return df.withColumn("shard", _bucket(key_col, salt) % F.lit(n_shards))


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    salt: str = "shard",
) -> None:
    """Materialize deterministic training shards as
    `path/shard=N/*.parquet`: one hash-partitioned write so each task
    streams one shard (a few tasks carry two on hash collision — they
    just emit two files).  Readers get partition pruning on `shard`
    for free; at 100 TB raise `n_shards` so each shard stays near the
    HDFS-friendly file size instead of coalescing further."""
    sharded = shard_by_key(df, key_col, n_shards, salt=salt)
    sharded.repartition(n_shards, F.col("shard")).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(path)


def fluency_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    scale: int = 1_000_000,
    cache_scores: bool = True,
) -> DataFrame:
    """CCNet-style LM-fluency bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    arXiv:1911.00359): score each document by how *fluent* it looks
    under a corpus unigram LM, then split every language into
    head / middle / tail quality buckets.  (Training-pipeline op,
    NEW — no reference analog.)

    Engine-portable scoring (the `ln`-free pattern of `dsir_weights`):
    each token scores its corpus frequency in ppm — `cs·scale DIV N`,
    bounded by `scale` BY CONSTRUCTION, so the per-doc sum fits int64
    at ANY corpus size (≤ n_tok·scale) — and a document's fluency is
    the integer mean token-frequency-ppm.  Common-word-rich docs score
    high (CCNet's low-perplexity head), gibberish scores low.

    Bucketing is THRESHOLD-based, not rank-based: per-language 0.25 /
    0.75 interpolated percentiles of the integer score (dyadic
    fractions → bit-exact across engines), broadcast back, one CASE.
    `NTILE` would need a total order per language — a single-reducer
    sort at 100 TB; `percentile` is a partial-aggregable agg, so
    nothing here globally sorts.

    Returns (doc_id, lang, n_tok, fluency_ppm, bucket) for every
    document with ≥1 token; bucket ∈ head (top quartile) / middle /
    tail (bottom quartile) within the document's language.

    The score table feeds two branches (the percentile cuts and the
    output join) and Spark recomputes lazy sibling branches of one
    job — the default `cache_scores=True` pins it via eager
    localCheckpoint so the token explode + vocab join runs ONCE
    (measured 7.5 s -> 2.5 s at the 16x probe point; the
    pack_sequences `cache_input` pattern).  At 100 TB write the score
    table to storage between the two passes instead
    (`cache_scores=False` keeps the plan fully lazy for that).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cs"))
    totals = vocab.agg(F.sum("cs").alias("n"))
    freq = vocab.crossJoin(F.broadcast(totals)).select(
        "tok", F.expr(f"cs * CAST({scale} AS BIGINT) DIV n").alias("f_ppm")
    )
    # corpus-sized toks side must never broadcast (Catalyst underestimates
    # exploded outputs); build the hash table on the vocab-sized freq side
    doc = (
        toks.join(freq.hint("shuffle_hash"), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tok"),
            F.expr("sum(f_ppm) DIV count(*)").alias("fluency_ppm"),
        )
    )
    if cache_scores:
        doc = doc.localCheckpoint(eager=True)
    cuts = doc.groupBy("lang").agg(
        F.expr("percentile(fluency_ppm, 0.75)").alias("t_hi"),
        F.expr("percentile(fluency_ppm, 0.25)").alias("t_lo"),
    )
    return doc.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "n_tok",
        "fluency_ppm",
        F.when(F.col("fluency_ppm") >= F.col("t_hi"), F.lit("head"))
        .when(F.col("fluency_ppm") < F.col("t_lo"), F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
    max_epochs: int = 2,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", arXiv:2304.09151): split a total training budget
    across groups (languages/sources) as uniformly as possible while
    capping any group at `max_epochs` passes over its data — the
    fairness-preserving alternative to temperature sampling.

    Exact UniMax recurrence, ascending by size: each group gets
    min(size · max_epochs, remaining_budget DIV remaining_groups); what
    a capped group leaves behind is re-split over the rest.  All
    integer arithmetic (floor division) so the DuckDB recursive-CTE
    oracle reproduces every quota bit-for-bit.

    Scale: the recurrence is inherently sequential over GROUPS, not
    rows — the collect is one row per language/source (bounded
    metadata, same class as the k-means training sample), after a
    map-side-combinable sum over the corpus.  Returns
    (group, size, quota) with `epochs_ppm` = quota·1e6 DIV size for
    auditability.
    """
    if budget <= 0 or max_epochs <= 0:
        raise ValueError("budget and max_epochs must be positive")
    sizes = (
        df.groupBy(group_col)
        .agg(F.sum(weight_col).cast("long").alias("n"))
        .collect()
    )  # one row per group — bounded metadata collect
    sizes.sort(key=lambda r: (r["n"], r[group_col]))
    rem, rows = int(budget), []
    for i, r in enumerate(sizes):
        share = rem // (len(sizes) - i)
        quota = min(r["n"] * max_epochs, share)
        rows.append((r[group_col], int(r["n"]), int(quota), quota * 1_000_000 // r["n"] if r["n"] else 0))
        rem -= quota
    return df.sparkSession.createDataFrame(
        rows, f"{group_col} string, size bigint, quota bigint, epochs_ppm bigint"
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clip `value_col` into its [lo, hi] percentile band,
    per group — the outlier-taming companion to `percentile_filter`
    (which DROPS the tail; winsorize KEEPS every row, pinning tails to
    the band edge — the right shape for robust means/OLS and for
    feature columns feeding training).

    Both band edges use `percentile_disc` (actual data values, no
    interpolation) so the clipped output is bit-identical across
    engines.  Adds `_lo`/`_hi` band columns and `out_col` (default
    `<value_col>_w`).  Same plan as percentile_filter: one group agg →
    broadcast band table → map-side clip; same beyond-10^8-rows-per-
    group caveat (swap in approx_percentile).
    """
    if not 0.0 <= lo < hi <= 1.0:
        raise ValueError(f"need 0 <= lo < hi <= 1, got ({lo}, {hi})")
    out_col = out_col or f"{value_col}_w"
    p_lo = F.expr(f"percentile_disc({lo!r}) WITHIN GROUP (ORDER BY {value_col})")
    p_hi = F.expr(f"percentile_disc({hi!r}) WITHIN GROUP (ORDER BY {value_col})")
    if group_col is None:
        band = df.agg(p_lo.alias("_lo"), p_hi.alias("_hi"))
        j = df.crossJoin(F.broadcast(band))
    else:
        band = df.groupBy(group_col).agg(p_lo.alias("_lo"), p_hi.alias("_hi"))
        j = df.join(F.broadcast(band), group_col)
    # explicit NULL passthrough: Spark's greatest/least SKIP nulls, so a
    # bare least(greatest(v, lo), hi) would clip a NULL value to lo —
    # silently diverging from the SQL CASE form (NULL in → NULL out)
    clipped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")),
    )
    return j.withColumn(out_col, clipped)


def priority_sample_per_group(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    group_col: str,
    k: int,
    salt: str = "prio",
    salt_buckets: int = 16,
) -> DataFrame:
    """Weighted sampling without replacement PER GROUP — k rows from
    every group, selected by Duffield–Lund–Thorup priorities
    (q = w/u, u from the md5(key‖salt) 52-bit fraction, exactly the
    `priority_sample` construction, so the sample is a pure function of
    (key, salt): reproducible across runs, partitionings, and engines).

    The per-group cut runs on the salted TWO-PHASE top-k path
    (the o5 treatment): phase 1 keeps k per (group, hash-salt), phase 2
    ranks ≤ salt_buckets·k survivors — a hot group never funnels
    through one reducer.  Ties break by key; returns
    (group, key, weight, priority, rank), rank 1..min(k, |group|).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + F.lit(1.0)) / F.lit(
        float(1 << 52)
    )
    scored = df.select(
        F.col(group_col),
        F.col(key_col),
        F.col(weight_col),
        (F.col(weight_col).cast("double") / u).alias("priority"),
    )
    from lwetl_spark.operators.skew import salted_topk_per_group

    out = salted_topk_per_group(
        scored, group_col, "priority", k, key_col, salt=salt_buckets
    )
    return out.select(
        group_col, key_col, weight_col, "priority", F.col("rank").cast("long").alias("rank")
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    buckets: int = 256,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws `k` pseudo-random negatives from the corpus, stable
    under re-runs, repartitioning, and engine swaps (the md5 idiom of
    `deterministic_sample`) — the pair-construction step in front of
    embedding/reranker training, where irreproducible negatives make
    loss curves uncomparable across runs.

    Construction (fully SQL-expressible, so x_negative_sample carries a
    complete value oracle): corpus ids hash into `buckets` buckets; each
    bucket precomputes its two smallest member ids (a `buckets`-row
    table, broadcastable at any corpus size); draw j of anchor a picks
    bucket md5(a‖':'‖j‖salt) and takes the bucket's min id — or its
    second-min when the min IS the anchor.  `neg_id` is NULL when the
    drawn bucket is empty or holds only the anchor (rare: p ≈ (1/B)^k).

    Scale: the bucket-reps table is `buckets` rows regardless of corpus
    size and broadcast-joins against the k-exploded anchors — no
    corpus-vs-corpus stage, no global index, no collect.

    Returns (id_col, draw, neg_id).
    """
    if k <= 0 or buckets <= 1:
        raise ValueError(f"k and buckets must be positive, got {k}, {buckets}")
    ids = df.select(F.col(id_col).alias("_id")).distinct().withColumn(
        "_b",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}-m:"), F.col("_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % buckets,
    )
    min1 = ids.groupBy("_b").agg(F.min("_id").alias("_min1"))
    min2 = (
        ids.join(min1, "_b")
        .filter(F.col("_id") != F.col("_min1"))
        .groupBy("_b")
        .agg(F.min("_id").alias("_min2"))
    )
    reps = min1.join(min2, "_b", "left")
    draws = df.select(F.col(id_col)).distinct().select(
        id_col, F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("draw")
    )
    draw_bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        F.col("draw").cast("string"),
                        F.lit(f":{salt}"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % buckets
    )
    return (
        draws.withColumn("_b", draw_bucket)
        .join(F.broadcast(reps), "_b", "left")
        .select(
            id_col,
            F.col("draw").cast("long").alias("draw"),
            F.when(F.col("_min1") != F.col(id_col), F.col("_min1"))
            .otherwise(F.col("_min2"))
            .alias("neg_id"),
        )
    )


def doc_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
    lm: DataFrame | None = None,
    smooth_k: int = 4,
) -> DataFrame:
    """Per-document bigram-LM surprisal (composes the x_bigram_lm
    estimator into a document score): every adjacent
    token pair scores its smoothed conditional probability P(w2|w1) in
    exact integer ppm (`c2·scale DIV (c1 + k)`), and a document's
    surprisal is `scale − mean(cond_ppm)` — the ln-free integer
    perplexity stand-in, exactly the `fluency_buckets` idiom one
    n-gram order up (linear in probability rather than log, so it is
    hash-stable across engines; the RANKING a perplexity filter needs
    is preserved because the map is monotone).

    ``smooth_k`` is the add-k pseudo-count on the CONTEXT count and it
    is load-bearing for self-scoring: under the raw MLE a gibberish
    singleton bigram scores P=1 — its context count is also 1 — so
    unsmoothed self-perplexity ranks gibberish as maximally
    predictable (caught by the crafted-corpus pytest).  With k>0 a
    conditional estimated from one observation caps at scale/(1+k)
    while well-attested template bigrams approach scale — gibberish
    lands in the high-surprisal tail where a perplexity gate expects
    it.

    ``lm`` defaults to self-scoring (the LM trains on ``df`` itself —
    the CCNet-style corpus-relative filter).  Pass a (w1, w2, cond_ppm)
    table to score against a REFERENCE LM instead (the Wikipedia-LM
    pattern; smoothing is then the trainer's business); bigrams unseen
    by the reference score cond_ppm=0, i.e. maximum surprisal.

    Scale shape: TOKEN TEXT NEVER SHUFFLES — bigrams reduce to xxhash64
    longs at the scan (h1 = hash(w1) for the context, h2 = hash(w1, w2)
    for the pair; the dedup-family idiom — 64-bit collisions are
    negligible and the DuckDB oracle would catch one), so every
    exchange carries (hash, count) or (doc_id, hash) longs.  The
    corpus collapses to pair counts map-side (partial aggregation);
    the unigram table derives FROM the bigram counts (no second corpus
    pass); the score join is pairs ⋈ bigram-vocab on h2 with
    shuffle_hash pinned on both sides (both grow with the corpus —
    Catalyst's exploded-output underestimate must never broadcast
    either); the per-doc agg partially aggregates.  Docs with <2
    tokens have no bigrams and are absent from the output (a curate
    stage treats them via its own min-token gate).

    Returns (doc_id, n_bigrams, predictability_ppm, surprisal_ppm).
    """
    d = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("t"),
    ).filter(F.size("t") >= 2)
    pairs = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.xxhash64("p.w1").alias("h1"),
        F.xxhash64("p.w1", "p.w2").alias("h2"),
    )
    if lm is None:
        bg = pairs.groupBy("h1", "h2").agg(F.count("*").alias("c2"))
        un = bg.groupBy("h1").agg(F.sum("c2").alias("c1"))
        lm_t = bg.join(un.hint("shuffle_hash"), "h1").select(
            "h2",
            F.expr(
                f"c2 * CAST({scale} AS BIGINT) DIV (c1 + {int(smooth_k)})"
            ).alias("cond_ppm"),
        )
        join_type = "inner"  # self-scored: every doc bigram is in the LM
    else:
        lm_t = lm.select(
            F.xxhash64("w1", "w2").alias("h2"), "cond_ppm"
        )
        join_type = "left"  # reference LM: unseen bigrams → cond_ppm 0
    scored = pairs.select("doc_id", "h2").join(
        lm_t.hint("shuffle_hash"), "h2", join_type
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.expr("sum(coalesce(cond_ppm, 0)) DIV count(*)").alias(
            "predictability_ppm"
        ),
        F.expr(
            f"CAST({scale} AS BIGINT) - sum(coalesce(cond_ppm, 0)) DIV count(*)"
        ).alias("surprisal_ppm"),
    )
