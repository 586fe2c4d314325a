"""Deduplication operators (SURVEY §2.10 NEW — training-data pipeline).

Scale design notes (100 TB):
- exact dedup is a single hash-aggregate on a digest — one shuffle on the
  digest, map-side partial agg does most of the work; never shuffles the
  full text, only (digest, id).
- MinHash-LSH: signature computation is embarrassingly parallel (pure
  column expressions); candidate generation shuffles only
  (band_hash, id) pairs, so the join fan-in per bucket is bounded by
  collision rate, not corpus size.  The final exact-Jaccard check runs
  only on candidate pairs.
- SimHash: 64-bit signature per doc; near-dup buckets via 4×16-bit band
  keys (Hamming ≤ 3 ⇒ at least one identical band by pigeonhole).
- `id < id2` everywhere so each pair appears once and self-joins stay
  triangular.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lwetl_spark.functions.text import (
    minhash_signature,
    shingles_of_tokens,
    simhash64_df,
    tokens,
    word_shingles,
)
from lwetl_spark.operators import _fsutil


def exact_dedup(df: DataFrame, cols: list[str] | None = None, id_col: str = "doc_id") -> DataFrame:
    """Exact deduplication: keep the min-id row per duplicate group.

    Equivalent to dropDuplicates(cols) but with a deterministic survivor
    (lowest id), which dropDuplicates does not guarantee.  One shuffle.
    """
    cols = cols or [c for c in df.columns if c != id_col]
    return (
        df.groupBy(*cols)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, *cols, "dup_count")
    )


def exact_dedup_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on an md5 digest of whitespace-normalized, lower-cased
    text.  Only (digest, id) enters the shuffle — at 100 TB the digest
    aggregate is ~50 bytes/row regardless of document size.
    """
    digest = F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    shingle → minhash signature → split into `bands` band-hashes →
    self-join on (band_idx, band_hash) → exact Jaccard on candidates.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    rows_per_band = num_hashes // bands
    from pyspark import StorageLevel

    # two projection steps: tokens materialize first so the shingle lambda
    # slices a column, not a re-evaluated split (see shingles_of_tokens);
    # then every shingle STRING is hashed exactly once to a 64-bit key —
    # all `num_hashes` seed-hashes derive from that long (hash-of-hash
    # preserves the min-hash property, and hashing a long is ~an order of
    # magnitude cheaper than re-hashing a ~30-char string per seed).
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
        .select("id", shingles_of_tokens(F.col("toks"), shingle_n).alias("sh_str"))
        .select("id", F.array_distinct(F.transform("sh_str", lambda s: F.xxhash64(s))).alias("hsh"))
    )
    # the hashed-shingle set feeds the band self-join (both sides) AND the
    # verification joins; without materialization Spark recomputes the
    # whole tokenize+shingle pipeline 4× (ReusedExchange does not fire
    # across the aliased self-join).  At 100 TB this is the signature
    # table you would persist to storage.
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)

    # signature: explode the hashed shingles once, take per-seed minima of
    # xxhash64(h, seed) — partial (map-side) aggregation carries the whole
    # signature, so the shuffle is num_hashes longs per doc.  (Flat min
    # aggregates keep the Catalyst tree small; a transform/array_min
    # formulation costs ~1s of driver-side analysis per call.)
    exploded = sh.select("id", F.explode("hsh").alias("h"))
    sig = exploded.groupBy("id").agg(
        *[F.min(F.xxhash64("h", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )
    # band keys: multi-column xxhash64 over each band's slice of the
    # signature (no string concat); candidate join carries only
    # (id, band_idx, band_hash) — never the shingles.  The BANDED table
    # (3 longs per doc-band) is what persists — both sides of the
    # self-join read it, the full signature computes exactly once and
    # never caches.
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)])
        for b in range(bands)
    ]
    banded = sig.select(
        "id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verification only on surviving candidate pairs —
    # set ops run on the hashed shingles (64-bit collisions negligible).
    # The shingle table grows with the corpus and must NEVER broadcast
    # (Catalyst underestimates array columns and will try): hint it to
    # the shuffle side explicitly.
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("hsh").alias("sh_a")).hint("shuffle_hash")
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("hsh").alias("sh_b")).hint("shuffle_hash")
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via explode + equi-join on
    shingle.  O(shared-shingle pairs) — exact but quadratic in the worst
    case; use minhash_lsh_pairs at scale.  Returns (id_a, id_b, jaccard).
    """
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
        .select("id", F.array_distinct(shingles_of_tokens(F.col("toks"), shingle_n)).alias("sh"))
        .select("id", F.explode("sh").alias("shingle"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    max_len_diff: int = 2,
) -> DataFrame:
    """Blocked sorted-neighborhood dedup (Hernández & Stolfo's SNM,
    the classic record-linkage method): sort records by a blocking key,
    compare each record only to its ``window-1`` sort-neighbours.

    The textbook method sorts GLOBALLY — a single reducer at 100 TB.
    This implementation blocks first (block = first 2 chars of the
    normalized text + a 64-char length bucket) and runs the sliding
    window WITHIN each block: `row_number` over a per-block window, then
    a self-equi-join on the block key with `0 < rn_b − rn_a < window`.
    Both sides shuffle once on the block key, blocks are independent and
    parallel, and cross-block candidate loss is the same trade the
    blocked variant of SNM always makes (documented, not hidden).

    Candidate filter: neighbours whose trimmed lengths differ by at most
    ``max_len_diff`` chars.  Returns (id_a, id_b, block, len_diff).
    Everything is deterministic string/integer logic — exact cross-engine
    oracle (x_sorted_neighborhood).
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    base = df.select(
        F.col(id_col).alias("id"),
        F.concat_ws(
            "#", F.substring(norm, 1, 2), F.floor(F.length(norm) / 64).cast("string")
        ).alias("block"),
        F.length(norm).alias("n_len"),
    )
    rn = F.row_number().over(
        Window.partitionBy("block").orderBy("n_len", "id")
    )
    ranked = base.select("id", "block", "n_len", rn.alias("rn"))
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") < F.col("a.rn") + window),
        )
        .filter(F.abs(F.col("b.n_len") - F.col("a.n_len")) <= max_len_diff)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.block").alias("block"),
            (F.col("b.n_len") - F.col("a.n_len")).cast("int").alias("len_diff"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (the PPJoin family,
    Xiao et al., WWW'08): find all pairs of documents whose word-token
    sets have Jaccard ≥ ``threshold``, without the all-pairs explode
    join of `ngram_jaccard_pairs`.

    Prefix-filter principle (LOSSLESS for Jaccard): order each doc's
    tokens by ascending global document frequency (rarest first, token
    as tie-break) and keep only the first
    p = s − ⌈t·s⌉ + 1 tokens; any pair with J ≥ t MUST share at least
    one prefix token, so joining on prefix tokens alone produces a
    candidate superset — then an exact Jaccard check on candidates.
    The result set is therefore IDENTICAL to brute force (the DuckDB
    oracle runs the naive all-pairs join — equality, not recall).

    Scale: candidate generation joins only prefix tokens — rare tokens
    by construction, so bucket fan-in is tiny where it matters (the
    frequent-token buckets that blow up the naive join are exactly the
    ones pruned from prefixes).  Two shuffles (df-rank join, candidate
    groupBy); the per-doc rank window partitions by doc, never global.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    sizes = tok.groupBy("id").agg(F.count("*").alias("s"))
    docfreq = tok.groupBy("tok").agg(F.count("*").alias("df_tok"))
    ranked = (
        tok.join(docfreq, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df_tok", "tok")
            ),
        )
        .join(sizes, "id")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1
    ).select("id", "tok")
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    inter = (
        cands.join(tok.select(F.col("id").alias("id_a"), "tok"), "id_a")
        .join(tok.select(F.col("id").alias("id_b"), F.col("tok").alias("tok_b")), "id_b")
        .filter(F.col("tok") == F.col("tok_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    jac = F.col("inter").cast("double") / (
        F.col("s_a") + F.col("s_b") - F.col("inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup WITH document reassembly (r9) — the
    CCNet/Dolma preprocessing step: boilerplate paragraphs (headers,
    navigation, license blurbs) repeat across millions of pages, so
    dedup must happen BELOW document granularity, keeping each
    paragraph's first corpus occurrence and rewriting every document
    from its surviving paragraphs.

    Pure DataFrame composition, no UDF: posexplode on ``sep`` →
    md5 fingerprint per paragraph (the portable exact-dedup key, the
    dedup_exact precedent) → winner per fingerprint via ONE
    min(struct(doc_id, pos)) aggregation (partial-combining and
    therefore skew-safe — a paragraph duplicated a million times
    never builds a million-row window partition) → semi-join keeps
    winners → per-document reassembly via array_sort(collect_list)
    over (pos, para) structs.  Whitespace-only paragraphs pass
    through (document structure, not content).

    Scale shape: two shuffles, both on (fp) / (doc_id) keys carrying
    paragraph-sized rows; the winner agg is metadata-sized output
    (one row per DISTINCT paragraph).  Returns
    (id_col, text, n_paras, n_kept) where ``text`` is the cleaned
    document ('' when every paragraph was a duplicate)."""
    parts = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias(
            "pos", "para"),
    )
    keyed = parts.withColumn("fp", F.md5("para"))
    winners = keyed.groupBy("fp").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    ).select(
        "fp",
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.pos").alias("pos"),
    )
    kept = keyed.join(
        winners.hint("shuffle_hash"), ["fp", "doc_id", "pos"],
        "left_semi",
    ).unionByName(
        keyed.filter(F.trim("para") == "")  # structure passes through
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
    return totals.join(agg.hint("shuffle_hash"), "doc_id", "left").select(
        F.col("doc_id").alias(id_col),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact substring-level duplication stats (the span-dedup signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 — their 50-token exact substrings, here a
    parameterized token window).

    Every ``window``-token sliding window is fingerprinted (md5 of the
    space-joined tokens — portable, the oracle rebuilds it verbatim);
    a window occurrence counts as duplicated when the same fingerprint
    appears in ≥ 2 DISTINCT documents.  Returns one row per document
    with ≥ `window` tokens: (doc_id, n_windows, n_dup_windows,
    dup_fraction) — the per-doc boilerplate/memorization-risk measure a
    curation pipeline thresholds on.

    Scale shape: suffix-array-free — window generation is row-local
    O(tokens·window) work; the only shuffles carry (fingerprint, doc_id)
    pairs and the per-doc aggregation.  Output is LINEAR in documents
    (unlike pair-listing dedup ops), so the operator composes into a
    100 TB curation pass as a plain column producer.

    ``hash_mode``: "xxhash64" (default) shuffles 8-byte long
    fingerprints — the 16x composed-pipeline rehearsal
    (tools/curate_rehearsal.py) measured the md5 form dominating the
    whole curate chain's shuffle volume because a 32-char hex string
    per TOKEN POSITION is ~6x the underlying text bytes; collision odds
    are ~2^-64 per window pair.  "md5" keeps the engine-portable
    fingerprint the x_dup_spans DuckDB oracle rebuilds verbatim.
    """
    if hash_mode not in ("xxhash64", "md5"):
        raise ValueError(f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}")
    hfn = F.md5 if hash_mode == "md5" else F.xxhash64
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    ).filter(F.size("toks") >= window)
    win = toks.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - window + 1),
                lambda i: hfn(F.concat_ws(" ", F.slice("toks", i, window))),
            )
        ).alias("whash"),
    )
    freq = win.groupBy("whash").agg(F.countDistinct("id").alias("nd"))
    per_doc = (
        win.join(freq, "whash")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count_if(F.col("nd") >= 2).alias("n_dup_windows"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_windows",
        "n_dup_windows",
        F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias("dup_fraction"),
    )


def simhash_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup candidate buckets: 64-bit simhash split into four
    16-bit bands; docs sharing any band are Hamming-≤3 candidates.
    Returns (band_idx, band_val, ids sorted array) for buckets with >1 doc.
    """
    sh = simhash64_df(df, text_col=text_col, id_col=id_col).withColumnRenamed(
        "simhash", "sh"
    )
    banded = sh.select(
        id_col,
        F.posexplode(
            F.array(*[F.shiftrightunsigned("sh", 16 * b).bitwiseAND(F.lit(0xFFFF)).cast("int") for b in range(4)])
        ).alias("band_idx", "band_val"),
    )
    return (
        banded.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Brute-force pairwise on a broadcast of the right side; at 100 TB this
    becomes LSH-bucketed (see similarity.lsh_ann_topk) — this exact variant
    is the correctness baseline.
    """
    from lwetl_spark.functions.vectors import cosine_similarity

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_similarity("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a pair
    list via iterative min-label propagation.  Returns (node, cluster_id)
    where cluster_id = the smallest node id in the component — the
    canonical "keep this one" representative for dedup.

    Each round is one join + one groupBy (both on node ids, no payload),
    checkpointed to truncate lineage; rounds needed = graph diameter.
    Near-dup graphs have tiny diameters (dup clusters are dense), so this
    converges in a handful of rounds at any corpus size.  For adversarial
    chain-shaped graphs use the large-star/small-star variant (halves the
    diameter per round); not needed for dedup workloads.  Convergence is
    detected by the label-sum fixpoint (labels only ever decrease), one
    cheap scalar agg per round.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint()
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("lbl").alias("nlbl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlbl").alias("m"))
        )
        labels = (
            labels.join(nbr, labels["node"] == nbr["a"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("m"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint()
        )
        s = labels.agg(F.sum("lbl")).first()[0]
        if s == prev_sum:
            return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))
        prev_sum = s
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def connected_components_two_phase(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (the MapReduce CC algorithm of Kiveris et al.): converges in O(log n)
    rounds on ANY graph shape, where min-label propagation
    (`connected_components`) needs O(diameter).  Use this when components
    can be long chains (entity-resolution edges, link graphs); for
    near-dup clusters (dense, tiny diameter) the simple propagation does
    less work per round.

    large-star hooks every neighbor larger than u to u's component
    minimum; small-star re-hangs the small neighbors.  Each star pass is
    ONE window-min shuffle over bare (long, long) edges — the per-node
    minimum is a `min over (partition by u)` window, so the old
    groupBy+self-join (two shuffles of the edge set) collapses to a
    single exchange, and small-star emits both its edge kinds
    ((small→min) re-hangs and the (u→min) hook) in the same pass via an
    explode — 3 shuffles/round total including the convergence distinct,
    measured 2× faster end-to-end.  High-degree hubs make one large
    sort group, exactly the rows the groupBy variant hashed to one
    reducer; the algorithm itself is the skew bound (large-star splits
    hub neighborhoods across rounds).  Returns (node, cluster_id =
    component minimum), same contract as `connected_components`.
    """
    wu = Window.partitionBy("u")
    e, n_edges = _fsutil.materialize(
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # pin the iteration's shuffle width to the edge count (~1M edges per
    # partition, floor 8): every round is 3 shuffles of a set that only
    # SHRINKS, so the session-wide spark.sql.shuffle.partitions (sized
    # for scans) massively over-partitions it — at 15k edges, 200-part
    # rounds spent 2x the wall-clock on task scheduling alone.  Explicit
    # repartition(parts, keys) seeds each window/distinct with a
    # satisfying hashpartitioning, so EnsureRequirements inserts no
    # further exchange and the count sticks (AQE never coalesces an
    # explicit repartition).  The upfront checkpoint also stops the
    # round-0 union from computing the input distinct twice.
    parts = max(8, min(65536, 1 + n_edges // 1_000_000))
    prev_sig = None
    for _ in range(max_iter):
        # large star: attach strictly-larger neighbors to
        # m(u) = min(neighbors ∪ {u}); one window shuffle
        nb = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).repartition(
            parts, "u"
        )
        e1 = (
            nb.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .repartition(parts, "u")
        )
        # after large-star every edge points large → small, so small-star
        # needs no re-direction: re-hang all of u's small neighbors onto
        # the smallest, and keep u's own hook — both emitted from one
        # window pass (u == mv rows self-filter via x.u != x.v; u != mv
        # always holds since mv ≤ v < u)
        e = (
            e1.withColumn("mv", F.min("v").over(wu))
            .select(
                F.explode(
                    F.filter(
                        F.array(
                            F.struct(F.col("v").alias("u"), F.col("mv").alias("v")),
                            F.struct(F.col("u"), F.col("mv").alias("v")),
                        ),
                        lambda x: x["u"] != x["v"],
                    )
                ).alias("edge")
            )
            .select("edge.u", "edge.v")
            .repartition(parts, "u", "v")
            .distinct()
            .localCheckpoint()
        )
        # decimal sum: long-sum of 64-bit hashes overflows under ANSI mode
        sig = tuple(
            e.agg(
                F.count("*"), F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"two-phase CC did not converge in {max_iter} rounds")
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")))
        .distinct()
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_doc_freq: int = 1,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Boilerplate-line removal (the CCNet/RefinedWeb-style pass): drop
    every line that occurs in more than `max_doc_freq` distinct
    documents, reassemble the survivors in original order.  Returns
    (id_col, text_col, n_lines_kept) — docs whose every line was
    boilerplate come back with '' / 0, not dropped.

    Scale (100 TB): the frequency aggregate shuffles (line, id) pairs —
    that IS the doc-frequency computation and is map-side combinable;
    the hot set it yields (lines above the threshold — boilerplate
    vocabulary, tiny relative to the corpus) is BROADCAST into a
    map-side anti-join, so the filtering pass never shuffles the corpus.
    Reassembly groups by doc id, shuffling only surviving (pos, line)
    pairs."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count_distinct("_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("line")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias("_text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    base = df.select(F.col(id_col))
    return (
        base.join(rebuilt, base[id_col] == rebuilt["_id"], "left")
        .select(
            id_col,
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
        )
    )


def _bloom_positions(fp, k: int, m) -> "F.Column":
    """k engine-portable bloom bit positions for a fingerprint string:
    position_j = bigint(md5(j ‖ ':' ‖ fp)[:15 hex]) mod m.  The md5
    family keeps every position bit-exactly reproducible in any SQL
    engine (same trick as the portable MinHash, x_minhash_portable)."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{j}:"), fp)), 1, 15), 16, 10
                ).cast("long")
                % m
            )
            for j in range(k)
        ]
    )


def bloom_filter_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    k: int = 3,
    bits_per_item: int = 16,
) -> DataFrame:
    """Incremental dedup with a Bloom-filter membership pre-screen: flag
    each new-batch document whose fingerprint *might* already be in the
    corpus, alongside ground truth.  (Training-pipeline op, NEW — the
    streaming/incremental complement of exact_dedup; reference analog is
    the client-side existence hash of db-copy,
    lwetl/programs/db_copy/main.py:260-268.)

    Returns (id_col, might_contain, is_dup) per batch document.  Bloom
    guarantees NO false negatives (is_dup ⇒ might_contain, a pytest
    invariant); false positives occur at the classic
    (1 - e^{-kn/m})^k rate — k=3, m=16n gives ~0.7%.  The filter is
    fully deterministic (md5 positions), so the DuckDB oracle
    reproduces the EXACT same flags — false positives included — and
    the driver check is exact, not banded.

    Scale design (100 TB): the occupied-bit set is at most min(k·n, m)
    distinct longs — 3n for a dedup corpus — built with one
    explode+distinct (map-side partial dedup), then broadcast to probe
    the batch without shuffling it.  At corpus sizes where k·n longs
    exceed broadcast limits, swap the probe join for a bitmap compacted
    via groupBy(pos/64)+bit_or (m/64 longs, 8 MB per 2^26 bits) or the
    JVM-side df.stat.bloomFilter; the flag semantics are identical.
    The batch side stays un-shuffled either way — this is what makes
    the pre-screen worth it in front of an exact anti-join: only the
    ~dup_rate + 0.7% flagged slice pays the fingerprint shuffle.
    """
    n = corpus.count()
    m = max(64, bits_per_item * n)
    occ = (
        corpus.select(F.explode(_bloom_positions(F.col(fp_col), k, m)).alias("p"))
        .distinct()
        .withColumn("_occ", F.lit(1))
    )
    probes = batch.select(
        id_col, fp_col, F.explode(_bloom_positions(F.col(fp_col), k, m)).alias("p")
    )
    hits = (
        probes.join(F.broadcast(occ), "p", "left")
        .groupBy(id_col, fp_col)
        .agg((F.count("_occ") == k).alias("might_contain"))
    )
    # ground-truth side: ordinary join (corpus-sized — let AQE pick the
    # strategy; only the occupied-bit set above is hint-broadcast)
    dups = corpus.select(fp_col).distinct().withColumn("_dup", F.lit(1))
    return (
        hits.join(dups, fp_col, "left")
        .select(
            id_col,
            "might_contain",
            F.col("_dup").isNotNull().alias("is_dup"),
        )
    )


def bloom_pruned_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    k: int = 3,
    bits_per_item: int = 16,
) -> DataFrame:
    """Equi-join with a Bloom pre-filter on the big side: build a Bloom
    over the small side's join keys, drop big-side rows that cannot
    match BEFORE the join shuffle, then run the ordinary join.  Result
    is exactly `big.join(small, on, how)` for inner/semi joins — Bloom
    false positives only let a few extra rows into the shuffle, where
    the exact join discards them; no false negatives (pytest pins
    equality).

    Scale design (100 TB fact ⋈ 10^7-row dim too big to BROADCAST but
    small enough to sketch): the wins come when the fact side is mostly
    non-matching — the Bloom turns "shuffle 100 TB then discard 95%"
    into "discard 95% at the scan, shuffle 5%".  The occupied-bit set
    (≤ k·n longs) broadcasts even when the dim's payload columns don't.
    Spark's own AQE runtime filter (
    spark.sql.optimizer.runtime.bloomFilter.enabled) injects the same
    idea automatically for one-shot plans; the explicit operator exists
    for when the pruned stream feeds MULTIPLE downstream stages (reuse
    the filtered scan) and for derived join keys AQE's creation-side
    heuristics skip.  Positions use seeded xxhash64 (pure JVM long math —
    see inline note); the final join OUTPUT, not the filter positions, is
    what stays engine-checkable.

    `how` must be 'inner' or a semi variant — pruning the left side of
    an outer join would drop rows the join must keep.
    """
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(f"bloom_pruned_join supports inner/semi joins, got {how}")
    n = small.count()
    m = max(64, bits_per_item * n)
    # positions come from seeded xxhash64 — pure JVM long math, ~100×
    # cheaper per row than the md5-hex family (which bloom_filter_dedup
    # keeps because ITS flags are oracle-pinned; here only the final
    # join output is pinned, so the position family is free to be fast)
    pos_j = lambda c, j: F.pmod(F.xxhash64(F.col(c), F.lit(j)), F.lit(m))  # noqa: E731
    occ = F.broadcast(
        small.select(
            F.explode(F.array(*[pos_j(on, j) for j in range(k)])).alias("p")
        ).distinct()
    )
    # one broadcast LEFT SEMI join per hash index — every probe is
    # map-side against the same broadcast occupied-bit set (the exchange
    # is reused), so the big side is never shuffled by the pre-filter;
    # an explode+groupBy membership count would re-shuffle the fact
    # table and defeat the operator
    pruned = big
    for j in range(k):
        pruned = (
            pruned.withColumn("_pj", pos_j(on, j))
            .join(occ, F.col("_pj") == F.col("p"), "left_semi")
            .drop("_pj")
        )
    return pruned.join(small, on, how)


def portable_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 8,
    shingle_len: int = 3,
) -> DataFrame:
    """Engine-portable MinHash signatures (md5 hash family): slot i is
    MIN over the document's word shingles of the first 60 bits of
    md5('i:' ‖ shingle) — bit-identical in any engine with md5 (the
    DuckDB oracles rebuild it verbatim).  The xxhash64 32-perm family
    (`minhash_lsh_pairs`) stays the intra-corpus hot path; this family
    exists for signatures that must be CHECKABLE or durable across
    engines (persisted manifests, cross-system contamination audits).

    Scale: shingling is row-local column expressions; the only shuffle
    is the per-doc groupBy whose MIN slots combine map-side — (doc_id,
    n_perm longs) is all that moves.  Docs shorter than `shingle_len`
    words produce no signature.
    """
    d = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("_t"),
    ).filter(F.size("_t") >= shingle_len)
    sh = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(_t) - {shingle_len}), "
                f"i -> concat_ws(' ', slice(_t, i + 1, {shingle_len})))"
            )
        ).alias("s"),
    )
    aggs = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))), 1, 15), 16, 10
            ).cast("long")
        ).alias(f"h{i}")
        for i in range(n_perm)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def soft_dedup_weights(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """SoftDeDup reweighting (He et al., ACL 2024 "SoftDedup: an
    Efficient Data Reweighting Method for Speeding Up Language Model
    Pretraining"): instead of DROPPING near-duplicates, keep every
    document and down-weight it by its duplicate-cluster size —
    weight = scale DIV |cluster| (exact integer, so the DuckDB oracle
    hash-matches).  Feeds the sampling weight of the training loader;
    singletons keep full weight.

    `pairs` is any near-dup pair list (minhash / simhash / jaccard /
    ppjoin); clusters come from `connected_components` (O(log n)
    rounds).  Scale: only (id, cluster_id) pairs shuffle; the
    cluster-size join is keyed on cluster_id and the singleton
    anti-join on the id — document text never moves.

    Returns (id_col, cluster_size, weight_ppm) for EVERY id in `ids`.
    """
    cc = connected_components(pairs.select("id_a", "id_b"))
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    clustered = cc.join(sizes, "cluster_id").select(
        F.col("node").alias(id_col),
        "cluster_size",
        F.expr(f"CAST({scale} AS BIGINT) DIV cluster_size").alias("weight_ppm"),
    )
    singles = ids.select(id_col).join(
        cc.select(F.col("node").alias(id_col)), id_col, "left_anti"
    ).select(
        id_col,
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(scale).cast("long").alias("weight_ppm"),
    )
    return clustered.unionByName(singles)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 3,
    window: int = 5,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS algorithm; training-pipeline op, NEW, no
    reference analog).  Guarantees every match of length >=
    window + gram_n - 1 tokens between two documents shares at least one
    SELECTED fingerprint, while keeping only ~2/(window+1) of all gram
    hashes — the bounded-density sketch the bottom-k fingerprint
    (`fingerprint_md5`) cannot promise.

    Selection rule (suffix-min variant, deterministic): position i is
    selected iff its hash is the minimum of the trailing window
    [i-window+1, i].  Engine-portable hashes: the md5-prefix integer
    idiom of x_minhash_portable, identical in any SQL engine.

    Returns (id_col, pos, fp) — selected fingerprints with their token
    position (distinct per (doc, fp, pos)).

    Scale: gram hashing is row-local (token array materialized FIRST —
    HOF-embedded subtrees re-evaluate per element); the only wide stage
    is the per-document ordered window, shuffling bare
    (doc_id, pos, 8-byte hash) triples — text never moves.  Downstream
    overlap detection groups by fp: linear output, the dup_spans
    pattern.
    """
    grams = (
        f"case when size(_toks) >= {gram_n} then "
        f"transform(sequence(1, size(_toks) - {gram_n - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {gram_n}))) end"
    )
    g = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), F.posexplode(F.expr(grams)).alias("pos", "gram"))
        .select(
            id_col,
            "pos",
            F.expr(
                "cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return (
        g.withColumn("_wmin", F.min("h").over(w))
        .filter(F.col("h") == F.col("_wmin"))
        .select(id_col, F.col("pos").cast("long").alias("pos"), F.col("h").alias("fp"))
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary idea behind
    FastCDC / rsync / storage dedup, Muthitacharoen et al. SOSP 2001):
    cut a document wherever the hash of the `window`-char run ending at
    that position is ≡ 0 (mod `mask`) — boundaries move WITH the
    content, so an insertion early in a document shifts chunk contents
    by one chunk, not all of them (the property fixed-size blocks lack,
    and the reason CDC catches shifted duplication that token-window
    fingerprints anchored at offsets miss).

    Expected chunk length ≈ `mask` chars; no minimum-size floor (kept
    rule-free so the construction is a pure array expression both
    engines evaluate identically — the x_cdc_chunking oracle rebuilds
    it verbatim with md5-prefix hashes).

    Returns (id_col, chunk_idx, chunk_md5, chunk_len) — one row per
    chunk.  Scale: boundary detection and slicing are row-local array
    expressions over a materialized normalized-text column; only
    (doc_id, 32-char digest, len) rows leave the map side, and
    downstream duplicate detection groups by digest exactly like
    dup_spans.
    """
    t = F.lower(F.trim(F.col(text_col)))
    d = df.select(F.col(id_col), t.alias("_t")).filter(F.length("_t") >= 1)
    # docs shorter than `window` get a single whole-doc chunk: the
    # length guard inside the lambda keeps substring starts positive
    # (non-positive starts are engine-divergent), and the greatest()
    # bound keeps sequence() ascending for short docs
    cond = (
        f"p -> length(_t) >= {window} and"
        f" cast(conv(substring(md5(substring(_t, p - {window - 1}, {window})),"
        f" 1, 15), 16, 10) as bigint) % {mask} = 0"
    )
    ends = (
        f"array_distinct(concat(filter(sequence({window},"
        f" greatest(length(_t), {window})), {cond}), array(length(_t))))"
    )
    d = d.select(id_col, "_t", F.expr(f"array_sort({ends})").alias("_ends"))
    d = d.select(
        id_col,
        "_t",
        "_ends",
        F.expr(
            "concat(array(1), transform(slice(_ends, 1, size(_ends) - 1),"
            " e -> e + 1))"
        ).alias("_starts"),
    )
    chunks = d.select(
        id_col,
        F.posexplode(
            F.expr(
                "zip_with(_starts, _ends,"
                " (s, e) -> substring(_t, s, e - s + 1))"
            )
        ).alias("chunk_idx", "_chunk"),
    )
    return chunks.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5("_chunk").alias("chunk_md5"),
        F.length("_chunk").cast("long").alias("chunk_len"),
    )
