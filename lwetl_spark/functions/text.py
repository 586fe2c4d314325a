"""Text-analysis expression builders (SURVEY §2.10 NEW ops).

Language-ID, quality scoring, token counting, shingling, simhash and
fingerprinting — all as pure Column expressions (higher-order array
functions), so they run JVM-side inside codegen and scale to 100 TB without
touching Python.  The reference has no text operators; these are the
training-data-pipeline additions mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword profiles for the n-gram/stopword heuristic
#: language identifier.  Deliberately small + deterministic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "los"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "que"),
    "zh": ("的", "了", "是", "我", "不", "在", "有", "他", "这", "们"),
}

_PUNCT_RE = r"[\\.,;:!\\?'\"()\\[\\]{}<>-]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Lower-cased whitespace tokens, empties removed: the one tokenizer
    of the text index, curate, dedup, sampling, decontamination and BPE
    ops (split on runs of whitespace) — keep it in lockstep with the
    DuckDB oracles."""
    t = _col(text)
    return F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != F.lit(""))


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """A BPE-ish proxy token count: word-pieces of ≤4 chars — every
    whitespace token contributes ceil(len/4) — approximating subword
    tokenizer output without shipping a vocab.  Pure expression.
    """
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int"),
    )


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """n-word shingles from a MATERIALIZED token-array column.

    shingle i = toks[i..i+n-1] joined by a space; documents shorter than
    n tokens yield the whole token string as one shingle so they are
    never silently dropped.

    IMPORTANT: `toks` must be a column reference (project `tokens(text)`
    into a column first).  Passing the tokens() expression tree directly
    inlines split+filter into every lambda iteration — Catalyst does not
    CSE through lambda functions — turning shingling O(n²) per document.
    """
    k = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), k - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(k >= n, shingled).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """n-word shingles as an array<string> (for MinHash / Jaccard).

    Convenience form over `shingles_of_tokens`; for hot paths prefer
    projecting `tokens(text)` into a column first (see that function's
    note on lambda-inlining).
    """
    return shingles_of_tokens(tokens(text), n)


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Character n-grams of the lower-cased text (array<string>)."""
    t = F.lower(F.trim(_col(text)))
    ln = F.length(t)
    grams = F.transform(
        F.sequence(F.lit(1), ln - F.lit(n - 1)),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.when(ln >= n, grams).otherwise(F.array(t))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature (array<bigint>, length `num_hashes`) over a
    shingle array.  Hash family: xxhash64(shingle, seed=i) — Spark's
    builtin 64-bit xxhash with per-element seeds, all JVM-side:
    sig[i] = min over shingles of xxhash64(shingle, i).
    """
    sig = [F.array_min(F.transform(shingles, lambda s, i=i: F.xxhash64(s, F.lit(i)))) for i in range(num_hashes)]
    return F.array(*sig)


def simhash64_df(
    df, text_col: str = "text", id_col: str = "doc_id", hash_family: str = "xxhash64"
):
    """SimHash per document → DataFrame(id_col, simhash: long).

    Per-bit majority vote over hash(token): bit b of the result is 1
    iff Σ over tokens of ±1 (per that token's bit b) is positive.
    Shaped as explode → N conditional-sum aggregates → bit reassembly:
    partial (map-side) aggregation carries the whole vote, so the
    shuffle is N longs per document regardless of document size.
    (A fold-over-bits lambda is not expressible: shiftright's bit count
    must be a literal — hence the Python-side loop over the bits.)

    hash_family: "xxhash64" (default hot path, 64 bits, JVM-native) or
    "md5" (60 bits from the leading 15 hex chars — reproducible in any
    engine with md5; used by the oracle-checked x_simhash_portable).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    if hash_family == "md5":
        bits = 60
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        bits = 64
        h = F.xxhash64("tok")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    counters = tok.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return counters.select(F.col(id_col), sim.alias("simhash"))


def rolling_fingerprint(text: Column | str, k: int = 8, bottom: int = 4) -> Column:
    """Document fingerprint: bottom-`bottom` sketch of the rolling
    character-k-gram hashes (winnowing-lite).  Two documents sharing
    content share small hashes, so equal fingerprints ⇒ near-identical
    prefixes of their k-gram sets.  Returns array<bigint> (sorted).
    """
    grams = char_ngrams(text, n=k)
    hashes = F.array_sort(F.transform(grams, lambda g: F.xxhash64(g)))
    return F.slice(hashes, 1, bottom)


def fingerprint_md5(text: Column | str, k: int = 8, bottom: int = 4) -> Column:
    """Engine-portable document fingerprint: the `bottom` lexicographically
    smallest md5 digests of the character-k-grams, joined by ','.
    Same sketch idea as `rolling_fingerprint` but md5-based so any SQL
    engine can reproduce it (the DuckDB oracle does).
    """
    grams = char_ngrams(text, n=k)
    return F.array_join(F.slice(F.array_sort(F.transform(grams, F.md5)), 1, bottom), ",")


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring features: n_chars, n_tokens, mean token length,
    punctuation ratio, stopword ratio (vs the English profile), alpha
    ratio.  Returned as named Columns for a .select / withColumns."""
    t = _col(text)
    toks = tokens(text)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_PROFILES["en"])))
    n_punct = n_chars - F.length(F.regexp_replace(t, _PUNCT_RE, ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.when(
            n_tokens > 0,
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)) / n_tokens,
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0)),
        "alpha_ratio": F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)),
    }


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax over per-language stopword-profile
    hit counts; ties and zero-evidence fall back to 'und'.  Argmax is a
    fold over a deterministic language order, JVM-side only.
    """
    toks = tokens(text)

    def _hits(words):
        # closure factory: pyspark derives HOF lambda arity from the python
        # signature, so the word list must not appear as a default arg
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = [(lang, _hits(words)) for lang, words in sorted(LANG_PROFILES.items())]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # first language (sorted order) achieving the max wins
    for lang, score in reversed(scores):
        result = F.when(score == best_score, F.lit(lang)).otherwise(result)
    return F.when(best_score > 0, result).otherwise(F.lit("und"))


# -- PII redaction (NEW training-pipeline op; no reference analog — the
# reference's closest concern is secret handling in config, C4) ----------

# applied IN ORDER: emails first (may contain digit runs), then dotted
# IPs, then bare digit runs — counts are computed on the same
# progressively-redacted text so every count equals actual replacements
DEFAULT_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}(?:\.\d{1,3}){3}\b", "<IP>"),
    ("number", r"\d{4,}", "<NUMBER>"),
]


def redact_pii(text: Column | str, patterns=None) -> Column:
    """Sequentially replace every PII pattern occurrence — a pure
    regexp_replace chain, whole-stage-codegen'd (no UDF)."""
    c = _col(text)
    for _, pat, tok in patterns or DEFAULT_PII_PATTERNS:
        c = F.regexp_replace(c, pat, tok)
    return c


def pii_counts(text: Column | str, patterns=None) -> list[Column]:
    """One `n_<name>` count column per pattern, evaluated on the text as
    redacted by all PRECEDING patterns (so overlapping patterns — a
    digit run inside an email — are counted exactly once, matching what
    `redact_pii` replaces)."""
    c = _col(text)
    out = []
    for name, pat, tok in patterns or DEFAULT_PII_PATTERNS:
        out.append(F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(f"n_{name}"))
        c = F.regexp_replace(c, pat, tok)
    return out


def repeated_ngram_stats(
    text: Column | str, n: int = 2
) -> tuple[Column, Column]:
    """(n_grams, n_distinct_grams) for whitespace word n-grams — the
    within-document repetition signal behind the Gopher repetition
    filters.  Entirely row-local array expressions (no explode, no
    shuffle): repetition scoring of a 100 TB corpus is scan-bound.

    Gram construction: arrays_zip of n shifted slices, hashed per element
    with xxhash64 — the lambda touches only its struct argument.  The
    naive transform(sequence(...), i -> f(slice(toks, i, n))) form embeds
    the token array INSIDE the lambda, and lambda-embedded subtrees are
    re-evaluated PER ELEMENT (interpreted HOFs have no CSE): tokenization
    ran once per gram, ~300× too often (measured 5.8s → 0.2s on the
    sf0.1 corpus).  Hash grams are one long per gram; a within-document
    64-bit collision (~n²/2⁶⁴) is the accepted error bar — counts match
    the string-gram DuckDB oracle in x_repetition."""
    toks = tokens(text)
    n_out = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, j + 1, n_out) for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted), lambda x: F.xxhash64(*[x[str(j)] for j in range(n)])
    )
    grams = F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )
    return F.size(grams), F.size(F.array_distinct(grams))


def url_host(url: Column | str) -> Column:
    """Hostname of a URL via the JVM-side ``try_parse_url`` expression
    (codegen, no Python).  NULL for unparseable values — the plain
    ``parse_url`` THROWS under ANSI mode (Spark 4 default), which would
    fail the whole job on one malformed crawl URL."""
    return F.try_parse_url(_col(url), F.lit("HOST"))


def surt_key(url: Column | str) -> Column:
    """SURT urlkey (late r11) — the Sort-friendly URI Reordering
    Transform the Common Crawl CDX index keys records by: lowercase,
    scheme/fragment/userinfo dropped, leading www\\d* label dropped,
    host labels REVERSED and comma-joined, default ports 80/443
    dropped (others kept), ')' separator, path as-is ('/' when
    empty), query parameters SORTED and re-joined (dropped when
    empty).  `http://www.Example.com:80/a/B?b=2&a=1#f` →
    `com,example)/a/b?a=1&b=2`.  Pure Catalyst string expressions —
    the canonical key for crawl-index joins computes JVM-side with
    zero Python, so keying 100 TB of CDX lines is a map-only pass."""
    u = F.lower(F.trim(_col(url)))
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.\-]*://", "")
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    netloc = F.regexp_extract(u, r"^([^/?]*)", 1)
    rest = F.regexp_replace(u, r"^[^/?]*", "")
    host = F.regexp_replace(netloc, r"^[^@]*@", "")  # userinfo
    port = F.regexp_extract(host, r":(\d+)$", 1)
    host = F.regexp_replace(host, r":\d+$", "")
    host = F.regexp_replace(host, r"^www\d*\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    port_sfx = F.when(port.isin("", "80", "443"), F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    qs = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"),
                              lambda x: x != F.lit(""))), "&")
    return F.concat(
        rev, port_sfx, F.lit(")"), path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)))


def registrable_domain(host: Column | str, labels: int = 2) -> Column:
    """Naive registrable domain: the last ``labels`` dot-labels of a
    hostname (www.news.site7.com -> site7.com).  A production crawl
    curation pass would consult the public-suffix list (co.uk,
    com.au, ...) — that list is a ~10k-entry broadcast lookup keyed the
    same way, so the plan shape is identical; the naive form keeps the
    function a pure expression."""
    return F.substring_index(_col(host), ".", -labels)


#: C0/C1 control characters except tab/newline/CR, plus DEL
_CONTROL_RE = "[" + "".join(
    "\\x%02x" % c for c in list(range(0x00, 0x09)) + [0x0B, 0x0C] + list(range(0x0E, 0x20)) + [0x7F]
) + "]"


def normalize_text(
    text: Column | str,
    form: str = "NFC",
    strip_control: bool = False,
) -> Column:
    """Unicode-normalize text (NFC/NFKC/NFD/NFKD) — the canonicalization
    pass in front of dedup/tokenization (combining sequences, width and
    compatibility variants otherwise defeat exact and near dedup).

    Spark has no built-in Unicode normalizer, so this is the documented
    slow path done right: an Arrow-batched ``pandas_udf`` (vectorized
    transfer, one Python call per batch — not per row).  It is the ONLY
    Python-side text function in this module; everything around it
    (control-char strip, downstream hashing) stays JVM-side.  At 100 TB
    the op is embarrassingly parallel and scan-bound: no shuffle, state,
    or skew — Python worker throughput is the budget, so run it once,
    early in the pipeline, not inside hot inner loops.

    ``strip_control`` removes C0 controls EXCEPT tab/newline/CR (plus
    DEL) after normalization, JVM-side.
    """

    @F.pandas_udf("string")
    def _norm(s):  # pragma: no cover - executed on workers
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize(form, v) if v is not None else None
        )

    out = _norm(_col(text))
    if strip_control:
        out = F.regexp_replace(out, _CONTROL_RE, "")
    return out


#: Gopher rule-filter stopword list (Rae et al. 2021, Appendix A1.1.2)
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    stops: list[str] | None = None,
    min_stops: int = 2,
) -> dict[str, Column]:
    """The Gopher quality-rule battery (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", arXiv:2112.11446, Appendix A): the
    canonical heuristic document filter every web-scale corpus applies
    before model-based scoring.  (Training-pipeline op, NEW — no
    reference analog.)

    Every rule is an INTEGER cross-multiplied comparison (e.g. "mean
    word length in [3,10]" ⇒ `3·n_words ≤ sum_len ≤ 10·n_words`) — no
    float ratios, so verdicts are bit-identical across engines and the
    DuckDB oracle reproduces every flag.  All row-local whole-stage-
    codegen expressions; the token and line arrays must be materialized
    as real columns by the CALLER's select before these are applied
    (HOF-embedded subtrees re-evaluate per element).

    Returns named Columns over `_toks` / `_lines` array columns plus
    the raw text: rule_word_count, rule_mean_word_len,
    rule_symbol_ratio, rule_bullet_lines, rule_ellipsis_lines,
    rule_alpha_words, rule_stopwords, and `keep` (AND of all).
    """
    t = _col(text)
    n_words = F.size(F.col("_toks"))
    sum_len = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    n_lines = F.size(F.col("_lines"))
    n_bullet = F.size(
        F.filter(F.col("_lines"), lambda x: F.ltrim(x).rlike(r"^[-*•]"))
    )
    n_ell_lines = F.size(F.filter(F.col("_lines"), lambda x: F.rtrim(x).rlike(r"\.\.\.$")))
    n_alpha = F.size(F.filter(F.col("_toks"), lambda x: x.rlike("[a-z]")))
    # stops/min_stops default to the paper's English list and "≥2 of
    # them" rule; real multilingual pipelines swap per-language lists
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.col("_toks")),
            F.array(*[F.lit(s) for s in (GOPHER_STOPS if stops is None else stops)]),
        )
    )
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (F.lit(3) * n_words <= sum_len)
        & (sum_len <= F.lit(10) * n_words),
        "rule_symbol_ratio": F.lit(10) * (n_hash + n_ell.cast("long")) < n_words,
        "rule_bullet_lines": F.lit(10) * n_bullet < F.lit(9) * n_lines,
        "rule_ellipsis_lines": F.lit(10) * n_ell_lines < F.lit(3) * n_lines,
        "rule_alpha_words": F.lit(5) * n_alpha >= F.lit(4) * n_words,
        "rule_stopwords": n_stop >= F.lit(min_stops),
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else keep & c
    return {"n_words": n_words, **rules, "keep": keep}


def html_text(html: Column | str) -> Column:
    """Boilerplate-stripping HTML→text extraction (r8) — the first text
    stage of every web-crawl pipeline, as a PURE JVM expression chain
    (whole-stage codegen, zero Python): drop script/style blocks and
    comments (non-greedy dotall — separate patterns per tag because the
    oracle's RE2 has no backreferences), strip remaining tags, decode
    the six core entities (literal `replace`, `&amp;` LAST so encoded
    entities don't double-decode), collapse whitespace, trim.  Every
    pattern is ASCII-only non-greedy — the subset that behaves
    identically in Java regex (Spark) and RE2 (DuckDB), so the whole
    extraction value-checks cross-engine (x_html_extract)."""
    x = _col(html)
    x = F.regexp_replace(x, r"(?s)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?s)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def html_links(html: Column | str) -> Column:
    """href values of anchor tags as an array<string> (late r11) —
    the edge list a crawl frontier grows from.  Matches single- and
    double-quoted hrefs case-insensitively, any attribute order
    (`<a class=.. href=..>`); unquoted hrefs (rare, invalid-ish
    HTML5) are out of scope and documented so — a census comparing
    `n_links` from html_stats against size(html_links) exposes any
    gap.  Pure JVM expression; feed through `resolve_url` +
    `surt_key` for frontier keys."""
    return F.regexp_extract_all(
        _col(html),
        F.lit(r"(?is)<a\s[^>]*?href\s*=\s*[\"']([^\"']*)[\"']"), 1)


#: dot-segment removal depth bound (resolve_url): ../ chains deeper
#: than this stay unresolved — 12 covers any real site hierarchy and
#: keeps the expression tree bounded; NOT a silent cap (docstringed)
_DOTSEG_ROUNDS = 12


def resolve_url(base: Column | str, ref: Column | str) -> Column:
    """RFC 3986 §5.2 reference resolution as pure Catalyst (late
    r11): absolute refs pass through, `//host/x` takes the base
    scheme, `/x` the base origin, relative paths merge onto the base
    path's directory, fragment-only refs return the base — and
    FRAGMENTS NEVER TRAVEL (a crawl frontier treats #sec as the same
    resource).  Dot segments (`.` and `..`) are removed with a
    bounded expression loop of depth 12 (`_DOTSEG_ROUNDS`) — deeper
    `../` chains than any real site nests stay unresolved rather
    than silently wrong, and `..` can never climb past the host.
    Empty refs resolve to the base without its fragment."""
    b = F.regexp_replace(F.trim(_col(base)), r"#.*$", "")
    r = F.regexp_replace(F.trim(_col(ref)), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(b, r"(?i)^([a-z][a-z0-9+.\-]*):", 1))
    origin = F.regexp_extract(b, r"(?i)^([a-z][a-z0-9+.\-]*://[^/?#]*)", 1)
    # base path's directory: path up to and including the last '/'
    bpath = F.regexp_extract(b, r"(?i)^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    bdir = F.regexp_replace(bpath, r"[^/]*$", "")
    resolved = (
        F.when(r == "", b)
        .when(r.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), r)
        .when(r.startswith("//"), F.concat(scheme, F.lit(":"), r))
        .when(r.startswith("/"), F.concat(origin, r))
        .otherwise(F.concat(
            origin,
            F.when(bdir == "", F.lit("/")).otherwise(bdir), r)))
    pre = F.regexp_extract(resolved, r"^([^?]*)", 1)
    q = F.regexp_extract(resolved, r"(\?.*)$", 1)
    norm = pre
    for _ in range(_DOTSEG_ROUNDS):
        # inner /./ drops; a TERMINAL /. leaves the trailing slash
        # (RFC 5.2.4: '.' replaces the final segment with empty)
        norm = F.regexp_replace(norm, r"(?<!/)/\.(?=/)", "")
    norm = F.regexp_replace(norm, r"(?<!/)/\.$", "/")
    for _ in range(_DOTSEG_ROUNDS):
        # /seg/../ -> /  (seg itself never '..'; '//' in the origin
        # can't match because [^/]+ needs at least one non-slash);
        # a TERMINAL /seg/.. likewise keeps the trailing slash
        norm = F.regexp_replace(
            norm, r"/(?!\.\./)[^/]+/\.\.(?=/)", "")
        norm = F.regexp_replace(norm, r"/(?!\.\./)[^/]+/\.\.$", "/")
        # a /../ left at the root drops (RFC: excess ..s are removed)
        norm = F.regexp_replace(
            norm, r"(?i)^([a-z][a-z0-9+.\-]*://[^/?#]*)/\.\.(?=/|$)",
            "$1")
    # a path fully consumed by dot-removal still addresses the root
    norm = F.when(norm.rlike(r"(?i)^[a-z][a-z0-9+.\-]*://[^/?#]*$"),
                  F.concat(norm, F.lit("/"))).otherwise(norm)
    # codegen If is lazy per row: the ~35-regex removal pipeline only
    # runs for the minority of paths that actually CONTAIN a dot
    # segment ('/.' also covers '/..'); clean paths pass through
    pre = F.when(pre.contains("/."), norm).otherwise(pre)
    return F.concat(pre, q)


def html_stats(html: Column | str) -> dict[str, Column]:
    """Boilerplate SIGNALS over raw HTML (r8): link count, tag count,
    and the extracted-text-to-markup ratio in exact integer ppm — the
    link/text-density features boilerplate classifiers (jusText/
    trafilatura-style) threshold on.  Counting uses the length-diff
    idiom (exact and identical in every SQL dialect); the ratio reuses
    `html_text`.  All pure JVM expressions."""
    c = _col(html)
    low = F.lower(c)

    def _count(sub: str) -> Column:
        return (
            (F.length(low) - F.length(F.replace(low, F.lit(sub), F.lit(""))))
            / len(sub)
        ).cast("long")

    text = html_text(c)
    # exact integer division: (a - a mod b) is an exact multiple, and
    # dividing exact multiples is exact in doubles — a bare a/b cast
    # could round up across an integer boundary where SQL `div` floors
    a = (F.lit(1_000_000) * F.length(text)).cast("long")
    b = F.greatest(F.length(c), F.lit(1)).cast("long")
    return {
        "n_links": _count("<a "),
        "n_tags": _count("<"),
        "text_ratio_ppm": ((a - F.pmod(a, b)) / b).cast("long"),
    }
