"""Text-analysis column functions for large-scale corpus processing.

All functions return Catalyst Column expressions (JVM-side, whole-stage
codegen) — no Python UDFs in any hot path. These power the gated
``text_*`` queries in eel_spark.queries.pipeline and are the building
blocks a 100 TB pre-training pipeline needs: token counting, quality
ratios, language ID, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


#: Unicode ranges of scripts written WITHOUT word-separating spaces —
#: Han (unified + extension A + compatibility), Hiragana, Katakana
#: (+ phonetic extensions), Thai. Hangul is deliberately absent:
#: Korean separates words with spaces, so char-splitting it would
#: DISTORT real segmentation rather than repair a missing one.
NO_SPACE_SCRIPT_CLASS = (
    "一-鿿㐀-䶿豈-﫿"  # Han: unified, ext A, compatibility
    "぀-ゟ゠-ヿㇰ-ㇿ"  # Hiragana, Katakana (+ phonetic ext)
    "฀-๿"  # Thai
)


def segment_no_space_scripts(text: Column | str) -> Column:
    """Insert spaces around every Han/Hiragana/Katakana/Thai codepoint
    so downstream ``\\s+`` splitters see one token per character — the
    public char-level fallback (what BERT's basic tokenizer does for
    CJK) that keeps token counts, chunk sizes and quality stats SANE on
    whitespace-free scripts instead of silently treating a whole
    document as ~1 giant token. A character is an over-segmentation of
    real words (proper Thai/Japanese segmentation needs a dictionary
    model); it is the honest bound, and it is pure regexp — identical
    in Java and RE2, so oracles can mirror it. Identity on text with
    no such codepoints; apply UPSTREAM of any ``\\s+``-splitting
    operator (LM quality scorers, BPE pre-tokenization, chunking) to
    fix all of them at once — train and score with the SAME
    segmentation."""
    return F.regexp_replace(
        _c(text), f"([{NO_SPACE_SCRIPT_CLASS}])", " $1 "
    )


def tokens(text: Column | str, pattern: str = " ") -> Column:
    """Whitespace tokenization (array of tokens, empties removed).
    Splits on the pattern ONLY — whitespace-free scripts (Han, kana,
    Thai) come back as one giant run; wrap the input in
    :func:`segment_no_space_scripts` (or pass ``script_aware=True`` on
    the counting wrappers) when the corpus can contain them.

    ``array_remove(split(...), '')``, NOT ``filter(..., t -> t != '')``:
    the two are element-for-element identical here (split never yields
    nulls, and both drop exactly the empty strings), but array_remove is
    a codegen expression while the lambda filter evaluates interpreted
    per token — measured ~15% on a tokenize-dominated sf0.1 pass, and
    tokens() sits under every text query."""
    return F.array_remove(F.split(_c(text), pattern), "")


def token_count(text: Column | str, script_aware: bool = False) -> Column:
    """Number of whitespace tokens. ``script_aware=True`` segments
    Han/Hiragana/Katakana/Thai codepoints first (one token per char —
    see :func:`segment_no_space_scripts`) AND widens the delimiter to
    ``\\s+`` — segmentation requires it (an inserted space next to a
    tab would otherwise leave the tab as a phantom token), so
    tab/newline-separated Latin words also count as separate tokens in
    this mode, where the default's literal-single-space split counts
    ``'a\\nb'`` as ONE. The default stays the single-space split,
    byte-identical for oracle-mirroring."""
    if script_aware:
        return F.size(tokens(segment_no_space_scripts(text), r"\s+"))
    return F.size(tokens(text))


def bpe_ish_token_count(
    text: Column | str, script_aware: bool = False
) -> Column:
    """BPE-ish token estimate: word-piece chunks of ≤4 chars — counts
    ceil(len/4) per word, a cheap deterministic proxy for a subword
    tokenizer (real BPE would be a broadcast-vocab pandas UDF).
    ``script_aware=True``: char-segment no-space scripts first, so a
    CJK doc estimates ~1 token/char (the realistic subword rate there)
    instead of ceil(doc_len/4) of one run; the delimiter also widens
    to ``\\s+`` (same caveat as :func:`token_count`)."""
    src = segment_no_space_scripts(text) if script_aware else _c(text)
    pat = r"\s+" if script_aware else " "
    return F.aggregate(
        tokens(src, pat),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4).cast("long"),
    )


def whitespace_ratio(text: Column | str) -> Column:
    """Fraction of characters that are spaces (exact int/int → double).
    NULL for null/empty text — ANSI mode (Spark 4 default) makes a bare
    division a runtime DIVIDE_BY_ZERO crash, not an Inf/NaN."""
    t = _c(text)
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    return F.when(
        F.length(t) > 0, spaces.cast("double") / F.length(t).cast("double")
    )


def mean_token_length(text: Column | str) -> Column:
    """Mean token length; NULL for null/empty text (see whitespace_ratio
    on why the division must be guarded)."""
    t = tokens(text)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    return F.when(F.size(t) > 0, total.cast("double") / F.size(t).cast("double"))


def stopword_count(text: Column | str, stopwords: list[str]) -> Column:
    """Tokens that are in the stopword list (list is inlined into the plan;
    for large vocabularies use a broadcast join against a vocab table)."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def quality_score(text: Column | str, stopwords: list[str]) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    token-length sanity. Deterministic integer/double arithmetic; 0.0 for
    null/empty documents (a total function — empty input is the lowest
    quality, not a crash)."""
    n_tok = token_count(text)
    mean_len = mean_token_length(text)
    sw_ratio = F.when(
        n_tok > 0,
        stopword_count(text, stopwords).cast("double") / n_tok.cast("double"),
    )
    length_ok = (n_tok >= 10) & (n_tok <= 100000)
    mean_ok = (mean_len >= 2.0) & (mean_len <= 12.0)
    return F.coalesce(
        length_ok.cast("double") * 0.4
        + mean_ok.cast("double") * 0.3
        + F.least(sw_ratio * F.lit(3.0), F.lit(1.0)) * 0.3,
        F.lit(0.0),
    )


# language ID: tiny per-language marker vocabularies (public common words)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "que", "con"],
    "zh": ["de", "shi", "bu", "le", "zai", "you", "wo", "ta", "men", "zhe"],
}


def lang_id(text: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """argmax language by marker-token hits.

    Deterministic: each language's score is encoded as
    ``score * N - index`` (N ≥ number of languages), so ``greatest`` picks
    the max score with ties broken by marker-dict order — the identical
    integer encoding is trivially expressible in the SQL oracle.
    Returns 'und' when no marker hits at all.
    """
    markers = markers or LANG_MARKERS
    langs = list(markers)
    n = max(8, len(langs))
    scores = {lang: stopword_count(text, markers[lang]) for lang in langs}
    keys = {lang: scores[lang] * n - i for i, lang in enumerate(langs)}
    g = F.greatest(*keys.values()) if len(langs) > 1 else keys[langs[0]]
    out = F.lit("und")
    for lang in langs:  # keys are unique, exactly one equals g
        out = F.when(g == keys[lang], F.lit(lang)).otherwise(out)
    any_hit = (
        F.greatest(*scores.values()) if len(langs) > 1 else scores[langs[0]]
    ) > 0
    return F.when(any_hit, out).otherwise(F.lit("und"))


def fingerprint(text: Column | str, prefix_len: int = 16) -> Column:
    """Content fingerprint: first ``prefix_len`` hex chars of md5 —
    engine-portable (DuckDB md5 produces identical hex)."""
    return F.substring(F.md5(_c(text).cast("binary")), 1, prefix_len)


def normalized_text(text: Column | str) -> Column:
    """Dedup-normalization: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(_c(text)), "\\s+", " "))


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules, Rae et al. 2021 §A1.1):
# documents dominated by one repeated line / word / bigram are low-quality
# machine-generated text. All pure Catalyst expressions — per-row, no
# shuffle, so they run at scan speed on any corpus size.
#
# Scale note: the most-frequent-element kernel (_top_count) is
# array_sort + ONE linear fold — O(n log n) per document with the input
# array evaluated exactly once (it is the fold's input, never re-derived
# inside a lambda). The naive transform-over-distinct formulation
# (_top_count_quadratic, kept only as a property-test oracle) is
# O(distinct·n) per row AND re-evaluates the array expression per distinct
# element because higher-order-function lambdas sit outside codegen — at
# sf0.1 that was a measured 44× regression; never put it in a hot path.
# Callers should still project the token/bigram/line arrays through their
# own select (the projection-boundary rule) so tokenization runs once per
# row even when several metrics consume the same array.
# ---------------------------------------------------------------------------


def lines(text: Column | str) -> Column:
    """Non-blank lines of the document (array<string>)."""
    return F.filter(F.split(_c(text), "\n"), lambda l: F.trim(l) != "")


def duplicate_line_fraction(text: Column | str) -> Column:
    """Fraction of non-blank lines that are duplicates of an earlier line
    (0.0 for documents with ≤1 line)."""
    ls = lines(text)
    n = F.size(ls)
    dup = (n - F.size(F.array_distinct(ls))).cast("double") / n.cast("double")
    return F.when(n > 0, dup).otherwise(F.lit(0.0))


def _top_count(arr: Column, element_type: str = "string") -> Column:
    """Count of the most frequent element of ``arr`` (0 when empty).

    array_sort + one linear fold over the sorted array tracking the
    current and best run length. O(n log n) per row, input evaluated
    once; equal elements are adjacent after the sort, so the longest run
    IS the top multiplicity (property-tested against the quadratic
    formulation in tests/test_properties.py). PRECONDITION: null-free
    arrays (all callers build them from split/zip_with, which never emit
    nulls) — the fold counts a null run via eqNullSafe while the
    quadratic oracle's ``x = t`` drops nulls, so the two disagree on
    arrays containing nulls. HOF-lambda rule of thumb
    proven by measurement: expressions passed as the aggregate's INPUT
    evaluate once; expressions referenced inside a lambda body re-run per
    element (a boundary-position variant that read the sorted array
    inside its filter lambda measured 120× slower — O(n²)).
    """
    folded = F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(None).cast(element_type).alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return folded


def _top_count_quadratic(arr: Column) -> Column:
    """Naive O(distinct·n) top-count — property-test oracle ONLY (see the
    scale note above: this shape re-evaluates ``arr`` per distinct
    element and must never appear in a measured query)."""
    per_distinct = F.transform(
        F.array_distinct(arr),
        lambda t: F.size(F.filter(arr, lambda x: x == t)),
    )
    return F.coalesce(F.array_max(per_distinct), F.lit(0))


def bigrams(text: Column | str) -> Column:
    """Adjacent token pairs joined with a space (array<string>)."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda a, b: F.concat_ws(" ", a, b)
    )


def bigrams_from_tokens(toks: Column) -> Column:
    """Adjacent pairs of a pre-projected token array (boundary-friendly)."""
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda a, b: F.concat_ws(" ", a, b)
    )


def top_fraction(arr: Column, element_type: str = "string") -> Column:
    """Fraction of elements taken by the most frequent element of a
    pre-projected array (0.0 when empty). The at-scale entry point: pass
    a column reference so the array is built once per row."""
    frac = _top_count(arr, element_type).cast("double") / F.size(arr).cast("double")
    return F.when(F.size(arr) > 0, frac).otherwise(F.lit(0.0))


def duplicate_fraction(arr: Column) -> Column:
    """Fraction of elements that repeat an earlier one (0.0 when empty)."""
    n = F.size(arr)
    dup = (n - F.size(F.array_distinct(arr))).cast("double") / n.cast("double")
    return F.when(n > 0, dup).otherwise(F.lit(0.0))


def top_token_fraction(text: Column | str) -> Column:
    """Fraction of tokens taken by the single most frequent token
    (0.0 for empty documents)."""
    return top_fraction(tokens(text))


def top_bigram_fraction(text: Column | str) -> Column:
    """Fraction of bigrams taken by the most frequent bigram (0.0 for
    documents with <2 tokens)."""
    return top_fraction(bigrams(text))


# ---------------------------------------------------------------------------
# PII scrubbing: regexes restricted to the syntax Java regex and RE2-style
# engines share ((?:...), \b, \d, bounded repetition), so the DuckDB
# oracle can mirror them verbatim. regexp_replace / regexp_count are
# codegen'd JVM expressions — scrubbing runs at scan speed.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+?\d(?:[ -]?\d){7,14}"


def pii_email_count(text: Column | str) -> Column:
    return F.regexp_count(_c(text), F.lit(PII_EMAIL))


def pii_ipv4_count(text: Column | str) -> Column:
    return F.regexp_count(_c(text), F.lit(PII_IPV4))


def pii_phone_count(text: Column | str) -> Column:
    return F.regexp_count(_c(text), F.lit(PII_PHONE))


def redact_pii(text: Column | str) -> Column:
    """Replace emails / IPv4s / phone numbers with typed placeholder
    tokens. Order matters: emails first (their local part can contain
    digits), then IPs (dotted digits would half-match the phone rule),
    then phones."""
    out = F.regexp_replace(_c(text), PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def url_host(url: Column | str) -> Column:
    """Lower-cased hostname of a URL (``try_parse_url`` — JVM-side,
    handles scheme/userinfo/port/path, NULL instead of an ANSI error for
    unparseable values). Input is trimmed first (crawl URLs carry stray
    whitespace, which would otherwise NULL the parse and let padded
    URLs slip past blocklists); scheme-less inputs ("example.com/x")
    are tried again with a dummy scheme; a trailing root-dot FQDN
    ("example.com.") is normalized to its dotless form."""
    u = F.trim(_c(url))
    direct = F.try_parse_url(u, F.lit("HOST"))
    fallback = F.try_parse_url(F.concat(F.lit("http://"), u), F.lit("HOST"))
    return F.regexp_replace(F.lower(F.coalesce(direct, fallback)), r"\.$", "")


def url_registered_domain(url: Column | str) -> Column:
    """Heuristic eTLD+1: the last two host labels, or the last three
    when the 2nd-level label is a common country-code SLD (co/com/ac/
    gov/org/net/edu — 'bbc.co.uk' → 'bbc.co.uk', not 'co.uk'). Literal
    addresses (IPv4 like '1.2.3.4', bracketed IPv6) have no registered
    domain and pass through whole — slicing octets would both break
    raw-IP blocklisting and alias unrelated IPs.

    A full public-suffix list is data, not code — pass your own mapping
    for exactness; this heuristic is the standard approximation when the
    PSL isn't shipped. Pure Catalyst (split + slice + array_join).
    """
    host = url_host(url)
    is_literal = host.rlike(r"^(\d{1,3}(\.\d{1,3}){3}|\[.*\])$")
    parts = F.split(host, r"\.")
    n = F.size(parts)
    second = F.element_at(parts, -2)
    take = F.when(
        (n >= 3) & second.isin("co", "com", "ac", "gov", "org", "net", "edu"),
        F.lit(3),
    ).otherwise(F.least(n, F.lit(2)))
    return F.when(
        host.isNotNull() & ~is_literal & (n >= 2),
        F.array_join(F.slice(parts, -take, take), "."),
    ).otherwise(host)


def filter_blocked_hosts(
    df, url_col: str, blocklist, host_col: str = "__host"
) -> "DataFrame":  # noqa: F821 - DataFrame for callers, Column funcs above
    """Drop rows whose registered domain appears in ``blocklist`` (a
    DataFrame with a single ``domain`` column, or an iterable of
    strings). The standard crawl-pipeline domain filter.

    Scale shape: the blocklist (thousands to low millions of rows) is
    broadcast into a LEFT ANTI join on the derived domain — the corpus
    is never shuffled. Subdomains are blocked with their parent
    (matching on registered domain, not raw host); blocklist entries are
    themselves normalized to registered domain, so host-form entries
    ('www.example.com', as real published blocklists contain) match —
    asymmetric normalization would silently under-block.
    """
    from pyspark.sql import DataFrame as _DF

    if isinstance(blocklist, str):
        raise TypeError(
            "blocklist must be a DataFrame or an iterable of domains, not a "
            "single string (iterating a string yields characters, which "
            "would silently block nothing)"
        )
    if not isinstance(blocklist, _DF):
        spark = df.sparkSession
        blocklist = spark.createDataFrame(
            [(d,) for d in blocklist], "domain: string"
        )
    blocked = blocklist.select(
        url_registered_domain(F.col("domain")).alias("domain")
    ).distinct()
    with_host = df.withColumn(host_col, url_registered_domain(F.col(url_col)))
    return (
        with_host.join(
            F.broadcast(blocked),
            with_host[host_col] == blocked["domain"],
            "left_anti",
        ).drop(host_col)
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A1.1 — public): the
# standard document-level heuristic filter bundle for web-crawl corpora.
# All pure Catalyst — per-row expressions, no shuffle, scan speed.
# Thresholds are the published MassiveText defaults; every one is a
# keyword argument because real pipelines tune them per source.
# ---------------------------------------------------------------------------

#: the paper's required-stopword list: a KEEP document must contain at
#: least two of these (a language/coherence proxy, not a frequency one)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: line prefixes the paper treats as bullets
_BULLET_RE = r"^\s*([-*•‣▪◦])"


def gopher_quality_flags(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    max_duplicate_line_fraction: float = 0.3,
    max_top_bigram_fraction: float = 0.18,
    script_aware: bool = False,
) -> Column:
    """Struct of named per-rule booleans (true = rule satisfied) for the
    Gopher/MassiveText heuristic filter.

    ``script_aware=True`` char-segments Han/kana/Thai runs before the
    word split (:func:`segment_no_space_scripts`) so a CJK document
    gets a sane word count / mean word length instead of ~1 giant
    token silently failing every word rule. The paper's thresholds
    stay ANGLOCENTRIC either way: mean word length lands at ~1.0 on
    char-segmented text (below the 3.0 default), the stopword list is
    English, and alpha-word requires [A-Za-z] — tune
    ``min_mean_word_len`` / ``min_alpha_word_ratio`` down and
    ``min_stopword_hits=0`` (or a per-language stopword gate upstream)
    for non-Latin corpora; the flags make the failure VISIBLE rather
    than auto-passing it.

    NULL/empty documents fail the
    two count-threshold rules (``word_count_ok``, ``stopword_ok`` — an
    empty doc genuinely has too few words/stopwords) and PASS the
    vacuous line/ratio rules (a ratio over zero words or zero lines
    violates nothing), so rule-level pass-rate reporting stays honest on
    NULL-heavy sources — combine with :func:`gopher_keep` (an AND) for
    the filter decision, which NULL docs always fail via word count.

    Project this struct through ONE select and read fields out of it —
    the token/line arrays feeding several rules are shared
    subexpressions within the single projection (the module's
    projection-boundary rule).
    """
    t = _c(text)
    # word stats see the segmented text; line stats (bullets, ellipsis,
    # duplicate lines) keep the ORIGINAL text — segmentation inserts
    # spaces, never newlines, so line identity must not shift
    wsrc = segment_no_space_scripts(t) if script_aware else t
    toks = tokens(wsrc, r"\s+")
    n = F.size(toks)
    nd = n.cast("double")
    ls = lines(t)
    n_lines = F.size(ls)

    def _line_ratio_ok(pred, bound):
        # vacuously true for 0-line docs; exact int/int
        hits = F.size(F.filter(ls, pred))
        return F.when(
            n_lines > 0,
            hits.cast("double") / n_lines.cast("double") <= F.lit(bound),
        ).otherwise(F.lit(True))

    symbol_hits = (
        F.size(F.split(t, "#", -1)) - 1
        + F.size(F.split(t, r"\.\.\.", -1)) - 1
        + F.size(F.split(t, "…", -1)) - 1
    )
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    sw_hits = F.size(
        F.array_intersect(F.transform(toks, F.lower), sw)
    )
    flags = {
        "word_count_ok": (n >= min_words) & (n <= max_words),
        # mean length over the SAME \s+ token array as the word count
        # (mean_token_length splits on single spaces only)
        "mean_word_length_ok": F.when(
            n > 0,
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
            ).cast("double")
            / nd,
        ).between(min_mean_word_len, max_mean_word_len),
        "symbol_ratio_ok": F.when(
            n > 0, symbol_hits.cast("double") / nd <= max_symbol_word_ratio
        ).otherwise(F.lit(True)),
        "bullet_ratio_ok": _line_ratio_ok(
            lambda l: l.rlike(_BULLET_RE), max_bullet_line_ratio
        ),
        "ellipsis_ratio_ok": _line_ratio_ok(
            lambda l: l.rlike(r"(\.\.\.|…)\s*$"), max_ellipsis_line_ratio
        ),
        "alpha_word_ratio_ok": F.when(
            n > 0, alpha_words.cast("double") / nd >= min_alpha_word_ratio
        ).otherwise(F.lit(True)),
        "stopword_ok": sw_hits >= min_stopword_hits,
        "duplicate_line_ok": duplicate_line_fraction(t)
        <= max_duplicate_line_fraction,
        "top_bigram_ok": F.coalesce(
            top_bigram_fraction(t) <= max_top_bigram_fraction, F.lit(True)
        ),
    }
    # count-threshold rules genuinely fail on NULL/empty docs; the
    # ratio/line rules are vacuously satisfied (NULL text, like a
    # 0-line doc, violates no ratio) — without this branch every flag
    # would coalesce NULL→False and per-rule pass-rate reports would
    # charge NULL docs with nine failures instead of two
    count_rules = {"word_count_ok", "stopword_ok"}
    return F.struct(
        *[
            (
                F.coalesce(c, F.lit(False))
                if name in count_rules
                else F.when(t.isNull(), F.lit(True)).otherwise(
                    F.coalesce(c, F.lit(False))
                )
            ).alias(name)
            for name, c in flags.items()
        ]
    )


def gopher_keep(text: Column | str, **thresholds) -> Column:
    """Boolean keep decision: AND of every :func:`gopher_quality_flags`
    rule. ``df.filter(gopher_keep("text"))`` is the whole filter stage."""
    s = gopher_quality_flags(text, **thresholds)
    names = [
        "word_count_ok", "mean_word_length_ok", "symbol_ratio_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
        "stopword_ok", "duplicate_line_ok", "top_bigram_ok",
    ]
    out = F.lit(True)
    for nm in names:
        out = out & s[nm]
    return out


#: query parameters that identify a click, not a resource (public
#: tracking conventions: Google/Facebook/Microsoft click ids, UTM
#: campaign tags, Mailchimp, Instagram) — matched case-insensitively
#: against the parameter KEY. Deliberately NOT included: ``ref``,
#: ``ref_src``, ``spm`` — those are content-bearing on major sites
#: (e.g. a VCS ``?ref=<branch>`` selects different page content), so
#: stripping them by default would alias genuinely distinct pages and
#: make URL dedup drop real documents; extend the pattern per-source
#: when you know a key is pure tracking there.
TRACKING_PARAM_PATTERN = (
    r"(?i)^(utm_[a-z0-9_]+|gclid|fbclid|msclkid|dclid|yclid|igshid|"
    r"mc_eid|mc_cid|_ga|_gl)$"
)


def canonical_url(
    url: Column | str,
    tracking_param_pattern: str = TRACKING_PARAM_PATTERN,
    strip_www: bool = True,
) -> Column:
    """Canonical form of a URL for identity purposes — the key a crawl
    pipeline dedups on BEFORE fetching or hashing content (the cheapest
    dedup there is: two crawls of the same page differ in URL decoration
    far more often than in content).

    Normalizations (all pure Catalyst: ``try_parse_url`` + regexes over
    the parts): scheme and authority lowercased; userinfo dropped;
    default ports (http:80, https:443) dropped; ``www.`` prefix dropped
    (optional); trailing root-dot FQDN normalized; empty path → ``/``;
    trailing path slashes dropped (except root); fragment dropped;
    query parameters with tracking keys dropped, the rest SORTED so
    param order never splits identity. Unparseable/NULL input → NULL
    (callers decide whether unparseable means keep or drop).
    """
    u0 = F.trim(_c(url))
    has_scheme = u0.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    u = F.when(has_scheme, u0).otherwise(F.concat(F.lit("http://"), u0))
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    auth = F.lower(F.try_parse_url(u, F.lit("AUTHORITY")))
    auth = F.regexp_replace(auth, r"^[^@]*@", "")         # userinfo
    auth = F.regexp_replace(auth, r"\.(?=:|$)", "")       # root-dot FQDN
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    if strip_www:
        auth = F.regexp_replace(auth, r"^www\.", "")
    path = F.try_parse_url(u, F.lit("PATH"))
    path = F.regexp_replace(F.coalesce(path, F.lit("")), r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.regexp_extract(p, r"^([^=]+)", 1).rlike(tracking_param_pattern),
    )
    qs = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
    ).otherwise(F.lit(""))
    out = F.concat(scheme, F.lit("://"), auth, path, qs)
    return F.when(
        u0.isNotNull() & auth.isNotNull() & (auth != ""), out
    )


def _url_parts(u: Column) -> dict[str, Column]:
    """Split a (sanitized) URL string into RFC 3986 components —
    scheme / netloc / path / query / fragment — by successive
    delimiter cuts (fragment first, then query, scheme, authority),
    the appendix-B decomposition without its regex. All engine-neutral
    Catalyst string ops; missing parts come back as ''."""
    frag = F.when(
        F.instr(u, "#") > 0,
        F.substring(u, F.instr(u, "#") + F.lit(1), F.length(u)),
    ).otherwise(F.lit(""))
    u = F.substring_index(u, "#", 1)
    query = F.when(
        F.instr(u, "?") > 0,
        F.substring(u, F.instr(u, "?") + F.lit(1), F.length(u)),
    ).otherwise(F.lit(""))
    u = F.substring_index(u, "?", 1)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    u = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*:", "")
    has_slashes = u.startswith("//")
    after = F.substring(u, F.lit(3), F.length(u))
    netloc = F.when(has_slashes, F.substring_index(after, "/", 1)).otherwise(
        F.lit("")
    )
    path = F.when(
        has_slashes,
        F.substring(after, F.length(netloc) + F.lit(1), F.length(after)),
    ).otherwise(u)
    return {
        "scheme": scheme,
        "netloc": netloc,
        "path": path,
        "query": query,
        "fragment": frag,
    }


def _remove_dot_segments(segs: Column) -> Column:
    """RFC 3986 §5.2.4 over a '/'-split path whose first element is ''
    (absolute path): fold the remaining segments with an array as the
    stack — '.' skips, '..' pops (never past the root marker), anything
    else pushes; a trailing '.'/'..' leaves a trailing slash. Pure
    Catalyst (``aggregate`` is the loop), no Python."""
    folded = F.aggregate(
        F.slice(segs, 2, F.size(segs) - 1),
        F.array(F.lit("")),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            F.when(
                F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)
            ).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    folded = F.when(
        F.element_at(segs, -1).isin(".", ".."),
        F.concat(folded, F.array(F.lit(""))),
    ).otherwise(folded)
    joined = F.array_join(folded, "/")
    return F.when(joined == "", F.lit("/")).otherwise(joined)


def resolve_url(base: Column | str, ref: Column | str) -> Column:
    """Resolve a relative URL reference against a base URL — RFC 3986
    §5 as one pure-Catalyst expression, behavior-matched to Python's
    ``urllib.parse.urljoin`` (the de-facto reference implementation,
    WHATWG quirks included: ``\\t``/``\\r``/``\\n`` removed anywhere,
    leading C0-control/space stripped, same-scheme references treated
    as relative, excess ``..`` clamped at the root).

    The missing link of the crawl-frontier chain: :func:`html_links`
    harvests hrefs VERBATIM — overwhelmingly relative on real pages —
    and :func:`canonical_url` needs absolutes, so the frontier stage is
    ``explode(html_links(h))`` → ``resolve_url(page_url, href)`` →
    :func:`canonical_url` → ``dedup_by_url``, all inside one scan-side
    projection (no shuffle to discover or absolutize outlinks).

    Handles: absolute refs (returned verbatim when the scheme differs;
    re-rooted when it matches, mirroring urljoin's legacy relative
    treatment), protocol-relative ``//host/p``, absolute-path ``/p``,
    relative paths with ``./``/``../`` segment normalization,
    query-only ``?q`` (empty query inherits the base's), fragment-only
    ``#f``, and the empty reference (base returned verbatim).

    Scope: hierarchical http(s)-style bases (absolute, with authority)
    — what a crawl pipeline resolves against. Legacy ``;params`` are
    treated as opaque path characters (RFC 3986 has no params concept;
    urllib's last-segment ';' split is not mirrored). NULL in → NULL
    out.

    COMPOSITION NOTE: materialize this column in its own projection
    before feeding it to another expression-heavy function —
    ``df.select(resolve_url(...).alias("abs")).select(
    canonical_url("abs"))`` — NOT ``canonical_url(resolve_url(...))``.
    Catalyst has no let-binding: nesting clones this (large) expression
    tree once per reference inside the outer function, and optimizer
    time explodes. Separate projections stay one scan-side stage (no
    exchange, no Python) because CollapseProject declines to inline a
    multiply-referenced non-trivial alias.
    """
    b_raw, r_raw = _c(base), _c(ref)
    # urljoin's (WHATWG-aligned) sanitization: the raw string decides
    # emptiness, then \t\r\n vanish anywhere + leading C0/space strip
    def _sanitize(u: Column) -> Column:
        u = F.regexp_replace(u, "[\\t\\r\\n]", "")
        return F.regexp_replace(u, "^[\\x00-\\x20]+", "")

    b = _sanitize(b_raw)
    r = _sanitize(r_raw)
    bp = _url_parts(b)
    rp = _url_parts(r)
    eff_scheme = bp["scheme"]

    def _tail(query: Column, frag: Column) -> Column:
        return F.concat(
            F.when(query != "", F.concat(F.lit("?"), query)).otherwise(
                F.lit("")
            ),
            F.when(frag != "", F.concat(F.lit("#"), frag)).otherwise(
                F.lit("")
            ),
        )

    head = F.concat(eff_scheme, F.lit("://"))
    # same-document / inherit branch: empty ref path keeps the base
    # path; an empty ref query inherits the base query too (§5.3)
    inherit_q = F.when(rp["query"] != "", rp["query"]).otherwise(bp["query"])
    inherit = F.concat(
        head, bp["netloc"], bp["path"], _tail(inherit_q, rp["fragment"])
    )
    # absolute-path ref: normalize the ref path alone
    abs_path = _remove_dot_segments(F.split(rp["path"], "/", -1))
    absolute = F.concat(
        head, bp["netloc"], abs_path, _tail(rp["query"], rp["fragment"])
    )
    # relative-path ref: merge onto the base directory (§5.3 merge),
    # dropping empty INTERIOR segments the way urljoin does, then
    # normalize
    bsegs = F.split(bp["path"], "/", -1)
    bdir = F.when(
        F.element_at(bsegs, -1) != "",
        F.slice(bsegs, 1, F.size(bsegs) - 1),
    ).otherwise(bsegs)
    merged = F.concat(bdir, F.split(rp["path"], "/", -1))
    # urljoin drops empty INTERIOR segments of the merged list (first
    # and last survive); size(merged) >= 2 always — bdir and the ref
    # split each contribute at least one element
    merged = F.concat(
        F.slice(merged, 1, 1),
        F.filter(F.slice(merged, 2, F.size(merged) - 2), lambda s: s != ""),
        F.slice(merged, F.size(merged), 1),
    )
    relative = F.concat(
        head,
        bp["netloc"],
        _remove_dot_segments(merged),
        _tail(rp["query"], rp["fragment"]),
    )
    return (
        F.when(r_raw == "", b_raw)
        .when((rp["scheme"] != "") & (rp["scheme"] != eff_scheme), r_raw)
        .when(
            rp["netloc"] != "",
            F.concat(
                head,
                rp["netloc"],
                rp["path"],
                _tail(rp["query"], rp["fragment"]),
            ),
        )
        .when(rp["path"] == "", inherit)
        .when(rp["path"].startswith("/"), absolute)
        .otherwise(relative)
    )


# ---------------------------------------------------------------------------
# HTML / markup → text extraction (jusText/trafilatura-style heuristics,
# re-derived on Catalyst — public techniques: line link-density and
# text-ratio scoring; see Pomikálek, "Removing boilerplate and duplicate
# content from web corpora", 2011). The first stage of every web-crawl
# LLM pipeline: everything downstream (dedup, quality, LM training)
# assumes clean text. All patterns are ENGINE-NEUTRAL regex (the Java ∩
# RE2 subset — no lookaround, no backreferences) so DuckDB oracles can
# run the identical chain.
# ---------------------------------------------------------------------------

# script/style subtrees go first: their CONTENT is code, not text, and
# may contain markup-looking strings ('var s = "</p>"') that would
# corrupt tag stripping; legacy comment-hiding (<script><!-- ... -->
# </script>) also parses correctly in this order. Comments are removed
# after. Regex-based stripping is heuristic by design — a comment
# containing an unbalanced <script> open is mis-parsed; real-world
# extractors accept the same trade.
HTML_SCRIPT_PATTERN = r"(?is)<script\b[^>]*>.*?</script>"
HTML_STYLE_PATTERN = r"(?is)<style\b[^>]*>.*?</style>"
HTML_COMMENT_PATTERN = r"(?s)<!--.*?-->"

# block-level elements: each open/close boundary becomes a newline so
# visually-separate content stays on separate lines; inline tags (<b>,
# <span>, <a>, ...) strip to nothing, gluing their text to the line.
HTML_BLOCK_TAG_PATTERN = (
    r"(?is)</?(?:html|head|body|title|p|div|br|hr|li|ul|ol|dl|dt|dd|"
    r"h[1-6]|tr|td|th|table|thead|tbody|tfoot|caption|blockquote|pre|"
    r"section|article|aside|header|footer|nav|form|fieldset|figure|"
    r"figcaption|main|address|center)\b[^>]*>"
)
HTML_TAG_PATTERN = r"(?s)<[^>]*>"

# anchor inner HTML — group 1 feeds per-line link-density scoring
HTML_ANCHOR_PATTERN = r"(?is)<a\b[^>]*>(.*?)</a>"

# the named/numeric core entity set, ORDERED: &amp; decodes LAST so
# double-escaped text (&amp;lt;) yields the literal entity (&lt;), the
# standard unescape order. Literal (non-regex) replaces — identical
# semantics in every engine.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&#60;", "<"),
    ("&gt;", ">"),
    ("&#62;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&#160;", " "),
    ("&amp;", "&"),
    ("&#38;", "&"),
]


def _strip_markup(c: Column) -> Column:
    """Remove non-content subtrees, turn block boundaries into newlines,
    drop remaining tags, decode the core entity set. No whitespace
    normalization — callers line-split or collapse as they need."""
    c = F.regexp_replace(c, HTML_SCRIPT_PATTERN, "")
    c = F.regexp_replace(c, HTML_STYLE_PATTERN, "")
    c = F.regexp_replace(c, HTML_COMMENT_PATTERN, "")
    c = F.regexp_replace(c, HTML_BLOCK_TAG_PATTERN, "\n")
    c = F.regexp_replace(c, HTML_TAG_PATTERN, "")
    return _decode_entities(c)


def _decode_entities(c: Column) -> Column:
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _collapse_visible(c: Column) -> Column:
    """Whitespace-normalize extracted text: horizontal runs → one
    space, spaces trimmed around newlines, newline runs → one, ends
    trimmed."""
    c = F.regexp_replace(c, r"[^\S\n]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n+", "\n")
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def html_to_text(html: Column | str) -> Column:
    """Visible text of an HTML/markup document — pure Catalyst (one
    projection, whole-stage codegen; zero Python).

    Pipeline: script/style subtree removal → comment removal →
    block-level tag boundaries become newlines → remaining tags strip
    → core named/numeric entity decode → whitespace normalization
    (one line per block, no blank lines, trimmed).

    Scale shape: a per-row expression chain — no shuffle, no UDF; runs
    inside the scan projection, so a 100 TB crawl pays exactly one
    pass. Compose with :func:`extract_main_content` (link-density main
    content) and
    :func:`eel_spark.operators.dedup.remove_boilerplate_lines`
    (cross-document frequent lines) for the full crawl-cleaning stack.
    """
    return _collapse_visible(_strip_markup(_c(html)))


def extract_main_content(
    html: Column | str,
    min_words: int = 5,
    max_link_density: float = 0.33,
    min_text_ratio: float = 0.0,
) -> Column:
    """Main-content text of an HTML document: per-LINE link-density and
    length heuristics over the block structure (the jusText/trafilatura
    family of techniques, re-expressed as Catalyst higher-order
    functions — no DOM, no Python).

    A line (= block-level element's visible text) is KEPT iff:

    - it has ≥ ``min_words`` whitespace words (drops titles, buttons,
      copyright shards), and
    - its anchor-text chars ≤ ``max_link_density`` × its visible chars
      (drops nav bars, link farms, footers), and
    - its visible chars ≥ ``min_text_ratio`` × its raw chars (0 = off;
      raise to drop attribute-heavy widget soup). Raw chars count the
      line AFTER block-tag splitting, so the ratio measures INLINE
      markup density (spans/anchors/attributes inside the line) — the
      block tag that delimits the line never counts against it.

    Kept lines re-join with newlines in document order. Cross-document
    boilerplate (repeated banners that pass per-line rules) is the
    complementary corpus-level pass —
    :func:`eel_spark.operators.dedup.remove_boilerplate_lines`.

    Scale shape: per-row HOF chain over the line array — still one
    scan-side projection, no shuffle. HOF lambdas evaluate outside
    codegen (interpreted), so this costs more per row than
    :func:`html_to_text`; each lambda touches only its own element
    (the r4 projection-boundary rule), never re-evaluating the array.
    """
    c = _c(html)
    c = F.regexp_replace(c, HTML_SCRIPT_PATTERN, "")
    c = F.regexp_replace(c, HTML_STYLE_PATTERN, "")
    c = F.regexp_replace(c, HTML_COMMENT_PATTERN, "")
    lines_arr = F.split(F.regexp_replace(c, HTML_BLOCK_TAG_PATTERN, "\n"), "\n")

    def _visible(x: Column) -> Column:
        v = F.regexp_replace(x, HTML_TAG_PATTERN, "")
        v = _decode_entities(v)
        return F.trim(F.regexp_replace(v, r"\s+", " "))

    scored = F.transform(
        lines_arr,
        lambda x: F.struct(
            _visible(x).alias("txt"),
            F.length(F.trim(x)).alias("raw_len"),
            F.aggregate(
                F.regexp_extract_all(x, F.lit(HTML_ANCHOR_PATTERN), 1),
                F.lit(0),
                lambda acc, a: acc + F.length(_visible(a)),
            ).alias("link_chars"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (s["txt"] != "")
        & (F.size(F.split(s["txt"], " ")) >= F.lit(int(min_words)))
        & (
            s["link_chars"].cast("double")
            <= F.lit(float(max_link_density)) * F.length(s["txt"])
        )
        & (
            F.length(s["txt"]).cast("double")
            >= F.lit(float(min_text_ratio)) * s["raw_len"]
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["txt"]), "\n")


# anchor href in its three attribute-quoting forms — separate patterns
# (not a backreference, which RE2 lacks); attribute order inside the
# tag doesn't matter. Two r13-review hardenings: (a) the prefix scans
# attributes QUOTE-AWARE (alternation of non-quote chars and whole
# quoted spans — still RE2-legal), so a legal '>' inside an earlier
# quoted attribute (title="a > b") can't truncate the scan and drop
# the href; (b) href must follow a whitespace/quote boundary, so
# data-href/ng-href/xlink:href values are NOT harvested as outlinks
# ('-' and ':' are word boundaries, which \bhref happily matched).
_HREF_PREFIX = r"(?is)<a\b(?:[^>\"']|\"[^\"]*\"|'[^']*')*?[\s\"']"
HTML_HREF_PATTERNS = (
    _HREF_PREFIX + r"href\s*=\s*\"([^\"]*)\"",
    _HREF_PREFIX + r"href\s*=\s*'([^']*)'",
    _HREF_PREFIX + r"href\s*=\s*([^\s\"'>]+)",
)
HTML_TITLE_PATTERN = r"(?is)<title\b[^>]*>(.*?)</title>"
# digits included: BCP 47 region subtags are numeric (es-419) — the
# letter-only class truncated them to a malformed 'es-' (r13 review)
HTML_LANG_PATTERN = r"(?is)<html\b[^>]*?\blang\s*=\s*[\"']?([A-Za-z0-9-]+)"


def strip_html_noise(html: Column | str) -> Column:
    """Remove script/style/comment subtrees — the shared pre-pass of
    :func:`html_links` / :func:`html_title` / :func:`html_lang` (their
    content is code or hidden markup that must never supply links,
    titles or languages). Each extractor strips internally, so they
    are correct standalone; in a projection computing SEVERAL of them
    over the same column, materialize this ONCE in its own select and
    feed the stripped column to all of them — three full-document
    regex passes instead of nine (stripping twice is idempotent, so
    the composition stays correct either way; whole-stage codegen's
    common-subexpression elimination often dedups the inline form, but
    the explicit boundary is guaranteed)."""
    c = F.regexp_replace(_c(html), HTML_SCRIPT_PATTERN, "")
    c = F.regexp_replace(c, HTML_STYLE_PATTERN, "")
    return F.regexp_replace(c, HTML_COMMENT_PATTERN, "")


def html_links(html: Column | str) -> Column:
    """Outlink harvest: every anchor ``href`` value in the document, as
    ``array<string>`` — the crawl-frontier stage (extract → canonicalize
    → dedup → schedule). Entity-decoded (hrefs legally carry ``&amp;``
    between query params); relative URLs returned verbatim — resolve
    against the page URL downstream, where the page URL column lives.

    Compose: ``explode(html_links(h))`` → :func:`canonical_url` →
    ``dedup.dedup_by_url`` builds a deduplicated frontier in three
    scan-side steps; :func:`filter_blocked_hosts` prunes it by domain.
    Scale shape: per-row regexp extraction inside the scan projection —
    the corpus never shuffles to discover its outlinks.
    """
    # script/style/comment subtrees can contain markup-looking anchor
    # text (JS strings, CSS content:, commented-out nav) — strip all
    # three, same as html_to_text (r13 review: style was the omission)
    c = strip_html_noise(html)
    parts = [
        F.regexp_extract_all(c, F.lit(p), 1) for p in HTML_HREF_PATTERNS
    ]
    return F.transform(
        F.concat(*parts), lambda u: _decode_entities(F.trim(u))
    )


def html_title(html: Column | str) -> Column:
    """The document's ``<title>`` text (first one), entity-decoded and
    whitespace-collapsed; NULL when absent. Scan-side expression.
    Script/style subtrees strip first — a '<title>' inside a JS
    template string must not supply the title (r13 review)."""
    raw = F.regexp_extract(strip_html_noise(html), HTML_TITLE_PATTERN, 1)
    out = F.trim(
        F.regexp_replace(
            _decode_entities(F.regexp_replace(raw, HTML_TAG_PATTERN, "")),
            r"\s+",
            " ",
        )
    )
    return F.when(out != "", out)


def html_lang(html: Column | str) -> Column:
    """The ``<html lang=...>`` declaration, lowercased; NULL when
    absent. The cheap pre-filter BEFORE content language-ID (declared
    lang prunes the obvious cases; :func:`lang_id` / the trained
    Cavnar-Trenkle model adjudicate the rest). Script/style/comment
    subtrees strip first, same as html_title — a commented-out or
    JS-string '<html lang=...>' before the real tag must not supply
    the language (r13 advice). In a multi-extractor projection,
    pre-strip once with :func:`strip_html_noise` and pass the clean
    column (see its docstring)."""
    out = F.lower(F.regexp_extract(strip_html_noise(html), HTML_LANG_PATTERN, 1))
    return F.when(out != "", out)
