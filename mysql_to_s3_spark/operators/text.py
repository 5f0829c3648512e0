"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language identification, and document
fingerprinting over the ``documents`` table.

Beyond-reference capability (BASELINE.json north star); everything here is
pure ``pyspark.sql.functions`` Column algebra — JVM-side, whole-stage
codegen, no Python in the hot path — so a 100 TB corpus runs these as a
single scan with no shuffle at all (per-row transforms) or one hash shuffle
(fingerprint dedup grouping).

The heuristics are deliberately deterministic + SQL-expressible so the
DuckDB oracle can replicate them exactly (see queries.py oracle builders,
which generate the SQL from the same constants).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# token pattern: words OR single non-space punctuation — a cheap BPE-ish
# pre-tokenizer (word-level split with punctuation isolated).
# ENGINE CONTRACT: \w here is ASCII-only — Java regex (Spark) and RE2
# (DuckDB) both define \w as [A-Za-z0-9_] by default, so the engine and
# its oracle agree; note Python's re is Unicode-aware and needs
# re.ASCII to replicate (a hypothesis harness caught 'µ' diverging).
# Consequence: the word-based heuristics (language_id, quality_score,
# the repetition family) see only ASCII-word text — fine for the
# Latin-script profiles shipped here; a non-Latin corpus needs a
# Unicode-aware WORD_RE AND a matching oracle dialect.
TOKEN_RE = r"\w+|[^\w\s]"
WORD_RE = r"\w+"

# tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic; order = tie-break priority
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "para", "en", "que"),
}

# quality-score weights: length band + punctuation + stopword presence
QUALITY_WEIGHTS = {"len": 0.4, "punct": 0.3, "stop": 0.3}


def tokens(col: Column) -> Column:
    """All tokens (words + punctuation marks), BPE-ish pre-tokenization."""
    return F.regexp_extract_all(col, F.lit(TOKEN_RE), 0)


def words(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(WORD_RE), 0)


def lines(col: Column) -> Column:
    return F.split(col, "\n")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def let(expr: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(expr)`` with ``expr`` evaluated ONCE per row: the
    single-element-array transform ``element_at(transform(array(expr),
    fn), 1)`` binds ``expr`` to ``fn``'s lambda variable.

    This is the one way to share a token/line array between the
    builders below. They reference their arrays many times (the
    language argmax chain ~13x, the n-gram windows once per element),
    and Catalyst never CSEs higher-order functions, so every inline
    reference re-runs the regex. A ``withColumn``-bound array does not
    help under a filter: predicate pushdown substitutes the column's
    definition back into each reference of the filter condition, and
    the regex runs once per reference again. ``let`` is a single
    expression, so neither pushdown nor ``CollapseProject`` can
    duplicate its argument. (A bound ``withColumn`` does survive in a
    plain select, where a multi-referenced non-cheap alias stays a
    project boundary.)"""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _occurrence_fraction(ws: Column, vocab: tuple[str, ...]) -> Column:
    """Fraction of word OCCURRENCES that are in ``vocab``."""
    hits = F.aggregate(
        ws, F.lit(0), lambda acc, w: acc + F.when(F.lower(w).isin(*vocab), 1).otherwise(0)
    )
    return F.when(F.size(ws) > 0, hits.cast("double") / F.size(ws)).otherwise(F.lit(0.0))


def _raw_stats(col: Column, ws: Column) -> dict[str, Column]:
    """Unrounded per-document features of ``col`` and its word array
    ``ws`` (one projection, shuffle-free)."""
    n_chars = F.length(col)
    n_words = F.size(ws)
    word_chars = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    avg_word_len = F.when(n_words > 0, word_chars.cast("double") / n_words).otherwise(F.lit(0.0))
    punct_chars = F.length(F.regexp_replace(col, r"[\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, punct_chars.cast("double") / n_chars).otherwise(F.lit(0.0))
    stop_ratio = _occurrence_fraction(ws, LANG_PROFILES["en"])
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "avg_word_len": avg_word_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
    }


def text_stats(col: Column, ws: Column) -> dict[str, Column]:
    """Per-document quality features (all O(1)-per-row, shuffle-free)
    of ``col`` and its word array ``ws``."""
    s = _raw_stats(col, ws)
    return {
        "n_chars": s["n_chars"].cast("bigint"),
        "n_tokens": token_count(col).cast("bigint"),
        "n_words": s["n_words"].cast("bigint"),
        "avg_word_len": F.round(s["avg_word_len"], 6),
        "punct_ratio": F.round(s["punct_ratio"], 6),
        "stopword_ratio": F.round(s["stopword_ratio"], 6),
    }


def gopher_stats(col: Column, ws: Column, lines: Column) -> dict[str, Column]:
    """The remaining Gopher document-quality signals (Rae et al. 2021
    table A1 — the published rule set; `repetition_stats` covers the
    duplication half, `_raw_stats` the length/word-shape half):

    - ``symbol_word_ratio``: '#' and ellipsis occurrences per word,
    - ``bullet_line_frac``: fraction of lines starting with a bullet
      marker (-, *, or a numbered item),
    - ``ellipsis_line_frac``: fraction of lines ending in an ellipsis,
    - ``alpha_word_frac``: fraction of words containing at least one
      alphabetic character.

    Shuffle-free Column algebra (regexp + line/word HOFs), RE2-safe
    patterns so the DuckDB oracle replicates them exactly. Empty docs
    yield 0 ratios (not null), matching the other stats. ``ws`` /
    ``lines``: the doc's `words` / `lines` arrays."""
    n_words = F.size(ws)
    n_lines = F.size(lines)
    n_sym = (
        F.regexp_count(col, F.lit("#"))
        + F.regexp_count(col, F.lit(r"\.\.\."))
        + F.regexp_count(col, F.lit("…"))
    )
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike(r"^([-*•]|[0-9]+\.)\s"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]")))
    frac = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))  # noqa: E731
    return {
        "symbol_word_ratio": frac(n_sym, n_words),
        "bullet_line_frac": frac(n_bullet, n_lines),
        "ellipsis_line_frac": frac(n_ellipsis, n_lines),
        "alpha_word_frac": frac(n_alpha, n_words),
    }


# C4's terminal-punctuation line rule: a line "ends in terminal
# punctuation" when its rtrim ends with . ! or ?, optionally followed
# by one closing quote. RE2-safe (no lookaround), so the DuckDB oracle
# replicates it verbatim.
C4_TERMINAL_RE = "[.!?][\"']?$"


def c4_stats(col: Column, lines: Column) -> dict[str, Column]:
    """The C4 document-quality signals (Raffel et al. 2020 §2.2, the
    published 'Colossal Clean Crawled Corpus' heuristics — the other
    canonical rule family next to Gopher's table A1):

    - ``c4_term_line_frac``: fraction of lines ending in terminal
      punctuation (C4 keeps only such lines),
    - ``c4_short_line_frac``: fraction of lines with fewer than 3
      words (C4 drops them),
    - ``c4_sentences``: sentence count as the number of terminal
      marks [.!?] (C4 used a sentence splitter; the mark count is the
      deterministic engine-portable form — documented simplification),
    - ``c4_has_brace``: '{' appears anywhere (C4 drops code pages),
    - ``c4_has_lorem``: 'lorem ipsum' appears (case-insensitive),
    - ``c4_has_js_line``: some line contains the word 'javascript'
      (C4 removes such LINES; the flag is the doc-level signal).

    Shuffle-free Column algebra over line/word HOFs; empty docs yield
    0 fractions. `c4_line_clean` is the rewrite half. ``lines``: the
    doc's `lines` array."""
    n_lines = F.size(lines)
    has_js = lambda l: F.exists(words(l), lambda w: F.lower(w) == "javascript")  # noqa: E731
    n_term = F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(C4_TERMINAL_RE)))
    n_short = F.size(F.filter(lines, lambda l: F.size(words(l)) < 3))
    frac = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(  # noqa: E731
        F.lit(0.0)
    )
    return {
        "c4_term_line_frac": frac(n_term, n_lines),
        "c4_short_line_frac": frac(n_short, n_lines),
        "c4_sentences": F.regexp_count(col, F.lit("[.!?]")).cast("bigint"),
        "c4_has_brace": col.contains("{"),
        "c4_has_lorem": F.lower(col).contains("lorem ipsum"),
        "c4_has_js_line": F.exists(lines, has_js),
    }


def c4_line_clean(lines: Column) -> Column:
    """C4's line-level clean (the REWRITE half of `c4_stats`) over a
    doc's `lines` array: keep only lines that end in terminal
    punctuation AND carry at least 3 words AND do not contain the word
    'javascript'; rejoin with \\n. A doc whose every line fails comes
    back as '' (the downstream gates treat '' as missing — JX
    semantics — so such docs fall out at the next quality cut rather
    than silently surviving empty). Per-row Column algebra: zero
    shuffle, streaming-safe, identical in batch and stream pipeline
    forms."""
    # each line's word array is bound once per line (the keep predicate
    # reads it twice: word count + javascript probe)
    kept = F.filter(
        lines,
        lambda l: let(
            words(l),
            lambda w: F.rtrim(l).rlike(C4_TERMINAL_RE)
            & (F.size(w) >= 3)
            & ~F.exists(w, lambda x: F.lower(x) == "javascript"),
        ),
    )
    return F.array_join(kept, "\n")


def compression_ratio(col: Column, level: int = 6) -> Column:
    """zlib compressed-size / raw-size per document (the Dolma/Gopher
    "compression ratio" quality signal: repetitive boilerplate
    compresses to almost nothing, random noise doesn't compress at
    all — both ends flag junk). Empty/null-safe: empty text -> 0.0,
    null -> null.

    Arrow-vectorized pandas_udf (stdlib zlib per batch) — compression
    is not expressible in Column algebra or ANSI SQL, so this signal is
    unit-tested against direct zlib rather than oracle-gated. Zero
    shuffle; per-row cost is one deflate of the document."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s):  # pd.Series -> pd.Series (SCALAR Arrow batches)
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return 0.0
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return _ratio(col)


def quality_score(col: Column, ws: Column) -> Column:
    """[0,1] doc-quality heuristic over ``col`` and its word array
    ``ws``: in-band length, low punctuation noise, presence of function
    words. Weights in QUALITY_WEIGHTS.

    Computed from RAW ratios (rounding only the final score): pre-rounded
    6dp inputs make the weighted sum land exactly on .5 decimal
    boundaries, where engines' rounding implementations disagree."""
    s = _raw_stats(col, ws)
    len_ok = F.when((s["n_words"] >= 5) & (s["n_words"] <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - s["punct_ratio"] * 4)
    stop_ok = F.least(F.lit(1.0), s["stopword_ratio"] * 5)
    w = QUALITY_WEIGHTS
    return F.round(w["len"] * len_ok + w["punct"] * punct_ok + w["stop"] * stop_ok, 6)


def language_id(ws: Column) -> Column:
    """Stopword-profile language ID over a doc's word array ``ws``:
    argmax word-set overlap with each language profile; 'und' when
    nothing matches. Tie-break = LANG_PROFILES order. The
    distinct-lowercased word set is `let`-bound: the argmax when-chain
    reads it ~13x."""

    def argmax(dws: Column) -> Column:
        scores = {lang: F.size(F.array_intersect(dws, F.array(*[F.lit(w) for w in prof])))
                  for lang, prof in LANG_PROFILES.items()}
        langs = list(LANG_PROFILES)
        out = F.lit("und")
        for lang in reversed(langs):
            i = langs.index(lang)
            cond = scores[lang] > 0
            for other in langs[:i]:  # earlier (higher-priority) languages win ties
                cond = cond & (scores[lang] > scores[other])
            for other in langs[i + 1:]:
                cond = cond & (scores[lang] >= scores[other])
            out = F.when(cond, F.lit(lang)).otherwise(out)
        return out

    return let(F.array_distinct(F.transform(ws, F.lower)), argmax)


def kgram_rolling_hashes(col: Column, k: int = 5, base: int = 257) -> Column:
    """Polynomial (Rabin-Karp) k-gram hash values as an array column.

    h_i = Σ_j codepoint(s[i+j]) · base^(k-1-j) — the quantity the classic
    O(n) rolling update maintains. Expressed as Column algebra (O(n·k)
    multiply-adds, JVM whole-stage codegen, shuffle-free); values fit
    bigint exactly for k<=6 at base 257, so an engine-portable oracle can
    replicate them bit-for-bit (no engine-specific murmur/xxhash).

    r11: character access goes through a `let`-bound codepoint array
    instead of ``substring(col, i, 1)`` — UTF8String substring seeks
    from the string START on every call (codepoint indexing), so the
    old form cost O(len) per accessed position and O(len^2·k) per doc
    (measured ~12 executor-CPU-s for the winnow base leg at sf0.1; ~2 s
    after). ``split(col, '')``
    yields exactly one element per codepoint and ``ascii`` returns its
    codepoint, so the hash values are bit-identical."""
    n = F.length(col)
    npos = F.greatest(n - F.lit(k - 1), F.lit(0))

    def windows(cps: Column) -> Column:
        def h(i: Column) -> Column:
            acc = F.lit(0).cast("bigint")
            for j in range(k):
                acc = acc + F.element_at(cps, (i + F.lit(j)).cast("int")).cast(
                    "bigint"
                ) * F.lit(base ** (k - 1 - j))
            return acc

        return F.transform(F.sequence(F.lit(1), npos), h)

    return F.when(
        npos >= 1, let(F.transform(F.split(col, ""), F.ascii), windows)
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprint(col: Column, k: int = 5, window: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, MOSS):
    the sorted distinct set of per-window minima over the k-gram rolling
    hashes. Guarantees any shared substring of length >= k+window-1
    contributes a shared fingerprint — the standard local-dedup sketch.

    r11: the hash array is `let`-bound before winnowing —
    winnow_from_hashes reads its input ``window`` times per position
    (cheap on a bound array), which would re-expand a raw k-gram
    expression ``window`` times per element here."""
    return let(kgram_rolling_hashes(col, k), lambda hs: winnow_from_hashes(hs, window))


def winnow_from_hashes(hs: Column, window: int = 4) -> Column:
    """Winnow a MATERIALIZED (column or lambda-bound) hash-array column.

    ``hs`` is referenced ``window`` times per window position — if it is
    a raw k-gram expression rather than a materialized column, Catalyst's
    projection collapse re-expands the whole O(n*k) hash computation at
    every reference (measured: catalog query went 25s -> timeout when a
    w-way least() referenced the expression w times). Pass `F.col(...)`
    after a withColumn, or a `let`-bound variable (the
    winnow_fingerprint idiom), when composing.

    r11: the per-window minimum is a w-way ``least`` of ``element_at``
    reads instead of ``array_min(slice(...))`` — slice ALLOCATES a
    w-element array per position in the interpreted HOF path (measured
    ~6 executor-CPU-s of the winnow base leg at sf0.1; ~1.5 s after).
    Identical output: the hash values are never null, and both forms
    take the minimum of the same w elements."""
    nw = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(0))

    def wmin(p: Column) -> Column:
        reads = [F.element_at(hs, (p + F.lit(j)).cast("int")) for j in range(window)]
        return reads[0] if len(reads) == 1 else F.least(*reads)

    mins = F.when(
        nw >= 1,
        F.transform(F.sequence(F.lit(1), nw), wmin),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_sort(F.array_distinct(mins))


def fingerprint(col: Column, bits_hex: int = 16) -> Column:
    """Deterministic document fingerprint: md5 prefix of the normalized
    text (lowercased, whitespace-collapsed). md5 exists in both Spark and
    DuckDB, so the oracle can replicate byte-for-byte."""
    norm = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.substring(F.md5(norm), 1, bits_hex)

# conservative PII patterns, restricted to syntax that behaves identically
# in Java regex (Spark) and RE2 (DuckDB/Go): no backrefs, no lookaround
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-document PII match counts, one bigint column per pattern —
    the screening half of a scrub pipeline (shuffle-free, codegen'd
    regexp_count; patterns are the published-pipeline conservative set,
    cf. the open Dolma/CCNet cleanup rules)."""
    return {f"n_{name}": F.regexp_count(col, F.lit(pat)).cast("bigint") for name, pat in PII_PATTERNS.items()}


def redact_pii(col: Column, replacement: str = "<PII>") -> Column:
    """Replace every PII match with ``replacement``. Order matters:
    emails first so their user/host digits are not half-eaten by the
    phone pattern."""
    out = col
    for name in ("email", "ssn", "ipv4", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[name], replacement)
    return out


def html_to_text(col: Column) -> Column:
    """Crawl-grade HTML -> visible text (the CCNet/RefinedWeb
    extraction stage, regex form): drop <script>/<style> blocks and
    comments, strip tags to spaces, decode the common entities
    (``&lt; &gt; &quot; &#39; &apos; &nbsp;`` then ``&amp;`` LAST so
    double-escapes resolve correctly — and entity decode runs AFTER
    tag strip so ``&lt;b&gt;`` in text never becomes a strippable
    tag), collapse whitespace, trim.

    Pure Column algebra — shuffle-free codegen; patterns avoid
    backrefs/lookaround so the oracle (RE2) replicates them. This is
    the cheap 95% extractor; a DOM-fidelity extractor (readability,
    trafilatura) is a per-row library call you would wrap in a Pandas
    UDF behind the same signature."""
    out = col
    # (?is) = case-insensitive + dotall; non-greedy spans work in both
    # Java regex and RE2. script/style spelled separately (no backrefs).
    out = F.regexp_replace(out, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # last: &amp;lt; -> &lt; (literal), not '<'
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# C0/C1 control characters except \t \n \r (kept: they are whitespace
# the collapse handles); DEL included. RE2- and Java-safe class.
CONTROL_CHAR_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(col: Column, form: str = "NFC", strip_control: bool = True) -> Column:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD) and strip
    non-whitespace control characters — the canonicalization step a
    crawl corpus needs before fingerprinting (visually identical
    strings with different codepoint sequences would defeat exact
    dedup).

    Arrow-vectorized pandas_udf (pandas ``str.normalize`` —
    unicodedata under the hood, batch at a time): Spark has no builtin
    Unicode normalizer, so this is the documented Pandas-UDF seam, not
    a row-at-a-time Python UDF. Zero shuffle."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):  # pd.Series -> pd.Series (SCALAR Arrow batches)
        out = s.str.normalize(form)
        if strip_control:
            out = out.str.replace(CONTROL_CHAR_RE, "", regex=True)
        return out

    return _norm(col)


def usable_url(col: Column) -> Column:
    """True when a url column carries a USABLE address for URL-level
    dedup: non-null, and its CANONICAL form is non-blank. Testing the
    canonical form (not the raw string) is load-bearing — '#frag',
    '/', '?utm_source=x' are non-blank raw strings that canonicalize
    to '' and must be treated as "address unknown", exactly like NULL
    and ''. The single predicate shared by url_dedup, the batch
    pipeline stage, and the streaming form, so the three contracts
    cannot drift."""
    c = canonical_url(col)
    return col.isNotNull() & c.isNotNull() & (F.trim(c) != "")


# tracking query parameters every public pipeline strips before URL
# dedup (cf. the open CCNet/RefinedWeb/Dolma URL-normalization rules):
# ad-click ids + the utm_* campaign family
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)="


def canonical_url(col: Column) -> Column:
    """Canonicalize a URL for URL-level dedup (the stage RefinedWeb/
    CCNet-style pipelines run BEFORE content dedup — most exact dups
    are re-crawls of one address):

    - drop the fragment (``#...``),
    - lowercase the scheme and host (never the path — paths are
      case-sensitive), strip a leading ``www.``,
    - strip default ports (``http://...:80``, ``https://...:443``),
      keeping explicit non-default ports,
    - drop tracking query params (``utm_*``, click ids — see
      ``TRACKING_PARAM_RE``), sort the survivors byte-wise, and drop
      the ``?`` entirely when none survive,
    - strip trailing slashes from the path.

    Pure Column algebra (regexp + higher-order array functions) —
    shuffle-free, whole-stage codegen, safe in a 100 TB scan. The
    companion dedup is ``operators.dedup.url_dedup`` (one hash shuffle
    on the canonical string)."""
    u = F.regexp_replace(col, r"#.*", "")  # fragment off first
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.when(u.contains("?"), F.regexp_extract(u, r"\?(.*)", 1))
    authority = F.lower(F.regexp_extract(base, r"^([^/?]*://[^/?]*)", 1))
    authority = F.regexp_replace(authority, r"^([a-z][a-z0-9+.-]*://)www\.", "$1")
    authority = F.regexp_replace(authority, r"^(http://[^/:?]*):80$", "$1")
    authority = F.regexp_replace(authority, r"^(https://[^/:?]*):443$", "$1")
    # IPv6 bracket authorities: the host contains ':', so the rules
    # above can't match — strip default ports for brackets separately
    # (keeps canonical_url and url_host agreeing on "same authority")
    authority = F.regexp_replace(authority, r"^(http://\[[^\]]*\]):80$", "$1")
    authority = F.regexp_replace(authority, r"^(https://\[[^\]]*\]):443$", "$1")
    path = F.regexp_replace(F.regexp_replace(base, r"^[^/?]*://[^/?]*", ""), r"/+$", "")
    kept = F.array_sort(
        F.filter(F.split(query, "&"), lambda p: ~p.rlike(TRACKING_PARAM_RE) & (p != ""))
    )
    qcanon = F.when(
        query.isNull() | (F.size(kept) == 0), F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(kept, "&")))
    return F.concat(authority, path, qcanon)


def word_bigrams(ws: Column) -> Column:
    """Adjacent bigrams of the word array ``ws`` as "w1 w2" strings
    (empty when < 2 words). The lambda reads ``ws`` twice per element,
    so pass a bound array (a column or a `let` variable)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
    )


def repetition_stats(ws: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021, table A1 —
    public quality-filter rules) of the word array ``ws``:
    ``dup_word_frac`` = 1 - distinct/total words, ``top_bigram_frac`` =
    share of the most frequent word bigram.

    Shuffle-free Column algebra; top_bigram_frac is O(len^2) per doc
    (distinct-bigrams x filter scan). The bigram array is `let`-bound:
    the nested HOF reads it once per outer element, and an inline
    bigram expression would be re-derived each time, turning O(len^2)
    into O(len^3) (measured 12.3 s vs 0.9 s on 50k docs). For multi-MB
    docs switch to the linear explode -> groupBy(doc, bigram) -> max
    form and pay the shuffle instead."""
    nw = F.size(ws)
    dup_word = F.when(
        nw > 0, F.lit(1.0) - F.size(F.array_distinct(ws)).cast("double") / nw
    ).otherwise(F.lit(0.0))
    top = let(
        word_bigrams(ws),
        lambda bg: F.array_max(
            F.transform(F.array_distinct(bg), lambda d: F.size(F.filter(bg, lambda x: x == d)))
        ),
    )
    top_bigram = F.when(nw > 1, top.cast("double") / (nw - 1)).otherwise(F.lit(0.0))
    return {
        "dup_word_frac": F.round(dup_word, 6),
        "top_bigram_frac": F.round(top_bigram, 6),
    }


def word_ngrams(ws: Column, n: int) -> Column:
    """Adjacent ``n``-grams of the word array ``ws`` as
    single-space-joined strings (empty when the doc has fewer than
    ``n`` words). The lambda reads ``ws`` ``n`` times per output
    element, so pass a bound array (a column or a `let` variable)."""
    # empty index array (NOT sequence(1, 0), which is the DESCENDING
    # [1, 0] in Spark) when the doc is shorter than n words — element_at
    # past the end throws under ANSI semantics
    idx = F.when(F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
    )


def _mode_char_coverage(arr: Column) -> Column:
    """Characters covered by the MOST FREQUENT element of ``arr``
    (count x element length; ties resolve to the widest coverage).
    0 for an empty array.

    One array_sort + one linear fold — O(L log L) per row, no nested
    array scans (the O(L^2) distinct x filter form is reserved for the
    DuckDB oracle, where clarity beats cost at oracle scale)."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cur"),
        F.lit(0).cast("long").alias("bestc"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        cur = F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1).cast("long"))
        chars = cur * F.length(x)
        better = (cur > acc["best"]) | ((cur == acc["best"]) & (chars > acc["bestc"]))
        return F.struct(
            x.alias("prev"),
            cur.alias("cur"),
            F.when(better, chars).otherwise(acc["bestc"]).alias("bestc"),
            F.when(better, cur).otherwise(acc["best"]).alias("best"),
        )

    return F.aggregate(F.array_sort(arr), init, step)["bestc"]


def _dup_char_sum(arr: Column, beyond_first: bool = False) -> Column:
    """Characters in duplicated elements of ``arr``: the summed
    ``count x length`` over elements occurring >= 2 times. With
    ``beyond_first`` only the occurrences AFTER the first count
    (the CCNet/line-dedup accounting); default counts every occurrence
    of a duplicated element (Rae et al.'s "contained in duplicate
    n-grams"). Same sorted-fold shape as `_mode_char_coverage`."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cur"),
        F.lit(0).cast("long").alias("chars"),
    )

    def step(acc: Column, x: Column) -> Column:
        is_dup = x == acc["prev"]
        first_rep = is_dup & (acc["cur"] == 1)
        add = (
            F.when(first_rep, F.length(x) * (1 if beyond_first else 2))
            .when(is_dup, F.length(x))
            .otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"),
            F.when(is_dup, acc["cur"] + 1).otherwise(F.lit(1).cast("long")).alias("cur"),
            (acc["chars"] + add).alias("chars"),
        )

    return F.aggregate(F.array_sort(arr), init, step)["chars"]


#: the published Gopher table-A1 repetition thresholds (Rae et al. 2021)
#: — "drop the doc when the signal EXCEEDS the value"; pass (a subset of)
#: this mapping as ``CorpusConfig.gopher_repetition_max`` to apply them.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_repetition(col: Column, ws: Column) -> dict[str, Column]:
    """The COMPLETE Gopher repetition rule set (Rae et al. 2021 table A1
    — `repetition_stats` carries the two legacy signals, this adds the
    remaining twelve):

    - ``dup_line_frac`` / ``dup_para_frac``: fraction of non-empty
      lines / paragraphs that are repeats of an earlier one (1 -
      distinct/total). Paragraphs split on a blank line (``\\n\\n``).
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: fraction of doc
      characters in those repeat occurrences (occurrences AFTER the
      first — the CCNet accounting; the first copy is legitimate).
    - ``top_{2,3,4}gram_char_frac``: characters covered by the most
      frequent word n-gram (count x joined length; ties -> widest) over
      doc length.
    - ``dup_{5..10}gram_char_frac``: characters in ALL occurrences of
      duplicated word n-grams over doc length, capped at 1.0 (word
      n-grams overlap, so the raw sum can exceed the doc).

    Char denominators are ``length(col)`` — the full doc including
    whitespace. Everything is per-row Column algebra (sorted-array
    folds, O(L log L) per doc, zero Python, zero shuffles) so it
    composes with the other heuristic gates in ONE scan at any corpus
    size, batch or streaming. ``ws``: the doc's bound `words` array
    (see `word_ngrams`). Published drop thresholds:
    `GOPHER_REPETITION_THRESHOLDS`."""
    n_chars = F.length(col)
    cfrac = lambda num: F.when(  # noqa: E731
        n_chars > 0, F.least(num.cast("double") / n_chars, F.lit(1.0))
    ).otherwise(F.lit(0.0))

    out: dict[str, Column] = {}
    for name, parts_expr in (
        ("line", F.filter(lines(col), lambda x: x != "")),
        ("para", F.filter(F.split(col, "\n\n"), lambda x: x != "")),
    ):
        def dup_frac(parts: Column) -> Column:
            np = F.size(parts)
            return F.when(
                np > 0, F.lit(1.0) - F.size(F.array_distinct(parts)).cast("double") / np
            ).otherwise(F.lit(0.0))

        out[f"dup_{name}_frac"] = let(parts_expr, dup_frac)
        out[f"dup_{name}_char_frac"] = let(
            parts_expr, lambda parts: cfrac(_dup_char_sum(parts, beyond_first=True))
        )
    for n in (2, 3, 4):
        out[f"top_{n}gram_char_frac"] = cfrac(_mode_char_coverage(word_ngrams(ws, n)))
    for n in (5, 6, 7, 8, 9, 10):
        out[f"dup_{n}gram_char_frac"] = cfrac(_dup_char_sum(word_ngrams(ws, n)))
    return out


def url_host(col: Column) -> Column:
    """Lowercased host of a URL — userinfo, port, and a leading
    ``www.`` stripped (the same authority view `canonical_url` keys
    on). An IPv6 bracket authority (``https://[2001:db8::1]/``) yields
    the literal inside the brackets (a naive ``[^/:?#]*`` would stop at
    the first ':' INSIDE the brackets and emit the garbage host '[').
    NULL when the string has no ``scheme://`` authority. Pure regexp
    Column algebra (RE2-safe), shuffle-free."""
    v6 = F.lower(
        F.regexp_extract(
            col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?\[([^\]/?#]*)\]", 1
        )
    )
    host = F.lower(
        F.regexp_extract(
            col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]*)", 1
        )
    )
    host = F.when(v6 != "", v6).otherwise(F.regexp_replace(host, r"^www\.", ""))
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def host_suffixes(host: Column) -> Column:
    """Every dot-suffix chain of a host: ``a.b.example.com`` ->
    ``[a.b.example.com, b.example.com, example.com, com]``. Matching a
    blocklist against ANY suffix gives subdomain-inclusive domain
    blocking (the standard domain-blocklist semantics: blocking
    ``example.com`` blocks every subdomain). Empty array for NULL.
    O(#labels) per row, shuffle-free."""
    parts = F.split(host, r"\.")
    k = F.size(parts)
    idx = F.when(host.isNotNull() & (k > 0), F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(parts, i, k), "."))


def url_blocked(col: Column, hosts: tuple[str, ...]) -> Column:
    """True when the URL's host or ANY parent domain is in ``hosts``
    (lowercased registrable domains) — the RefinedWeb-style URL
    blocklist predicate. This literal-list form is for config-sized
    blocklists (it plans as one in-row array overlap — per-row,
    streaming-safe); for a real multi-million-host blocklist use
    `operators.dedup.url_blocklist_screen` (equi-anti-join). NULL /
    host-less URLs are NOT blocked — "address unknown" keeps the doc,
    the same stance `usable_url` takes for dedup."""
    if not hosts:
        return F.lit(False)
    return F.arrays_overlap(
        host_suffixes(url_host(col)),
        F.array(*[F.lit(h.lower()) for h in hosts]),
    )


def blockword_frac(ws: Column, vocab: tuple[str, ...]) -> Column:
    """Fraction of the word array ``ws``'s OCCURRENCES that are in
    ``vocab`` (lowercased) — the word-blocklist quality signal public
    crawl pipelines pair with the URL blocklist (RefinedWeb's "curated
    resources" filter). 0.0 for wordless docs. Per-row fold,
    shuffle-free, streaming-safe."""
    return _occurrence_fraction(ws, tuple(w.lower() for w in vocab))
