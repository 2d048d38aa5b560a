"""Text-layer functions for the web-page table: language-ID, quality
scoring, token counting, fingerprinting.  The geotag parse lives with
the page table in ``sources/pages.py``.

Everything here is either a builtin column expression (regexp/hash —
JVM-side, codegen) or an Arrow-vectorized pandas UDF; never per-row
Python. The ``text`` column itself is only ever *read* — the
byte-identical-text-per-url invariant (BASELINE.json input_hint) means no
operator may rewrite it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(text: Column | str = "text") -> Column:
    """Whitespace token count — the number of ``\\S+`` runs (0 for
    empty/blank strings, NULL for NULL).  ``regexp_count`` instead of a
    trim+split: ``trim()`` strips only SPACES, so a tab/newline-
    terminated document (the normal crawl case) counted phantom edge
    tokens — and unlike a higher-order ``filter``, ``regexp_count``
    stays inside whole-stage codegen (plan-shape-pinned)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(text, F.lit(r"\S+"))


def bpe_ish_token_count(text: Column | str = "text") -> Column:
    """BPE-ish token estimate: count of word/number/punctuation pieces.

    ``regexp_count`` of ``\\w+|[^\\w\\s]`` — a cheap stand-in for a real
    tokenizer with the same monotonicity properties, entirely JVM-side.
    """
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]"))


#: Tiny per-language stopword markers for the n-gram/stopword heuristic.
_LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " les ", " et ", " est "],
    "es": [" el ", " los ", " que ", " y ", " es "],
    "pt": [" o ", " os ", " que ", " e ", " um "],
}


def lang_id_expr(text: Column | str = "text") -> Column:
    """Heuristic language-ID: argmax of per-language stopword hit counts.

    Pure column expressions (one ``regexp_count`` per language + a
    ``greatest``-based argmax); returns 'und' when nothing matches.
    """
    text = F.col(text) if isinstance(text, str) else text
    # double every whitespace char before counting: the \sword\s marker
    # patterns are non-overlapping, so on single-spaced text the match
    # for one stopword CONSUMES the gap the next one needs ("of the"
    # scored 1, not 2).  With every gap ≥ 2 spaces adjacent markers
    # never compete — and unlike a lookahead, this stays inside the
    # Java ∩ RE2 ∩ Python regex subset the DuckDB twin needs
    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(text), r"\s", "  "),
        F.lit(" "),
    )
    scores = {
        lang: sum(
            (F.regexp_count(padded, F.lit(m.replace(" ", r"\s"))) for m in markers),
            start=F.lit(0),
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang, score in reversed(list(scores.items())):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column | str = "text") -> Column:
    """Cheap document-quality score in [0, 1]: blends length, alpha ratio,
    punctuation ratio and mean word length — all JVM-side expressions."""
    text = F.col(text) if isinstance(text, str) else text
    n = F.length(text).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    alpha = F.regexp_count(text, F.lit(r"[A-Za-z]")).cast("double") / safe_n
    punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double") / safe_n
    words = F.greatest(token_count(text).cast("double"), F.lit(1.0))
    mean_word = n / words
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 10), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_score = F.when(punct <= 0.2, F.lit(1.0)).otherwise(F.greatest(F.lit(0.0), 1.0 - punct))
    return (0.3 * len_score + 0.3 * alpha + 0.2 * word_score + 0.2 * punct_score).alias(
        "quality"
    )


#: Small per-language stopword sets for the stopword-ratio quality gate
#: (top function words; enough to separate prose from keyword soup).
_STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "zu"),
    "fr": ("le", "la", "les", "et", "est", "des", "un", "une", "du", "que"),
    "es": ("el", "la", "los", "de", "y", "es", "en", "un", "una", "que"),
    "pt": ("o", "a", "os", "de", "e", "é", "em", "um", "uma", "que"),
}


def stopword_ratio(text: Column | str = "text", lang: str = "en") -> Column:
    """Fraction of tokens that are function words — the classic
    prose-vs-keyword-soup quality gate (natural text ≈ 0.3-0.6; SEO spam
    and navigation dumps ≈ 0).  0.0 for empty text, null for null.

    Pure Catalyst: let-bound lowercase token array (no CSE in
    interpreted Catalyst), per-token ``array_contains`` against a
    10-word literal set; the whitespace class is engine-portable so
    :func:`stopword_ratio_sql` replays the division bit-for-bit.
    """
    if lang not in _STOPWORDS:
        raise ValueError(f"lang must be one of {sorted(_STOPWORDS)}, got {lang!r}")
    text = F.col(text) if isinstance(text, str) else text
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    split_words = F.split(F.lower(F.trim(text)), "[ \t\r\n\f]+")

    def _ratio(words: Column) -> Column:
        hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
        return hits.cast("double") / F.greatest(F.size(words), F.lit(1))

    ratio = F.element_at(F.transform(F.array(split_words), _ratio), 1)
    return F.when(text.isNotNull(), ratio)


def stopword_ratio_sql(col: str, lang: str = "en") -> str:
    """DuckDB twin of :func:`stopword_ratio` (driver-oracle parity)."""
    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"""(
      CASE WHEN {col} IS NULL THEN NULL ELSE (
        SELECT CAST(len(list_filter(ws, w -> list_contains([{words}], w))) AS DOUBLE)
               / greatest(len(ws), 1)
        FROM (SELECT string_split_regex(lower(trim({col})), '[ \t\r\n\f]+') AS ws)
      ) END
    )"""


def repetition_ratio(text: Column | str = "text", n: int = 2) -> Column:
    """Fraction of duplicated word *n*-grams — the Gopher-style
    within-document repetition signal (templated/boilerplate pages score
    high, natural prose low).  ``1 - distinct(grams)/count(grams)``; 0.0
    when the text has fewer than *n* words, null for null text.

    Pure Catalyst: the word array is let-bound (no CSE in interpreted
    Catalyst), windows come from the same shifted-slice ``arrays_zip``
    pattern as :func:`shingles`, and the whitespace class is the
    engine-portable ``[ \\t\\r\\n\\f]`` so :func:`repetition_ratio_sql`
    replays the chain bit-for-bit in DuckDB.
    """
    text = F.col(text) if isinstance(text, str) else text
    split_words = F.split(F.lower(F.trim(text)), "[ \t\r\n\f]+")

    def _ratio(words: Column) -> Column:
        big = F.size(words)
        cols = [
            F.slice(words, j + 1, F.greatest(big - j, F.lit(0))).alias(f"w{j}")
            for j in range(n)
        ]
        grams = F.transform(
            F.arrays_zip(*cols),
            lambda e: F.concat_ws(" ", *[e[f"w{j}"] for j in range(n)]),
        )
        grams = F.slice(grams, 1, F.greatest(big - F.lit(n - 1), F.lit(0)))
        m = F.size(grams)
        return F.when(
            m > 0,
            F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / m,
        ).otherwise(F.lit(0.0))

    ratio = F.element_at(F.transform(F.array(split_words), _ratio), 1)
    return F.when(text.isNotNull(), ratio)


def repetition_ratio_sql(col: str, n: int = 2) -> str:
    """DuckDB twin of :func:`repetition_ratio` (driver-oracle parity)."""
    joined = " || ' ' || ".join(f"ws[i+{j + 1}]" for j in range(n))
    return f"""(
      CASE WHEN {col} IS NULL THEN NULL ELSE (
        WITH w AS (
          SELECT string_split_regex(lower(trim({col})), '[ \t\r\n\f]+') AS ws
        ),
        g AS (
          SELECT list_transform(range(0, greatest(len(ws) - {n - 1}, 0)),
                                i -> {joined}) AS grams
          FROM w
        )
        SELECT CASE WHEN len(grams) > 0
                    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                    ELSE 0.0 END
        FROM g
      ) END
    )"""


#: Gopher-rule default thresholds (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", table A1
#: — the standard web-corpus document filter).  Public-paper constants.
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_ratio": 0.9,
    "max_ellipsis_line_ratio": 0.3,
    "min_alpha_word_ratio": 0.8,
    "min_stopword_hits": 2,
}

#: engine-portable pattern constants shared by the Catalyst / Python /
#: DuckDB gopher_signals engines
_BULLET_RE = r"^[ \t]*[-*•]"          # line starts with a bullet mark
# trailing class includes \r: lines come from split('\n'), so a CRLF
# document leaves \r on every line — Java's $ matches before that final
# \r (it is a line terminator there) while Python/RE2 do not, so an
# unhandled \r silently breaks the three-engine parity on CRLF pages
_ELLIPSIS_RE = r"(\.\.\.|…)[ \t\r]*$"  # line trails off with …
_SYMBOL_RE = r"#|\.\.\.|…"            # Gopher's symbol list: # and …


def gopher_signals(text: Column | str = "text") -> Column:
    """The Gopher document-quality signals as ONE struct-valued pure
    projection: ``n_words``, ``mean_word_len`` (non-whitespace chars per
    word), ``symbol_word_ratio`` (#/… per word), ``bullet_line_ratio``
    (lines opening with a bullet), ``ellipsis_line_ratio`` (lines
    trailing off with …), ``alpha_word_ratio`` (words containing a
    letter).  NULL text → NULL struct; empty text → zeros.

    repetition (dup n-grams) and stopword presence are already separate
    signals here (:func:`repetition_ratio`, :func:`stopword_ratio`) —
    this struct adds the remaining Gopher rules.  All counts are exact
    ints and every ratio is a single IEEE division, so
    :func:`gopher_signals_sql` replays the struct bit-for-bit.
    """
    text = F.col(text) if isinstance(text, str) else text
    # empty fragments filtered, not trimmed: trim() strips only SPACES,
    # so tab/newline-padded documents (the normal crawl case) would
    # otherwise count phantom edge words and dilute every ratio
    split_words = F.filter(
        F.split(text, "[ \t\r\n\f]+"), lambda w: w != F.lit("")
    )
    split_lines = F.split(text, "\n")

    def _build(e: Column) -> Column:
        words, lines = e["w"], e["l"]
        n_words = F.size(words)
        safe_w = F.greatest(n_words, F.lit(1)).cast("double")
        n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
        total_chars = F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        )
        n_bullet = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE)))
        n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE)))
        n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        n_symbols = F.size(F.filter(words, lambda w: w.rlike(_SYMBOL_RE)))
        return F.struct(
            n_words.alias("n_words"),
            (total_chars.cast("double") / safe_w).alias("mean_word_len"),
            (n_symbols.cast("double") / safe_w).alias("symbol_word_ratio"),
            (n_bullet.cast("double") / n_lines).alias("bullet_line_ratio"),
            (n_ellipsis.cast("double") / n_lines).alias("ellipsis_line_ratio"),
            (n_alpha.cast("double") / safe_w).alias("alpha_word_ratio"),
        )

    # let-bind both split arrays (no CSE in interpreted Catalyst)
    sig = F.element_at(
        F.transform(
            F.arrays_zip(
                F.array(split_words).alias("w"), F.array(split_lines).alias("l")
            ),
            _build,
        ),
        1,
    )
    return F.when(text.isNotNull(), sig)


def passes_gopher(
    text: Column | str = "text", lang: str = "en", **overrides
) -> Column:
    """Boolean Gopher-rule gate with the paper's default thresholds
    (override any key of :data:`GOPHER_DEFAULTS`).  Combines
    :func:`gopher_signals` with the stopword-presence rule (at least
    ``min_stopword_hits`` function-word tokens, via
    :func:`stopword_ratio` × word count).  One codegen'd projection;
    composes with ``DataFrame.filter`` at scan speed."""
    bad = set(overrides) - set(GOPHER_DEFAULTS)
    if bad:
        raise ValueError(f"unknown gopher thresholds: {sorted(bad)}")
    t = {**GOPHER_DEFAULTS, **overrides}
    col = F.col(text) if isinstance(text, str) else text

    def _gate(e: Column) -> Column:
        s = e["s"]
        sw_hits = e["r"] * s["n_words"].cast("double")
        return (
            (s["n_words"] >= t["min_words"])
            & (s["n_words"] <= t["max_words"])
            & (s["mean_word_len"] >= t["min_mean_word_len"])
            & (s["mean_word_len"] <= t["max_mean_word_len"])
            & (s["symbol_word_ratio"] <= t["max_symbol_word_ratio"])
            & (s["bullet_line_ratio"] <= t["max_bullet_line_ratio"])
            & (s["ellipsis_line_ratio"] <= t["max_ellipsis_line_ratio"])
            & (s["alpha_word_ratio"] >= t["min_alpha_word_ratio"])
            & (sw_hits >= t["min_stopword_hits"])
        )

    zipped = F.arrays_zip(
        F.array(gopher_signals(col)).alias("s"),
        F.array(stopword_ratio(col, lang=lang)).alias("r"),
    )
    return F.coalesce(
        F.element_at(F.transform(zipped, _gate), 1), F.lit(False)
    )


def reference_gopher_signals(text: str | None) -> dict | None:
    """Single-value Python reference for :func:`gopher_signals`."""
    import re as _re

    if text is None:
        return None
    # empty fragments filtered (same rule as the Catalyst/DuckDB
    # engines): no trim-based edge-token quirks
    words = [w for w in _re.split(r"[ \t\r\n\f]+", text) if w != ""]
    n_words = len(words)
    lines = text.split("\n")
    safe_w = max(n_words, 1)
    return {
        "n_words": n_words,
        "mean_word_len": sum(len(w) for w in words) / safe_w,
        "symbol_word_ratio": sum(bool(_re.search(_SYMBOL_RE, w)) for w in words) / safe_w,
        "bullet_line_ratio": sum(bool(_re.search(_BULLET_RE, l)) for l in lines) / max(len(lines), 1),
        "ellipsis_line_ratio": sum(bool(_re.search(_ELLIPSIS_RE, l)) for l in lines) / max(len(lines), 1),
        "alpha_word_ratio": sum(bool(_re.search("[A-Za-z]", w)) for w in words) / safe_w,
    }


def gopher_signals_sql(col: str) -> dict[str, str]:
    """DuckDB twins of each :func:`gopher_signals` field (driver-oracle
    parity) — same pattern constants, same exact-int divisions."""
    ws = (
        f"list_filter(string_split_regex({col}, '[ \\t\\r\\n\\f]+'), "
        "x -> x <> '')"
    )
    ls = f"string_split({col}, chr(10))"
    n_words = f"len({ws})"
    safe_w = f"greatest({n_words}, 1)"
    n_lines = f"greatest(len({ls}), 1)"
    # DuckDB standard string literals pass backslashes through verbatim,
    # so the Python pattern text embeds unchanged (RE2 reads \t, \. etc.)
    bullet = _BULLET_RE.replace("'", "''")
    ellipsis = _ELLIPSIS_RE.replace("'", "''")
    symbol = _SYMBOL_RE.replace("'", "''")
    count_w = "len(list_filter({arr}, x -> regexp_matches(x, '{pat}')))"
    return {
        "n_words": n_words,
        "mean_word_len": (
            # coalesce: DuckDB list_sum of an EMPTY list is NULL, the
            # Catalyst fold's init value makes it 0
            f"(CAST(coalesce(list_sum(list_transform({ws}, w -> len(w))), 0)"
            f" AS DOUBLE) / {safe_w})"
        ),
        "symbol_word_ratio": (
            "(CAST(" + count_w.format(arr=ws, pat=symbol) + f" AS DOUBLE) / {safe_w})"
        ),
        "bullet_line_ratio": (
            "(CAST(" + count_w.format(arr=ls, pat=bullet) + f" AS DOUBLE) / {n_lines})"
        ),
        "ellipsis_line_ratio": (
            "(CAST(" + count_w.format(arr=ls, pat=ellipsis) + f" AS DOUBLE) / {n_lines})"
        ),
        "alpha_word_ratio": (
            "(CAST(" + count_w.format(arr=ws, pat="[A-Za-z]") + f" AS DOUBLE) / {safe_w})"
        ),
    }


#: C4 cleaning-rule defaults (Raffel et al. 2020, "Exploring the Limits
#: of Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
#: the C4 web-corpus heuristics).  Public-paper constants.
C4_DEFAULTS = {
    "min_words_per_line": 3,
    "min_sentences": 5,
}

#: engine-portable pattern constants shared by the Catalyst / Python /
#: DuckDB C4 engines (Java-regex ∩ RE2 ∩ Python subset: explicit
#: whitespace classes, \b word boundaries, inline (?i))
_C4_TERMINAL_RE = r'[.!?"][ \t\r]*$'  # line ends in terminal punctuation
# (trailing \r allowed: see _ELLIPSIS_RE — CRLF engine-parity)
_C4_WORD_RE = r"[^ \t]+"             # a line-level word (no \n in a line)
_C4_JS_RE = r"(?i)\bjavascript\b"    # paper: drop any line with "Javascript"
_C4_LOREM_RE = r"(?i)lorem ipsum"    # paper: drop pages mentioning it
_C4_SENTENCE_RE = r"[.!?]"           # sentence-final marks (heuristic count)


def c4_kept_lines(
    text: Column | str = "text", min_words_per_line: int = 3
) -> Column:
    """The C4 line filter as an ``array<string>`` projection: keep the
    lines that end in terminal punctuation (``. ! ? "``, trailing
    blanks allowed), carry at least ``min_words_per_line`` words, and do
    not contain the word "javascript" (the paper's line rules).  NULL
    text → NULL.

    Pure Catalyst — one ``split`` + one higher-order ``filter`` whose
    per-line word count is a ``regexp_count`` (exact, no trim/empty-token
    edge cases); every pattern is in the shared Java/RE2/Python subset so
    the DuckDB twin replays the kept set verbatim.
    """
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(text, "\n"),
        lambda l: l.rlike(_C4_TERMINAL_RE)
        & (F.regexp_count(l, F.lit(_C4_WORD_RE)) >= min_words_per_line)
        & ~l.rlike(_C4_JS_RE),
    )


def c4_filtered_text(
    text: Column | str = "text", min_words_per_line: int = 3
) -> Column:
    """The C4-cleaned document body: kept lines re-joined with ``\\n``.
    NULL in → NULL out; a document with no kept lines → ``''``.  Write it
    to a NEW column — the stored text column is never rewritten
    (byte-identity invariant)."""
    return F.array_join(c4_kept_lines(text, min_words_per_line), "\n")


def c4_signals(text: Column | str = "text", min_words_per_line: int = 3) -> Column:
    """The C4 page-level signals as ONE struct-valued pure projection:
    ``n_lines``, ``n_kept_lines`` (surviving the line filter),
    ``n_sentences`` (sentence-final ``. ! ?`` marks in the KEPT text —
    the paper's ≥5-sentence rule counts sentences after line cleaning),
    ``has_lorem_ipsum`` and ``has_curly_brace`` (the page-drop
    predicates, evaluated on the ORIGINAL text).  NULL text → NULL
    struct.

    Exact int counts and boolean flags only — :func:`c4_signals_sql`
    replays the struct bit-for-bit from the same pattern constants.
    """
    text = F.col(text) if isinstance(text, str) else text

    def _build(e: Column) -> Column:
        kept = e["k"]
        return F.struct(
            F.size(F.split(text, "\n")).alias("n_lines"),
            F.size(kept).alias("n_kept_lines"),
            F.regexp_count(
                F.array_join(kept, "\n"), F.lit(_C4_SENTENCE_RE)
            ).alias("n_sentences"),
            text.rlike(_C4_LOREM_RE).alias("has_lorem_ipsum"),
            text.contains("{").alias("has_curly_brace"),
        )

    # let-bind the kept-lines array (no CSE in interpreted Catalyst);
    # arrays_zip names the lambda element's field from the alias
    sig = F.element_at(
        F.transform(
            F.arrays_zip(
                F.array(c4_kept_lines(text, min_words_per_line)).alias("k")
            ),
            _build,
        ),
        1,
    )
    return F.when(text.isNotNull(), sig)


def passes_c4(
    text: Column | str = "text",
    badwords: tuple[str, ...] | list[str] | None = None,
    **overrides,
) -> Column:
    """Boolean C4 page gate with the paper's defaults (override any key
    of :data:`C4_DEFAULTS`): at least ``min_sentences`` sentences in the
    line-cleaned text, no "lorem ipsum", no curly brace, and (when
    ``badwords`` is given — the paper uses a large public blocklist not
    shipped here) no word-bounded, case-insensitive badword match.
    NULL text → false.  One codegen'd projection; composes with
    ``DataFrame.filter`` at scan speed."""
    bad = set(overrides) - set(C4_DEFAULTS)
    if bad:
        raise ValueError(f"unknown c4 thresholds: {sorted(bad)}")
    t = {**C4_DEFAULTS, **overrides}
    col = F.col(text) if isinstance(text, str) else text

    def _gate(e: Column) -> Column:
        s = e["s"]
        ok = (
            (s["n_sentences"] >= t["min_sentences"])
            & ~s["has_lorem_ipsum"]
            & ~s["has_curly_brace"]
        )
        if badwords:
            ok = ok & ~col.rlike(_badwords_pattern(badwords))
        return ok

    zipped = F.array(
        F.struct(c4_signals(col, t["min_words_per_line"]).alias("s"))
    )
    return F.coalesce(
        F.element_at(F.transform(zipped, _gate), 1), F.lit(False)
    )


def _badwords_pattern(badwords) -> str:
    """Engine-portable word-bounded alternation for the badword rule
    (words are regex-escaped; Java/RE2/Python all honor ``\\b`` and the
    inline ``(?i)``)."""
    import re as _re

    return r"(?i)\b(" + "|".join(_re.escape(w) for w in badwords) + r")\b"


def reference_c4_signals(text: str | None, min_words_per_line: int = 3) -> dict | None:
    """Single-value Python reference for :func:`c4_signals`."""
    import re as _re

    if text is None:
        return None
    lines = text.split("\n")
    kept = [
        l
        for l in lines
        if _re.search(_C4_TERMINAL_RE, l)
        and len(_re.findall(_C4_WORD_RE, l)) >= min_words_per_line
        and not _re.search(_C4_JS_RE, l)
    ]
    return {
        "n_lines": len(lines),
        "n_kept_lines": len(kept),
        "n_sentences": len(_re.findall(_C4_SENTENCE_RE, "\n".join(kept))),
        "has_lorem_ipsum": bool(_re.search(_C4_LOREM_RE, text)),
        "has_curly_brace": "{" in text,
    }


def c4_signals_sql(col: str, min_words_per_line: int = 3) -> dict[str, str]:
    """DuckDB twins of each :func:`c4_signals` field (driver-oracle
    parity) — same pattern constants, same kept-line set.  DuckDB
    standard string literals pass backslashes through verbatim, so the
    Python pattern text embeds unchanged (RE2 reads \\b, \\t etc.)."""
    terminal = _C4_TERMINAL_RE.replace("'", "''")
    kept = (
        f"list_filter(string_split({col}, chr(10)), l -> "
        f"regexp_matches(l, '{terminal}') "
        f"AND len(regexp_extract_all(l, '{_C4_WORD_RE}')) >= {min_words_per_line} "
        f"AND NOT regexp_matches(l, '{_C4_JS_RE}'))"
    )
    # array_to_string([]) is NULL in DuckDB (Spark: '') — coalesce it
    kept_text = f"coalesce(array_to_string({kept}, chr(10)), '')"
    return {
        "n_lines": f"len(string_split({col}, chr(10)))",
        "n_kept_lines": f"len({kept})",
        "n_sentences": f"len(regexp_extract_all({kept_text}, '{_C4_SENTENCE_RE}'))",
        "has_lorem_ipsum": f"regexp_matches({col}, '{_C4_LOREM_RE}')",
        "has_curly_brace": f"contains({col}, '{{')",
    }


def fingerprint(text: Column | str = "text") -> Column:
    """Deterministic 64-bit document fingerprint (xxhash64 of the text) —
    the exact-dedup key."""
    text = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(text)


def kgram_hashes(text: Column | str = "text", k: int = 5, base: int = 257) -> Column:
    """Array of exact polynomial character-``k``-gram hashes of
    ``lower(text)``: ``hash(i) = Σ_j codepoint(s[i+j]) · base^(k-1-j)``.

    Exact int64, no modulus — for ``k ≤ 6`` and BMP codepoints the sum
    fits in 63 bits — so a DuckDB oracle reproduces it bit-for-bit
    (``xxhash64`` has no DuckDB twin). Pure Catalyst: one ``transform``
    over gram positions with the ``k`` per-character terms unrolled as
    literal-coefficient multiplies. Empty array for texts shorter than
    ``k``.
    """
    text = F.col(text) if isinstance(text, str) else text
    s = F.lower(text)
    # Split to a let-bound codepoint array FIRST: substr(s, i, 1) on a
    # UTF8String is O(i) (it must scan for codepoint boundaries), so
    # hashing grams straight off the string is O(m²·k) per document.
    # One split + ascii pass is O(m), and element_at on the materialized
    # int array is O(1), so the gram transform is the textbook O(m·k).
    codes = F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("bigint"))

    def grams(cs: Column) -> Column:
        n_g = F.greatest(F.size(cs) - F.lit(k - 1), F.lit(0))

        def gram(i: Column) -> Column:
            total = F.lit(0).cast("bigint")
            for j in range(k):
                coef = base ** (k - 1 - j)
                total = total + F.element_at(cs, (i + F.lit(j + 1)).cast("int")) * F.lit(coef)
            return total

        return F.when(
            n_g > 0, F.transform(F.sequence(F.lit(0), n_g - 1), gram)
        ).otherwise(F.array().cast("array<bigint>"))

    return F.element_at(F.transform(F.array(codes), grams), 1)


def winnow_select(hashes: Column | str, w: int = 4) -> Column:
    """Winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the
    MOSS fingerprint): the min k-gram hash of every ``w``-window of
    consecutive grams, deduplicated and sorted.

    Guarantee: two documents sharing any substring of length
    ``≥ w + k - 1`` characters share at least one selected fingerprint.

    The input array is LET-BOUND before the window scan:
    ``transform(array(hashes), h -> ...)`` materializes the (possibly
    expensive, O(m·k)) gram expression exactly once per row and binds it
    to a lambda variable, so every window's ``slice`` reads the
    materialized array.  Referencing the raw expression inside the window
    ``transform`` instead is an O(m²·k) trap: Catalyst's CollapseProject
    inlines a producer Project's expression into its consumers — including
    into lambda bodies — so the full gram array gets recomputed for every
    one of the m windows (measured: 60 short docs took 70 s interpreted;
    the let-bound form takes milliseconds).
    """
    hashes = F.col(hashes) if isinstance(hashes, str) else hashes

    def _sel(h: Column) -> Column:
        n_w = F.greatest(F.size(h) - F.lit(w - 1), F.lit(0))
        sel = F.transform(
            F.sequence(F.lit(1), n_w), lambda j: F.array_min(F.slice(h, j, w))
        )
        return F.when(n_w > 0, F.array_sort(F.array_distinct(sel))).otherwise(
            F.array().cast("array<bigint>")
        )

    return F.element_at(F.transform(F.array(hashes), _sel), 1)


def winnow_udf(k: int = 5, w: int = 4, base: int = 257):
    """Arrow-batched vectorized winnowing — the 100 TB engine for
    :func:`verde_spark.operators.dedup.winnow_fingerprints(engine="arrow")`.

    Returns a ``pandas_udf(text) -> array<bigint>`` computing EXACTLY the
    same fingerprint sets as ``winnow_select(kgram_hashes(...))``: same
    polynomial gram hash (codepoint · base^j, exact int64), same w-window
    min selection, distinct + sorted.  All per-document work is NumPy —
    codepoints via a single UTF-32 reinterpret (``ord`` of every char at C
    speed), gram hashes and window minima via ``sliding_window_view``, the
    distinct+sort via ``np.unique`` — measured ~30× the interpreted-
    Catalyst path (38 vs 1.4 Mchar/s warm at local[8] on ~6 kchar docs;
    the gap widens with document length as fixed per-row costs wash out).
    The
    Catalyst path stays the default because it needs no Python workers and
    a DuckDB oracle can replay it; tests assert the two engines are
    bit-identical.

    Unicode note: codepoints come from Python's UTF-32 encoding and
    lower-casing from ``str.lower()`` — identical to Spark's
    ``ascii``/``lower`` for ASCII and for the overwhelmingly common BMP
    cases; exotic locale-sensitive case foldings may differ between the
    engines (both remain self-consistent, which is what dedup needs).
    """
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    coefs = np.array([base ** (k - 1 - j) for j in range(k)], dtype=np.int64)

    def one(text) -> list:
        if text is None:
            return []
        s = text.lower()
        if len(s) < k:
            return []
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        grams = sliding_window_view(codes, k) @ coefs
        if grams.size < w:
            return []
        mins = sliding_window_view(grams, w).min(axis=1)
        return np.unique(mins).tolist()

    # no annotations: this module uses `from __future__ import annotations`,
    # which stringifies hints and breaks pandas_udf's eval-type inference
    @pandas_udf(ArrayType(LongType()))
    def _winnow(texts):
        return texts.map(one)

    return _winnow


def shingles(text: Column | str = "text", n: int = 3) -> Column:
    """Array of word n-gram shingle hashes (for MinHash/Jaccard dedup).

    ``split`` → ``transform(sequence)`` over sliding windows → xxhash64 of
    the joined n-gram. Pure Catalyst; yields an empty array for texts
    shorter than n words.

    The word array is let-bound (same trick as :func:`winnow_select`):
    interpreted Catalyst has no common-subexpression elimination, so an
    ``element_at(split(...), i)`` inside the window lambda re-runs the
    full O(m) split per window per word — measured 0.05 Mchar/s
    (quadratic) vs linear after binding.
    """
    text = F.col(text) if isinstance(text, str) else text
    split_words = F.split(F.lower(F.trim(text)), r"\s+")

    def _grams(words: Column) -> Column:
        # Sliding windows as arrays_zip of n shifted slices — the inner
        # transform's lambda touches ONLY its own zip element.  Two reasons
        # over the index-and-element_at formulation: (1) it is ~1.7×
        # faster interpreted (no per-window element_at dispatch), and
        # (2) an inner lambda referencing the outer lambda variable more
        # than once hits a Spark internal error ("Cannot evaluate
        # expression") whenever the whole expression is an argument to a
        # pandas UDF (e.g. minhash_udf).  arrays_zip pads the shifted
        # slices with nulls, so the trailing (incomplete) windows are
        # sliced off; guard-free — slice(x, 1, 0) = [] keeps short/empty
        # texts at an empty gram array.  NULL text propagates to a NULL
        # gram array (not [] — the pre-rewrite CASE WHEN form returned []
        # there): downstream minhash/simhash/near-dup stages treat NULL
        # as "no candidacy", which is the wanted semantics for null docs
        # (an [] would give every null-text doc the same all-sentinel
        # signature and pair them as near-dups).  Regression-pinned in
        # test_webscale.py::test_shingles_null_text.
        big = F.size(words)
        cols = [
            F.slice(words, j + 1, F.greatest(big - j, F.lit(0))).alias(f"w{j}")
            for j in range(n)
        ]
        grams = F.transform(
            F.arrays_zip(*cols),
            lambda e: F.xxhash64(F.concat_ws(" ", *[e[f"w{j}"] for j in range(n)])),
        )
        return F.slice(grams, 1, F.greatest(big - F.lit(n - 1), F.lit(0)))

    return F.element_at(F.transform(F.array(split_words), _grams), 1)
