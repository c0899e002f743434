"""Text-analysis functions for large-scale training-data pipelines.

All hot-path expressions are native ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python in the per-row path.  Each returns a Column
so callers compose them into single-pass selects.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "words",
    "token_count",
    "word_shingles",
    "dup_ngram_metrics",
    "punct_ratio",
    "quality_score",
    "gopher_metrics",
    "lang_id",
    "fingerprint",
    "normalize_text",
]

# Per-language stopword marker sets (public common-word lists); used by
# the stopword-argmax stage of the language heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with",
           "was", "on", "are", "as", "be", "this", "have", "from", "not", "by"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por",
           "un", "una", "con", "no", "se", "su", "para", "es", "al", "como"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht",
           "ein", "eine", "zu", "im", "für", "auf", "des", "sich", "dem",
           "auch", "als"],
    "fr": ["le", "la", "les", "de", "et", "est", "des", "un", "une", "dans",
           "que", "pour", "qui", "du", "pas", "au", "sur", "par", "plus",
           "avec"],
    "it": ["il", "di", "che", "la", "per", "un", "del", "con", "non", "una",
           "le", "si", "della", "nel", "da", "come", "sono", "dei", "anche",
           "più"],
    "pt": ["de", "que", "em", "um", "para", "com", "não", "uma", "os", "do",
           "da", "no", "na", "se", "por", "mais", "dos", "como", "mas", "foi"],
    "nl": ["de", "het", "een", "van", "en", "in", "is", "dat", "op", "te",
           "zijn", "met", "voor", "niet", "aan", "er", "om", "ook", "als",
           "maar"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

# Unicode-script vote: a text whose characters are dominantly in one of
# these ranges is identified by script alone (first match in order wins —
# kana before han so Japanese text with kanji reads 'ja' not 'zh').
# Checked before the stopword stage; fully expressible in both Spark and
# DuckDB regex (the ranges are embedded as literal characters).
LANG_SCRIPTS: list[tuple[str, str]] = [
    ("ja", "\u3040-\u30ff"),  # hiragana + katakana
    ("ko", "\uac00-\ud7af"),  # hangul syllables
    ("zh", "\u4e00-\u9fff"),  # CJK unified ideographs
    ("ru", "\u0400-\u04ff"),  # cyrillic
    ("ar", "\u0600-\u06ff"),  # arabic
    ("el", "\u0370-\u03ff"),  # greek
    ("he", "\u0590-\u05ff"),  # hebrew
    ("hi", "\u0900-\u097f"),  # devanagari
]


def words(text: Column) -> Column:
    """Whitespace tokenization, lowercased — ``array<string>``."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap BPE-proxy)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(words(text))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles, deduplicated — the MinHash input set.

    Built as a chain of ``zip_with`` joins against shifted views of the
    word array rather than ``transform(sequence, i -> concat_ws(slice))``:
    HOF lambdas run interpreted (outside whole-stage codegen), and the
    per-element ``slice`` allocation made the old form 6× slower
    (measured 3.4 s → 0.55 s for 5000 docs at sf0.1).  Semantics are
    IDENTICAL to the old form — including the shorter-than-n edge, where
    the single shingle is the whole word list joined — and pinned by an
    equivalence test, because every dedup oracle depends on them."""
    w = words(text)
    acc = w
    for k in range(2, n + 1):
        # length must keep start+length inside int32 (slice overflows to
        # null otherwise) — size(w) is always enough
        shifted = F.slice(w, k, F.greatest(F.size(w), F.lit(1)))
        if k == 2:
            acc = F.zip_with(w, shifted,
                             lambda a, b: F.concat_ws(" ", a, b))
        else:
            acc = F.zip_with(acc, shifted,
                             lambda p, c: F.concat(p, F.lit(" "), c))
    trimmed = F.slice(acc, 1, F.greatest(F.size(w) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.when(F.size(w) < n, F.array(F.concat_ws(" ", w)))
        .otherwise(trimmed)
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    cleaned = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(cleaned) / F.length(text)
    )


def quality_score(text: Column) -> Column:
    """Deterministic document-quality heuristic in [0, 1]:
    length factor · (1 - punct excess) · word-length sanity.

    Expressed fully natively so it runs inside codegen at 100 TB scale."""
    n_chars = F.length(text)
    n_words = token_count(text)
    mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_chars / n_words
    )
    length_factor = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    punct_factor = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.lit(2.0) * punct_ratio(text)
    )
    word_factor = F.when(
        (mean_word_len >= 3.0) & (mean_word_len <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return F.round(length_factor * punct_factor * word_factor, 4)


def gopher_metrics(text: Column) -> dict[str, Column]:
    """Gopher-style repetition/shape signals (Rae et al. 2021, app. A
    — the public corpus-filtering rules): duplicate word-2-gram
    fraction, top-word fraction, symbol-word fraction, mean word
    length, plus a composed ``keep`` flag over the ROUNDED metrics (so
    the rule is reproducible bit-for-bit in any SQL engine).

    Fully native — zip_with bigrams (word_shingles rationale: HOF slice
    allocation is the slow form), filter/transform counts.  The
    top-word count is O(words · distinct words) per row; fine for
    documents, cap pathological rows upstream."""
    w = F.filter(words(text), lambda x: F.length(x) > 0)
    nw = F.size(w)
    shifted = F.slice(w, 2, F.greatest(nw, F.lit(1)))
    big = F.slice(
        F.zip_with(w, shifted, lambda a, b: F.concat(a, F.lit(" "), b)),
        1, F.greatest(nw - 1, F.lit(1)),
    )
    n_big = F.when(nw >= 2, nw - 1).otherwise(F.lit(0))
    frac_dup = F.when(
        n_big > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(big)) / n_big, 6),
    ).otherwise(F.lit(0.0))
    # top-word count as the longest run of the SORTED array — O(n log n)
    # + one linear aggregate, vs the naive O(words · distinct-words)
    # filter-per-distinct-word (measured 9 s → <1 s on 500 docs)
    def _run(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(
        F.array_sort(w),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        _run,
        lambda acc: acc["best"],
    )
    top_frac = F.when(nw > 0, F.round(top / nw, 6)).otherwise(F.lit(0.0))
    sym = F.size(F.filter(w, lambda x: ~x.rlike("[a-z0-9]")))
    sym_frac = F.when(nw > 0, F.round(sym / nw, 6)).otherwise(F.lit(0.0))
    mwl = F.when(nw > 0, F.round(
        F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x)) / nw, 6,
    )).otherwise(F.lit(0.0))
    keep = (
        (frac_dup <= 0.2) & (top_frac <= 0.3) & (sym_frac <= 0.1)
        & (mwl >= 3.0) & (mwl <= 10.0) & (nw > 0)
    )
    return {
        "n_words": nw,
        "frac_dup_2gram": frac_dup,
        "top_word_frac": top_frac,
        "symbol_word_frac": sym_frac,
        "mean_word_len": mwl,
        "keep": keep,
    }


def lang_id(text: Column) -> Column:
    """Two-stage language ID, fully native (one pass, no UDF):

    1. **script vote** — if more than a third of the non-space characters
       fall in one Unicode script range (LANG_SCRIPTS, first match wins,
       kana checked before han), the script decides: ja/ko/zh/ru/ar/el/
       he/hi need no stopwords.
    2. **stopword argmax** — otherwise per-language hit counts of the
       distinct word set against LANG_STOPWORDS (20-word profiles for the
       Latin-script languages), ties broken by declaration order, 'und'
       when nothing scores.

    Deterministic and replicated verbatim by the DuckDB oracle
    (__spark_entry__._lang_id_oracle builds the SQL from the same
    constants)."""
    w = F.array_distinct(words(text))
    scores = {
        lg: F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in stop])))
        for lg, stop in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lg in reversed(scores):
        out = F.when((scores[lg] > 0) & (scores[lg] == best), F.lit(lg)).otherwise(out)
    # script vote wraps the stopword result (outermost when = first range)
    n_chars = F.length(F.regexp_replace(text, r"\s", ""))
    for lg, rng in reversed(LANG_SCRIPTS):
        n_script = F.length(F.regexp_replace(text, f"[^{rng}]", ""))
        out = F.when(
            (n_chars > 0) & (n_script * 3 > n_chars), F.lit(lg)
        ).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key (stable across engines, so DuckDB can verify)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def dup_ngram_metrics(text: Column, n: int = 3) -> dict[str, Column]:
    """Gopher's OTHER repetition family (Rae et al. 2021 app. A):
    duplicate word-n-gram fraction and the fraction of characters inside
    duplicated n-grams — :func:`gopher_metrics` covers the 2-gram and
    top-word signals; this adds the configurable-n char-weighted form
    that catches long templated spans short n-grams dilute.

    Works over the RAW overlapping n-gram list (``word_shingles``
    deduplicates — unusable for repetition counting), built with the
    same zip_with chain.  The char fraction uses one sorted-run
    aggregate (sort groups equal grams adjacent; a run of length c
    contributes c·len chars), so the whole computation is native
    per-row expressions — no explode, no shuffle.  Docs with fewer than
    ``n`` words have zero grams (callers filter ``n_grams > 0``)."""
    w = F.filter(words(text), lambda x: F.length(x) > 0)
    acc = w
    for k in range(2, n + 1):
        shifted = F.slice(w, k, F.greatest(F.size(w), F.lit(1)))
        if k == 2:
            acc = F.zip_with(w, shifted,
                             lambda a, b: F.concat_ws(" ", a, b))
        else:
            acc = F.zip_with(acc, shifted,
                             lambda p, c: F.concat(p, F.lit(" "), c))
    grams = F.slice(acc, 1, F.greatest(F.size(w) - (n - 1), F.lit(0)))
    ng = F.size(grams)
    dup_gram_frac = F.when(
        ng > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / ng, 6),
    ).otherwise(F.lit(0.0))

    def _step(a, x):
        same = x == a["prev"]
        run = F.when(same, a["run"] + 1).otherwise(F.lit(1))
        # a run reaching 2 retroactively claims BOTH occurrences' chars;
        # each further repeat adds its own
        add = (
            F.when(same & (run == 2), F.length(x) * 2)
            .when(same & (run > 2), F.length(x))
            .otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            (a["dupc"] + add).alias("dupc"),
            (a["totc"] + F.length(x)).alias("totc"),
        )

    fin = F.aggregate(
        F.array_sort(grams),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).cast("long").alias("dupc"),
                 F.lit(0).cast("long").alias("totc")),
        _step,
    )
    dup_char_frac = F.when(
        fin["totc"] > 0, F.round(fin["dupc"] / fin["totc"], 6)
    ).otherwise(F.lit(0.0))
    return {"n_grams": ng, "dup_gram_frac": dup_gram_frac,
            "dup_char_frac": dup_char_frac}


def normalize_text(text: Column) -> Column:
    """Canonical form for normalized dedup: lowercase, strip everything
    but letters/digits/spaces (unicode letters preserved — the regex
    class is ``[^\\p{L}\\p{N} ]``, identical in Java and RE2 so the
    DuckDB oracle replays it verbatim), collapse whitespace runs, trim.
    Catches the near-duplicates exact dedup misses for trivia reasons —
    case, punctuation, spacing — deterministically, where MinHash only
    finds them probabilistically.  Raw bytes are untouched upstream;
    normalize at the dedup boundary, not at ingest.
    """
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, r"[^\p{L}\p{N} ]", " ")
    collapsed = F.regexp_replace(stripped, r" +", " ")
    return F.trim(collapsed)
