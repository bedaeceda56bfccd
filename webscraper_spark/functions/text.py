r"""Text-analysis functions for corpus curation: language ID, quality
scoring, token counting, document fingerprinting.

Everything is native column expressions (codegen) — these run over every
document of a 100 TB corpus, so no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import h60
from webscraper_spark.operators.dedup import shingle_hashes, tokens

# Tiny deterministic stopword profiles (public common-word lists).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "los"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "est", "les"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count; '' -> 0."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: split on a BPE-flavoured boundary regex
    (letters / digits / single punctuation marks), drop empties."""
    pieces = F.split(text, r"(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])")
    return F.size(F.filter(pieces, lambda p: F.trim(p) != "")).cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n)


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n)


def mean_word_len(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n)


def quality_score(text: Column, lang: str = "en") -> Column:
    """Deterministic [0,1] quality heuristic: rewards reasonable length,
    stopword presence, moderate word length; penalizes punctuation soup.
    (The kind of gate a pretraining pipeline runs before dedup.)"""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / 64.0, F.lit(1.0))
    sw = stopword_ratio(text, lang)
    sw_score = F.least(sw * 5.0, F.lit(1.0))
    wl = mean_word_len(text)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), 1.0).otherwise(0.5)
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0)
    return F.round((0.4 * len_score + 0.3 * sw_score + 0.15 * wl_score + 0.15 * punct_penalty), 6)


def langid_scores(text: Column) -> Column:
    """map<lang,double> of stopword-profile hit ratios."""
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k in STOPWORDS]),
        F.array(*[stopword_ratio(text, k) for k in STOPWORDS]),
    )


def langid(text: Column) -> Column:
    """argmax language by stopword profile; 'und' (undetermined) when all
    profiles score 0 — deterministic tie-break by profile order."""
    scores = [(k, stopword_ratio(text, k)) for k in STOPWORDS]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    for k, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(k)).otherwise(out)
    return out


def ngrams_all(text: Column, n: int = 2) -> Column:
    """All word n-grams WITH multiplicity (unlike dedup.shingles, which
    dedups) — repetition metrics need the counts. '' or <n tokens -> [].
    Chained-zip_with construction (dedup.ngram_join): 3-6x faster than
    the per-index slice or element_at forms, A/B-measured at sf0.1."""
    from webscraper_spark.operators.dedup import ngram_join

    return ngram_join(tokens(text), n)


def _max_run_frac(arr: Column) -> Column:
    """Fraction of the array occupied by its most frequent element, computed
    shuffle-free: sort the array, then fold a (prev, run, best) accumulator
    over it — the longest run of a sorted array IS the max multiplicity.
    Stays inside codegen: no explode, no groupBy, no Python."""
    srt = F.array_sort(arr)
    zero = F.lit(0).cast("long")
    # `seen` marks "prev holds a real element" — without it, an array whose
    # first element equals the seed value would merge into a phantom run
    # (code-review catch on the '' sentinel this replaces).
    best = F.aggregate(
        srt,
        F.struct(F.lit("").alias("prev"), F.lit(False).alias("seen"), zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.lit(True).alias("seen"),
            F.when(acc["seen"] & (x == acc["prev"]), acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["seen"] & (x == acc["prev"]), acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n = F.size(arr)
    return F.when(n <= 0, F.lit(0.0)).otherwise(best.cast("double") / n)


def repetition_stats(arr: Column) -> Column:
    """struct(best, dist): max element multiplicity AND distinct count of
    `arr` from ONE sorted fold (max multiplicity = longest run of the
    sorted array; distinct = number of run starts). Shuffle-free,
    codegen. Computing top-frac and dup-frac separately costs two sorts
    and two folds; the repetition query needs both."""
    srt = F.array_sort(arr)
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    # `seen` (not a '' sentinel) marks the first element, so arrays whose
    # first element IS the empty string still count it as a run start.
    return F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("prev"), F.lit(False).alias("seen"), zero.alias("run"),
            zero.alias("best"), zero.alias("dist"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.lit(True).alias("seen"),
            F.when(acc["seen"] & (x == acc["prev"]), acc["run"] + 1).otherwise(one).alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["seen"] & (x == acc["prev"]), acc["run"] + 1).otherwise(one),
            ).alias("best"),
            (acc["dist"] + F.when(acc["seen"] & (x == acc["prev"]), zero).otherwise(one)).alias("dist"),
        ),
        lambda acc: F.struct(acc["best"].alias("best"), acc["dist"].alias("dist")),
    )


def repetition_metrics(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition gate table: (id, n_toks, top_tok_frac,
    dup_tok_frac, top_bigram_frac). Tokenizes ONCE into a materialized
    column and derives token and bigram stats with one combined fold
    each — 10x faster than per-metric tokenize+sort+fold at sf0.1
    (10.0s -> 1.0s steady-state), bit-identical output."""
    from webscraper_spark.operators.dedup import ngram_join as _ngram_join

    t = df.select(id_col, tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    t2 = t.select(
        id_col,
        F.size(toks).cast("long").alias("_n"),
        F.greatest(F.size(toks) - 1, F.lit(0)).cast("long").alias("_nb"),
        repetition_stats(toks).alias("_ts"),
        repetition_stats(_ngram_join(toks, 2)).alias("_bs"),
    )
    n, nb = F.col("_n"), F.col("_nb")
    return t2.select(
        id_col,
        n.alias("n_toks"),
        F.round(
            F.when(n <= 0, F.lit(0.0)).otherwise(F.col("_ts.best").cast("double") / n), 6
        ).alias("top_tok_frac"),
        F.round(
            F.when(n <= 0, F.lit(0.0)).otherwise((n - F.col("_ts.dist")).cast("double") / n), 6
        ).alias("dup_tok_frac"),
        F.round(
            F.when(nb <= 0, F.lit(0.0)).otherwise(F.col("_bs.best").cast("double") / nb), 6
        ).alias("top_bigram_frac"),
    )


def top_token_frac(text: Column) -> Column:
    """Gopher-style repetition gate: fraction of tokens that are the single
    most frequent token (high -> degenerate/repetitive text)."""
    return _max_run_frac(tokens(text))


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of word n-grams occupied by the most frequent n-gram."""
    return _max_run_frac(ngrams_all(text, n))


def dup_token_frac(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 - distinct/total); 0.0 for empty text."""
    toks = tokens(text)
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    return F.when(n <= 0, F.lit(0.0)).otherwise((n - d).cast("double") / n)


# --------------------------------------------------------------------------
# PII scrub — a pretraining pipeline redacts contact data before training.
# Patterns are deliberately simple ASCII regexes that parse identically in
# Java regex (Spark codegen) and RE2 (DuckDB oracle): no lookaround, no
# backreferences. Counting runs per-pattern on the ORIGINAL text; scrubbing
# chains replacements email -> ipv4 -> phone (placeholders are letter-only,
# so a replacement can never create a later pattern's match).
# --------------------------------------------------------------------------

PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{7,14}",
}
PII_PLACEHOLDERS = {"email": "[EMAIL]", "ipv4": "[IP]", "phone": "[PHONE]"}


def pii_count(text: Column, kind: str) -> Column:
    """Number of matches of one PII pattern in the raw text."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), F.lit(0))).cast("long")


def pii_scrub(text: Column) -> Column:
    """Text with every PII match replaced by its placeholder (codegen-native
    chained regexp_replace — runs over every document at corpus scale)."""
    out = text
    for kind in ("email", "ipv4", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], PII_PLACEHOLDERS[kind])
    return out


def curation_decision(text: Column, lang: str = "en", quality_min: float = 0.5,
                      top_tok_max: float = 0.35, dup_tok_max: float = 0.75) -> Column:
    """First-failing-rule curation verdict for a pretraining filter chain:
    'low_quality' | 'repetitive_top_token' | 'repetitive_dup_tokens' | 'keep'.
    Composes the oracled quality + repetition gates into the single decision
    column a corpus-curation job writes alongside each document."""
    # Gates compare 6-rounded values (quality_score already rounds): the
    # DuckDB oracle recomputes the same fractions by a different algorithm,
    # and an unrounded threshold comparison could flip on the last ulp.
    return (
        F.when(quality_score(text, lang) < quality_min, F.lit("low_quality"))
        .when(F.round(top_token_frac(text), 6) > top_tok_max, F.lit("repetitive_top_token"))
        .when(F.round(dup_token_frac(text), 6) > dup_tok_max, F.lit("repetitive_dup_tokens"))
        .otherwise(F.lit("keep"))
    )


def doc_fingerprint(text: Column, n: int = 3, k: int = 8) -> Column:
    """Winnowing-style fingerprint: the k smallest n-gram shingle hashes
    (sorted) — stable under small edits, array<long>."""
    return F.slice(F.array_sort(shingle_hashes(text, n)), 1, k)


def fingerprint64(text: Column, n: int = 3, k: int = 8) -> Column:
    """Single 64-bit rollup of the fingerprint (joinable key)."""
    return h60(F.concat_ws(",", F.transform(doc_fingerprint(text, n, k), lambda h: h.cast("string"))))


# ---------------------------------------------------------------------------
# Unicode script composition (writing-system detection)
# ---------------------------------------------------------------------------

# Script name -> Java regex script class (Spark side). The DuckDB oracle
# uses RE2's \p{Latin} etc. — verified char-for-char equivalent for these
# four on BMP text. Digits/punct/whitespace are Unicode "Common" script
# and count toward none of them.
SCRIPT_CLASSES = {
    "latin": "IsLatin",
    "cyrillic": "IsCyrillic",
    "han": "IsHan",
    "arabic": "IsArabic",
}


def script_count(text: Column, script: str) -> Column:
    """Number of codepoints of `script` in text (codegen: strip the
    complement class, count what remains — length() is codepoints in
    both Spark and DuckDB)."""
    cls = SCRIPT_CLASSES[script]
    return F.length(F.regexp_replace(text, rf"[^\p{{{cls}}}]", "")).cast("long")


def script_profile(text: Column, mixed_num: int = 9, mixed_den: int = 10):
    """Writing-system composition columns for a document.

    Returns a dict of named Columns: per-script codepoint counts, the
    dominant script (fixed tie-break order latin > cyrillic > han >
    arabic — deterministic in any engine), and an is_mixed flag set when
    the dominant script holds less than mixed_num/mixed_den (default
    90%) of all script-classified codepoints — integer
    cross-multiplication, no floats. Script detection is the standard
    pre-langid routing step in web-corpus pipelines (fastText & CLD3
    both condition on script): langid() (L11) assumes a space-tokenized
    alphabet and is meaningless on Han text, so the corpus router keys
    on dominant_script first.
    """
    counts = {s: script_count(text, s) for s in SCRIPT_CLASSES}
    lat, cyr, han, ara = counts["latin"], counts["cyrillic"], counts["han"], counts["arabic"]
    total = lat + cyr + han + ara
    dominant = (
        F.when((lat >= cyr) & (lat >= han) & (lat >= ara), F.lit("latin"))
        .when((cyr >= han) & (cyr >= ara), F.lit("cyrillic"))
        .when(han >= ara, F.lit("han"))
        .otherwise(F.lit("arabic"))
    )
    top = F.greatest(lat, cyr, han, ara)
    return {
        "n_latin": lat,
        "n_cyrillic": cyr,
        "n_han": han,
        "n_arabic": ara,
        "dominant_script": F.when(total == 0, F.lit("none")).otherwise(dominant),
        "is_mixed": (total > 0) & (top * mixed_den < total * mixed_num),
    }
