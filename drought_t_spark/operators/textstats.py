"""Text-analysis operators for training-data pipelines — all built-in
Catalyst string/array expressions (whole-stage codegen; no UDFs).

* text_stats — length / word / whitespace / punctuation counts;
* quality_score — length-punct-stopword heuristic flags;
* lang_id — n-gram/stopword-voting heuristic language guess;
* token_count — whitespace + punctuation-aware token counting;
* fingerprint — md5 content fingerprint + polynomial rolling word hash.

Each reads the fixture's (doc_id, text) documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the whitespace-split, empty-free word array of `text`
_WORDS = "filter(split(text, ' +'), w -> w <> '')"

# tiny public stopword lists for the heuristic voter
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def _stopword_hits(words: list[str]) -> Column:
    arr = "array(" + ",".join(f"'{x}'" for x in words) + ")"
    return F.expr(f"size(filter({_WORDS}, t -> array_contains({arr}, lower(t))))")


def text_stats(df: DataFrame) -> DataFrame:
    # two-step select: the regexp_replace (the expensive expression
    # here) is evaluated once and punct_ratio derives from the result —
    # a single projection would inline it into both n_punct and
    # punct_ratio (CollapseProject), doubling the regex pass per row
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.expr(f"size({_WORDS})").cast("long").alias("n_words"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
        .cast("long").alias("n_spaces"),
        F.length(F.regexp_replace("text", r"[^.,!?;:]", "")).cast("long").alias("n_punct"),
        F.greatest(F.length("text"), F.lit(1)).alias("_len1"),
    ).select(
        "doc_id", "n_chars", "n_words", "n_spaces", "n_punct",
        (F.col("n_punct") / F.col("_len1")).alias("punct_ratio"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality heuristic: word-count band, punct ratio,
    stopword presence, mean word length band → score in [0, 4]."""
    s = text_stats(df.select("doc_id", "text"))
    en = _stopword_hits(_STOPWORDS["en"])
    joined = df.select("doc_id", "text").join(s, "doc_id")
    mean_wl = (F.col("n_chars") - F.col("n_spaces")) / F.greatest(F.col("n_words"), F.lit(1))
    return joined.select(
        "doc_id",
        (
            F.col("n_words").between(5, 100000).cast("int")
            + (F.col("punct_ratio") < 0.2).cast("int")
            + (en > 0).cast("int")
            + mean_wl.between(2.0, 12.0).cast("int")
        ).alias("quality"),
        F.col("n_words"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round(mean_wl, 6).alias("mean_word_len"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-voting language guess (deterministic tie-break by
    language code order via greatest-struct trick).

    The text is split ONCE (let-binding idiom) and all four language
    counters filter the same word array — four independent
    `_stopword_hits` expressions would each re-split the text."""
    counters = ", ".join(
        "size(filter(ws, t -> array_contains(array("
        + ",".join(f"'{x}'" for x in ws)
        + "), lower(t))))"
        for ws in _STOPWORDS.values()
    )
    hits_arr = f"transform(array({_WORDS}), ws -> array({counters}))[0]"
    scored = df.select(
        "doc_id", F.expr(hits_arr).alias("_hits")
    ).select(
        "doc_id",
        *[
            F.element_at("_hits", i + 1).alias(f"hits_{lang}")
            for i, lang in enumerate(_STOPWORDS)
        ],
    )
    # argmax with deterministic ties: pack (hits, reverse-alpha-rank) structs
    langs = list(_STOPWORDS)
    pick = F.greatest(
        *[
            F.struct(F.col(f"hits_{l}").alias("h"), F.lit(len(langs) - i).alias("r"), F.lit(l).alias("l"))
            for i, l in enumerate(langs)
        ]
    )
    return scored.select("doc_id", pick.getField("l").alias("lang_pred"), pick.getField("h").alias("lang_hits"))


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace tokens plus BPE-ish sub-splitting on punctuation
    boundaries: tokens = words + punctuation marks counted separately."""
    return df.select(
        "doc_id",
        F.expr(f"size({_WORDS})").cast("long").alias("n_ws_tokens"),
        (
            F.expr(f"size({_WORDS})")
            + F.length(F.regexp_replace("text", r"[^.,!?;:()\[\]]", ""))
        ).cast("long").alias("n_tokens"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text plus a
    polynomial rolling hash over words (base 31 mod 2^31-1, per-word hash
    reduced mod 1e9+7 first so `acc*31 + h < 2^37` never overflows int64
    even under ANSI mode — deterministic, order-sensitive)."""
    norm = f"array_join({_WORDS}, ' ')"
    rolling = (
        f"aggregate({_WORDS}, 0L, (acc, t) -> "
        f"pmod(acc * 31L + pmod(xxhash64(t), 1000000007L), 2147483647L))"
    )
    return df.select(
        "doc_id",
        F.expr(f"md5(lower({norm}))").alias("fp_md5"),
        F.expr(rolling).alias("fp_rolling"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    duplicate-word / duplicate-line fractions and the share of word
    bigrams taken by the single most frequent bigram — the standard
    filters for boilerplate / degenerate repetition in training text.

    All JVM-side: the top-bigram count folds ONCE over the sorted
    bigram array (longest equal-adjacent run == max multiplicity), so
    there is no per-document explode/groupBy shuffle — the whole
    operator is a projection."""
    lines = "filter(split(text, '\\n'), l -> l <> '')"
    # bigrams over the let-bound word array (built once per row); docs with
    # <2 words have no bigrams — sequence(1, size-1) would count DOWN from 1
    # to 0 there and index past the array, so that branch short-circuits to 0
    bg_best = (
        "transform(array(" + _WORDS + "), ws -> "
        " IF(size(ws) < 2, 0L, aggregate("
        "   array_sort(transform(sequence(1, size(ws) - 1),"
        "     i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))),"
        "   named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        "   (acc, x) -> named_struct("
        "     'prev', x,"
        "     'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L),"
        "     'best', greatest(acc.best,"
        "        IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L))),"
        "   acc -> acc.best)))[0]"
    )
    n_bg = f"greatest(size({_WORDS}) - 1, 0)"
    return df.select(
        "doc_id",
        F.expr(n_bg).cast("long").alias("n_bigrams"),
        F.expr(bg_best).cast("long").alias("top_bigram_count"),
        F.round(
            F.expr(bg_best) / F.expr(f"greatest({n_bg}, 1)"), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.lit(1.0)
            - F.expr(f"size(array_distinct({_WORDS}))")
            / F.expr(f"greatest(size({_WORDS}), 1)"),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.lit(1.0)
            - F.expr(f"size(array_distinct({lines}))")
            / F.expr(f"greatest(size({lines}), 1)"),
            6,
        ).alias("dup_line_frac"),
    )
