"""Text-analysis operators for the training-data pipeline (scale-out §8).

Language-ID, quality scoring, token counting, fingerprinting — all as
single-pass columnar transforms (no shuffle except the caller's aggregates,
no Python UDFs). At 100 TB these are embarrassingly parallel map stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from land_registry_data_ingestion_spark.util import spread
from land_registry_data_ingestion_spark.functions.text import (
    fingerprint,
    normalize_text,
    punct_ratio,
    stopword_hits,
    token_count,
    token_set_pattern,
    tokens,
)

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately small & deterministic — a real deployment would load fastText
# or CLD3 via a Pandas UDF; the Spark plumbing is identical.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "and", "is", "of", "to", "a", "in", "that"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "que"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two token-count units: whitespace words and BPE-style subword
    chunks (the latter tracks an LLM tokenizer's budget more closely)."""
    from land_registry_data_ingestion_spark.functions.text import (
        bpe_ish_token_count,
    )

    return spread(df).withColumn(
        "n_tokens", token_count(F.col(text_col))
    ).withColumn("n_bpe_tokens", bpe_ish_token_count(F.col(text_col)))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-density quality features + a simple
    composite score in [0, 1].

    Two projections on purpose: the expensive text expressions (tokenize,
    regex strip, stopword filter) are evaluated ONCE into named columns,
    and the derived ratios/score reference those attributes. Folding
    everything into one projection re-evaluates each shared subexpression
    at every reference (the score alone references n_tok three times —
    that tripled the tokenizer); CollapseProject keeps the split because
    the producer expressions are non-cheap and multiply-referenced.
    """
    text = F.col(text_col)
    base = spread(df).select(
        "*",
        token_count(text).alias("n_tokens"),
        F.length(text).cast("long").alias("n_chars_measured"),
        punct_ratio(text).alias("_p_ratio"),
        stopword_hits(text, LANG_STOPWORDS["en"]).alias("_sw_hits"),
    )
    n_tok = F.col("n_tokens")
    p_ratio = F.col("_p_ratio")
    sw_ratio = F.col("_sw_hits") / F.greatest(n_tok, F.lit(1))
    mean_word_len = F.col("n_chars_measured") / F.greatest(n_tok, F.lit(1))
    score = (
        F.when(n_tok < 5, 0.0)
        .when(p_ratio > 0.3, 0.2)
        .otherwise(
            F.least(
                F.lit(1.0),
                0.5 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
                + 0.3 * (1.0 - p_ratio)
                + 0.2 * F.least(sw_ratio * 5.0, F.lit(1.0)),
            )
        )
    )
    keep = [c for c in base.columns if c not in ("_p_ratio", "_sw_hits")]
    return base.select(
        *keep,
        F.round(p_ratio, 6).alias("punct_ratio"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


# Pluggable model contract: a callable mapping a pandas Series of texts to
# a same-length Series of language codes. Real models (fastText, CLD3,
# lingua) drop in here — they run inside an Arrow-batched pandas_udf, so
# the Spark plan (pure map stage, no shuffle, text column pruned to the
# one UDF input) is IDENTICAL whichever model is plugged; only the Python
# kernel changes. `None` selects the built-in stopword-profile expression
# path (JVM-side, no Python at all).
# LangIdModel = Callable[[pd.Series], pd.Series]


def with_language_id(
    df: DataFrame, text_col: str = "text", model=None
) -> DataFrame:
    """Language ID with a pluggable model.

    ``model=None`` → stopword-profile heuristic as pure JVM expressions:
    score = hits per language profile, argmax with lexicographic
    tie-break, 'und' (undetermined) when no profile hits at all.

    ``model=callable`` → the callable runs as an Arrow-batched
    ``pandas_udf`` over ``text_col`` and its output becomes
    ``predicted_lang``. tests/test_textops_model.py asserts a swapped
    model flows through the same single-map-stage plan."""
    if model is not None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # no type hints: `from __future__ import annotations` stringifies
        # them, which pandas_udf's signature inference rejects in Spark 4
        @pandas_udf("string")
        def _predict(texts):
            out = model(texts)
            return out if isinstance(out, pd.Series) else pd.Series(list(out))

        return df.withColumn("predicted_lang", _predict(F.col(text_col)))
    # Two projections: normalized text once, then per-language hit counts
    # as codegen'd regexp_counts reading that attribute, then the argmax.
    # (History: a fold-built struct-max duplicated the tokenizer
    # 2^(n_langs-1) times — 98 s for 100k docs; the explode-free HOF
    # filter per language fixed that but sat in the interpreted evaluator;
    # token_set_hits keeps the whole stage in codegen.)
    text = F.col(text_col)
    langs = sorted(LANG_STOPWORDS)
    normed = spread(df).select("*", normalize_text(text).alias("_norm"))

    def _hits(lang: str) -> Column:
        return F.regexp_count(
            F.col("_norm"), F.lit(token_set_pattern(LANG_STOPWORDS[lang]))
        )

    hits = normed.select(
        "*", *[_hits(lang).alias(f"_h_{lang}") for lang in langs]
    ).drop("_norm")
    m = F.greatest(*[F.col(f"_h_{lang}") for lang in langs])
    pred: Column = F.when(m == 0, F.lit("und"))
    for lang in langs[:-1]:
        # first language (sorted) reaching the max wins — the same
        # lexicographic tie-break as the strict-greater fold
        pred = pred.when(F.col(f"_h_{lang}") == m, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))
    return hits.withColumn("predicted_lang", pred).drop(
        *[f"_h_{lang}" for lang in langs]
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic content fingerprint of the normalized text (F1-style
    content hashing applied to documents)."""
    return spread(df).withColumn("doc_fingerprint", fingerprint(F.col(text_col)))


# PII scrubbing — both patterns are plain character-class regexes (no
# lookaround, no backreferences) so Java regex (Spark, JVM-side map) and
# RE2 (DuckDB oracle) match byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9 ()-]{6,}[0-9]"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails then phone numbers from ``text_col`` (standard
    training-corpus curation step). Pure JVM map — two codegen'd
    ``regexp_replace`` passes, zero shuffle, zero Python. Emits
    ``text_redacted`` plus per-row match counts (``n_emails``,
    ``n_phones``) so downstream filters can drop PII-heavy documents
    without re-scanning. Email runs first: its local part would otherwise
    feed digit runs to the phone pattern."""
    text = F.col(text_col)
    no_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return df.select(
        "*",
        F.regexp_replace(no_email, PHONE_RE, "<PHONE>").alias("text_redacted"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
    )


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style (Rae et al. 2021) document quality rules as one
    codegen'd projection — each rule an independent boolean so downstream
    policy can mix them, plus the conjunction ``passes_gopher``:

    - word count in [10, 100_000]  (paper: [50, 100k]; the synthetic docs
      are short, the bound is a parameter of the rule battery, not logic)
    - mean word length in [2, 10]
    - symbol-to-word ratio ≤ 0.1 (``#`` and ``...``-style symbols)
    - ≥ 70% of words contain at least one alphabetic character

    Pure map stage: one tokenizer evaluation shared by all rules via an
    intermediate projection (same CollapseProject reasoning as
    ``with_quality_score``), zero shuffle, zero Python.
    """
    text = F.col(text_col)
    n_tok = token_count(text)
    # Full-token-with-alpha matches via lookarounds (Java-regex-only; the
    # DuckDB oracle states the same semantics as a list_filter — the
    # driver compares VALUES, not plans; same precedent as
    # functions/text.py::token_set_hits).
    alpha_pat = r"(?<=^|\s)[^\s]*[A-Za-z][^\s]*(?=\s|$)"
    base = spread(df).select(
        "*",
        n_tok.alias("_n_tok"),
        F.length(F.regexp_replace(normalize_text(text), r"\s", "")).alias(
            "_n_word_chars"
        ),
        F.regexp_count(text, F.lit(r"#|\.\.\.")).alias("_n_symbols"),
        F.regexp_count(normalize_text(text), F.lit(alpha_pat)).alias(
            "_n_alpha_words"
        ),
    )
    n = F.greatest(F.col("_n_tok"), F.lit(1))
    mean_len = F.col("_n_word_chars") / n
    rules = {
        "rule_word_count": F.col("_n_tok").between(10, 100_000),
        "rule_mean_word_len": mean_len.between(2.0, 10.0),
        "rule_symbol_ratio": (F.col("_n_symbols") / n) <= 0.1,
        "rule_alpha_words": (F.col("_n_alpha_words") / n) >= 0.7,
    }
    keep = [c for c in base.columns if not c.startswith("_")]
    out = base.select(
        *keep,
        *[col.alias(name) for name, col in rules.items()],
    )
    passes = None
    for name in rules:
        passes = F.col(name) if passes is None else passes & F.col(name)
    return out.withColumn("passes_gopher", passes)


def _run_length_stats(sorted_hashes: Column) -> Column:
    """``struct(top, dup)`` over a SORTED ``array<long>``: the longest
    run length (= max count of any value) and the total length of runs
    longer than 1 (= occurrences of duplicated values). One linear
    ``F.aggregate`` scan — the per-row equivalent of
    ``GROUP BY value → max(c), sum(c) FILTER (c > 1)``."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("long").alias("prev"),
        zero.alias("run"),
        zero.alias("top"),
        zero.alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        # closing a run: fold it into top/dup before starting the new one
        closed_top = F.greatest(acc["top"], acc["run"])
        closed_dup = acc["dup"] + F.when(
            acc["run"] > 1, acc["run"]
        ).otherwise(zero)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias(
                "run"
            ),
            F.when(same, acc["top"]).otherwise(closed_top).alias("top"),
            F.when(same, acc["dup"]).otherwise(closed_dup).alias("dup"),
        )

    def finish(acc: Column) -> Column:
        return F.struct(
            F.greatest(acc["top"], acc["run"]).alias("top"),
            (
                acc["dup"]
                + F.when(acc["run"] > 1, acc["run"]).otherwise(zero)
            ).alias("dup"),
        )

    return F.aggregate(sorted_hashes, init, step, finish)


def _repetition_counts_arrow(df: DataFrame, text_col: str) -> DataFrame:
    """Arrow kernel behind :func:`repetition_flags`: per document, the
    EXACT INTEGER gram statistics (top-bigram count, bigram total,
    duplicated-trigram occurrences, trigram total). Only integers leave
    the kernel — the fractions, their HALF_UP rounding, and the
    threshold flags stay JVM-side expressions, so there is no float
    parity surface at all. Counting is exact string equality (token
    codes from ``np.unique``, grams as injective code pairing) — no
    hash anywhere, which is strictly STRONGER than the expression
    form's collisions-tolerated xxhash counting.

    Whitespace normalization matches the expression form byte-for-byte:
    ASCII-only whitespace classes (Java regex ``\\s`` without
    UNICODE_CHARACTER_CLASS), ASCII-space trim, split on single spaces
    (empty string → one empty token). CASE normalization: both Python
    ``str.lower()`` and Spark ``lower()`` (Java ``String.toLowerCase``)
    implement Unicode default case conversion INCLUDING the
    context-sensitive final-sigma rule — verified to agree on
    ``'ΣΑΣ'`` → ``'σας'`` by ``tests/test_repetition.py``. The one
    residual caveat: Java's mapping is sensitive to the JVM DEFAULT
    LOCALE while Python's is not, so under a Turkish/Azeri/Lithuanian
    default-locale JVM (``lower('I')`` → dotless ``'ı'``) the two
    forms diverge on I/i and dotted variants. The engine does not pin
    the JVM locale (the driver contract runs plain sessions); parity
    is exact everywhere except that locale class."""
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    out_schema = T.StructType(
        [
            df.schema["doc_id"],
            T.StructField("_top2", T.LongType(), False),
            T.StructField("_m2", T.LongType(), False),
            T.StructField("_dup3", T.LongType(), False),
            T.StructField("_m3", T.LongType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            top2 = np.zeros(n_rows, dtype=np.int64)
            m2 = np.zeros(n_rows, dtype=np.int64)
            dup3 = np.zeros(n_rows, dtype=np.int64)
            m3 = np.zeros(n_rows, dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                if text is None:
                    continue  # expr form: NULL text → zero grams
                toks = ws.sub(" ", text.lower()).strip(" ").split(" ")
                nt = len(toks)
                if nt < 2:
                    continue
                uniq, codes = np.unique(
                    np.asarray(toks, dtype=object), return_inverse=True
                )
                codes = codes.astype(np.int64)
                v = np.int64(len(uniq))
                # injective pairing needs v^3 < 2^63; beyond ~2M distinct
                # tokens in ONE document, fall back to exact tuple
                # counting (same answer, slower — unreachable for real
                # documents).
                if v > 2_000_000:
                    from collections import Counter

                    c2 = Counter(zip(toks, toks[1:]))
                    c3 = Counter(zip(toks, toks[1:], toks[2:]))
                    top2[i] = max(c2.values())
                    m2[i] = nt - 1
                    if nt >= 3:
                        dup3[i] = sum(c for c in c3.values() if c > 1)
                        m3[i] = nt - 2
                    continue
                b = codes[:-1] * v + codes[1:]
                _, c2 = np.unique(b, return_counts=True)
                top2[i] = c2.max()
                m2[i] = nt - 1
                if nt >= 3:
                    tg = b[:-1] * v + codes[2:]
                    _, c3 = np.unique(tg, return_counts=True)
                    dup3[i] = c3[c3 > 1].sum()
                    m3[i] = nt - 2
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "_top2": top2,
                    "_m2": m2,
                    "_dup3": dup3,
                    "_m3": m3,
                }
            )

    return spread(df.select("doc_id", text_col)).mapInPandas(
        kernel, out_schema
    )


def repetition_flags(
    df: DataFrame, text_col: str = "text", use_arrow: bool = True
) -> DataFrame:
    """Gopher-style (Rae et al. 2021) REPETITION rules — the within-doc
    complement of ``gopher_quality_flags``'s length/character rules:

    - ``top_bigram_frac``: occurrences of the most frequent word 2-gram
      over all 2-gram occurrences (boilerplate/babble signal; paper
      threshold ≤ 0.18);
    - ``dup_trigram_frac``: fraction of word 3-gram occurrences whose
      gram appears more than once (≤ 0.30).

    Shape — pure map stage, ZERO shuffle: both statistics are per-document
    functions, so nothing ever needs to leave the row.

    ``use_arrow=True`` (default, round 6): per-batch numpy kernel
    producing exact INTEGER counts (:func:`_repetition_counts_arrow`);
    the division, HALF_UP rounding and threshold flags remain JVM
    expressions on those integers, so both forms round identically by
    construction. Measured at the bench scale tier: 3.1 s → ~1.1 s.

    ``use_arrow=False`` keeps the pure-expression form: tokens hash to
    longs once (8 B/token materialized behind the barrier), bigram
    hashes come from one zip of adjacent token hashes, trigram hashes
    REUSE the bigram pass (xxhash64(g2[i], h[i+2]) — one combine per
    gram, not a rebuild), and the per-gram counts reduce in-row via a
    linear run-length scan over the sorted hash array. Counting hash
    equality instead of string equality is exact modulo 64-bit
    collisions *within one document* (p < 1e-13 at 10k grams). The
    round-2 shape (explode → two-level hash aggregate) shuffled every
    gram occurrence as text — ~5× the token bytes; both current forms
    shuffle nothing and scale embarrassingly to any corpus size.
    """
    from land_registry_data_ingestion_spark.util import barrier

    if use_arrow:
        stats = _repetition_counts_arrow(df, text_col).withColumnRenamed(
            "_top2", "_s2_top"
        ).withColumnRenamed("_dup3", "_s3_dup")
    else:
        text = F.col(text_col)
        hs = F.transform(
            tokens(normalize_text(text)), lambda t: F.xxhash64(t)
        )
        base = barrier(spread(df).select("doc_id", hs.alias("_hs")))

        h = F.col("_hs")
        n = F.size(h)
        m2 = F.greatest(n - 1, F.lit(0))
        m3 = F.greatest(n - 2, F.lit(0))
        g2 = F.zip_with(
            F.slice(h, 1, m2), F.slice(h, 2, m2), lambda a, b: F.xxhash64(a, b)
        )
        g3 = F.zip_with(
            F.slice(g2, 1, m3), F.slice(h, 3, m3), lambda a, b: F.xxhash64(a, b)
        )
        stats = base.select(
            "doc_id",
            m2.alias("_m2"),
            m3.alias("_m3"),
            _run_length_stats(F.array_sort(g2))["top"].alias("_s2_top"),
            _run_length_stats(F.array_sort(g3))["dup"].alias("_s3_dup"),
        )
    top2 = F.when(
        F.col("_m2") > 0, F.round(F.col("_s2_top") / F.col("_m2"), 6)
    ).otherwise(F.lit(0.0))
    dup3 = F.when(
        F.col("_m3") > 0, F.round(F.col("_s3_dup") / F.col("_m3"), 6)
    ).otherwise(F.lit(0.0))
    return stats.select(
        "doc_id",
        top2.alias("top_bigram_frac"),
        dup3.alias("dup_trigram_frac"),
    ).select(
        "*",
        (F.col("top_bigram_frac") <= 0.18).alias("pass_top_bigram"),
        (F.col("dup_trigram_frac") <= 0.30).alias("pass_dup_trigram"),
        (
            (F.col("top_bigram_frac") <= 0.18)
            & (F.col("dup_trigram_frac") <= 0.30)
        ).alias("pass_repetition"),
    )
