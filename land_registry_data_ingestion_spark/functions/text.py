"""Text-analysis column functions for the training-data pipeline operators.

All JVM-side (split/regexp/transform/aggregate) — no Python in the hot
path. These feed the dedup / language-ID / quality-scoring operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE = r"\s+"


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, trim — canonical form for
    fingerprinting and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), WHITESPACE, " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(col), WHITESPACE)


def token_count(col: Column) -> Column:
    """Token count as BIGINT (0 for empty/blank text, NULL for NULL).

    Counts on WHITESPACE-NORMALIZED text (tabs/newlines → space, then
    trim): Spark's ``trim`` strips only ASCII spaces, so splitting raw
    text gave phantom empty tokens at the edges — ``"\\thello\\n"``
    counted 3 instead of 1, and tab/newline-only text counted 2 instead
    of 0. Scraped corpora lead and trail with exactly those characters.
    Lowercasing is skipped (irrelevant to the count); every other
    ``tokens()`` call site already goes through ``normalize_text``."""
    stripped = F.trim(F.regexp_replace(col, WHITESPACE, " "))
    return (
        F.when(stripped == "", F.lit(0))
        .otherwise(F.size(F.split(stripped, WHITESPACE)))
        .cast("long")
    )


# GPT-2-style pre-tokenization, simplified to ASCII classes and no
# lookahead so Java regex (Spark) and RE2 (DuckDB) match byte-for-byte:
# a subword chunk is a letter run, a digit run, or a punctuation run, each
# optionally absorbing one leading space.
BPE_ISH = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_tokens(col: Column) -> Column:
    """BPE-style pre-token chunks → array<string> (closer to an LLM
    tokenizer's unit count than whitespace words)."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH), 0)


def bpe_ish_token_count(col: Column) -> Column:
    """Chunk count as BIGINT (the budget unit for context-length-aware
    truncation in a training-data pipeline)."""
    return F.size(bpe_ish_tokens(col)).cast("long")


def punct_ratio(col: Column) -> Column:
    """Share of characters that are not alphanumeric or space; NULL for
    empty text. try_divide, not ``/``: under ANSI mode (Spark 4 default)
    one empty document would fail the whole quality query with
    DIVIDE_BY_ZERO — and DuckDB's double division by zero returns NULL,
    so NULL is also the oracle-aligned value."""
    clean = F.length(F.regexp_replace(col, r"[A-Za-z0-9 ]", ""))
    return F.try_divide(clean, F.length(col))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles → array<string>.

    Built with ``transform`` over an index ``sequence`` so it stays a
    native expression; documents shorter than k words yield an empty array.
    (Guarded: Spark's ``sequence(1, 0)`` counts *down*, so the sequence is
    only built when the document has ≥ k tokens.)
    """
    toks = tokens(normalize_text(col))
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))  # number of shingles
    # Build from k shifted slices zipped together rather than indexing with
    # element_at: Catalyst's CollapseProject inlines the tokenizer
    # subexpression into every element_at call (k × n_shingles regex splits
    # per row); the slice form evaluates the tokenizer only k times per row.
    parts = [F.slice(toks, j + 1, m) for j in range(k)]
    zipped = parts[0]
    for p in parts[1:]:
        zipped = F.zip_with(zipped, p, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(n >= k, F.array_distinct(zipped)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngram_hashes(col: Column, k: int = 3) -> Column:
    """NON-distinct word k-gram HASHES → array<long>, one per occurrence
    (position i holds the hash of the gram starting at token i).

    The 8-byte stand-in for gram strings wherever downstream only tests
    gram EQUALITY (decontamination membership, corpus-wide gram counting,
    duplicate-span detection): tokens hash once via xxhash64, then each
    k-gram hash chains the (k-1)-gram hash with the next token hash —
    one xxhash64 combine per gram, never a string concat, never md5 of a
    built string. All comparing sides must use this same function;
    equality then matches string equality modulo 64-bit collisions
    (p ~ n·m/2^64 — vanishing at any real corpus size, and hash values
    never surface in results). The token-hash array is let-encoded (a
    1-element ``transform`` binds it) so the k slice references read one
    bound value instead of re-running the tokenizer k times per row.
    """
    hs_expr = F.transform(tokens(normalize_text(col)), lambda t: F.xxhash64(t))
    return F.element_at(
        F.transform(F.array(hs_expr), lambda hs: gram_hash_chain(hs, k)), 1
    )


def gram_hash_chain(token_hashes: Column, k: int) -> Column:
    """k-gram hashes from an ``array<long>`` of token hashes: position i
    gets ``xxhash64`` chained over hashes i..i+k-1 (built by extending
    the (k-1)-gram hash with one combine — the trigram pass reuses the
    bigram pass, etc.). Callers pass a BOUND value (a lambda variable or
    a materialized column) so the k slice references don't re-evaluate
    an expensive producer."""
    n = F.size(token_hashes)
    m = F.greatest(n - (k - 1), F.lit(0))
    g = F.slice(token_hashes, 1, m)
    for j in range(1, k):
        g = F.zip_with(
            g,
            F.slice(token_hashes, j + 1, m),
            lambda a, b: F.xxhash64(a, b),
        )
    return g


def word_shingle_hashes(col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingle hashes → array<long> — the hashed
    counterpart of :func:`word_shingles`; see :func:`word_ngram_hashes`
    for the equality-modulo-collisions contract."""
    return F.array_distinct(word_ngram_hashes(col, k))


def tokens_sql(text: str) -> str:
    """``tokens(normalize_text(text))`` as SQL text over the SQL
    expression ``text``, for plans built as ``spark.sql`` statements,
    where each Column-API node would cost its own py4j round trips."""
    ws = "'" + WHITESPACE.replace("\\", "\\\\") + "'"
    return f"split(trim(trim(regexp_replace(lower({text}), {ws}, ' '))), {ws})"


def gram_slices_sql(arr: str, k: int, combine: str) -> str:
    """The k shifted slices of the SQL array ``arr`` zipped into one
    element per k-gram, as SQL text: element i folds elements i..i+k-1
    with ``combine``, a SQL expression over ``x`` and ``y``. With
    ``xxhash64(x, y)`` over token hashes it is :func:`gram_hash_chain`;
    with ``concat(x, ' ', y)`` over tokens, the grams of
    :func:`word_shingles`."""
    m = f"greatest(size({arr}) - {k - 1}, 0)"
    out = f"slice({arr}, 1, {m})"
    for j in range(1, k):
        out = f"zip_with({out}, slice({arr}, {j + 1}, {m}), (x, y) -> {combine})"
    return out


def token_set_hits(col: Column, words: list[str]) -> Column:
    """Number of whitespace tokens of ``col`` (normalized) that are in
    ``words``, with repeats — as ONE codegen'd ``regexp_count``.

    Equivalent to splitting and filtering by membership, but the HOF form
    (``size(filter(split(...), t -> array_contains(...)))``) contains a
    lambda, which excludes the whole projection from whole-stage codegen
    and drops it to the interpreted evaluator — correct, but it pays a
    per-session JIT warmup cliff (measured: several seconds of wall on
    the first query that touches it) and boxes every token. The
    lookaround pattern matches exactly full space-delimited tokens of the
    normalized (single-spaced) text: ``(?<=^|\\s)(?:w1|w2|…)(?=\\s|$)``.
    Lookarounds are Java-regex-only (RE2 lacks them) — fine, because the
    DuckDB oracle states the semantics as ``list_filter`` membership and
    the driver compares VALUES, not plans."""
    return F.regexp_count(normalize_text(col), F.lit(token_set_pattern(words)))


def token_set_pattern(words: list[str]) -> str:
    """The exact-full-token alternation regex behind
    :func:`token_set_hits`, for callers that already hold normalized
    text (re-normalizing is idempotent but pays the collapse regex
    again)."""
    import re as _re

    return (
        r"(?<=^|\s)(?:"
        + "|".join(sorted(_re.escape(w) for w in words))
        + r")(?=\s|$)"
    )


def stopword_hits(col: Column, stopwords: list[str]) -> Column:
    """Number of tokens that are in ``stopwords`` (with repeats)."""
    return token_set_hits(col, stopwords)
