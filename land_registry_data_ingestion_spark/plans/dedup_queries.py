"""Deduplication queries over ``documents`` (scale-out §8).

Every pipeline stage gets an exact DuckDB oracle — including MinHash+LSH,
whose signatures a second engine reproduces bit-for-bit: each shingle's
hash is md5-derived (the first 60 bits of ``md5('0|' || shingle)``), and
the 16 hash functions ``(a·h + b) mod (2^31 - 1)`` take their
coefficients from ``operators.dedup.minhash_coefficients``, which both
engines read. Those coefficients are a Knuth multiplicative sequence, an
arithmetic progression whose minima are correlated (ROADMAP Direction 4),
not an independent hash family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_near_duplicates,
    near_dup_groups,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
)
from land_registry_data_ingestion_spark.plans.registry import query
from land_registry_data_ingestion_spark.sources.parquet import load_tables

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"

# Distinct word-3-gram shingles, mirroring functions/text.py::word_shingles.
_SHINGLES = f"""
    SELECT doc_id AS doc,
           CASE WHEN len(w) >= 3
                THEN list_distinct(list_transform(
                    generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                ELSE []::VARCHAR[] END AS shingles
    FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
"""


@query(
    "dedup_exact_groups",
    sql=f"""
    SELECT md5({_NORM}) AS doc_fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-aggregate on the normalized-content fingerprint;
    canonical row = min id. One shuffle of (hash, id) pairs only."""
    t = load_tables(spark, sf_dir)
    return exact_dedup_groups(t.documents, "doc_id")


@query(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH sh AS ({_SHINGLES}),
    posting AS (
        SELECT doc, len(shingles) AS n, unnest(shingles) AS shingle FROM sh
    ),
    inter AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / (n_a + n_b - n_common), 6) AS jaccard
    FROM inter
    WHERE ROUND(n_common / (n_a + n_b - n_common), 6) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via the shingle inverted index
    (explode → self-join on shingle → count intersections)."""
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(t.documents, "doc_id", threshold=0.05)


def _minhash_sql(num_hashes: int = 16, band_size: int = 4, threshold: float = 0.3) -> str:
    from land_registry_data_ingestion_spark.operators.dedup import (
        MINHASH_PRIME as P,
        minhash_coefficients,
    )

    mh_cols = ",\n           ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    )
    n_bands = num_hashes // band_size
    band_rows = ", ".join(
        "({b}, md5({cat}))".format(
            b=b,
            cat=" || ',' || ".join(
                f"CAST(mh_{b * band_size + j} AS VARCHAR)" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH sh AS ({_SHINGLES}),
    nonempty AS (
        SELECT doc,
               list_transform(shingles,
                   s -> ('0x' || substr(md5('0|' || s), 1, 15))::BIGINT % {P}) AS hs
        FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (
        SELECT doc,
           {mh_cols}
        FROM nonempty
    ),
    bands AS (
        SELECT doc, b.band_idx, b.band_hash
        FROM sigs, (VALUES {band_rows}) AS b(band_idx, band_hash)
    ),
    cands AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc < b.doc
    )
    SELECT doc_a, doc_b,
           ROUND(len(list_intersect(sa.shingles, sb.shingles))
                 / (len(sa.shingles) + len(sb.shingles)
                    - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cands
    JOIN sh sa ON sa.doc = cands.doc_a
    JOIN sh sb ON sb.doc = cands.doc_b
    WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))
                / (len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles))), 6) >= {threshold}
    """


@query("dedup_minhash_lsh", sql=_minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4) near-dup pairs, verified with exact
    Jaccard on candidates only — the 100 TB dedup path (shuffle O(n·bands))."""
    t = load_tables(spark, sf_dir)
    return minhash_near_duplicates(
        t.documents, "doc_id", num_hashes=16, band_size=4, threshold=0.3
    )


@query(
    "dedup_near_dup_groups",
    sql=f"""
    WITH RECURSIVE pairs AS ({_minhash_sql()}),
    e AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(s, d) AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
    ),
    labels AS (
        SELECT s AS doc, LEAST(s, MIN(d)) AS canonical_doc
        FROM reach GROUP BY s
    )
    SELECT l.doc, l.canonical_doc, CAST(c.n AS BIGINT) AS n_members
    FROM labels l
    JOIN (SELECT canonical_doc, COUNT(*) AS n FROM labels GROUP BY 1) c
      ON l.canonical_doc = c.canonical_doc
    """,
)
def dedup_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS (keep-one semantics): connected components over the
    MinHash-LSH pairs by distributed min-label propagation; canonical doc
    = min id per component. The oracle replays the closure with a
    recursive CTE — exact group parity, not just pair parity."""
    t = load_tables(spark, sf_dir)
    # Label propagation runs over one node per identical-content family
    # and one edge per verified family pair, then members take their
    # family's label in one join: the same groups as the oracle's
    # recursive closure over the expanded pairs.
    from land_registry_data_ingestion_spark.operators.dedup import (
        minhash_near_dup_groups,
    )

    return minhash_near_dup_groups(
        t.documents, "doc_id", num_hashes=16, band_size=4, threshold=0.3
    )


def _simhash_sql(bits: int = 60) -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id AS doc, unnest(list_distinct(
            string_split_regex({_NORM}, '\\s+'))) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc, ('0x' || substr(md5('0|' || tok), 1, 15))::BIGINT AS h
        FROM toks
    ),
    bit_votes AS (
        SELECT doc, b.bit,
               SUM((h >> b.bit) & 1) AS ones,
               COUNT(*) AS n
        FROM hashed, (SELECT unnest(generate_series(0, {bits - 1})) AS bit) b
        GROUP BY doc, b.bit
    )
    ,
    fps AS (
        SELECT doc AS doc_id,
               CAST(SUM(CASE WHEN 2 * ones > n
                             THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
                 AS simhash{bits}
        FROM bit_votes GROUP BY doc
    )
    -- LEFT JOIN back to documents: a NULL-text doc has no tokens (the
    -- unnest drops it) but the engine contract is one row per document
    -- with a NULL fingerprint, not a vanished document
    SELECT d.doc_id, f.simhash{bits}
    FROM documents d LEFT JOIN fps f ON f.doc_id = d.doc_id
    """


@query("dedup_simhash", sql=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (majority vote per bit over
    md5-derived token hashes)."""
    t = load_tables(spark, sf_dir)
    return simhash(t.documents, "doc_id")


def _simhash_pairs_sql(
    bits: int = 60, n_blocks: int = 4, max_hamming: int = 3
) -> str:
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    return f"""
    WITH fps AS (SELECT doc_id AS doc, simhash{bits} AS fp
                 FROM ({_simhash_sql(bits)})),
    blocks AS (
        SELECT doc, fp, b.block_idx,
               (fp >> (b.block_idx * {block_bits})) & {mask} AS block_val
        FROM fps, (SELECT unnest(generate_series(0, {n_blocks - 1}))
                   AS block_idx) b
    ),
    cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
               a.fp AS fp_a, b.fp AS fp_b
        FROM blocks a JOIN blocks b
          ON a.block_idx = b.block_idx AND a.block_val = b.block_val
         AND a.doc < b.doc
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


@query("dedup_simhash_pairs", sql=_simhash_pairs_sql())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole block join (4 × 15-bit blocks →
    zero false negatives at Hamming ≤ 3), popcount verify on candidates
    only. Shuffle O(n·blocks)."""
    t = load_tables(spark, sf_dir)
    return simhash_near_duplicates(t.documents, "doc_id")


@query(
    "dedup_embedding_cosine",
    sql="""
    WITH scored AS (
        -- ROUND(..., 6) BEFORE the threshold, exactly like the engine's
        -- blocked-pairs kernel (round-then-compare): a raw cosine in
        -- [0.3999995, 0.4) pairs on both sides or neither.
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(
                 list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    pairs AS (
        -- isfinite: a NaN cosine (NaN/Inf-poisoned vector) is undefined
        -- and never pairs — unguarded, DuckDB orders NaN above every
        -- value so it would pass the threshold (adversarial round 8);
        -- zero-norm already yields NULL (division by zero) and drops;
        -- a ±Inf quotient is masked to NaN by the engine kernel, so the
        -- oracle guard is isfinite, not merely NOT isnan.
        SELECT id_a, id_b FROM scored
        WHERE isfinite(cos) AND cos >= 0.4
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM pairs)
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: semantic duplicate pairs from the
    exact block-partitioned cosine self-join (``blocked_cosine_pairs`` —
    corpus never broadcast, compute sharded on the block-pair key), then
    keep-first survivors — a document is dropped iff a lower-id document
    sits within the cosine threshold. Documents anti-join the loser set on
    doc_id; text never moves, only (id, vector) pairs shuffle."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        blocked_cosine_pairs,
    )

    t = load_tables(spark, sf_dir)
    pairs = blocked_cosine_pairs(t.embeddings, threshold=0.4)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return t.documents.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )
