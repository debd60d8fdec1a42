"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each algorithm at 100 TB):

- **exact**: one hash-aggregate on the content fingerprint — one shuffle of
  (hash, id), no text movement if the fingerprint is precomputed.
- **n-gram Jaccard**: exact pairwise similarity, but only *within candidate
  pairs*; generating all pairs is O(n²) and must never happen globally.
  The candidate generator here is the shingle inverted index (explode →
  self-join on shingle), which is the textbook shuffle-heavy exact method —
  bounded by frequent-shingle skew, so hot shingles are dropped via a
  document-frequency cap (stopword shingles pair everything with
  everything; capping df both fixes skew and removes noise pairs).
- **MinHash+LSH**: the scale path — k hash functions over shingles →
  signature; band the signature; join on (band_idx, band_hash). Shuffle is
  O(n·bands), independent of pair count. Hash = first 60 bits of
  md5(salt|shingle) so the signature is deterministic and reproducible by
  any engine (no RNG state).
- **SimHash**: 64-bit fingerprint whose Hamming distance tracks cosine
  similarity of the token multiset; near-dup candidates join on rotated
  prefix blocks. Cheapest per-row state (8 bytes).
- **embedding near-dup**: see operators/similarity.py — cosine threshold
  over LSH/IVF buckets.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from land_registry_data_ingestion_spark.functions.text import (
    fingerprint,
    gram_slices_sql,
    tokens_sql,
    word_shingles,
)
from land_registry_data_ingestion_spark.util import barrier, spread

# --- exact ------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Group rows by normalized-content fingerprint: one row per distinct
    content with the canonical (min) id and the duplicate count.

    spread(): the md5-of-normalized-text map is CPU-bound; a small-file
    input (single split) would serialize it — no-op at real scale."""
    return (
        spread(df)
        .select(F.col(id_col), fingerprint(F.col(text_col)).alias("doc_fingerprint"))
        .groupBy("doc_fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct normalized content."""
    w_min = exact_dedup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


# --- shingle inverted index + exact Jaccard ---------------------------------


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    # spread: shingling + hashing is CPU-bound; don't let a single input
    # split serialize it (no-op when the scan already has ≥cores splits).
    return spread(df).select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), k).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.05,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All document pairs (a < b) with shingle-set Jaccard ≥ threshold.

    |A∩B| from the inverted-index self-join; |A∪B| = |A|+|B|-|A∩B|.
    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (skew + noise control at scale).
    """
    # persist before exploding: the shingle arrays must cross a
    # materialization barrier or Generate re-evaluates the HOF expression
    # per output row (and the posting list is consumed by both join sides)
    sh = barrier(_shingled(df, id_col, text_col, k))
    posting = sh.select("doc", "n_shingles", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        rare = (
            posting.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        posting = posting.join(rare, "shingle", "left_semi")
    a = posting.select(
        F.col("shingle"),
        F.col("doc").alias("doc_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = posting.select(
        F.col("shingle"),
        F.col("doc").alias("doc_b"),
        F.col("n_shingles").alias("n_b"),
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# --- MinHash + LSH ----------------------------------------------------------


def _sql(spark, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql`` over DataFrame arguments, each named ``{name}`` in
    ``text``. PySpark's own ``spark.sql(text, **frames)`` drops its temp
    views with ``catalog.dropTempView``, which also uncaches a view whose
    plan is a persisted frame: a barrier passed to it is released as the
    statement returns, and every later read recomputes it. The views here
    leave the session catalog without touching the cache."""
    names = {k: f"_dedup_{k}_{uuid.uuid4().hex}" for k in frames}
    for k, f in frames.items():
        f.createOrReplaceTempView(names[k])
    try:
        return spark.sql(text.format(**names))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)


def _md5_hash64(col, salt: int):
    """Deterministic 60-bit integer hash: first 15 hex chars of
    md5(salt|value). Reproducible in any engine with md5 — no RNG."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), col)), 1, 15), 16, 10
    ).cast("long")


def _md5_hash64_sql(value: str, salt: int) -> str:
    """:func:`_md5_hash64` as SQL text over the SQL expression ``value``."""
    return (
        f"CAST(conv(substring(md5(concat('{salt}|', {value})), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


# Universal hash family over the Mersenne prime 2^31-1: one expensive md5
# per shingle, then num_hashes cheap integer maps (a·h + b) mod P. All
# constants are deterministic (Knuth multiplicative sequence) so any engine
# reproduces the signature bit-for-bit.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (
            1 + (2_654_435_761 * (i + 1)) % (MINHASH_PRIME - 1),
            (40_503 * (i + 7)) % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def minhash_signatures_from_shingles(
    sh: DataFrame,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures from an already-shingled frame (``doc``,
    ``shingles``): min over the shingle set of each of ``num_hashes``
    universal-hash functions.

    Execution shape chosen for codegen, not elegance: the shingle's 60-bit
    md5 hash is computed ONCE per shingle (a naive per-salt md5 costs
    num_hashes× the CPU), hashes are EXPLODED to scalar rows, and each
    signature component is a plain ``min((a·h + b) % P)`` aggregate.
    Scalar expressions + hash-aggregate are whole-stage-codegen'd, and
    map-side partial aggregation collapses the exploded rows to one row
    per (doc, partition) before the shuffle — so the shuffle is
    O(docs × num_hashes) longs, never O(shingles). The prettier
    array-at-a-time form — ``array_min(transform(hs, ...))`` — runs ~10×
    slower because Spark interprets higher-order functions, and an
    Arrow/numpy kernel loses its win to nested-array serialization;
    measured at 100k docs: 12.8s (HOF) / 13.7s (Arrow) / ~2s (this).
    Same integers either way (a, h < 2³¹ keeps a·h+b inside int64).
    """
    return _sql(
        sh.sparkSession,
        f"""
        SELECT doc, {_minhash_mins_sql(num_hashes)}
        FROM (SELECT doc, {_md5_hash64_sql("s", 0)} % {MINHASH_PRIME} AS h
              FROM (SELECT doc, explode(shingles) AS s FROM {{sh}}))
        GROUP BY doc
        """,
        sh=sh,
    )


def _minhash_mins_sql(num_hashes: int) -> str:
    """The signature aggregates as SQL, over a column ``h`` of shingle
    hashes mod P: ``min((a·h + b) % P) AS mh_i`` for each of the
    ``num_hashes`` coefficient pairs."""
    return ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    )


def _bands_sql(num_hashes: int, band_size: int) -> str:
    """A signature's bands as SQL, over columns ``mh_i``: an array of
    ``(band_idx, band_hash)`` structs, ``band_hash`` the md5 of the
    band's ``band_size`` components joined by commas."""
    return "array({})".format(
        ", ".join(
            f"named_struct('band_idx', {b}, 'band_hash', md5(concat_ws(',', "
            + ", ".join(f"mh_{b * band_size + j}" for j in range(band_size))
            + ")))"
            for b in range(num_hashes // band_size)
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document.

    The shingled frame is persisted before the explode: without a
    materialization barrier Catalyst inlines the (expensive, HOF-built)
    shingle expression into the Generate and re-evaluates it per output
    row — measured 20× slower at 100k docs. Callers that already hold a
    materialized shingle frame should use
    :func:`minhash_signatures_from_shingles` directly."""
    return minhash_signatures_from_shingles(
        barrier(_shingled(df, id_col, text_col, k)), num_hashes
    )


def lsh_bands(
    signatures: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Banded signature rows ``(doc, band_idx, band_hash)`` — the LSH
    join key. Exposed separately so an INCREMENTAL consumer
    (``corpus_store.CorpusStore``) can persist the bands of accepted
    documents and probe new batches against them without re-signing the
    whole corpus."""
    return signatures.selectExpr(
        "doc", f"inline({_bands_sql(num_hashes, band_size)})"
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    max_band_df: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair. Join key is (band_idx, band_hash) — shuffle volume is
    rows × bands, never rows².

    ``max_band_df`` bounds bucket fan-out: a bucket of m docs emits
    C(m,2) candidate pairs, so ONE degenerate band value (boilerplate- or
    template-dominated corpora — docs whose sampled shingles coincide
    without the docs being near-duplicates) can go quadratic even though
    total bucket count stays linear. Buckets holding more than
    ``max_band_df`` docs are dropped before the self-join — the analogue
    of ``ngram_jaccard_pairs``' ``max_shingle_df`` one level up. Recall
    note: a TRUE near-dup family of m > max_band_df identical-signature
    docs normally still pairs via the exact-content collapse in
    :func:`minhash_near_duplicates` (identical docs never reach the
    banded join at all); the cap only risks pairs whose sole common band
    is a hot one, which at sensible caps (≥ 64) are overwhelmingly
    coincidence pairs the verify step would reject anyway. Default off —
    declared-query semantics (and their oracles) are exact."""
    # The self-join's two sides (and the optional cap) would each re-run
    # the signature producer: barrier the skinny band rows once.
    bands = barrier(lsh_bands(signatures, num_hashes, band_size))
    if max_band_df is not None:
        # ids-only aggregate + semi join on the same key the candidate
        # join shuffles on — no extra data movement of consequence.
        ok = (
            bands.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("band_df"))
            .filter(F.col("band_df") <= max_band_df)
            .select("band_idx", "band_hash")
        )
        bands = bands.join(ok, ["band_idx", "band_hash"], "left_semi")
    a = bands.select("band_idx", "band_hash", F.col("doc").alias("doc_a"))
    b = bands.select("band_idx", "band_hash", F.col("doc").alias("doc_b"))
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _minhash_members_and_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    band_size: int,
    threshold: float,
    max_band_df: int | None,
) -> tuple[DataFrame, str, dict[str, DataFrame]]:
    """Shared mine-and-verify core of the MinHash near-dup family.

    Returns ``(members, verify, frames)``:

    - ``members`` — the barriered family map ``(doc, rep, family_size)``,
      one row per input document. A family is the set of documents with
      one identical distinct-shingle array, keyed by ``cfp``, a 128-bit
      content fingerprint (two chained-seed xxhash64 lanes over the
      document's ``functions/text.word_shingle_hashes``). ``rep`` is the
      family's min doc id and ``family_size`` its number of documents.
      A shingle-free document (NULL text, fewer than k tokens) is a
      family of one, and with no bands it never pairs. Doc ids are
      taken as unique.
    - ``verify`` — the text of a ``WITH`` clause over the DataFrames in
      ``frames`` (named by their keys, for :func:`_sql`), whose last
      table, ``verified(doc_a, doc_b, jaccard)``, holds the pairs of
      family reps with exact shingle-set Jaccard ≥ ``threshold``, one
      row per family pair, ``doc_a < doc_b``. Each caller finishes it
      with its own ``SELECT``, so that verify and expansion are one
      statement.

    Every document with the same shingle array has the same signature,
    bands, length and Jaccard, so only the reps are signed, banded and
    verified; the consumers expand the rep pairs over ``members``.

    Shape: three barriers and the verify clause, each ``spark.sql`` text
    over DataFrame arguments (:func:`_sql`) rather than the Column API,
    whose per-node py4j calls made plan construction the query's largest
    driver cost (the 16 signature aggregates and the band structs most;
    one ``F.col`` alone is 13 round trips). Every fragment is built by
    the same function as its Column-API twin uses or sits beside it:
    :func:`_minhash_mins_sql` and :func:`_bands_sql` are shared with
    :func:`minhash_signatures_from_shingles` and :func:`lsh_bands`;
    ``functions/text.tokens_sql`` and ``gram_slices_sql`` and
    :func:`_md5_hash64_sql` mirror the Column functions, and tests pin
    each pass's output to its Column-API form.

    1. ``members`` (barrier): the word-gram hash chain of
       ``word_shingle_hashes``, its 128-bit ``cfp``, and ``rep`` and
       ``family_size`` as windows over ``cfp``. The shingle-free
       documents all hash alike, so their ``cfp`` also carries the doc
       id (``lone``), or they would form one unbounded window group. A
       ``WHERE`` dropping them instead is pushed below the input's
       spread with the whole tokenizer inlined, and ran the member pass
       in one task: 38.7 s against 31.7 s for the Column-API parent on
       100k documents. No shingle string is built for a member. The key
       is 128 bits because a collision would merge two distinct documents
       into one family and fabricate Jaccard-1.0 pairs; the 64-bit
       birthday bound is marginal at 10^10 documents.
    2. ``sh`` (barrier): the reps' ``word_shingles``, each as the 60-bit
       md5 hash of :func:`_md5_hash64`, so the barrier and the verify
       joins move 8-byte longs. The text is shingled a second time for
       the reps only: caching the string arrays of every document cost
       more (measured 13-25 s against 4.2 s at 100k documents).
    3. ``bands`` (barrier): the shingle hashes exploded to scalar rows
       and reduced by the signature aggregates (see
       :func:`minhash_signatures_from_shingles` for why not a HOF), then
       the md5 band hashes. ``n_shingles`` rides along as a grouping key.
    4. ``verify``: the band self-join, the length prune (J(A,B) ≥ t ⟹
       t·|B| ≤ |A|, so no qualifying pair is dropped) before the pair
       ``distinct``, then exact Jaccard ``round(·, 6)`` over the hash
       arrays of the surviving pairs.

    Every barrier has ``defaultParallelism`` partitions, hashed on the
    key its reader groups by. A cached plan keeps its shuffle's
    ``spark.sql.shuffle.partitions`` (AQE does not coalesce inside it),
    and each read of a 32-partition barrier ran 32 tasks; a window over
    32 partitions cost 0.2-0.3 s more than over 2. The ``REPARTITION``
    hints size exchanges the plan needs anyway: ``members`` is hashed on
    ``cfp``, which its windows need, and ``sh`` on ``doc``, so neither
    the signature aggregate over it nor the pair ``distinct`` over the
    bands needs an exchange of its own. The rep text crosses that one
    exchange in place of the aggregate's. Only the member pass's input
    is spread (:func:`spread`'s rule), so no exchange is added there
    once the input already has that many splits.

    Measured with ``dedup_minhash_lsh`` at ``local[2]`` on 4 cores, five
    runs in one session, the first cold. On the 1,000-document
    ``analytics_dedup`` input (seed 21), warm runs: plan construction
    0.66-0.91 s and 3,437 py4j round trips before, 0.37-0.44 s and 78
    after (the rest is Spark's parse, analysis and cache planning);
    execution 2.03-2.44 s before, 1.06-1.52 s after; 20 jobs and 157
    tasks before, 14 and 28 after. On a 100,000-document corpus, two
    runs: 38.8 s before and 27.7 s after on the cold run, 31.7 s and
    18.0 s on the second.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    doc, text = f"`{id_col}`", f"`{text_col}`"
    members = barrier(
        _sql(
            spark,
            f"""
            SELECT doc, min(doc) OVER (PARTITION BY cfp) AS rep,
                   count(*) OVER (PARTITION BY cfp) AS family_size
            FROM (SELECT /*+ REPARTITION({n}, cfp) */ doc,
                         named_struct('h0', xxhash64(sh),
                                      'h1', xxhash64(1, sh),
                                      'lone', IF(size(sh) > 0, NULL, doc)) AS cfp
                  FROM (SELECT doc, array_distinct(
                                   {gram_slices_sql("th", k, "xxhash64(x, y)")}) AS sh
                        FROM (SELECT {doc} AS doc,
                                     transform({tokens_sql(text)},
                                               t -> xxhash64(t)) AS th
                              FROM {{docs}})))
            """,
            docs=spread(df),
        )
    )
    grams = gram_slices_sql("toks", k, "concat(x, ' ', y)")
    sh = barrier(
        _sql(
            spark,
            f"""
            SELECT doc, shingles, size(shingles) AS n_shingles
            FROM (SELECT doc,
                         transform(array_distinct({grams}),
                                   s -> {_md5_hash64_sql("s", 0)}) AS shingles
                  FROM (SELECT doc, {tokens_sql("text")} AS toks
                        FROM (SELECT /*+ REPARTITION({n}, doc) */ d.{doc} AS doc,
                                     d.{text} AS text
                              FROM {{docs}} d LEFT SEMI JOIN {{members}} m
                                ON d.{doc} = m.rep AND m.doc = m.rep)))
            """,
            docs=df,
            members=members,
        )
    )
    bands = barrier(
        _sql(
            spark,
            f"""
            SELECT doc, n_shingles, inline({_bands_sql(num_hashes, band_size)})
            FROM (SELECT doc, n_shingles, {_minhash_mins_sql(num_hashes)}
                  FROM (SELECT doc, n_shingles, s % {MINHASH_PRIME} AS h
                        FROM (SELECT doc, n_shingles, explode(shingles) AS s
                              FROM {{sh}}))
                  GROUP BY doc, n_shingles)
            """,
            sh=sh,
        )
    )
    kept = (
        "SELECT * FROM {bands}"
        if max_band_df is None
        else "SELECT doc, n_shingles, band_idx, band_hash FROM ("
        "SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS band_df "
        f"FROM {{bands}}) WHERE band_df <= {int(max_band_df)}"
    )
    t = f"{float(threshold)!r}D"
    inter = "size(array_intersect(a.shingles, b.shingles))"
    verify = f"""
        WITH kept AS ({kept}),
        cand AS (
            SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
            FROM kept a JOIN kept b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            WHERE a.doc < b.doc
              AND a.n_shingles >= b.n_shingles * {t}
              AND b.n_shingles >= a.n_shingles * {t}
        ),
        scored AS (
            SELECT c.doc_a, c.doc_b,
                   round({inter} / (size(a.shingles) + size(b.shingles) - {inter}),
                         6) AS jaccard
            FROM cand c JOIN {{sh}} a ON a.doc = c.doc_a
                        JOIN {{sh}} b ON b.doc = c.doc_b
        ),
        verified AS (SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {t})
        """
    return members, verify, {"bands": bands, "sh": sh}


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    max_band_df: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with exact Jaccard
    (verify step touches only candidate pairs).

    **Identical-content collapse** (the dedup-cascade): real corpora are
    full of exact duplicates, and every m-way duplicate family would
    otherwise inject C(m,2) candidate pairs into the verify join — at a
    20-way replication that is 190 shingle-array comparisons per family
    computing the same answer. Since signatures, LSH candidacy, the size
    filter, and Jaccard are all pure functions of the shingle array, docs
    with identical arrays are collapsed to one representative BEFORE the
    pipeline and pair results are expanded afterwards:

    - intra-family pairs are emitted directly with jaccard = 1.0 (what
      verify would compute: inter = union);
    - representative pairs expand to the family cross product, same
      jaccard (the arrays are identical).

    Provably the same output as running the pipeline over all docs;
    measured 106 s → ~13 s on the 100k-doc / 20-way-family scale probe.
    The mine-and-verify core is
    :func:`_minhash_members_and_verified_pairs`; this function is the
    pair EXPANSION on top of it, in the same statement: verified rep
    pairs and each family's self-pair, expanded by two joins on ``rep``.
    """
    members, verify, frames = _minhash_members_and_verified_pairs(
        df, id_col, text_col, k, num_hashes, band_size, threshold, max_band_df
    )
    # A verified rep pair expands to the cross product of its two
    # families; member ids interleave, so least/greatest re-orders. A
    # family of ≥ 2 pairs with itself at Jaccard 1.0 (identical arrays ⇒
    # every band collides), expanded by the same two joins: its self-pair
    # (rep, rep) yields each member pair once. J = 1.0 does not qualify
    # above a threshold of 1.0.
    self_pairs = (
        "UNION ALL SELECT rep, rep, 1.0D FROM {members} "
        "WHERE doc = rep AND family_size > 1"
        if threshold <= 1.0
        else ""
    )
    return _sql(
        df.sparkSession,
        verify
        + f""",
        rep_pairs AS (SELECT doc_a AS ra, doc_b AS rb, jaccard FROM verified
                      {self_pairs})
        SELECT least(ma.doc, mb.doc) AS doc_a,
               greatest(ma.doc, mb.doc) AS doc_b, p.jaccard
        FROM rep_pairs p JOIN {{members}} ma ON ma.rep = p.ra
                         JOIN {{members}} mb ON mb.rep = p.rb
        WHERE p.ra < p.rb OR ma.doc < mb.doc
        """,
        members=members,
        **frames,
    )


# --- near-dup grouping (connected components) -------------------------------


def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Turn near-dup PAIRS into canonical GROUPS: connected components by
    iterative min-label propagation, the keep-one semantics a training-
    data pipeline actually applies (drop every doc whose ``doc !=
    canonical_doc``).

    Each iteration is one distributed join + aggregate (label ← min of
    own and neighbors' labels) PLUS a pointer jump (label ← label's
    label, the path-halving step of pointer-jumping CC algorithms à la
    Kiveris et al.); the driver only checks a convergence COUNT per
    iteration, never collects data. The jump makes convergence
    O(log diameter) instead of O(diameter): shallow dup families finish
    in 2-3 rounds either way, but band-df capping can sparsify large
    replicated families into LONG chains — the 400k-doc scaling tier
    produced components that neighbor-min alone could not resolve in 25
    rounds, while path halving collapses any realistic chain well
    inside the budget (25 rounds ≈ diameter 2²⁵).

    Returns (doc, canonical_doc, n_members) for every doc that appears
    in ≥1 pair; canonical_doc = min doc id of the component, so output
    is deterministic and oracle-checkable.

    Plan shape (round 5 — one data exchange per round, down from ~5):
    edges are cached hash-partitioned on ``dst`` and labels carry
    hash(id) partitioning out of each round's cached join output, so
    the probe join (dst == id) and the label update join (id == src,
    against the hash(src)-partitioned aggregate) both align with ZERO
    new exchange — only the propagation aggregate (groupBy src) moves
    data, which is the step that IS the propagation. Shuffle-hash hints
    keep the per-round joins sort-free, the convergence count reads the
    round's own cached output (old and new label ride the same barrier
    — no separate compare join), and component sizes come from one
    window over the final labels instead of a groupBy + self-join.
    """
    import time as _time

    # Barrier the INPUT pairs before the fwd/rev mirror: both selects
    # reference ``pairs``, so an unbarriered (typically expensive — the
    # whole MinHash mine-and-verify pipeline) producer would execute
    # twice when ``edges`` materializes. Inner barriers of the producer
    # dedup its scans but not its join/verify stages; this one-row-per-
    # pair materialization is strictly smaller than either re-run
    # (measured at the bench scale tier: CC round 1 drops ~7 s → ~4 s).
    pairs = barrier(pairs.select(id_a, id_b))
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = barrier(fwd.union(rev).distinct().repartition("dst"))
    if stats is not None:
        # instrumentation for the scaling/round-cut probes: per-round
        # wall seconds + changed-label counts (the loop is lazy until
        # each round's localCheckpoint, so timing the loop body times
        # the round's actual work)
        stats["rounds"] = []
    # ROUND 1 specialization (round 11): against the identity labeling
    # the general round body degenerates — label(dst) = dst, so the
    # probe join contributes min(dst) directly, and label(label(id)) =
    # id makes the pointer jump a no-op — so the whole first round is
    # ONE aggregate, least(src, min(dst)) per src, with zero joins. It
    # also subsumes the identity-labels barrier (distinct over edges +
    # a materialization) the loop previously seeded itself with: three
    # shuffle-hash joins, one distinct and one persist on the biggest
    # round (every label changes in round 1) replaced by one exchange.
    # The aggregate output is hash(src)-partitioned = hash(id), the
    # same alignment property every later round's cached output has.
    _round_t0 = _time.perf_counter()
    joined = barrier(
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("id"),
            F.col("src").alias("_old"),
            F.least(F.col("src"), F.col("_nbr")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    n_changed = joined.filter(F.col("label") != F.col("_old")).count()
    if stats is not None:
        stats["rounds"].append(
            {
                "sec": round(_time.perf_counter() - _round_t0, 3),
                "n_changed": n_changed,
            }
        )
    prev_cache = joined
    labels = joined.select("id", "label")
    for _ in range(max_iters - 1):
        if n_changed == 0:
            break
        _round_t0 = _time.perf_counter()
        nbr = (
            edges.join(labels.hint("shuffle_hash"), edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Pointer jumping: alongside the neighbor min, each node also
        # adopts its LABEL'S label (label(v) is a node in v's component,
        # so label(label(v)) is too — the update stays within the
        # component and is monotone decreasing). Neighbor-min alone
        # converges in O(diameter) rounds, and diameter is adversarial
        # in practice: the tier-2 scaling probe (400k docs, band-df cap
        # sparsifying 80-way dup families into chains) blew past 25
        # rounds. With the jump, chains halve every round —
        # O(log diameter) — so 25 rounds covers any component a real
        # corpus can produce. One extra shuffle-hash join per round on
        # the (id, label) table; the round count it buys back dominates.
        jump = (
            labels.select(
                F.col("id").alias("jid"), F.col("label").alias("jsrc")
            )
            .join(
                labels.hint("shuffle_hash").select(
                    F.col("id").alias("lid"), F.col("label").alias("jlabel")
                ),
                F.col("jsrc") == F.col("lid"),
            )
            .select("jid", "jlabel")
        )
        # localCheckpoint, not barrier: each round's plan references
        # ``labels`` THREE times (probe join, jump join, update join),
        # so an un-truncated lineage grows exponentially — plans that
        # OOM the driver's analyzer near round ~12 (caught by the
        # 12-node-path test; a persist materializes data but Catalyst
        # still re-analyzes the full tree). localCheckpoint cuts the
        # plan to a LogicalRDD each round, keeps the physical
        # partitioning (so the co-partitioning alignment below still
        # holds), and is eager — materialization doubles as this
        # round's barrier. On a cluster with a reliable checkpoint dir,
        # ``checkpoint()`` gives the same truncation with fault
        # tolerance.
        #
        # The persist LAYERED ON TOP is a second, distinct truncation —
        # of the SIZE ESTIMATE, not the plan. Dataset.checkpoint copies
        # the pre-checkpoint plan's Statistics into the LogicalRDD
        # (originStats), and join estimation MULTIPLIES sizeInBytes; a
        # loop of self-referencing joins therefore roughly CUBES the
        # estimate every round. The numbers stop meaning anything
        # almost immediately, and by convergence on the 400k-doc tier
        # the estimate was a ~20k-DIGIT BigInteger whose Karatsuba/
        # Toom-Cook multiplications made Catalyst's stats visitor the
        # bottleneck: 122 s of single-threaded DRIVER time in one round
        # against 8 s of executor time (jstack: BigInteger.multiply).
        # A materialized InMemoryRelation instead reports the ACTUAL
        # cached size, so planning each round on the persisted frame
        # re-seeds the estimate at ~11 bits and the per-round stats
        # cost is flat. The count() below is what materializes it;
        # barrier() supplies the tracked DISK_ONLY persist (the final
        # round's cache is then released with the query's other
        # barriers — in-loop rounds release below, idempotently).
        joined = barrier(
            labels.join(
                nbr.hint("shuffle_hash"), labels["id"] == nbr["src"], "left"
            )
            .join(jump, labels["id"] == F.col("jid"), "left")
            .select(
                labels["id"].alias("id"),
                labels["label"].alias("_old"),
                F.least(
                    labels["label"],
                    F.coalesce(F.col("nbr_label"), labels["label"]),
                    F.coalesce(F.col("jlabel"), labels["label"]),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = joined.filter(F.col("label") != F.col("_old")).count()
        if stats is not None:
            stats["rounds"].append(
                {
                    "sec": round(_time.perf_counter() - _round_t0, 3),
                    "n_changed": n_changed,
                }
            )
        # the previous round's cache is dead weight from here (same
        # discipline as the BPE merge loop — per-round caches must not
        # accumulate)
        prev_cache.unpersist(blocking=False)
        prev_cache = joined
        labels = joined.select("id", "label")
        if n_changed == 0:
            break
    if n_changed != 0:
        # explicit check, not for/else: round 1 runs before the loop, so
        # a for/else would mis-raise on a converged round 1 when
        # max_iters == 1 (zero loop iterations still run the else)
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} rounds"
        )
    wl = Window.partitionBy("label")
    return labels.select(
        F.col("id").alias("doc"),
        F.col("label").alias("canonical_doc"),
        F.count("*").over(wl).alias("n_members"),
    )


def minhash_near_dup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    max_band_df: int | None = None,
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """MinHash near-dup GROUPS end-to-end: connected components computed
    on the REP GRAPH (one node per identical-content family), then
    propagated to members with one join.

    Equivalent to ``near_dup_groups(minhash_near_duplicates(...))`` —
    same (doc, canonical_doc, n_members) rows — but the iterative
    propagation runs over |families| nodes and |verified family pairs|
    edges instead of |docs| nodes and every member-level pair.
    Correctness of the collapse: every member reaches its
    family rep (rep = min doc of the family, so the component minimum
    over reps IS the component minimum over docs), reps carry all
    verified inter-family links, and a family is in the output iff it
    can emit at least one pair (m ≥ 2 members — intra pairs at
    jaccard 1.0, impossible when threshold > 1.0 — or ≥ 1 verified
    cross pair).

    This is the 100 TB shape for grouping: exact-content collapse
    typically shrinks a crawl corpus 2-10×, so every propagation round's
    joins, checkpoints, and convergence counts run on the collapsed
    table while the full corpus is touched exactly twice — once to
    fingerprint members, once to join the final labels back.
    """
    members, verify, frames = _minhash_members_and_verified_pairs(
        df, id_col, text_col, k, num_hashes, band_size, threshold, max_band_df
    )
    verified = _sql(df.sparkSession, verify + "SELECT * FROM verified", **frames)
    # The verified pairs are between family reps, which are the
    # propagation node ids. A family is in the output iff it can emit a
    # pair: a verified cross pair (its rep has a root), or ≥ 2 members
    # (intra pairs at Jaccard 1.0, which qualify up to threshold 1.0).
    roots = near_dup_groups(
        verified.select("doc_a", "doc_b"), max_iters=max_iters, stats=stats
    )
    return _sql(
        df.sparkSession,
        f"""
        SELECT doc, canonical_doc,
               count(*) OVER (PARTITION BY canonical_doc) AS n_members
        FROM (SELECT m.doc, coalesce(r.canonical_doc, m.rep) AS canonical_doc
              FROM {{members}} m LEFT JOIN {{roots}} r ON r.doc = m.rep
              WHERE r.canonical_doc IS NOT NULL
                 OR (m.family_size >= 2 AND {threshold <= 1.0}))
        """,
        members=members,
        roots=roots,
    )


# --- SimHash ----------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 60,
    use_arrow: bool = True,
) -> DataFrame:
    """SimHash over the distinct token set: bit b of the fingerprint is the
    majority vote of bit b across token hashes.

    Token hash = the same md5-derived 60-bit integer as MinHash, so the
    fingerprint is engine-reproducible (an xxhash64 variant would be faster
    but oracle-opaque). Both forms are pure maps with ZERO shuffle —
    nothing to spill or skew at 100 TB.

    Default form: one Arrow ``mapInPandas`` kernel per batch — tokenize,
    hashlib-md5 per distinct token, one numpy bit-matrix popcount.
    Measured 1.16 s vs 3.20 s for the JVM 60-fold expression form at the
    100k-doc probe, fingerprints bit-identical (the earlier A/B that kept
    the folds only compared JVM variants: folds 3.0 s beat explode+sum
    5.2 s and packed-long 4.5 s; the Python kernel beats them all because
    2.3M hashlib calls parallelize across workers while each JVM md5 goes
    through the interpreted HOF transform).

    ``use_arrow=False`` keeps the pure-expression form: tokens → hash
    array → per-bit popcounts via 60 ``F.aggregate`` folds. It remains
    the choice when Python workers are unavailable (JVM-only clusters).
    """
    assert bits <= 60, "md5-derived hash provides 60 bits"
    if use_arrow:
        return _simhash_arrow(df, id_col, text_col, bits)
    hashed = spread(df).select(
        F.col(id_col).alias("doc"),
        F.transform(
            F.array_distinct(
                F.split(
                    F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                    " ",
                )
            ),
            lambda t: _md5_hash64(t, 0),
        ).alias("hs"),
    ).withColumn("n_tok", F.size("hs"))
    ones = lambda b: F.aggregate(  # noqa: E731
        "hs",
        F.lit(0).cast("long"),
        lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)),
    )
    fp = None
    for b in range(bits):
        bit = (ones(b) * 2 > F.col("n_tok")).cast("long") * F.lit(1 << b)
        fp = bit if fp is None else fp + bit
    return hashed.select(F.col("doc").alias(id_col), fp.alias(f"simhash{bits}"))


def _simhash_arrow(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Arrow kernel behind :func:`simhash`: same normalization (lower,
    collapse whitespace, trim, split), same ``md5('0|' + token)`` 60-bit
    hashes, popcounts as one (n_tokens × bits) numpy bit matrix. Parity
    with the expression form is asserted per-call-site by the oracle suite
    and was verified bit-identical over the 100k-doc probe."""
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    # ASCII whitespace ONLY, and the token split must reproduce the
    # expression form exactly: Java regex \s (no UNICODE_CHARACTER_CLASS)
    # is [ \t\n\x0B\f\r], Spark's trim strips ASCII spaces, and
    # split-on-" " of an empty string yields one empty token. Python's
    # bare str.split()/strip() are UNICODE-whitespace (\xa0,  , …)
    # and drop the empty token — a crawl document containing an NBSP
    # would fingerprint differently in the two forms. CASE: Python
    # str.lower() and Java toLowerCase both implement Unicode default
    # case conversion (final sigma included — verified agreement in
    # tests/test_repetition.py); the residual divergence class is a
    # Turkish/Azeri/Lithuanian JVM DEFAULT LOCALE, where Java's
    # locale-sensitive mapping lowers 'I' to dotless 'ı' while
    # Python's locale-free mapping does not.
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    shifts = np.arange(bits, dtype=np.int64)
    # nullable: NULL text must yield a NULL fingerprint, matching the
    # expression form (where every step of the popcount folds NULL
    # through) — the kernel previously crashed the worker on the first
    # NULL document.
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(f"simhash{bits}", T.LongType(), True),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-task token-hash memo: md5('0|'+token) is a pure function of
        # the token, and real corpora follow Zipf — most token
        # occurrences are repeats (duplicate-heavy corpora extremely so).
        # Capped so an adversarial unbounded vocabulary cannot grow the
        # worker heap; at the cap the kernel degrades to the uncached
        # cost, never above it. Measured at the bench scale tier (100k
        # docs): 2.32M uncached md5 calls; memoized calls ≈ per-task
        # distinct vocabulary (the synthetic tier's 31-token vocabulary
        # × ~32 tasks ≈ 1k — real corpora land in between, bounded by
        # the cap).
        memo: dict[str, int] = {}
        memo_cap = 1_000_000

        def h(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int(hashlib.md5(("0|" + t).encode()).hexdigest()[:15], 16)
                if len(memo) < memo_cap:
                    memo[t] = v
            return v

        for pdf in batches:
            fps: list[int | None] = [None] * len(pdf)
            for i, text in enumerate(pdf[text_col]):
                if text is None:
                    continue  # NULL text → NULL fingerprint (expr parity)
                toks = dict.fromkeys(
                    ws.sub(" ", text.lower()).strip(" ").split(" ")
                )
                hs = np.fromiter(
                    (h(t) for t in toks), dtype=np.int64, count=len(toks)
                )
                ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
                fps[i] = int((((ones * 2 > len(hs)).astype(np.int64)) << shifts).sum())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    f"simhash{bits}": pd.array(fps, dtype="Int64"),
                }
            )

    return spread(df.select(id_col, text_col)).mapInPandas(kernel, out_schema)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 60,
    n_blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the fingerprint into ``n_blocks`` blocks;
    any pair within Hamming ``n_blocks - 1`` matches exactly on ≥1 block,
    so candidates come from an equi-join on (block_idx, block_value) —
    shuffle O(n·blocks) — and only candidates pay the popcount verify.
    Requires ``max_hamming < n_blocks`` for zero false negatives.
    """
    assert max_hamming < n_blocks, "pigeonhole guarantee needs hamming < blocks"
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    fp_col = f"simhash{bits}"
    # Identical-fingerprint collapse (same cascade as MinHash): candidacy
    # and Hamming distance are pure functions of the fingerprint, so the
    # block join runs over DISTINCT fingerprints; same-fp docs pair up
    # directly at hamming 0 and cross-fp rep pairs expand to members.
    # Output provably identical; the verify join shrinks from O(docs ×
    # blocks) to O(distinct fps × blocks) rows.
    all_fps = barrier(
        simhash(df, id_col, text_col, bits).select(
            F.col(id_col).alias("doc"), F.col(fp_col).alias("fp")
        )
    )
    # Round 12: both sides of the block self-join (a/b below) derive
    # from ``blocks`` — left lazy, the distinct-fp aggregate and the
    # block expansion execute once per side. Barriered (≤ n_blocks
    # skinny rows per DISTINCT fingerprint), they run once — the same
    # double-evaluation guard as the MinHash band barrier.
    fps = all_fps.groupBy("fp").agg(F.min("doc").alias("doc"))
    blocks = barrier(fps.select(
        F.col("doc"),
        F.col("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftright("fp", b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("doc", "fp", "blk.block_idx", "blk.block_val"))
    a = blocks.select(
        "block_idx", "block_val", F.col("doc").alias("doc_a"), F.col("fp").alias("fp_a")
    )
    b = blocks.select(
        "block_idx", "block_val", F.col("doc").alias("doc_b"), F.col("fp").alias("fp_b")
    )
    # Hamming verify BEFORE the pair distinct (round 11): the distance is
    # a pure in-row function of (fp_a, fp_b), so filtering first drops
    # the (overwhelmingly failing — random-fp block collisions) candidate
    # pairs before the distinct's exchange instead of after it; the
    # distinct then dedups true pairs only. Same rows out — filter and
    # distinct commute on a pair-deterministic predicate.
    rep_pairs = (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("fp_a", "fp_b", "hamming")
        .distinct()
    )
    # Expand rep pairs to member pairs; ids interleave across fp groups.
    ma = all_fps.select(F.col("fp").alias("fp_a"), F.col("doc").alias("da"))
    mb = all_fps.select(F.col("fp").alias("fp_b"), F.col("doc").alias("db"))
    cross = (
        rep_pairs.join(ma, "fp_a")
        .join(mb, "fp_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    # Same-fingerprint docs: every pair is hamming 0 (always ≤ max_hamming).
    s1 = all_fps.select("fp", F.col("doc").alias("doc_a"))
    s2 = all_fps.select("fp", F.col("doc").alias("doc_b"))
    intra = (
        s1.join(s2, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("long").alias("hamming"))
    )
    return cross.unionByName(intra)
