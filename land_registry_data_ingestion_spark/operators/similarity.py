"""Similarity search over embedding columns (scale-out §8).

- ``cosine_pairs``: threshold similarity self-join. Brute force is O(n²)
  and only acceptable inside buckets; the public entry points bucket first.
- ``brute_force_topk``: exact top-k for a (small) query set against the
  full corpus — the correctness baseline. Queries broadcast; corpus never
  shuffles; per-partition heap via groupBy + window.
- ``lsh_bucketed_pairs``: random-hyperplane LSH — sign bits of projections
  onto deterministic pseudo-random hyperplanes form a bucket key; near
  neighbors collide with high probability. Shuffle is O(n·tables), the
  100 TB path. Hyperplanes derive from md5 bits, so runs are reproducible
  without RNG state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from land_registry_data_ingestion_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from land_registry_data_ingestion_spark.util import barrier, spread


def _finite_vec(vec: Column) -> Column:
    """True iff the vector's self-dot is finite — i.e. no NaN/±Inf
    component (and no overflow): the vector participates in L2/PQ
    geometry. Cosine additionally needs a nonzero norm — see
    ``cosine_similarity``'s NULL contract and ``_collapse_identical_
    vectors``' ``pairable`` flag. Oracle-equivalent DuckDB predicate:
    ``isfinite(list_dot_product(v, v))`` (self-dot of a real vector is
    ≥ 0, NaN, or +Inf — never −Inf)."""
    sd = dot_product(vec, vec)
    return ~F.isnan(sd) & (sd != F.lit(float("inf")))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); ranking ties
    break on neighbor id for determinism. Self-matches are excluded.

    Degenerate-vector contract (adversarial-data round 8): a NULL cosine
    (either side zero-norm or NaN/Inf-poisoned — see
    ``cosine_similarity``) never ranks. A degenerate NEIGHBOR is excluded
    from every candidate list, and a degenerate QUERY returns no rows at
    all, rather than k neighbors ordered by id under an undefined score.

    Round 11 (guide §4.1/§2.3): the query side is tiny by contract, so it
    is COLLECTED and closed over an Arrow kernel instead of broadcast
    into a crossJoin whose cosine ran as an interpreted HOF fold per
    (query, corpus) row; the kernel scores each corpus batch against all
    queries with the same sequential fold (`_seq_cross_dots` — per-
    dimension order identical to the expression form, same round(·, 6),
    non-finite → dropped, exactly the old NULL-cosine filter) and emits
    only its batch's top-k per query. The global rank orders by
    (-cosine, neighbor_id), a total order, so per-batch top-k loses
    nothing; the final window sorts queries·k·batches rows instead of
    queries·corpus. Still exact brute force: every corpus vector is
    scored against every query.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    q_rows = [
        (r["query_id"], r["q_vec"])
        for r in queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ).collect()
        # NULL query ids never pair (the old `neighbor_id != query_id`
        # filter three-valued-dropped them); NULL query vectors have
        # NULL cosine everywhere and return no rows — skip both.
        if r["query_id"] is not None and r["q_vec"] is not None
    ]
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    # non-integral id columns (e.g. string keys) ride through as native
    # numpy object arrays — lexsort/emit handle them; the int64 cast only
    # exists to undo pandas' NaN-driven float64 widening of nullable ints
    integral_ids = id_type in ("bigint", "int", "smallint", "tinyint")
    id_pd_dtype = "int64" if integral_ids else "object"
    if q_rows:
        q_ids = np.array(
            [i for i, _ in q_rows],
            dtype=np.int64 if integral_ids else object,
        )
        Q = np.array([np.asarray(v, dtype=np.float64) for _, v in q_rows])
        qnorm = np.sqrt(_seq_pair_dots(Q, Q))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty_pdf = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cosine": []}
        ).astype(
            {"query_id": id_pd_dtype, "neighbor_id": id_pd_dtype,
             "cosine": "float64"}
        )
        for pdf in batches:
            # NULL vectors scored a NULL cosine in the expression form and
            # were filtered; drop them here so np.array never sees a 0-d
            # None (ragged-batch crash), mirroring the NULL-id drop
            pdf = pdf[pd.notna(pdf[id_col]) & pdf[vec_col].notna()]
            if len(pdf) == 0 or not q_rows:
                yield empty_pdf
                continue
            ids = pdf[id_col].to_numpy()
            if integral_ids and ids.dtype != np.int64:
                ids = ids.astype(np.int64)
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            mnorm = np.sqrt(_seq_pair_dots(M, M))
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.round(
                    _seq_cross_dots(Q, M) / np.multiply.outer(qnorm, mnorm), 6
                )
            outs = []
            for qi in range(len(q_ids)):
                keep = np.isfinite(cos[qi]) & (ids != q_ids[qi])
                d = cos[qi][keep]
                mid = ids[keep]
                take = np.lexsort((mid, -d))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(take), q_ids[qi]),
                            "neighbor_id": mid[take],
                            "cosine": d[take],
                        }
                    )
                )
            yield pd.concat(outs) if outs else empty_pdf

    scored = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_rows: int = 100_000,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — brute-force baseline.

    Internal/size-guarded: the broadcast side is the whole table and the
    plan is a BroadcastNestedLoopJoin, so this form is only valid for
    bounded inputs (verification baselines, per-bucket joins). The guard
    refuses inputs above ``max_rows``; the declared scale path is
    :func:`blocked_cosine_pairs` (exact, shuffle-partitioned) or
    :func:`lsh_bucketed_pairs` (approximate, sub-quadratic candidates).
    """
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs is an O(n²) broadcast baseline, refused for "
            f">{max_rows} rows; use blocked_cosine_pairs (exact) or "
            f"lsh_bucketed_pairs (approximate)"
        )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _collapse_identical_vectors(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Dedup-cascade front half: group rows by IDENTICAL embedding array
    (exact float equality — replicas/re-crawls are bit-identical copies).

    Every cosine-pair operator downstream is a pure function of the
    vector, so an m-way duplicate family contributes m·(candidates,
    verifies) of redundant work and C(m,2) trivial pairs; collapsing to
    one representative first makes the quadratic stages run on distinct
    vectors only. Returns ``(rep_df, members)``: ``rep_df`` has the
    operator's (id, vec) schema with the min member id as representative
    id; ``members`` maps ``gid → member id`` and carries a ``pairable``
    flag — self-dot finite AND > 0. A degenerate vector (zero norm, or
    any NaN/±Inf component) has no defined cosine and never pairs, EVEN
    WITH AN IDENTICAL COPY OF ITSELF — expansion must mirror the verify
    kernel, where such a pair's cosine is NaN → NULL → dropped
    (adversarial-data round 8: two bit-identical NaN-lane vectors must
    not emit an intra-family pair at cosine 1.0).
    """
    members_raw = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    sd = dot_product(F.col("vec"), F.col("vec"))
    # NaN guard must be explicit: Spark orders NaN above every double, so
    # `sd > 0` alone is TRUE for a NaN self-dot.
    pairable = ~F.isnan(sd) & (sd != F.lit(float("inf"))) & (sd > 0.0)
    # ONE vector-keyed shuffle (round 11, guide §2.4): the SAME hash
    # aggregate that finds the family minimum also collects the member
    # ids in-group, so the corpus crosses a fat (array-keyed) exchange
    # once and the barrier holds one row per FAMILY — the previous shape
    # shuffled the corpus by the full vector twice (groupBy + join back
    # on vec) and materialized two barriers. Ids are collected as
    # 1-field structs: collect_list drops bare NULLs, and a NULL-id
    # member row must survive into `members` exactly as the old
    # vec-equality join kept it.
    fam = barrier(
        members_raw.groupBy("vec").agg(
            F.min("id").alias("gid"),
            F.collect_list(F.struct(F.col("id").alias("i"))).alias("_ids"),
        )
    )
    # NULL-vec rows: the old inner join on vec dropped them from members
    # (NULL never equality-matches), while the old groupBy kept their
    # group's representative in rep_df — mirror both exactly.
    members = (
        fam.filter(F.col("vec").isNotNull())
        .select("gid", F.explode("_ids").alias("_m"), pairable.alias("pairable"))
        .select("gid", F.col("_m.i").alias("id"), "pairable")
    )
    rep_df = fam.select(F.col("gid").alias(id_col), F.col("vec").alias(vec_col))
    return rep_df, members


def _expand_identical_pairs(
    rep_pairs: DataFrame, members: DataFrame, threshold: float
) -> DataFrame:
    """Dedup-cascade back half: representative pairs → member pairs.

    Cross-family rep pairs expand to the member cross product (same
    cosine — the vectors are identical); intra-family pairs are emitted
    directly at cosine 1.0 (what the verify kernel computes for identical
    PAIRABLE vectors after round-6 — degenerate families emit nothing,
    matching the kernel's NaN → dropped). Output provably equals running
    the pair operator over all rows."""
    ma = members.select(F.col("gid").alias("id_a"), F.col("id").alias("da"))
    mb = members.select(F.col("gid").alias("id_b"), F.col("id").alias("db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "cosine",
        )
    )
    if threshold > 1.0:  # degenerate config: cosine 1.0 wouldn't qualify
        return cross
    nz = members.filter(F.col("pairable"))
    i1 = nz.select("gid", F.col("id").alias("id_a"))
    i2 = nz.select("gid", F.col("id").alias("id_b"))
    intra = (
        i1.join(i2, "gid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("cosine"))
    )
    return cross.unionByName(intra)


# Auto-sizing target: distinct vectors per hash block. Bounds the
# per-group kernel at ~2·this many rows, i.e. an 8192² score matrix
# worst-case per task (chunked), independent of corpus size.
_BLOCK_TARGET_ROWS = 4096


def _auto_n_blocks(n_reps: int, parallelism: int) -> int:
    """Block count for :func:`blocked_cosine_pairs`: ⌈n/4096⌉ keeps every
    group's kernel bounded; the √parallelism floor keeps small corpora
    spread across the cluster (group count ≈ blocks²/2 ≈ cores/2)."""
    floor = max(1, math.isqrt(parallelism))
    return max(floor, math.ceil(n_reps / _BLOCK_TARGET_ROWS))


def blocked_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine-threshold self-join as a 2D block-partitioned theta
    join (Okcan & Riedewald's 1-bucket style): no broadcast of the corpus,
    no BroadcastNestedLoopJoin, compute sharded evenly across the cluster.

    Each row lands in hash block ``blk ∈ [0, n_blocks)`` and is replicated
    to the ``n_blocks`` unordered block-pair groups it participates in, so
    every pair of rows co-locates in EXACTLY one group (the filter keeps a
    pair only in the group addressed by its own two blocks — no distinct
    needed). Shuffle is O(n·n_blocks) vectors via a plain hash join on the
    group key; per-task compute is O((n/n_blocks)²) exact cosines on the
    Arrow fast path.

    ``n_blocks=None`` (default) derives the block count from the DISTINCT
    vector count so a 100× input cannot silently build an O((n/8)²) task:
    blocks scale as ⌈n/4096⌉ (floored at √parallelism so small corpora
    still spread over the cluster), bounding every group's kernel at ~8k
    vectors regardless of corpus size — replication (and thus shuffle)
    grows as n·⌈n/4096⌉, the unavoidable O(n²/B) cost of an exact
    threshold self-join. The result is identical for ANY block count
    (each unordered pair scores in exactly one group), so the parameter
    is purely physical.

    Why exact-blocked rather than LSH here: at a permissive threshold like
    0.4 the equivalent distance radius on the unit sphere is
    ε = √(2−2·0.4) ≈ 1.10 — over half the sphere's diameter — so no
    metric pruning or LSH parameterization can guarantee recall 1.0; an
    exact threshold join is inherently Ω(n²) compare work. This operator
    makes that work distribute; for the realistic near-dup regime
    (threshold ≥ 0.8) prefer :func:`lsh_bucketed_pairs`, whose candidate
    set is sub-quadratic.
    """
    # Identical-vector collapse: the O(n²/blocks²) per-task compute runs
    # over distinct vectors only; duplicate families re-expand at the end.
    rep_df, members = _collapse_identical_vectors(df, id_col, vec_col)
    if n_blocks is None:
        # rep_df is barriered by the collapse, so this count fills the
        # cache the block assignment below reads — not an extra pass.
        n_blocks = _auto_n_blocks(
            rep_df.count(), df.sparkSession.sparkContext.defaultParallelism
        )
    base = rep_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    pair_groups = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda j: F.struct(
            F.least(F.col("blk"), j).alias("gi"),
            F.greatest(F.col("blk"), j).alias("gj"),
        ),
    )
    rep = base.withColumn("g", F.explode(pair_groups)).select(
        F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj"), "blk", "id", "vec"
    )
    # Score INSIDE each block-pair group (applyInPandas): a pair with
    # blocks (i, j) lives only in group (min, max), so emitting every
    # in-group qualifying pair is exactly-once globally. The earlier form
    # self-joined the replicas and shipped ~n²/2 (vec_a, vec_b) rows
    # through the shuffle and Arrow before scoring — measured 53 s at 5k
    # vectors; this form moves only the O(n·n_blocks) replicated rows and
    # the surviving pairs, with the n²-compute done as an in-kernel
    # sequential-fold matmul (bit-identical to the fold the oracle runs).
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_type}, id_b {id_type}, cosine double"
    )
    chunk = 2048  # bounds the (chunk × group) score matrix per step

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(pdf["gi"].iloc[0]), int(pdf["gj"].iloc[0])
        out_a, out_b, out_c = [], [], []

        def emit(ids_a, va, ids_b, vb, triangular: bool) -> None:
            nb_norm = np.sqrt(_seq_pair_dots(vb, vb))
            na_norm = np.sqrt(_seq_pair_dots(va, va))
            for s in range(0, len(ids_a), chunk):
                e = s + chunk
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.round(
                        _seq_cross_dots(va[s:e], vb)
                        / np.multiply.outer(na_norm[s:e], nb_norm),
                        6,
                    )
                # NaN already fails >= threshold, but a nonzero dot over
                # an underflowed-to-0.0 norm product is +Inf and would
                # PASS it — mask to NaN so degenerate pairs never emit
                # (same contract as cosine_score_pairs_vectorized).
                cos = np.where(np.isfinite(cos), cos, np.nan)
                ii, jj = np.nonzero(cos >= threshold)
                ia, ib = ids_a[s:e][ii], ids_b[jj]
                keep = ia < ib if triangular else ia != ib
                # orientation: emit (min, max) exactly once
                lo = np.where(ia < ib, ia, ib)
                hi = np.where(ia < ib, ib, ia)
                if not triangular:
                    # cross-block: every unordered pair appears once as
                    # (i-side, j-side); keep all, just orient
                    keep = np.ones(len(ia), dtype=bool)
                out_a.append(lo[keep])
                out_b.append(hi[keep])
                out_c.append(cos[ii, jj][keep])

        if gi == gj:
            ids = pdf.loc[pdf["blk"] == gi, "id"].to_numpy()
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf.loc[pdf["blk"] == gi, "vec"]]
            )
            if len(ids):
                emit(ids, V, ids, V, triangular=True)
        else:
            mi, mj = pdf["blk"] == gi, pdf["blk"] == gj
            ids_i = pdf.loc[mi, "id"].to_numpy()
            ids_j = pdf.loc[mj, "id"].to_numpy()
            if len(ids_i) and len(ids_j):
                Vi = np.array([np.asarray(v, dtype=np.float64) for v in pdf.loc[mi, "vec"]])
                Vj = np.array([np.asarray(v, dtype=np.float64) for v in pdf.loc[mj, "vec"]])
                emit(ids_i, Vi, ids_j, Vj, triangular=False)
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    rep_pairs = rep.groupBy("gi", "gj").applyInPandas(kernel, out_schema)
    return _expand_identical_pairs(rep_pairs, members, threshold)


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bits."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{table}|{plane}|{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # ≈ U(-1, 1)
    return vals


def lsh_bucket_key(
    vec: Column, dim: int, table: int, n_planes: int = 8
) -> Column:
    """Sign-bit bucket key of ``vec`` for one LSH table — pure-expression
    reference form. Spark interprets higher-order functions (~10 µs per
    dot), so this costs n_planes interpreted folds per row; the production
    path is :func:`lsh_bucket_keys_vectorized` (tests assert the two agree
    bit-for-bit)."""
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, table, p)])
        dot = F.aggregate(
            F.zip_with(vec.cast("array<double>"), plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_keys_vectorized(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
) -> DataFrame:
    """All LSH table keys per vector in ONE Arrow kernel: each batch does a
    single (n, d) × (d, tables·planes) matmul (sequential fold over d, so
    the sums — and therefore the sign bits — are bit-identical to the
    interpreted ``aggregate(zip_with(...))`` form and to DuckDB's
    ``list_dot_product``). Returns (id, vec, keys: array<string>), one key
    string per table. Keys are defined for FINITE vectors only: a NaN
    plane dot signs differently per engine (numpy ``NaN >= 0`` is False;
    Spark/DuckDB order NaN above everything → True), so callers exclude
    non-finite vectors first (``lsh_bucketed_pairs`` applies
    ``_finite_vec``) — the bit-for-bit parity holds on that domain. Replaces tables × planes interpreted HOF folds per
    row (~10 µs each) with vectorized numpy — the same trap/fix as the IVF
    index build."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    P = np.array(
        [
            _hyperplane(dim, t, p)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )  # (tables·planes, d)
    # plane p of table t contributes bit p (leftmost = plane 0) of key t
    pw = 1 << np.arange(n_planes - 1, -1, -1)
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, True),
            T.StructField("vec", df.schema[vec_col].dataType, True),
            T.StructField("keys", T.ArrayType(T.StringType()), False),
        ]
    )
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            bits = _seq_cross_dots(M, P) >= 0.0  # (n, tables·planes)
            vals = bits.reshape(len(pdf), n_tables, n_planes) @ pw  # (n, tables)
            yield pdf.assign(
                keys=[
                    [format(v, f"0{n_planes}b") for v in row] for row in vals
                ]
            )

    return src.mapInPandas(kernel, out_schema)


def lsh_bucketed_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_tables: int = 4,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate cosine-threshold pairs: candidates collide in ≥1 LSH
    table, then exact cosine verifies. Shuffle O(n·tables); bucket keys
    come from the Arrow-vectorized kernel (one matmul per batch).

    Non-finite vectors never BUCKET (not merely never pair): a NaN-lane
    dot signs differently per engine (numpy ``NaN >= 0`` is False, Spark
    and DuckDB order NaN above every value → True), so leaving them in
    would make the CANDIDATE sets non-replayable even though the exact
    cosine verify drops their pairs on every side. The ``_finite_vec``
    filter here and the matching ``isfinite(list_dot_product(v, v))``
    in the oracle keep candidates, not just outputs, deterministic.
    Zero-norm vectors bucket fine (dot 0 → bit '1' everywhere) and are
    dropped by the verify's NULL cosine."""
    # Identical-vector collapse first (bucket keys, candidacy and cosine
    # are pure functions of the vector) — the within-bucket quadratic
    # candidate term runs over distinct vectors only.
    rep_df, members = _collapse_identical_vectors(
        df.filter(_finite_vec(F.col(vec_col))), id_col, vec_col
    )
    # Round-11 verify (guide §2.3/§4, same restructure as
    # :func:`semantic_dedup`): each bucket entry crosses the shuffle and
    # the Arrow boundary ONCE — (tbl, bkt, id, vec), n·tables rows — and
    # a grouped kernel scores the in-bucket triangle with chunked
    # sequential-fold matmuls, emitting only pairs at ``cosine ≥
    # threshold``. The round-10 shape materialized the within-bucket
    # quadratic as id-pair rows, distinct-shuffled them, re-attached
    # vectors with two joins, and shipped every candidate pair (two
    # vectors each) through the per-pair Arrow verify — ~40× the bytes
    # across the boundary at typical bucket occupancy. A pair colliding
    # in several tables now verifies once per table and dedups AFTER the
    # kernel: the cosine is a pure function of the two vectors (same
    # fold, same round(·, 6)), so the duplicate rows are bit-identical
    # and ``distinct`` on (id_a, id_b, cosine) keeps exactly the rows
    # the candidates-first shape produced.
    import numpy as np
    import pandas as pd

    keyed = lsh_bucket_keys_vectorized(
        rep_df, dim, id_col, vec_col, n_tables, n_planes
    ).select("id", "vec", F.posexplode("keys").alias("tbl", "bkt"))
    id_type = df.schema[id_col].dataType.simpleString()
    chunk = 2048

    def bucket_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cosine": []}
            ).astype({"cosine": "float64"})
        V = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
        )[order]
        norms = np.sqrt(_seq_pair_dots(V, V))
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.round(
                    _seq_cross_dots(V[s:e], V)
                    / np.multiply.outer(norms[s:e], norms),
                    6,
                )
            cos = np.where(np.isfinite(cos), cos, np.nan)
            ii, jj = np.nonzero(cos >= threshold)
            keep = (ii + s) < jj
            out_a.append(ids[ii[keep] + s])
            out_b.append(ids[jj[keep]])
            out_c.append(cos[ii[keep], jj[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    rep_pairs = (
        keyed.groupBy("tbl", "bkt")
        .applyInPandas(
            bucket_kernel, f"id_a {id_type}, id_b {id_type}, cosine double"
        )
        .distinct()
    )
    return _expand_identical_pairs(rep_pairs, members, threshold)


# --- IVF (inverted-file) ANN ------------------------------------------------


def refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """Lloyd refinement of the coarse quantizer: assign (Arrow argmax
    kernel) → per-list mean (grouped Arrow kernel) → repeat.

    Each iteration costs one corpus scan + one shuffle of (centroid_id,
    vector) — the unavoidable k-means data movement; the mean runs in
    numpy via ``applyInPandas`` per list. Empty lists keep their previous
    centroid. Returns the refined (id, vec) frame with the same schema.

    Deliberately NOT behind the declared oracle query: distributed float
    means depend on partition-order summation, so refined centroids are
    not bit-reproducible by a second engine — the declared ``sim_ivf_topk``
    keeps the seeded quantizer for exact oracle replay, and tests pin the
    refinement by its EFFECT (recall vs brute force) instead.
    """
    import numpy as np
    import pandas as pd

    from land_registry_data_ingestion_spark.util import barrier

    out_schema = centroids.select(id_col, vec_col).schema
    # Each round's centroid frame is consumed twice (assignment + the
    # empty-list anti-join) and feeds the next round: left lazy, the plan
    # nests and RE-RUNS every earlier round's corpus assignment — 2^iters
    # recompute. Barrier per round (centroid-count rows — tiny, memory)
    # and drop the previous round's cache once superseded.
    cur = barrier(centroids.select(id_col, vec_col), small=True)
    for _ in range(iters):
        assigned = ivf_assign_vectorized(
            corpus.select(id_col, vec_col), cur, id_col, vec_col
        )

        def mean_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            return pd.DataFrame(
                {
                    id_col: [int(pdf["centroid_id"].iloc[0])],
                    vec_col: [M.mean(axis=0).astype(np.float32)],
                }
            )

        means = assigned.groupBy("centroid_id").applyInPandas(
            mean_kernel, out_schema
        )
        # empty lists: fall back to the previous centroid
        kept = cur.join(
            means.select(F.col(id_col).alias("_mid")),
            cur[id_col] == F.col("_mid"),
            "left_anti",
        )
        prev = cur
        # localCheckpoint inside the barrier: each round references
        # ``cur`` TWICE (assignment + anti-join), so without truncation
        # the logical tree doubles per round — the analyzer-OOM shape
        # near_dup_groups hit at ~12 rounds. Centroid frames are tiny,
        # so the eager checkpoint costs one pass the round already owes;
        # the barrier on top keeps the tracked release + fast re-reads.
        cur = barrier(
            means.unionByName(kept).localCheckpoint(eager=True), small=True
        )
        cur.count()  # materialize through prev BEFORE dropping its cache
        prev.unpersist(blocking=False)
    return cur


def seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_centroids`` smallest-id
    vectors. At cluster scale these seeds would be refined with distributed
    k-means (k-means|| init); the seeded form is kept as-is here so a
    second engine can rebuild the identical index with no RNG state."""
    return corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids)


def _seq_pair_dots(A, B):
    """Row-wise dot of two (n, d) float64 matrices with an explicit
    left-to-right fold over dimensions — bit-identical to the JVM
    ``aggregate(zip_with(...))`` fold and DuckDB's ``list_dot_product``,
    which is what keeps the numpy fast path oracle-checkable."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def _seq_cross_dots(M, C):
    """(n, d) × (k, d) → (n, k) dots, same sequential fold over d."""
    import numpy as np

    acc = np.zeros((M.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(M.shape[1]):
        acc += np.multiply.outer(M[:, d], C[:, d])
    return acc


def ivf_assign_vectorized(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str | None = None,
) -> DataFrame:
    """Index build on the Arrow fast path: centroids are collected (small
    by construction) and closed over; each Arrow batch of corpus vectors is
    scored against all lists with vectorized numpy and gets its argmax
    ``centroid_id``. Spark's higher-order functions are interpreted (not
    codegen'd), so the pure-expression build costs ~10 µs per dot; the
    numpy kernel is ~1000× that throughput while producing bit-identical
    cosines (sequential fold + identical rounding inputs)."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(id_col, vec_col).collect()
        # a NULL-vec centroid scored NULL → -2.0 in the expression form
        # and could never win an argmax against any real centroid; skip
        # it so np.array never sees a ragged/None row (round-12 ADVICE
        # crash class — the declared contract keeps vectors non-NULL)
        if r[1] is not None
    )
    out_fields = list(corpus.schema.fields) + [
        T.StructField("centroid_id", T.LongType(), False)
    ]
    if score_col is not None:
        # The kernel already has the full (n, k) cosine matrix in hand —
        # emitting the winning score here saves the caller a broadcast
        # join + a second Arrow scoring pass over the corpus. Nullable:
        # a degenerate (zero-norm) vector has no defined cosine — its
        # score surfaces as NULL (NaN → Arrow null), so aggregates skip
        # it exactly like the oracle's AVG; a non-nullable field here
        # makes codegen read the null slot and crash the query.
        out_fields.append(T.StructField(score_col, T.DoubleType(), True))
    out_schema = T.StructType(out_fields)

    if not rows:
        # No centroids at all (empty corpus, or every seed filtered as
        # degenerate): nothing is assignable — an empty result with the
        # declared schema, not an unshaped-numpy IndexError (empty-tier
        # adversarial gate, round 9).
        return corpus.sparkSession.createDataFrame([], out_schema)
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    C = np.array([v for _, v in rows], dtype=np.float64)
    cnorm = np.sqrt(_seq_pair_dots(C, C))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL-vec row has no defined cosine against any list and
            # is unassignable — drop it (same ragged-batch crash class
            # as the centroid guard above; vectors are non-NULL by the
            # declared contract, so this only crash-proofs the operator)
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vnorm = np.sqrt(_seq_pair_dots(M, M))
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.round(
                    _seq_cross_dots(M, C) / np.multiply.outer(vnorm, cnorm), 6
                )
            # Degenerate (zero-norm / NaN) vector or centroid scores -2.0,
            # exactly like the expression form's coalesce(nanvl(...), -2.0)
            # in _ivf_assign_attached: below every real cosine, so the
            # argmax degrades to the smallest cid. Without this, a single
            # zero-norm CENTROID poisons one score column with NaN and
            # np.argmax returns the NaN index — assigning the whole corpus
            # to that list (adversarial-data round 8).
            guarded = np.where(np.isfinite(cos), cos, -2.0)
            # argmax returns the FIRST max → ties go to the smallest cid
            # (rows are sorted by cid), matching the JVM struct-max order
            best = np.argmax(guarded, axis=1)
            out = pdf.assign(centroid_id=cids[best])
            if score_col is not None:
                # a degenerate winner's score surfaces as NULL: NaN
                # crosses Arrow as NULL already, but a ±Inf quotient
                # (nonzero dot over an underflowed norm product) would
                # survive as a real Inf and rank first — mask to NaN
                win = cos[np.arange(len(best)), best]
                out = out.assign(
                    **{score_col: np.where(np.isfinite(win), win, np.nan)}
                )
            yield out

    return corpus.mapInPandas(kernel, out_schema)


def cosine_score_pairs_vectorized(
    df: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str = "cosine",
) -> DataFrame:
    """Append round(cosine(a, b), 6) per row via the Arrow fast path —
    for bulk candidate verification where the interpreted HOF fold would
    dominate. Fold order matches the JVM/DuckDB expression exactly."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array([np.asarray(v, dtype=np.float64) for v in pdf[a_col]])
            B = np.array([np.asarray(v, dtype=np.float64) for v in pdf[b_col]])
            dots = _seq_pair_dots(A, B)
            na = np.sqrt(_seq_pair_dots(A, A))
            nb = np.sqrt(_seq_pair_dots(B, B))
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.round(dots / (na * nb), 6)
            # Non-finite → NaN → Arrow NULL. 0/0 is already NaN, but a
            # NONZERO dot over a norm product that underflows to 0.0
            # (all-subnormal components) quotients to ±Inf — which would
            # pass >= threshold filters and rank FIRST, diverging from
            # the expression form's try_divide → NULL and the oracle's
            # NULL (division by zero). Same isfinite guard as
            # ivf_assign_vectorized.
            yield pdf.assign(**{out_col: np.where(np.isfinite(cos), cos, np.nan)})

    return df.mapInPandas(kernel, out_schema)


def _with_centroids(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Attach the full centroid set as one array<struct<cid,cvec,cnorm>>
    column via a broadcast single-row cross join.

    The array is materialized ONCE on the broadcast side — never rebuild
    it as a per-row expression: Catalyst does not constant-fold
    CreateArray(CreateNamedStruct(...)), so a "literal" centroid array in
    the projection re-allocates n_centroids × dim cells for every row
    (measured 10× slower than brute force at 64 lists). Norms are
    precomputed into the struct so scoring is one dot product per list."""
    cents = (
        centroids.select(
            F.struct(
                F.col(id_col).cast("long").alias("cid"),
                F.col(vec_col).cast("array<double>").alias("cvec"),
                l2_norm(F.col(vec_col)).alias("cnorm"),
            ).alias("c")
        )
        # array_sort orders by the first struct field (cid) → deterministic
        .agg(F.array_sort(F.collect_list("c")).alias("_cents"))
    )
    return df.crossJoin(F.broadcast(cents))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    refine_iters: int = 0,
) -> DataFrame:
    """Approximate top-k cosine search: probe the ``nprobe`` nearest
    inverted lists per query, exact-score only those lists.

    Scan cost per query is nprobe/n_centroids of the corpus (vs 1.0 for
    brute force); the probe side is tiny and broadcast, so the only big
    data movement is the pruned corpus read. Bulk scoring (index build,
    candidate verify) runs on the Arrow/numpy fast path with an identical
    fold order, so results stay bit-equal to the pure-expression form.

    ``refine_iters`` > 0 runs Lloyd iterations on the seeded quantizer
    (better-balanced lists → better recall at the same nprobe); the
    default stays 0 so the declared oracle query remains exactly
    replayable (see :func:`refine_centroids` on why refinement is not).

    Requires an integral ``id_col``: corpus ids double as centroid ids
    and ``centroid_id`` is declared LongType throughout the IVF
    machinery (validated here so a string key fails loudly up front,
    not as a numpy cast error mid-kernel; brute_force_topk accepts any
    id type)."""
    id_type = corpus.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"ivf_topk requires an integral id column (corpus ids seed "
            f"the LongType centroid_id plumbing); got {id_col}: {id_type}"
        )
    centroids = seed_centroids(corpus, id_col, vec_col, n_centroids)
    if refine_iters > 0:
        refined = refine_centroids(
            corpus, centroids, id_col, vec_col, iters=refine_iters
        )
        # tiny by construction — pin it so the two consumers below don't
        # re-run the Lloyd chain
        spark = corpus.sparkSession
        centroids = spark.createDataFrame(
            refined.collect(), refined.schema
        )
    # Round 12 (guide §4.1): list assignment is fused INTO the candidate
    # kernel below — the chained ivf_assign_vectorized → cand_kernel
    # pair stacked two MapInPandas nodes in one stage, paying a second
    # Arrow round-trip and Python-worker handshake per task for an
    # intermediate (centroid_id) this operator never outputs. The fused
    # kernel runs the identical guarded argmax (same _seq folds, same
    # round(·, 6), degenerate → -2.0, first-max → smallest cid), so
    # every assignment — and every candidate cosine — is bit-identical.
    q = _with_centroids(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        centroids,
        id_col,
        vec_col,
    )
    qvec = F.col("q_vec").cast("array<double>")
    qnorm = l2_norm(F.col("q_vec"))
    # same degenerate-vector guard as assignment: a zero-norm query
    # probes the smallest-cid lists deterministically (+2.0 sorts last
    # ascending) instead of crashing the query.
    probe_scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (
                -F.coalesce(
                    F.nanvl(
                        F.round(
                            F.try_divide(
                                _dot(qvec, c["cvec"]), qnorm * c["cnorm"]
                            ),
                            6,
                        ),
                        F.lit(None).cast("double"),
                    ),
                    F.lit(-2.0),
                )
            ).alias("ncos"),
            c["cid"].alias("cid"),
        ),
    )
    # ascending sort on (ncos, cid) = best cosine first, ties → smallest cid
    probes = q.withColumn(
        "centroid_id",
        F.explode(
            F.transform(
                F.slice(F.array_sort(probe_scored), 1, nprobe),
                lambda p: p["cid"],
            )
        ),
    ).drop("_cents")
    # Round-11 verify restructure (guide §2.3/§4.1, the same shape as the
    # other grouped kernels): the probe side is tiny by construction
    # (queries × nprobe rows), so COLLECT it and close over a
    # per-centroid (query ids, Q matrix) table — the corpus then crosses
    # the Arrow boundary exactly ONCE, map-only, with no join duplicating
    # each member row per probing query and no q_vec riding every
    # candidate row; only the skinny (query_id, neighbor_id, cosine)
    # survivors come back. Cosines are the same chunk-free sequential
    # fold (`_seq_cross_dots` — per-dimension order identical to the
    # row-wise `_seq_pair_dots` the old per-pair kernel ran), same
    # round(·, 6), same isfinite → drop guard, so results are
    # bit-identical. NULL-id probes/members never emit (the old
    # `neighbor_id != query_id` filter three-valued-dropped them).
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    probe_collected = [
        (r["query_id"], r["centroid_id"], r["q_vec"])
        for r in probes.select("query_id", "centroid_id", "q_vec").collect()
        # NULL-vec probes scored NULL cosine everywhere (no rows) in the
        # expression form — skip them, and never let a None reach np.array
        if r["query_id"] is not None and r["q_vec"] is not None
    ]
    by_cid: dict = {}
    for qid, cid, qv in probe_collected:
        by_cid.setdefault(cid, ([], []))
        by_cid[cid][0].append(qid)
        by_cid[cid][1].append(np.asarray(qv, dtype=np.float64))

    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    probe_tab = {}
    for cid, (qids, qvs) in by_cid.items():
        Q = np.array(qvs)
        qnorm = np.sqrt(_seq_pair_dots(Q, Q))
        probe_tab[cid] = (np.array(qids, dtype=np.int64), Q, qnorm)

    # centroid table for the fused in-kernel assignment — identical
    # collect to ivf_assign_vectorized's (sorted by cid, NULL-vec seeds
    # skipped: they scored NULL → -2.0 in the expression form and can
    # never win an argmax against any real centroid)
    c_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(id_col, vec_col).collect()
        if r[1] is not None
    )
    if not c_rows:
        # no centroids at all (empty corpus / every seed degenerate):
        # nothing is assignable, so no candidates — same empty result
        # the chained form produced via ivf_assign_vectorized's guard
        scored = corpus.sparkSession.createDataFrame([], out_schema)
    else:
        cids = np.array([c for c, _ in c_rows], dtype=np.int64)
        C = np.array([v for _, v in c_rows], dtype=np.float64)
        cnorm = np.sqrt(_seq_pair_dots(C, C))

        def cand_kernel(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            empty = pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype(
                {"query_id": "int64", "neighbor_id": "int64",
                 "cosine": "float64"}
            )
            for pdf in batches:
                # NULL member vectors had NULL cosine (dropped by
                # isfinite) in the expression form; drop them with the
                # NULL ids so np.array never builds a ragged batch
                pdf = pdf[pdf[id_col].notna() & pdf[vec_col].notna()]
                if len(pdf) == 0:
                    yield empty
                    continue
                M = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                mnorm = np.sqrt(_seq_pair_dots(M, M))
                # assignment: same guarded argmax as ivf_assign_vectorized
                # (degenerate → -2.0 below every real cosine; first max →
                # smallest cid since rows are cid-sorted)
                with np.errstate(invalid="ignore", divide="ignore"):
                    acos = np.round(
                        _seq_cross_dots(M, C)
                        / np.multiply.outer(mnorm, cnorm),
                        6,
                    )
                best = cids[np.argmax(np.where(np.isfinite(acos), acos, -2.0), axis=1)]
                probed = np.isin(best, list(probe_tab.keys()))
                if not probed.any():
                    yield empty
                    continue
                mids_all = pdf[id_col].to_numpy()
                if mids_all.dtype != np.int64:
                    # a null-carrying id column arrives as float64; the
                    # null rows were dropped above, so the cast is exact
                    mids_all = mids_all.astype(np.int64)
                outs = []
                for cid in np.unique(best[probed]):
                    sel = best == cid
                    qids, Q, qnorm = probe_tab[cid]
                    mids = mids_all[sel]
                    with np.errstate(invalid="ignore", divide="ignore"):
                        cos = np.round(
                            _seq_cross_dots(Q, M[sel])
                            / np.multiply.outer(qnorm, mnorm[sel]),
                            6,
                        )
                    qi, mi = np.nonzero(np.isfinite(cos))
                    keep = qids[qi] != mids[mi]
                    outs.append(
                        pd.DataFrame(
                            {
                                "query_id": qids[qi][keep],
                                "neighbor_id": mids[mi][keep],
                                "cosine": cos[qi, mi][keep],
                            }
                        )
                    )
                yield pd.concat(outs) if outs else empty

        scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            cand_kernel, out_schema
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def normalize_vectors(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec"
) -> DataFrame:
    """Unit-normalize embeddings (precompute once, store, reuse — at scale
    normalization is a write-time transform, not a query-time one)."""
    vec = F.col(vec_col).cast("array<double>")
    norm = l2_norm(F.col(vec_col))
    # try_divide + nanvl + coalesce: a zero-norm (dead) embedding stays
    # the zero vector instead of failing the whole write under ANSI mode,
    # and a NaN-poisoned embedding (NaN norm — NOT null, so try_divide
    # alone passes it through) collapses to the zero vector too — its
    # dot products remain 0, so it silently matches nothing downstream.
    return df.withColumn(
        out_col,
        F.transform(
            vec,
            lambda x: F.coalesce(
                F.nanvl(F.try_divide(x, norm), F.lit(None)), F.lit(0.0)
            ),
        ),
    )


def knn_classify(
    corpus: DataFrame,
    probes: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """k-NN label prediction: majority label of the top-``k`` cosine
    neighbors from the labeled corpus; ties break on the smaller label.

    The corpus never shuffles for the search (probes broadcast, exact
    top-k — swap in ``ivf_topk`` for the ANN path at scale); the vote is
    an aggregate over the tiny (probes × k) neighbor frame, which is then
    broadcast into the label lookup so the labeled corpus doesn't shuffle
    for the join either.

    Rows with a NULL label are excluded up front: an unlabeled example
    cannot vote, and a classifier searching it anyway would burn k-slots
    on neighbors that contribute nothing (worse, a NULL "label" would
    tie-break differently across engines — Spark orders NULL first,
    DuckDB last; adversarial-data round 8).
    """
    corpus = corpus.filter(F.col(label_col).isNotNull())
    tk = brute_force_topk(corpus, probes, id_col=id_col, vec_col=vec_col, k=k)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col)
    )
    votes = (
        labels.join(F.broadcast(tk), "neighbor_id")
        .groupBy("query_id", label_col)
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc(label_col)
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col(label_col).alias("predicted_label"),
            "n_votes",
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then drop any vector whose cosine to a LOWER-id
    vector in the SAME cluster reaches the threshold — near-duplicate
    meaning, not near-duplicate text.

    The cluster scoping is what scales: pair search runs inside clusters
    only, so the quadratic term is per-cluster, never corpus-wide, and the
    cluster count grows with the corpus (√n rule) to bound cluster size.
    The assignment is a map-only Arrow kernel (centroids broadcast by
    closure); each cluster's vectors then cross the shuffle exactly once
    into a grouped kernel that scores the triangle with chunked
    sequential-fold matmuls and emits only dropped ids — no pair frame
    is ever materialized.

    Deterministic and oracle-replayable: seeded centroids (smallest ids),
    ties to the smaller centroid, drop rule keyed on id order.

    Identical-vector collapse (the dedup-cascade) runs first: cosine and
    cluster assignment are pure functions of the vector, so an m-way
    exact-duplicate family joins the quadratic stage once, not m times.
    The member-level answer is reconstructed exactly: a non-representative
    member always has its (lower-id, cosine-1.0, same-cluster) rep, so it
    is a duplicate by the rule; the rep itself is a duplicate iff a
    lower-id rep in its cluster reaches the threshold — and "lower-id
    rep" ⟺ "lower-id member of another family", because reps are family
    minima. (Degenerate vectors — zero norm or NaN/Inf components — have
    NaN cosines and never qualify; the ``pairable`` flag mirrors that for
    intra-family drops.)
    """
    assert threshold <= 1.0, "intra-family expansion assumes cos 1.0 passes"
    rep_df, members = _collapse_identical_vectors(
        corpus.select(id_col, vec_col), id_col, vec_col
    )
    # Seeds come from the RAW corpus (smallest ids overall, duplicates and
    # all) so a second engine replays the identical quantizer.
    cents = seed_centroids(corpus, id_col, vec_col, n_clusters)
    # barrier: the assignment is consumed twice (drop kernel + member
    # label join); unbarriered, the Arrow assign kernel re-scores the
    # whole corpus per consumer (round 11 — it previously ran 3×: both
    # self-join sides and the label join).
    assigned = barrier(ivf_assign_vectorized(rep_df, cents, id_col, vec_col))
    # Round-11 drop detection (guide §2.3/§4: shuffle the payload once,
    # never materialize pair rows through the Python boundary): instead
    # of the within-cluster self-join — whose C(m,2)-row pair frame
    # carried BOTH vectors through the exchange and the per-pair Arrow
    # verify — each cluster's vectors cross once into a grouped kernel
    # that scores the triangle in chunked sequential-fold matmuls (the
    # same `_seq_*` folds as the pair kernel, so every cosine is
    # bit-identical: acc += a_d·b_d in dimension order, same norm
    # product, same round(·, 6), same isfinite→NaN guard) and emits only
    # the dropped ids. Chunking bounds the score matrix at
    # (2048 × cluster) per step, the same discipline as
    # :func:`blocked_cosine_pairs`.
    import numpy as np
    import pandas as pd

    id_type = rep_df.schema[id_col].dataType.simpleString()
    chunk = 2048

    def drop_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"gid": ids[:0]})
        V = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )[order]
        norms = np.sqrt(_seq_pair_dots(V, V))
        dropped = np.zeros(n, dtype=bool)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.round(
                    _seq_cross_dots(V[s:e], V)
                    / np.multiply.outer(norms[s:e], norms),
                    6,
                )
            cos = np.where(np.isfinite(cos), cos, np.nan)
            ii, jj = np.nonzero(cos >= threshold)
            keep = (ii + s) < jj  # pair rule: lower id drops the higher
            dropped[jj[keep]] = True
        return pd.DataFrame({"gid": ids[dropped]})

    rep_dropped = (
        assigned.groupBy("centroid_id")
        .applyInPandas(drop_kernel, f"gid {id_type}")
        .withColumn("_rep_dropped", F.lit(True))
    )
    mem = members.join(
        assigned.select(F.col(id_col).alias("gid"), "centroid_id"), "gid"
    )
    dup = ((F.col("id") != F.col("gid")) & F.col("pairable")) | F.coalesce(
        F.col("_rep_dropped"), F.lit(False)
    )
    return mem.join(rep_dropped, "gid", "left").select(
        F.col("id").alias(id_col),
        "centroid_id",
        dup.alias("is_duplicate"),
    )


def kmeans_parallel_init(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    rounds: int = 3,
    oversample: int | None = None,
) -> DataFrame:
    """Deterministic k-means|| initialization (Bahmani et al., VLDB'12)
    for the IVF coarse quantizer — spread seeds ACROSS the data instead
    of the first-k-ids heuristic, without k-means++'s k sequential
    passes.

    Each round scans the corpus once: every point's cosine distance to
    its nearest current center prices a sampling threshold
    ``l · d(x)/Σd``, and the point joins the center set when its
    DETERMINISTIC coin — ``md5(round|id)`` mapped to [0, 1) — falls under
    it (no RNG state; replays and other engines draw identical samples).
    The oversampled set (≈ ``l · rounds`` centers) is then cut to
    ``n_centroids`` by the standard weight step: each candidate weighs
    the points it attracts, heaviest-first with id tie-break.

    Distributed shape: distances via the same Arrow argmax kernel as the
    index build (centers broadcast by closure, map-only); per-round the
    only driver traffic is the (small) new-center sample and one scalar
    Σd; the weight step is one more assignment pass + a count aggregate.

    Not oracle-declared: the declared ``sim_ivf_topk`` keeps the seeded
    quantizer for exact DuckDB replay; tests pin this init by its EFFECT
    (balance/recall) and by determinism across runs.
    """
    l = oversample or (2 * n_centroids)
    base = corpus.select(id_col, vec_col)

    centers = seed_centroids(base, id_col, vec_col, 1)  # {min-id vector}
    for r in range(rounds):
        assigned = _nearest_cosine_distance(base, centers, id_col, vec_col)
        total = assigned.agg(F.sum("dist").alias("s")).collect()[0]["s"]
        if not total:
            break  # every point coincides with a center already
        coin = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"kmpar{r}|"), F.col(id_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(1 << 60))
        )
        picked = assigned.filter(
            coin < (F.lit(float(l)) * F.col("dist") / F.lit(float(total)))
        ).select(id_col, vec_col)
        # eager truncation per round: centers stays a lazy union chain
        # otherwise, and every later round's center collect re-runs ALL
        # earlier rounds' corpus passes (O(rounds²) scans). The frame is
        # candidate-scale (≤ 1 + rounds·l rows), so the checkpoint cost
        # is the one corpus pass that round already owes for its picks.
        centers = (
            centers.unionByName(picked)
            .dropDuplicates([id_col])
            .localCheckpoint(eager=True)
        )

    # weight step: heaviest candidates win (id tie-break), exactly k out
    weights = (
        ivf_assign_vectorized(base, centers, id_col, vec_col)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranked = (
        centers.join(
            weights, centers[id_col] == weights["centroid_id"], "left"
        )
        .select(
            id_col, vec_col, F.coalesce("w", F.lit(0)).alias("w")
        )
        .orderBy(F.desc("w"), F.asc(id_col))
        .limit(n_centroids)
    )
    return ranked.select(id_col, vec_col)


def _nearest_cosine_distance(
    corpus: DataFrame, centers: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, dist): cosine distance (1 − cos) to the nearest current
    center — same Arrow kernel shape as ``ivf_assign_vectorized``."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centers.select(id_col, vec_col).collect()
    )
    out_schema = T.StructType(
        list(corpus.select(id_col, vec_col).schema.fields)
        + [T.StructField("dist", T.DoubleType(), False)]
    )
    if not rows:
        # no centers (empty corpus): no point has a distance to sample
        # against — empty frame, not an unshaped-numpy IndexError
        # (empty-tier adversarial gate, round 9)
        return corpus.sparkSession.createDataFrame([], out_schema)
    C = np.array([v for _, v in rows], dtype=np.float64)
    cnorm = np.sqrt(_seq_pair_dots(C, C))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vnorm = np.sqrt(_seq_pair_dots(M, M))
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.round(
                    _seq_cross_dots(M, C)
                    / np.multiply.outer(vnorm, cnorm),
                    6,
                )
                dist = 1.0 - cos.max(axis=1)
            # zero-norm / NaN-component vectors have no defined cosine:
            # their NaN dist would cross Arrow as NULL and fail the
            # non-nullable field. Pin them to dist 0 ("coincides with a
            # center") so degenerate vectors can never be sampled as
            # new centers — garbage must not seed the quantizer.
            yield pdf.assign(dist=np.where(np.isfinite(dist), dist, 0.0))

    return spread(corpus.select(id_col, vec_col)).mapInPandas(
        kernel, out_schema
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
) -> list:
    """Deterministic PQ codebooks: subspace ``s``'s codebook is the
    ``n_codes`` smallest-id FINITE vectors' s-th sub-vectors (same no-RNG
    seeding contract as ``seed_centroids`` — a second engine rebuilds the
    identical quantizer; k-means|| / Lloyd refinement slots in per
    subspace at cluster scale). Returns an (m, n_codes, d/m) float64
    numpy array.

    A vector with a NaN/±Inf component never seeds a codebook
    (adversarial-data round 8): one such entry poisons a whole subspace's
    distance column with NaN, making every encode argmin undefined. Zero
    vectors ARE valid codebook entries — L2 distance to the origin is
    well-defined (unlike cosine)."""
    import numpy as np

    rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in corpus.filter(_finite_vec(F.col(vec_col)))
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    if not rows:
        # no finite vectors to seed from: an (m, 0, 0) empty quantizer —
        # pq_encode emits no codes against it and pq_topk returns no
        # rows, instead of V.shape[1] raising on an unshaped empty array
        # (empty-tier adversarial gate, round 9)
        return np.zeros((m, 0, 0), dtype=np.float64)
    V = np.array([v for _, v in rows], dtype=np.float64)
    d = V.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    return np.stack([V[:, s * sub : (s + 1) * sub] for s in range(m)])


def _sub_d2(X, C):
    """(n, sub) × (k, sub) → (n, k) squared L2 via the same sequential
    dot folds the oracle states: d² = x·x − 2·x·c + c·c, each dot a
    left-to-right fold, rounded to 6 dp."""
    import numpy as np

    xx = _seq_pair_dots(X, X)
    cc = _seq_pair_dots(C, C)
    xc = _seq_cross_dots(X, C)
    return np.round(xx[:, None] - 2.0 * xc + cc[None, :], 6)


def pq_encode(
    corpus: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: each vector becomes ``m`` small codes
    (nearest codebook entry per subspace, ties to the smaller code).
    8 bytes of codes replace 256 bytes of floats — the compressed corpus
    is what ships to the search tier at scale.

    Degenerate-vector contract (round 8) enforced HERE, not only in
    ``pq_topk``'s plan-level pre-filter: a vector with a NaN/±Inf
    component NaN-poisons every subspace's distance column, making its
    argmin an arbitrary code — so the kernel drops such rows (they never
    encode) even when the operator is called directly. The guard is
    in-kernel (numpy mask, not a plan Filter) so a pre-filtered caller
    like ``pq_topk`` pays nothing and its plan is unchanged."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    m, n_codes, sub = books.shape
    out_schema = T.StructType(
        [
            corpus.schema[id_col],
            T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
        ]
    )
    if n_codes == 0:
        # empty quantizer (see pq_codebooks): nothing encodes — argmin
        # over zero codebook entries is undefined
        return corpus.sparkSession.createDataFrame([], out_schema)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            finite = np.isfinite(M).all(axis=1)
            if not finite.all():
                pdf = pdf.loc[finite].reset_index(drop=True)
                M = M[finite]
                if len(pdf) == 0:
                    continue
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                d2 = _sub_d2(M[:, s * sub : (s + 1) * sub], books[s])
                codes[:, s] = np.argmin(d2, axis=1)  # first min → smaller code
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return spread(corpus.select(id_col, vec_col)).mapInPandas(kernel, out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    k: int = 10,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance (ADC): queries stay
    full-precision, the corpus is its 8-byte codes; each query
    precomputes an (m × n_codes) distance table and a neighbor's distance
    is m table lookups — no floats move for the corpus side at all.

    Scale shape: encoding is map-only; the scored frame carries only
    (query, neighbor, approx_d2); top-k is a per-query window over a
    frame the size of queries × corpus codes (at real scale, fold an IVF
    coarse quantizer in front to prune the scan, exactly as ivf_topk).

    Degenerate-vector contract (adversarial-data round 8): a vector with
    a NaN/±Inf component has no defined L2 geometry — it never seeds a
    codebook (see ``pq_codebooks``), never encodes (its per-subspace
    argmin is NaN-poisoned), never appears as a neighbor, and as a query
    returns no rows. Filtering such vectors up front is also what keeps
    ``approx_d2`` honestly non-nullable: every surviving distance is a
    finite sum of finite table entries (a NaN here previously crossed
    Arrow as NULL under the non-nullable field and crashed codegen with
    "Value at index is null"). Zero vectors are NOT degenerate for L2
    and flow through normally.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    corpus = corpus.filter(_finite_vec(F.col(vec_col)))
    queries = queries.filter(_finite_vec(F.col(vec_col)))
    books = pq_codebooks(corpus, id_col, vec_col, m, n_codes)
    sub = books.shape[2]
    q_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in queries.select(id_col, vec_col).collect()
    )
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("approx_d2", T.DoubleType(), False),
        ]
    )
    if books.shape[1] == 0 or not q_rows:
        # empty quantizer or no finite queries: no ADC tables to build
        # and nothing to rank (empty-tier adversarial gate, round 9).
        # rank is declared non-nullable to match the normal path's
        # row_number() output — a lit(NULL).cast() here made the two
        # paths' schemas differ in nullability, which schema-sensitive
        # consumers (writers, unions) would reject (round-10 review).
        return corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                list(out_schema.fields)
                + [T.StructField("rank", T.LongType(), False)]
            ),
        )
    q_ids = np.array([i for i, _ in q_rows], dtype=np.int64)
    Q = np.array([v for _, v in q_rows], dtype=np.float64)
    # ADC tables: (n_queries, m, n_codes), rounded like the oracle
    tables = np.stack(
        [
            _sub_d2(Q[:, s * sub : (s + 1) * sub], books[s])
            for s in range(m)
        ],
        axis=1,
    )

    # Round 12 (guide §4.1 — minimize JVM↔Python crossings): encoding is
    # fused INTO the scoring kernel instead of chaining pq_encode's
    # kernel in front of it — the codes never surface in this operator's
    # output, and two stacked MapInPandas nodes paid two Arrow
    # round-trips plus a second Python-worker handshake per task
    # (~0.3 s/stage of pure overhead at the bench tiers). Same argmin
    # (np.argmin, first min → smaller code) over the same _sub_d2 tables
    # as pq_encode, so codes — and therefore every approx_d2 — are
    # bit-identical; pq_encode stays the public standalone operator.
    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # belt-and-braces finite mask identical to pq_encode's: the
            # plan-level _finite_vec pre-filter above already dropped
            # non-finite vectors, so this is a no-op on this path
            finite = np.isfinite(M).all(axis=1)
            if not finite.all():
                pdf = pdf.loc[finite].reset_index(drop=True)
                M = M[finite]
                if len(pdf) == 0:
                    continue
            C = np.empty((len(pdf), m), dtype=np.int64)  # (n, m)
            for s in range(m):
                d2 = _sub_d2(M[:, s * sub : (s + 1) * sub], books[s])
                C[:, s] = np.argmin(d2, axis=1)  # first min → smaller code
            nq = len(q_ids)
            # lookup: approx[q, i] = Σ_s tables[q, s, C[i, s]]
            approx = np.zeros((nq, len(pdf)))
            for s in range(C.shape[1]):
                approx += tables[:, s, :][:, C[:, s]]
            approx = np.round(approx, 6)
            ids = pdf[id_col].to_numpy()
            # Per-batch top-k (round 11, guide §2.3 "aggregate before you
            # shuffle"): the global rank orders by (approx_d2,
            # neighbor_id), a total order, so a batch row outside its
            # batch's own top-k can never enter the global top-k — emit
            # only nq·k rows per batch instead of the nq·n cross frame
            # the final window used to shuffle and sort. The self-pair
            # and NULL-id drops (the old `neighbor_id != query_id`
            # three-valued filter) move in front of the cut so they can
            # never occupy a kept slot.
            valid = pd.notna(pdf[id_col]).to_numpy()
            outs = []
            for qi in range(nq):
                mask = valid & (ids != q_ids[qi])
                d = approx[qi][mask]
                mid = ids[mask]
                if mid.dtype != np.int64:
                    mid = mid.astype(np.int64)
                take = np.lexsort((mid, d))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(take), q_ids[qi]),
                            "neighbor_id": mid[take],
                            "approx_d2": d[take],
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "approx_d2": []}
            ).astype(
                {
                    "query_id": "int64",
                    "neighbor_id": "int64",
                    "approx_d2": "float64",
                }
            )

    scored = spread(corpus.select(id_col, vec_col)).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )
