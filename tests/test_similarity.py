"""Similarity & dedup operator behavior tests (recall sanity, not parity —
parity is test_oracle's job)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
)
from land_registry_data_ingestion_spark.operators.similarity import (
    cosine_pairs,
    lsh_bucketed_pairs,
)
from land_registry_data_ingestion_spark.sources.parquet import load_tables
from tests.conftest import SF_CORRECTNESS


def test_exact_dedup_removes_planted_duplicates(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "  The   QUICK brown fox "),  # same after normalization
            (3, "a different document"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(docs, "doc_id").collect())
    assert kept == [1, 3]


def test_minhash_finds_planted_near_duplicate(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"  # ~0.9 jaccard
    far = " ".join(f"x{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_duplicates(docs, "doc_id", threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert all(p == (1, 2) for p in pairs)


def test_minhash_band_df_cap_bounds_hot_buckets(spark):
    """A hot band bucket (many DISTINCT docs sharing one band) emits
    C(m,2) candidates; ``max_band_df`` drops the bucket. Exact duplicate
    families are immune — they pair via the content collapse, which the
    cap must never touch."""
    from land_registry_data_ingestion_spark.operators.dedup import (
        lsh_bands,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    # 12 near-identical docs (one token differs) → identical or
    # near-identical signatures → at least one hot bucket of ~12 reps.
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, base + f" tail{i}") for i in range(12)], ["doc_id", "text"]
    )
    sigs = minhash_signatures(docs, "doc_id").cache()
    hot = (
        lsh_bands(sigs)
        .groupBy("band_idx", "band_hash")
        .count()
        .agg({"count": "max"})
        .collect()[0][0]
    )
    assert hot >= 10  # the corpus really does produce a hot bucket
    uncapped = minhash_lsh_candidates(sigs).count()
    capped = minhash_lsh_candidates(sigs, max_band_df=4).count()
    assert uncapped > capped  # the hot bucket stopped fanning out
    # a generous cap (≥ bucket size) changes nothing
    assert minhash_lsh_candidates(sigs, max_band_df=64).count() == uncapped
    sigs.unpersist()

    # exact 6-way duplicate family: pairs survive ANY cap via the collapse
    fam = spark.createDataFrame(
        [(i, base) for i in range(6)] + [(99, "unrelated " * 30)],
        ["doc_id", "text"],
    )
    pairs = minhash_near_duplicates(
        fam, "doc_id", threshold=0.5, max_band_df=1
    ).collect()
    assert len(pairs) == 15  # C(6,2), all jaccard 1.0
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_minhash_all_pairs_expands_family_cross_product(spark):
    """Verified rep pairs expand to the cross product of their families
    and each family of m identical documents to its C(m,2) pairs. Corpus:
    two identical families with interleaved ids chained by a near-dup
    bridge, one isolated doc, one empty doc."""
    from land_registry_data_ingestion_spark.operators.dedup import (
        near_dup_groups,
    )

    fam_a = " ".join(f"w{i}" for i in range(60))
    fam_b = " ".join(f"w{i}" for i in range(58)) + " ya yb"  # ~0.9 vs fam_a
    docs = spark.createDataFrame(
        [(i, fam_a) for i in (1, 3, 5, 20, 22)]  # 5-way identical family
        + [(i, fam_b) for i in (2, 4, 21, 23)]  # 4-way identical family
        + [(50, " ".join(f"z{i}" for i in range(60)))]  # isolated
        + [(60, "")],  # empty: shingle-free, must never pair
        ["doc_id", "text"],
    )
    fam_b_ids = {2, 4, 21, 23}
    pairs = minhash_near_duplicates(docs, "doc_id", threshold=0.5)
    rows = pairs.collect()
    # C(5,2) + C(4,2) intra-family pairs + 5*4 cross pairs, each once
    assert len(rows) == 36
    assert len({(r["doc_a"], r["doc_b"]) for r in rows}) == 36
    assert all(r["doc_a"] < r["doc_b"] for r in rows)
    cross = [
        r for r in rows if (r["doc_a"] in fam_b_ids) != (r["doc_b"] in fam_b_ids)
    ]
    assert len(cross) == 20 and len({r["jaccard"] for r in cross}) == 1
    assert all(r["jaccard"] == 1.0 for r in rows if r not in cross)
    comp = {
        r["doc"]: (r["canonical_doc"], r["n_members"])
        for r in near_dup_groups(pairs).collect()
    }
    # one 9-member component: both families plus the bridge
    assert comp[22] == (1, 9) and comp[23] == (1, 9)
    assert 50 not in comp and 60 not in comp


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_tables(spark, SF_CORRECTNESS).embeddings


def test_lsh_pairs_subset_of_exact_with_recall(spark, embeddings):
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(embeddings, threshold=0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_bucketed_pairs(embeddings, dim=64, threshold=0.4).collect()
    }
    # every LSH pair is exact-verified → subset; the threshold is chosen so
    # the exact answer is non-empty at sf0.01 (a vacuous test proves nothing)
    assert approx <= exact
    assert exact, "exact pair set empty — threshold too high for test data"
    recall = len(approx) / len(exact)
    assert recall >= 0.1, f"LSH recall too low: {recall:.2f} ({len(approx)}/{len(exact)})"


def test_ivf_topk_recall_vs_bruteforce(spark, embeddings):
    """IVF with nprobe=4/16 must recover most of the exact top-10 while
    scanning only ~1/4 of the corpus per query."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(embeddings, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            embeddings, queries, n_centroids=16, nprobe=4, k=10
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_blocked_cosine_pairs_matches_bruteforce(spark, embeddings):
    """The 2D-blocked theta join is EXACT: identical pair set + cosines to
    the brute-force baseline, for several block counts (including n_blocks
    larger than needed, which exercises empty groups)."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        blocked_cosine_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs(embeddings, threshold=0.4).collect()
    }
    for n_blocks in (1, 3, 8):
        blocked = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in blocked_cosine_pairs(
                embeddings, threshold=0.4, n_blocks=n_blocks
            ).collect()
        }
        assert blocked == exact, f"mismatch at n_blocks={n_blocks}"
    # auto-sizing (n_blocks=None) must give the identical result too
    auto = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in blocked_cosine_pairs(embeddings, threshold=0.4).collect()
    }
    assert auto == exact


def test_blocked_cosine_auto_blocks_scale_with_corpus():
    """The auto-derived block count grows linearly with the distinct-vector
    count (bounded per-group kernels at any input size) and never drops
    below the √parallelism floor (small corpora still parallelize)."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        _BLOCK_TARGET_ROWS,
        _auto_n_blocks,
    )

    assert _auto_n_blocks(100, 32) == 5  # floor: isqrt(32)
    assert _auto_n_blocks(100, 1) == 1
    assert _auto_n_blocks(50_000, 32) == 13  # ceil(50k/4096)
    # 100× the input → ~100× the blocks, so per-group stays ~constant
    n1 = _auto_n_blocks(1_000_000, 1024)
    n2 = _auto_n_blocks(100_000_000, 1024)
    assert n2 >= 99 * n1
    assert 100_000_000 / n2 <= _BLOCK_TARGET_ROWS


def test_blocked_cosine_pairs_plan_has_no_broadcast_nested_loop(spark, embeddings):
    """The declared exact-pairs plan must be a hash join on the block-pair
    key — no BroadcastNestedLoopJoin, no CartesianProduct, corpus never
    broadcast."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        blocked_cosine_pairs,
    )

    plan = blocked_cosine_pairs(embeddings, threshold=0.4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_pairs_size_guard(spark):
    """The brute-force baseline refuses unbounded inputs."""
    big = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="blocked_cosine_pairs"):
        cosine_pairs(big, max_rows=10)


def test_lsh_vectorized_keys_match_expression_form(spark, embeddings):
    """The Arrow matmul kernel reproduces the interpreted HOF bucket keys
    bit-for-bit (same sequential fold order → same sums → same signs)."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        lsh_bucket_key,
        lsh_bucket_keys_vectorized,
    )

    n_tables, n_planes = 4, 8
    expr_form = embeddings.select(
        F.col("vec_id").alias("id"),
        F.array(
            *[
                lsh_bucket_key(F.col("embedding"), 64, t, n_planes)
                for t in range(n_tables)
            ]
        ).alias("keys"),
    )
    vec_form = lsh_bucket_keys_vectorized(
        embeddings, dim=64, n_tables=n_tables, n_planes=n_planes
    ).select("id", "keys")
    expr_keys = {r["id"]: r["keys"] for r in expr_form.collect()}
    vec_keys = {r["id"]: r["keys"] for r in vec_form.collect()}
    assert vec_keys == expr_keys


def test_lsh_buckets_balanced(spark, embeddings):
    """No catastrophic bucket skew: the biggest LSH bucket should hold a
    small fraction of the corpus (the O(n·tables) shuffle argument)."""
    from land_registry_data_ingestion_spark.operators.similarity import lsh_bucket_key

    n = embeddings.count()
    keyed = embeddings.select(
        lsh_bucket_key(F.col("embedding"), 64, table=0).alias("bkt")
    )
    biggest = (
        keyed.groupBy("bkt").count().agg(F.max("count")).collect()[0][0]
    )
    assert biggest < n * 0.25, f"bucket skew: {biggest}/{n}"


def test_near_dup_groups_connected_components(spark):
    """Chains must merge transitively into one component with min-id
    canonical; isolated pairs stay separate; empty input yields empty."""
    from land_registry_data_ingestion_spark.operators.dedup import (
        near_dup_groups,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["doc_a", "doc_b"],
    )
    out = {
        r["doc"]: (r["canonical_doc"], r["n_members"])
        for r in near_dup_groups(pairs).collect()
    }
    assert out == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2),
        20: (20, 3), 21: (20, 3), 22: (20, 3),
    }
    empty = near_dup_groups(
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    assert empty.count() == 0


def test_near_dup_groups_long_path_many_rounds(spark):
    """A 200-node path (diameter 199) is resolvable ONLY because the
    loop pointer-jumps (label ← label's label) alongside the neighbor
    min: neighbor-min alone needs diameter rounds (max_iters=25 would
    raise), while path halving converges in O(log diameter) ≈ 8. Also
    the original regression shape: pre-lineage-truncation, each round's
    plan grew exponentially and OOM'd the driver's analyzer near round
    12."""
    from land_registry_data_ingestion_spark.operators.dedup import (
        near_dup_groups,
    )

    n = 200
    pairs = spark.createDataFrame(
        [(i + 1, i + 2) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    rows = near_dup_groups(pairs).collect()
    assert {r["doc"] for r in rows} == set(range(1, n + 1))
    assert all(r["canonical_doc"] == 1 for r in rows)
    assert all(r["n_members"] == n for r in rows)


def test_ivf_refined_centroids_improve_or_hold_recall(spark, embeddings):
    """Lloyd refinement must actually move the quantizer and must not
    degrade recall below the seeded baseline's floor."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        refine_centroids,
        seed_centroids,
    )

    seeded = seed_centroids(embeddings, n_centroids=16)
    refined = refine_centroids(embeddings, seeded, iters=2)
    assert refined.count() == 16
    s = {r["vec_id"]: list(r["embedding"]) for r in seeded.collect()}
    r = {r["vec_id"]: list(r["embedding"]) for r in refined.collect()}
    assert set(r) == set(s)
    assert any(s[k] != r[k] for k in s), "refinement did not move centroids"

    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (x["query_id"], x["neighbor_id"])
        for x in brute_force_topk(embeddings, queries, k=10).collect()
    }
    approx = {
        (x["query_id"], x["neighbor_id"])
        for x in ivf_topk(
            embeddings, queries, n_centroids=16, nprobe=4, k=10, refine_iters=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"refined IVF recall too low: {recall:.2f}"


def test_kmeans_parallel_init_deterministic_and_balanced(spark, embeddings):
    """k-means|| seeds must be (a) deterministic across runs, (b) exactly
    n_centroids drawn from the corpus, (c) no worse than the first-k-ids
    heuristic on quantization cost (mean cosine distance to the nearest
    center — the objective the sampling weights); measured 0.742 vs 0.754
    at k=16 on the sf0.01 embeddings."""
    from pyspark.sql import functions as F

    from land_registry_data_ingestion_spark.operators.similarity import (
        _nearest_cosine_distance,
        kmeans_parallel_init,
        seed_centroids,
    )
    emb = embeddings
    k = 8

    c1 = sorted(r["vec_id"] for r in kmeans_parallel_init(emb, n_centroids=k).collect())
    c2 = sorted(r["vec_id"] for r in kmeans_parallel_init(emb, n_centroids=k).collect())
    assert c1 == c2 and len(c1) == k

    corpus_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert set(c1) <= corpus_ids

    def cost(cents):
        return (
            _nearest_cosine_distance(emb, cents, "vec_id", "embedding")
            .agg(F.avg("dist").alias("c"))
            .collect()[0]["c"]
        )

    assert cost(kmeans_parallel_init(emb, n_centroids=k)) <= cost(
        seed_centroids(emb, n_centroids=k)
    )


def test_degenerate_embeddings_never_crash_or_win(spark):
    """Zero-norm and NaN-poisoned embeddings occur in real corpora
    (dead rows, failed encoders). They must neither fail the query —
    under ANSI mode a plain divide raises DIVIDE_BY_ZERO on the first
    zero vector — nor APPEAR in it: a NaN cosine sorts above every
    double under desc (rank 1 in every top-k) and DuckDB agrees, so the
    declared contract (round 8) is NULL = undefined-NEVER-RANKS — a
    degenerate neighbor is excluded from every candidate list and a
    degenerate query returns no rows. And k-means|| init must not seed
    centers from them: the NaN distance crossed Arrow as NULL and
    failed the kernel's non-nullable dist field outright."""
    import math

    from land_registry_data_ingestion_spark.operators.similarity import (
        brute_force_topk,
        kmeans_parallel_init,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),          # zero norm
            (3, [1.0, 1.0, 1.0, 1.0]),
            (4, [-1.0, 0.0, 0.0, 0.0]),
            (5, [float("nan"), 1.0, 0.0, 0.0]),  # NaN component
        ],
        ["vec_id", "embedding"],
    )

    rows = brute_force_topk(emb, emb.filter("vec_id = 1"), k=4).collect()
    got = {r["neighbor_id"]: (r["cosine"], r["rank"]) for r in rows}
    # degenerate neighbors never rank — not even last with a NULL score
    assert set(got) == {3, 4}
    assert not any(
        c is None or math.isnan(c) or math.isinf(c) for c, _ in got.values()
    )
    assert got[3][1] == 1 and got[4][1] == 2  # cos 0.5 > cos -1.0

    # a degenerate QUERY returns no rows at all
    assert brute_force_topk(emb, emb.filter("vec_id in (2, 5)"), k=4).count() == 0

    centers = kmeans_parallel_init(emb, n_centroids=2, rounds=2).collect()
    assert len(centers) == 2
    assert {r["vec_id"] for r in centers} <= {1, 3, 4}


def test_identical_degenerate_vectors_never_pair(spark):
    """The identical-vector collapse (blocked_cosine_pairs /
    lsh_bucketed_pairs / semantic_dedup) emits intra-family pairs at
    cosine 1.0 without calling the verify kernel — but the kernel would
    compute NaN for two bit-identical NaN-lane vectors, so the expansion
    must mirror the drop (``pairable`` flag: self-dot finite AND > 0;
    adversarial-data round 8 — previously only zero vectors were
    excluded and an identical NaN family emitted phantom 1.0 pairs)."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        blocked_cosine_pairs,
        semantic_dedup,
    )

    nanv = [float("nan"), 1.0, 0.0, 0.0]
    infv = [float("inf"), 1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 0.0, 0.0]),
            (2, [1.0, 2.0, 0.0, 0.0]),   # identical finite family → pairs
            (3, nanv),
            (4, nanv),                   # identical NaN family → never
            (5, infv),
            (6, infv),                   # identical Inf family → never
            (7, [0.0, 0.0, 0.0, 0.0]),
            (8, [0.0, 0.0, 0.0, 0.0]),   # identical zero family → never
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in blocked_cosine_pairs(emb, threshold=0.9).collect()
    }
    assert pairs == {(1, 2, 1.0)}

    dup = {
        r["vec_id"]: r["is_duplicate"]
        for r in semantic_dedup(emb, n_clusters=2, threshold=0.9).collect()
    }
    # only the finite family's non-representative member is a duplicate
    assert dup == {1: False, 2: True, 3: False, 4: False,
                   5: False, 6: False, 7: False, 8: False}


def test_pq_topk_excludes_degenerate_vectors_and_never_crashes(spark):
    """PQ ADC search with NaN/Inf-component vectors in the corpus AND
    the would-be codebook seed range: such vectors must not seed
    codebooks (one NaN entry poisons a subspace's whole distance
    column), must not encode, must not rank, and must not crash — the
    NaN approx_d2 previously crossed Arrow as NULL under the
    non-nullable field and killed codegen with "Value at index is
    null" (adversarial-data round 8). Zero vectors are valid L2
    citizens and must still rank."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    rows = [
        (0, [float("nan")] * 4),           # would-be seed: NaN
        (1, [float("inf"), 1.0, 0.0, 0.0]),  # would-be seed: Inf
        (2, [1.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 1.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),         # zero vector: valid for L2
        (5, [1.0, 1.0, 1.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(emb, m=2, n_codes=3)
    assert books.shape == (2, 3, 2)
    import numpy as np

    assert np.isfinite(books).all()  # seeded from 2, 3, 4 — not 0/1

    out = pq_topk(emb, emb, m=2, n_codes=3, k=10).collect()
    qids = {r["query_id"] for r in out}
    nids = {r["neighbor_id"] for r in out}
    assert qids == {2, 3, 4, 5} and nids == {2, 3, 4, 5}
    assert all(
        r["approx_d2"] is not None and r["approx_d2"] >= 0.0 for r in out
    )


def test_normalize_and_ivf_tolerate_degenerate_vectors(spark):
    """Zero-norm embeddings must not fail vector normalization or IVF
    assignment/probing under ANSI mode. A normalized zero vector stays
    the zero vector (dots stay 0 - matches nothing); a degenerate
    vector or query scores -2.0 against every centroid, below any real
    cosine, so it assigns/probes the smallest centroid id
    deterministically instead of crashing or NaN-winning."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        ivf_topk,
        normalize_vectors,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [1.0, 1.0, 0.0, 0.0]),
            (4, [0.5, 0.1, 0.0, 0.0]),
            (5, [float("nan"), 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    unit = {r["vec_id"]: r["unit_vec"] for r in normalize_vectors(emb).collect()}
    assert unit[2] == [0.0, 0.0, 0.0, 0.0]
    assert abs(sum(x * x for x in unit[3]) - 1.0) < 1e-9
    # NaN-poisoned embedding: norm is NaN (not NULL), so try_divide alone
    # would propagate NaN into every element of unit_vec — the nanvl
    # guard must collapse it to the zero vector like the zero-norm case.
    assert unit[5] == [0.0, 0.0, 0.0, 0.0]

    out = ivf_topk(emb, emb.filter("vec_id in (1, 2)"), n_centroids=2, k=2)
    rows = out.collect()
    assert len(rows) > 0  # the query ran; degenerate inputs didn't kill it


def test_topk_kernels_tolerate_null_vectors_and_string_ids(spark):
    """Round-12 ADVICE regressions for the round-11 Arrow kernels:

    (a) a NULL corpus vector must be EXCLUDED, not fatal — the old
    expression form scored it a NULL cosine and filtered it
    (np.asarray(None) is a 0-d array, so an unguarded np.array over the
    batch raises on ragged input); same for a NULL probe vector on the
    IVF side;

    (b) non-integral id columns must ride through the kernels in their
    native dtype — the out_schema already derives from the actual id
    type, but the kernels hardcoded an int64 cast that raised on string
    keys, silently narrowing the operator contract the expression form
    supported."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    # (a) NULL corpus / probe vectors: excluded, never fatal
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, None),                       # NULL corpus vector
            (3, [1.0, 1.0, 0.0, 0.0]),
            (4, [0.5, 0.1, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = brute_force_topk(emb, emb.filter("vec_id = 1"), k=4).collect()
    assert {r["neighbor_id"] for r in rows} == {3, 4}
    # NULL query vector: no rows for it, and no crash
    assert brute_force_topk(emb, emb.filter("vec_id = 2"), k=4).count() == 0
    out = ivf_topk(emb, emb.filter("vec_id in (1, 2)"), n_centroids=2, k=3)
    got = {r["query_id"] for r in out.collect()}
    assert 2 not in got  # NULL-vec probe emits nothing

    # (b) string id columns keep their native dtype end to end
    semb = spark.createDataFrame(
        [
            ("a", [1.0, 0.0, 0.0, 0.0]),
            ("b", None),
            ("c", [1.0, 1.0, 0.0, 0.0]),
            ("d", [0.5, 0.1, 0.0, 0.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    srows = brute_force_topk(semb, semb.filter("vec_id = 'a'"), k=4).collect()
    assert {r["neighbor_id"] for r in srows} == {"c", "d"}
    assert all(isinstance(r["neighbor_id"], str) for r in srows)
    # ivf_topk's centroid plumbing is integral by design (corpus ids seed
    # the LongType centroid_id column): a string key must fail LOUDLY up
    # front, not as a numpy cast error mid-kernel
    with pytest.raises(TypeError, match="integral id column"):
        ivf_topk(semb, semb.filter("vec_id = 'a'"), n_centroids=1, k=3)


def test_vectorized_cosine_masks_inf_quotients(spark):
    """A NONZERO dot over a norm product that underflows to 0.0
    (all-subnormal double components) quotients to +Inf in raw numpy —
    which would pass ``>= threshold`` filters and rank FIRST, diverging
    from the expression form's try_divide → NULL and the oracle's
    division-by-zero NULL. The Arrow kernels must mask every non-finite
    quotient to NaN → Arrow NULL (round 9, ADVICE). Unreachable from the
    declared array<float> tables (the smallest float32 subnormal squared
    is ~1e-90, far above double underflow), so this pins the GENERIC
    operator contract for double inputs."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        blocked_cosine_pairs,
        cosine_score_pairs_vectorized,
    )

    sub = 1e-200  # sub² underflows to 0.0 in double
    pairs = spark.createDataFrame(
        [(1, [sub, 0.0], 2, [1.0, 0.0])],
        "id_a long, vec_a array<double>, id_b long, vec_b array<double>",
    )
    [r] = cosine_score_pairs_vectorized(pairs, "vec_a", "vec_b").collect()
    assert r["cosine"] is None  # +Inf masked → NULL, never a rank-1 score

    emb = spark.createDataFrame(
        [(1, [sub, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in blocked_cosine_pairs(emb, threshold=0.4).collect()
    }
    # (1,2)/(1,3) quotient to +Inf raw — masked, never pair
    assert got == {(2, 3): 1.0}


def test_lsh_excludes_nonfinite_vectors_from_bucketing(spark):
    """Non-finite vectors never BUCKET, not merely never pair: a NaN
    plane dot signs differently per engine (numpy ``NaN >= 0`` False;
    Spark/DuckDB order NaN above everything → True), so unfiltered they
    make the CANDIDATE sets non-replayable even though the exact verify
    drops their pairs everywhere (round 9, ADVICE — the oracle applies
    the matching ``isfinite(list_dot_product(v, v))``)."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )

    nanv = [float("nan"), 1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 0.0, 0.0]),
            (2, [1.0, 2.0, 0.0, 0.0]),  # identical finite family → pair
            (3, nanv),
            (4, nanv),                   # identical NaN family → never
            (5, [float("inf"), 1.0, 1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in lsh_bucketed_pairs(emb, dim=4, threshold=0.4).collect()
    }
    assert pairs == {(1, 2, 1.0)}


def test_pq_encode_drops_nonfinite_vectors_directly(spark):
    """``pq_encode`` called OUTSIDE ``pq_topk``'s plan-level pre-filter
    must still enforce the round-8 contract in-kernel: a NaN/±Inf
    component NaN-poisons every subspace's distance column, so argmin
    would silently emit an arbitrary code — the row is dropped instead
    (round 9, ADVICE). The guard is a numpy mask, not a plan Filter, so
    pre-filtered callers pay nothing and their plans are unchanged."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    rows = [
        (0, [float("nan")] * 4),
        (1, [float("inf"), 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(emb, m=2, n_codes=2)
    got = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()
    }
    assert set(got) == {2, 3}
    assert all(len(c) == 2 for c in got.values())


def test_empty_corpus_returns_empty_not_crash(spark):
    """Empty-input contract (empty-tier adversarial gate, round 9): at
    100 TB every filter, partition, and incremental batch eventually
    presents an EMPTY corpus, and the whole ANN/clustering family used
    to die on it — the collected centroid/codebook matrix came back as
    an unshaped (0,)-dim numpy array and ``_seq_pair_dots`` raised
    IndexError before any Spark job even ran. The contract is: empty in,
    empty out, with the declared schema intact."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        ivf_assign_vectorized,
        ivf_topk,
        kmeans_parallel_init,
        pq_codebooks,
        pq_encode,
        pq_topk,
        seed_centroids,
        semantic_dedup,
    )

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")

    assigned = ivf_assign_vectorized(emb, seed_centroids(emb))
    assert assigned.count() == 0
    assert assigned.columns == ["vec_id", "embedding", "centroid_id"]

    books = pq_codebooks(emb, m=2, n_codes=4)
    assert books.shape == (2, 0, 0)
    assert pq_encode(emb, books).count() == 0

    tk = pq_topk(emb, emb, m=2, n_codes=4)
    assert tk.count() == 0
    assert tk.columns == ["query_id", "neighbor_id", "approx_d2", "rank"]

    tk2 = ivf_topk(emb, emb)
    assert tk2.count() == 0
    assert tk2.columns == ["query_id", "neighbor_id", "cosine", "rank"]

    assert semantic_dedup(emb).count() == 0
    assert kmeans_parallel_init(emb, n_centroids=4).count() == 0


def test_all_degenerate_corpus_pq_returns_empty(spark):
    """A non-empty corpus whose every vector is degenerate (NaN/Inf
    lanes) must behave like the empty corpus for PQ: no finite seed
    vectors → an (m, 0, 0) quantizer → no codes, no neighbors — not an
    arbitrary-code encode or an IndexError."""
    from land_registry_data_ingestion_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    emb = spark.createDataFrame(
        [
            (0, [float("nan")] * 4),
            (1, [float("inf"), 1.0, 0.0, 0.0]),
            (2, [float("-inf"), float("nan"), 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    from pyspark.sql import functions as SF
    from land_registry_data_ingestion_spark.operators.similarity import (
        _finite_vec,
    )

    finite = emb.filter(_finite_vec(SF.col("embedding")))
    assert pq_codebooks(finite, m=2, n_codes=2).shape == (2, 0, 0)
    empty_out = pq_topk(emb, emb, m=2, n_codes=2)
    assert empty_out.count() == 0

    # The empty-quantizer path must produce the SAME schema as the
    # normal path, nullability included: rank comes from row_number()
    # (non-nullable) on the normal path, so a lit(NULL)-built rank here
    # would surprise schema-sensitive consumers — writers, unions
    # (round-10 review).
    ok = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    normal_out = pq_topk(ok, ok, m=2, n_codes=2)
    assert empty_out.schema == normal_out.schema
