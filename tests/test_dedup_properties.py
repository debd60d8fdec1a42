"""Property-based near-dup tests: the rep-graph groups must be the SAME
connected components as the declared all-pairs expansion on arbitrary
family structures — identical-duplicate families of random sizes, random
cross-family similarity, shingle-free docs mixed in."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from land_registry_data_ingestion_spark.operators.dedup import (
    minhash_near_dup_groups,
    minhash_near_duplicates,
    near_dup_groups,
)
from land_registry_data_ingestion_spark.util import release_caches

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# A small pool of base texts with graded overlap: consecutive bases share
# most of their vocabulary, so minhash at threshold 0.5 links SOME base
# pairs and not others — the component structure varies per draw instead
# of collapsing to one blob or none.
_BASES = [
    " ".join(f"w{j}" for j in range(i, i + 40)) for i in range(0, 50, 5)
]

# families: list of (base_idx, member_count); member docs share EXACT text
_family = st.tuples(
    st.integers(min_value=0, max_value=len(_BASES) - 1),
    st.integers(min_value=1, max_value=5),
)
_corpus = st.lists(_family, min_size=1, max_size=6)


@settings(**_SETTINGS)
@given(families=_corpus, n_empty=st.integers(min_value=0, max_value=2))
def test_rep_graph_groups_equal_all_pairs_components(spark, families, n_empty):
    """minhash_near_dup_groups (CC on the rep graph, labels joined back
    to members) must emit exactly the groups of the declared all-pairs
    expansion — same doc set, same canonical ids, same member counts —
    on arbitrary family structures including singleton families and
    shingle-free docs."""
    rows = []
    doc_id = 0
    for base_idx, m in families:
        for _ in range(m):
            rows.append((doc_id, _BASES[base_idx]))
            doc_id += 1
    for _ in range(n_empty):
        rows.append((doc_id, ""))
        doc_id += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    composed = {
        r["doc"]: (r["canonical_doc"], r["n_members"])
        for r in minhash_near_dup_groups(
            docs, "doc_id", threshold=0.5
        ).collect()
    }
    release_caches()
    pairs = minhash_near_duplicates(
        docs, "doc_id", threshold=0.5
    )
    expanded = {
        r["doc"]: (r["canonical_doc"], r["n_members"])
        for r in near_dup_groups(pairs).collect()
    }
    release_caches()
    assert composed == expanded


def test_rep_graph_propagation_is_family_scale(spark):
    """The composed path must propagate labels over FAMILIES, not
    members: with 3 identical-content families of 100 members each and
    near-identical base texts linking them, total label changes across
    all rounds must be bounded by the family count (a member-level CC
    would move ~300 labels in round 1)."""
    bases = [
        " ".join(f"w{j}" for j in range(i, i + 40)) for i in (0, 1, 2)
    ]
    rows = [
        (fam * 100 + m, bases[fam]) for fam in range(3) for m in range(100)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    stats: dict = {}
    out = minhash_near_dup_groups(
        docs, "doc_id", threshold=0.5, stats=stats
    ).collect()
    release_caches()
    assert len(out) == 300
    assert len({r["canonical_doc"] for r in out}) == 1  # all linked
    total_changes = sum(r["n_changed"] for r in stats["rounds"])
    assert total_changes <= 3  # rep-graph scale, not member scale


def test_simhash_arrow_matches_expression_incl_null(spark):
    """The Arrow kernel and the pure-expression form must emit
    bit-identical fingerprints — including NULL text → NULL fingerprint
    (the kernel used to crash the worker on the first NULL document) —
    and NULL-text docs must never pair, even with each other (oracle
    semantics: no tokens → absent from signatures)."""
    from land_registry_data_ingestion_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )

    rows = [
        (0, None),
        (1, ""),
        (2, "  \t "),
        (3, "hello world foo bar"),
        (4, "Hello  WORLD\tfoo bar"),
        (5, None),
        # unicode whitespace is NOT a separator (ASCII-only \\s in both
        # the expression form and the oracle) — both forms must treat
        # NBSP/U+2028 as token characters.
        (6, "hello\u00a0world line\u2028sep"),
        (7, " \u00a0\u3000"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expr = sorted(
        tuple(r) for r in simhash(docs, "doc_id", use_arrow=False).collect()
    )
    arrow = sorted(
        tuple(r) for r in simhash(docs, "doc_id", use_arrow=True).collect()
    )
    release_caches()
    assert expr == arrow
    assert dict(expr)[0] is None and dict(expr)[5] is None
    pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_duplicates(docs, "doc_id").collect()
    )
    release_caches()
    assert pairs == [(1, 2), (3, 4)]  # NULL docs pair with nothing


def test_null_and_blank_text_never_pair(spark):
    """NULL text, empty text and whitespace-only text are shingle-free:
    they must appear in no pair and no group — in both the composed
    rep-graph path and the all-pairs expansion (NULL flows differ:
    hash-array cfp is NULL, string-shingle arrays are empty; both must
    land on exclusion)."""
    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "a b c d e f g h i j"),
        (4, "a b c d e f g h i j"),
        (5, "a b c d e f g h i k"),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    composed = sorted(
        tuple(r)
        for r in minhash_near_dup_groups(
            docs, "doc_id", threshold=0.5
        ).collect()
    )
    release_caches()
    pairs = minhash_near_duplicates(
        docs, "doc_id", threshold=0.5
    )
    expanded = sorted(tuple(r) for r in near_dup_groups(pairs).collect())
    release_caches()
    assert composed == expanded == [(3, 3, 3), (4, 3, 3), (5, 3, 3)]
