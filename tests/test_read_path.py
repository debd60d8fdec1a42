"""Driver-side cost of the read path: building a query plan and opening a
table are driver work, so they must stay cheap in py4j round trips and
schedule no Spark job."""

from __future__ import annotations

import gc
import os
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.functions.text import (
    word_shingle_hashes,
    word_shingles,
)
from land_registry_data_ingestion_spark.operators.dedup import (
    _md5_hash64,
    _minhash_members_and_verified_pairs,
    minhash_near_duplicates,
)
from land_registry_data_ingestion_spark.plans.registry import REGISTRY, queries
from land_registry_data_ingestion_spark.sources.parquet import (
    TABLE_NAMES,
    footer_schema,
    load_tables,
)
from land_registry_data_ingestion_spark.util import release_caches
from tests.conftest import SF_CORRECTNESS


def _jobs_in_group(spark, name: str, call):
    """``call()``'s result and the number of Spark jobs it scheduled,
    counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"read-path-{name}"
    sc.setJobGroup(group, name)
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_minhash_build_is_a_few_round_trips_and_no_job(spark, monkeypatch):
    """Building ``dedup_minhash_lsh`` (everything before its first job)
    costs at most 100 py4j round trips and schedules no Spark job. The
    SQL-text plan measures 78; the Column-API plan cost about 4,200 and
    the table open one schema-inference job. Counted on the calling
    thread only and without py4j's object-release commands (``m\\nd``),
    which the garbage collector sends for proxies of earlier tests at
    any time."""
    queries()
    fn = REGISTRY["dedup_minhash_lsh"].fn
    calls = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counted(self, command):
        if threading.get_ident() == caller and not command.startswith("m\nd"):
            calls[0] += 1
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    _, n_jobs = _jobs_in_group(
        spark, "minhash-build", lambda: fn(spark, SF_CORRECTNESS)
    )
    monkeypatch.undo()
    release_caches()
    assert n_jobs == 0
    assert calls[0] <= 100, calls[0]


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_footer_schema_is_the_inferred_schema(spark, name):
    """The schema read from the footer on the driver is the one Spark's
    inference job returns, nullability included; ``events`` is read with
    ``nanosAsLong``, as ``Tables`` reads it."""
    path = os.path.join(SF_CORRECTNESS, f"{name}.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, "true" if name == "events" else "false")
    try:
        inferred = spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, old)
    assert footer_schema(path, nanos_as_long=name == "events") == inferred


def test_table_open_schedules_no_job(spark):
    """Opening every table through ``load_tables`` schedules no Spark job."""
    t = load_tables(spark, SF_CORRECTNESS)
    frames, n_jobs = _jobs_in_group(
        spark, "open", lambda: [t.table(name) for name in TABLE_NAMES]
    )
    assert n_jobs == 0
    assert dict(frames[TABLE_NAMES.index("events")].dtypes)["ts"] == "timestamp"


def test_minhash_barriers_stay_cached(spark):
    """The SQL statements read the barriers through temp views; dropping
    those views must not uncache them, or every read recomputes them."""
    docs = load_tables(spark, SF_CORRECTNESS).documents
    pairs = minhash_near_duplicates(docs, "doc_id", threshold=0.3)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    release_caches()
    assert plan.count("InMemoryRelation") >= 3


def _docs_with_copies(spark):
    """The sf0.01 corpus plus a copy of 50 of its documents, so that
    families of two exist, and three shingle-free documents."""
    docs = load_tables(spark, SF_CORRECTNESS).documents.select("doc_id", "text")
    lone = spark.createDataFrame(
        [(2_000_000, None), (2_000_001, "two words"), (2_000_002, "")],
        "doc_id long, text string",
    )
    return docs.unionByName(
        docs.filter("doc_id < 50").withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).unionByName(lone)


def test_family_map_groups_by_word_shingle_hashes(spark):
    """The family map's ``rep`` is the min doc id over documents with one
    ``word_shingle_hashes`` array, the Column-API form of its SQL text;
    a shingle-free document is a family of one."""
    docs = _docs_with_copies(spark)
    members, _, _ = _minhash_members_and_verified_pairs(
        docs, "doc_id", "text", 3, 16, 4, 0.3, None
    )
    got = {(r["doc"], r["rep"]) for r in members.collect()}
    release_caches()
    sh = docs.select(
        F.col("doc_id").alias("doc"), word_shingle_hashes(F.col("text"), 3).alias("sh")
    )
    shingled = sh.filter(F.size("sh") > 0)
    fam = shingled.groupBy("sh").agg(F.min("doc").alias("rep"))
    want = {(r["doc"], r["rep"]) for r in shingled.join(fam, "sh").collect()}
    lone = {r["doc"] for r in sh.filter(~(F.size("sh") > 0) | F.isnull("sh")).collect()}
    want |= {(d, d) for d in lone}
    assert len(lone) == 3
    assert got == want
    assert len({rep for _, rep in got}) <= len(got) - 50


def test_rep_shingle_hashes_are_md5_of_word_shingles(spark):
    """The reps' shingle-hash barrier holds, per rep, ``_md5_hash64`` of
    each of its ``word_shingles``, the Column-API form of its SQL text;
    a shingle-free rep holds none (NULL text gives a NULL array)."""
    docs = _docs_with_copies(spark)
    members, _, frames = _minhash_members_and_verified_pairs(
        docs, "doc_id", "text", 3, 16, 4, 0.3, None
    )
    rows = frames["sh"].collect()
    reps = {r["rep"] for r in members.select("rep").distinct().collect()}
    release_caches()
    got = {(r["doc"], frozenset(r["shingles"] or ())) for r in rows}
    want = {
        (r["doc"], frozenset(r["h"]))
        for r in docs.filter(F.col("doc_id").isin(sorted(reps)))
        .select(
            F.col("doc_id").alias("doc"),
            F.transform(
                word_shingles(F.col("text"), 3), lambda s: _md5_hash64(s, 0)
            ).alias("h"),
        )
        .collect()
    }
    assert got == want
    assert len(rows) == len(reps)
    assert all(r["n_shingles"] == len(r["shingles"]) for r in rows if r["shingles"])
