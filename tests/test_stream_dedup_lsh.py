"""Streaming near-dup dedup gate (r13, VERDICT r12 #2): redelivery
idempotence and bounded store growth — the two properties the oracle
(cumulative equivalence with the unrolled batch closed form, checked by
``tests/test_oracle.py`` like every registered query) cannot see.

The tests drive micro-batches through ``make_gate`` — the EXACT hook the
stream's ``foreachBatch`` runs — against fresh stores, so a pinned
behavior here is the deployed behavior."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_localstack_stream_processing_spark.plans.stream_dedup_ops import (
    _N_BANDS,
    _N_STORE_BUCKETS,
    _band_index,
    _banded,
    _corpus_sql,
    _shingled,
    _staged_doc_batches,
    make_gate,
)
from aws_localstack_stream_processing_spark.plans.dialect import views
from aws_localstack_stream_processing_spark.streaming.sinks import (
    KeyedParquetSink,
)

from .conftest import SF_DIR


@pytest.fixture()
def gate_env(spark, tmp_path):
    """Fresh corpus-seeded stores + the staged 3-batch delivery, one per
    test (the stores mutate)."""
    views(spark, SF_DIR, "documents")
    csh = _shingled(spark.sql(_corpus_sql("spark"))).localCheckpoint(
        eager=True
    )
    work = str(tmp_path / "lsh")
    shstore = KeyedParquetSink(
        f"{work}/shingles", "doc_id", n_buckets=_N_STORE_BUCKETS
    )
    bstore = _band_index(f"{work}/bands")
    shstore.upsert_batch(csh, 0)
    bstore.upsert_batch(_banded(csh), 0)
    matches = f"{work}/matches"
    src = _staged_doc_batches(SF_DIR)
    batches = [
        spark.read.parquet(f"{src}/f{k}.parquet") for k in range(3)
    ]
    return {
        "gate": make_gate(shstore, bstore, matches),
        "shstore": shstore,
        "bstore": bstore,
        "matches": matches,
        "batches": batches,
        "corpus_n": csh.count(),
    }


def _snapshot(spark, env):
    sh = sorted(
        tuple(r) for r in env["shstore"].read(spark).collect()
    )
    bd = sorted(tuple(r) for r in env["bstore"].read(spark).collect())
    mt = sorted(
        tuple(r)
        for r in spark.read.parquet(env["matches"]).collect()
    )
    return sh, bd, mt


def test_redelivery_is_idempotent(spark, gate_env):
    """At-least-once delivery: replaying an already-processed batch —
    mid-stream (crash before checkpoint commit) AND after the full run —
    leaves matches and BOTH stores byte-for-byte identical. The
    mechanism under test is the current-batch id exclusion (a replayed
    batch probes the pre-batch index view) + the stores' composite-key
    put-if-absent + the per-batch-id match overwrite."""
    env = gate_env
    gate, batches = env["gate"], env["batches"]
    gate(batches[0], 0)
    gate(batches[0], 0)  # immediate redelivery (restart before commit)
    gate(batches[1], 1)
    gate(batches[2], 2)
    ref = _snapshot(spark, env)
    gate(batches[1], 1)  # late redelivery, index already grown past it
    assert _snapshot(spark, env) == ref


def test_store_growth_is_bounded_and_exact(spark, gate_env):
    """Store growth = corpus + cumulative survivors, nothing else: one
    shingle row per retained doc (no duplicates across redeliveries),
    exactly ``_N_BANDS`` band rows per retained doc, and survivors =
    delivered shingled docs minus matched docs."""
    env = gate_env
    gate, batches = env["gate"], env["batches"]
    for k in range(3):
        gate(batches[k], k)
        gate(batches[k], k)  # every batch redelivered once
    sh = env["shstore"].read(spark)
    n_docs = sh.count()
    assert n_docs == sh.select("doc_id").distinct().count()
    bd = env["bstore"].read(spark)
    assert bd.count() == _N_BANDS * n_docs
    assert (
        bd.groupBy("doc_id").count().filter(F.col("count") != _N_BANDS)
        .count() == 0
    )
    delivered_shingled = sum(
        _shingled(b).count() for b in batches
    )
    matched = (
        spark.read.parquet(env["matches"])
        .select("in_doc")
        .distinct()
        .count()
    )
    assert n_docs == env["corpus_n"] + delivered_shingled - matched
    assert matched > 0  # the plants really fired


def test_cross_batch_plants_match_only_via_index_growth(spark, gate_env):
    """The +5e6 plants (near-dups of batch-0 held-out docs) match their
    planted source only if batch 0's survivors entered the index:
    matches pointing at ids ≥ 4e6 (earlier batches' survivors — corpus
    ids live below 1e6) are direct evidence the retained index grew, the
    property that separates this operator from a static corpus probe.
    (A plant may ALSO naturally near-dup a corpus doc — its source text
    is drawn from the same synthetic pool — so corpus-side matches are
    legitimate; the pinned property is that grown-index matches exist,
    and that each plant's own source is among its matches.)"""
    env = gate_env
    gate, batches = env["gate"], env["batches"]
    for k in range(3):
        gate(batches[k], k)
    matches = spark.read.parquet(env["matches"])
    cross = matches.filter(F.col("in_doc") >= 5_000_000)
    assert cross.count() > 0
    grown = cross.filter(F.col("corpus_doc") >= 4_000_000)
    assert grown.count() > 0
    # every grown-index match's target must itself be a batch-0 survivor
    surv = env["shstore"].read(spark).select(
        F.col("doc_id").alias("corpus_doc")
    )
    assert (
        grown.join(surv, "corpus_doc", "left_anti").count() == 0
    )


def test_store_bucket_files_stay_pruned(spark, gate_env):
    """Scale shape: the band store keeps its fixed bucket layout (no
    stray top-level files) and every append lands inside ``__bucket=``
    partitions — the physical precondition for the bucket-pruned probe."""
    env = gate_env
    gate, batches = env["gate"], env["batches"]
    gate(batches[0], 0)
    root = env["bstore"].path
    stray = [
        f for f in os.listdir(root)
        if f.endswith(".parquet")
    ]
    assert stray == []
    buckets = [
        d for d in os.listdir(root) if d.startswith("__bucket=")
    ]
    assert 0 < len(buckets) <= _N_STORE_BUCKETS
