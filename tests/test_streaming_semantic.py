"""Streaming semantic gate soak: the embedding corpus sliced into
id-ordered micro-batches (with identical-vector replicas re-arriving in
the last slice) must match a pure-numpy sequential simulation of the
gate's exact semantics — within-batch min-id banded prune, then
index-probe drop — and a replayed batch must append nothing (the
self-match idempotence argument)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.operators.similarity import make_hyperplanes
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream
from cdc_data_lake_pyspark_spark.streaming.semantic import StreamingSemanticGate

SF_DIR = "/root/testdata/sf0.01"
N_SLICES = 3
THR = 0.4
DIM, N_PLANES, N_TABLES, SEED = 64, 6, 8, 42


def _sigs(V, H, n_tables, n_planes):
    weights = 1 << np.arange(n_planes)
    bits = (V @ H.T) >= 0
    return (bits.reshape(len(V), n_tables, n_planes) * weights).sum(axis=2)


def _cos(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def _reference(slices):
    """Sequential numpy replica of the gate: per slice, min-id drop over
    same-bucket pairs, then drop survivors matching any kept vector in a
    shared bucket at >= THR; keep the rest."""
    planes = np.array(
        [
            make_hyperplanes(DIM, N_PLANES, seed=SEED + 1000 * t)
            for t in range(N_TABLES)
        ]
    )
    H = planes.reshape(N_TABLES * N_PLANES, DIM)
    kept = []  # (id, vec, sig)
    for ids, V in slices:
        sig = _sigs(V, H, N_TABLES, N_PLANES)
        dropped = set()
        for a in range(len(ids)):
            for b in range(len(ids)):
                if (
                    ids[a] < ids[b]
                    and (sig[a] == sig[b]).any()
                    and _cos(V[a], V[b]) >= THR
                ):
                    # the gate drops EVERY higher id of an above-threshold
                    # pair, whether or not the lower id itself survives
                    dropped.add(ids[b])
        for k in range(len(ids)):
            if ids[k] in dropped:
                continue
            hit = any(
                (sig[k] == ksig).any() and _cos(V[k], kv) >= THR
                for _, kv, ksig in kept
            )
            if not hit:
                kept.append((ids[k], V[k], sig[k]))
    return sorted(i for i, _, _ in kept)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_semantic_gate_matches_reference_and_is_idempotent(spark, tmp_path):
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    idx_dir = str(tmp_path / "semidx")
    os.makedirs(src, exist_ok=True)

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # identical vectors re-arrive in the last slice under fresh ids —
    # every replica must be dropped by the index probe
    dups = base.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dups).localCheckpoint()
    sliced = corpus.withColumn(
        "_slice", F.ntile(N_SLICES).over(Window.orderBy("vec_id"))
    ).localCheckpoint()

    gate = StreamingSemanticGate(
        idx_dir,
        threshold=THR,
        dim=DIM,
        n_planes=N_PLANES,
        n_tables=N_TABLES,
        seed=SEED,
    )
    ref_slices = []
    for s in range(1, N_SLICES + 1):
        sl = sliced.filter(F.col("_slice") == s).select("vec_id", "embedding")
        sl.coalesce(1).write.mode("append").parquet(src)
        pdf = sl.orderBy("vec_id").toPandas()
        ref_slices.append(
            (
                pdf["vec_id"].to_numpy(),
                np.vstack(pdf["embedding"].to_numpy()).astype(np.float64),
            )
        )
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src)
        q = start_foreach_batch_stream(
            stream, gate.process_batch, ckpt, available_now=True
        )
        q.awaitTermination(600)

    got = sorted(r["vec_id"] for r in gate.novel_ids(spark).collect())
    assert got == _reference(ref_slices)
    # all identical replicas were gated out
    assert not any(i >= 500_000 for i in got)
    assert len(got) < corpus.count()

    # replay idempotence: re-processing slice 1 appends nothing (every
    # vector matches itself in the index)
    n_before = gate.index(spark).count()
    gate.process_batch(
        sliced.filter(F.col("_slice") == 1).select("vec_id", "embedding"),
        batch_id=99,
    )
    assert gate.index(spark).count() == n_before
