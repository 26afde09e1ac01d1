"""Streaming near-dup gate soak (VERDICT r4 item 7): the driver corpus
sliced into id-ordered micro-batches and streamed through
``StreamingNoveltyGate`` must produce EXACTLY the batch result — one row
per distinct fingerprint with the minimum doc id — and stay idempotent
across checkpoint restarts and replayed content (the
``test_streaming_soak.py`` pattern, applied to the dedup index)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.streaming.novelty import (
    StreamingNoveltyGate,
    document_fingerprint,
)
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream

SF_DIR = "/root/testdata/sf0.01"
N_SLICES = 4


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")


def _drain(spark, src_dir, gate, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string").json(src_dir)
    )
    q = start_foreach_batch_stream(
        stream, gate.process_batch, ckpt, available_now=True
    )
    q.awaitTermination(600)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_sliced_stream_equals_batch(spark, tmp_path):
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    idx_dir = str(tmp_path / "index")
    os.makedirs(src, exist_ok=True)

    base = _docs(spark)
    # plant cross-batch duplicates: slice-1 texts re-arrive in the LAST
    # slice under fresh (higher) ids — the gate must keep the originals
    dups = base.filter(F.col("doc_id") < 125).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups).localCheckpoint()
    sliced = docs.withColumn(
        "_slice", F.ntile(N_SLICES).over(Window.orderBy("doc_id"))
    ).localCheckpoint()

    gate = StreamingNoveltyGate(idx_dir)
    for s in range(1, N_SLICES + 1):
        sliced.filter(F.col("_slice") == s).select("doc_id", "text").coalesce(
            1
        ).write.mode("append").json(src)
        _drain(spark, src, gate, ckpt)

    # batch truth: first-per-fingerprint over the whole streamed corpus
    expected = sorted(
        (r.fp, r.doc_id)
        for r in docs.select(
            document_fingerprint().alias("fp"), "doc_id"
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    )
    got = sorted(
        (r.fp, r.doc_id) for r in gate.novel_docs(spark).collect()
    )
    assert got == expected
    # the planted duplicates were actually dropped (keepers are originals)
    assert len(got) < docs.count()
    assert not any(doc_id >= 500_000 for _, doc_id in got)

    # restart with the same checkpoint and no new data: index unchanged
    _drain(spark, src, gate, ckpt)
    assert sorted(
        (r.fp, r.doc_id) for r in gate.novel_docs(spark).collect()
    ) == expected

    # replayed CONTENT as new files (a re-crawl): every fingerprint is
    # already indexed — cross-batch dedup holds, keeper ids keep their
    # original (minimum) values even though replayed ids are higher
    sliced.filter(F.col("_slice") == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).coalesce(1).write.mode("append").json(src)
    _drain(spark, src, gate, ckpt)
    assert sorted(
        (r.fp, r.doc_id) for r in gate.novel_docs(spark).collect()
    ) == expected


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Simulate a checkpoint replay: calling process_batch twice with the
    same micro-batch appends nothing the second time."""
    gate = StreamingNoveltyGate(str(tmp_path / "index"))
    batch = _docs(spark).limit(100)
    gate.process_batch(batch, batch_id=0)
    first = gate.novel_docs(spark).count()
    gate.process_batch(batch, batch_id=0)  # replay
    assert gate.novel_docs(spark).count() == first


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_bloom_prefiltered_gate_equals_plain_gate(spark, tmp_path):
    """The Bloom pre-filter is an optimization, not a semantics change:
    streaming the same slices through a bloom-backed gate must produce
    EXACTLY the plain gate's index (no false negatives by construction;
    false positives are recovered by the exact anti-join)."""
    base = _docs(spark).limit(300)
    dups = base.filter(F.col("doc_id") < 75).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups).localCheckpoint()
    sliced = docs.withColumn(
        "_slice", F.ntile(3).over(Window.orderBy("doc_id"))
    ).localCheckpoint()

    plain = StreamingNoveltyGate(str(tmp_path / "idx_plain"))
    bloomed = StreamingNoveltyGate(
        str(tmp_path / "idx_bloom"), bloom_dir=str(tmp_path / "cells")
    )
    for s in (1, 2, 3):
        b = sliced.filter(F.col("_slice") == s).select("doc_id", "text")
        plain.process_batch(b, batch_id=s)
        bloomed.process_batch(b, batch_id=s)

    want = sorted(
        (r.fp, r.doc_id) for r in plain.novel_docs(spark).collect()
    )
    got = sorted(
        (r.fp, r.doc_id) for r in bloomed.novel_docs(spark).collect()
    )
    assert got == want
    assert len(got) > 0

    # replayed batch (checkpoint recovery): nothing appended, to index OR
    # cells beyond harmless duplicates folded by distinct()
    bloomed.process_batch(
        sliced.filter(F.col("_slice") == 3).select("doc_id", "text"),
        batch_id=3,
    )
    assert (
        sorted(
            (r.fp, r.doc_id) for r in bloomed.novel_docs(spark).collect()
        )
        == want
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_bloom_gate_recovers_from_cells_written_index_lost(spark, tmp_path):
    """Crash window: cells committed but the index append lost.  The
    replay sees every fp maybe_seen, the exact anti-join still finds them
    missing from the index, and the batch lands — no novel doc is ever
    dropped by the pre-filter."""
    import shutil

    gate = StreamingNoveltyGate(
        str(tmp_path / "index"), bloom_dir=str(tmp_path / "cells")
    )
    batch = _docs(spark).limit(80)
    gate.process_batch(batch, batch_id=0)
    n = gate.novel_docs(spark).count()
    assert n > 0
    # simulate the crash: drop the index write, keep the cells
    shutil.rmtree(str(tmp_path / "index"))
    gate.process_batch(batch, batch_id=0)  # replay
    assert gate.novel_docs(spark).count() == n
