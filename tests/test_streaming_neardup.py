"""Streaming NEAR-dup gate soak (VERDICT r10 #3): the driver corpus plus
planted near/exact duplicates, sliced into id-ordered micro-batches and
streamed through ``StreamingNearDupGate``, must produce EXACTLY the
batch rule — a doc survives iff no banding candidate with a SMALLER id
estimates ≥ threshold (the ``minhash_probe`` machinery the oracled
``dedup_incremental_minhash`` entry runs) — independent of how the
stream was sliced, and stay idempotent across restarts and replays."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.operators.dedup_text import (
    minhash_index,
    minhash_probe,
)
from cdc_data_lake_pyspark_spark.streaming.neardup import StreamingNearDupGate
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream

SF_DIR = "/root/testdata/sf0.01"
THRESHOLD = 0.6
N_SLICES = 4


def _corpus(spark):
    """300 base docs + near-dup re-crawls (one appended token) of the
    first 75 under high ids + exact re-crawls of the next 25 — the
    duplicates arrive LAST in id order, so the originals must win."""
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < 300))
    )
    near = base.filter(F.col("doc_id") < 75).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    exact = base.filter(
        (F.col("doc_id") >= 75) & (F.col("doc_id") < 100)
    ).select((F.col("doc_id") + 600_000).alias("doc_id"), "text")
    return base.unionByName(near).unionByName(exact).localCheckpoint()


def _expected_novel(docs) -> set:
    """The batch rule via the PUBLIC probe API: index the whole corpus,
    probe it against itself, and drop every doc with an earlier
    (smaller-id) estimate-candidate at/above threshold."""
    index = minhash_index(docs)
    pairs = minhash_probe(docs, index, threshold=THRESHOLD)
    dropped = {
        r.batch_id
        for r in pairs.filter(
            F.col("index_id") < F.col("batch_id")
        ).collect()
    }
    return {r.doc_id for r in docs.collect()} - dropped


def _drain(spark, src_dir, gate, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").json(src_dir)
    q = start_foreach_batch_stream(
        stream, gate.process_batch, ckpt, available_now=True
    )
    q.awaitTermination(600)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_sliced_stream_equals_batch_rule(spark, tmp_path):
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs = _corpus(spark)
    sliced = docs.withColumn(
        "_slice", F.ntile(N_SLICES).over(Window.orderBy("doc_id"))
    ).localCheckpoint()

    gate = StreamingNearDupGate(str(tmp_path / "index"), threshold=THRESHOLD)
    for s in range(1, N_SLICES + 1):
        sliced.filter(F.col("_slice") == s).select(
            "doc_id", "text"
        ).coalesce(1).write.mode("append").json(src)
        _drain(spark, src, gate, ckpt)

    expected = _expected_novel(docs)
    got = {r.doc_id for r in gate.kept_docs(spark).collect()}
    assert got == expected
    # the planted duplicates were actually gated (not vacuous)
    assert not any(d >= 600_000 for d in got)
    assert len(got) < docs.count()

    # restart with the same checkpoint and no new data: output unchanged
    _drain(spark, src, gate, ckpt)
    assert {r.doc_id for r in gate.kept_docs(spark).collect()} == expected

    # a re-crawl of slice 1's CONTENT under fresh ids: everything is
    # near-dup of the indexed originals — nothing new survives
    sliced.filter(F.col("_slice") == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).coalesce(1).write.mode("append").json(src)
    _drain(spark, src, gate, ckpt)
    assert {r.doc_id for r in gate.kept_docs(spark).collect()} == expected


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_slicing_invariance(spark, tmp_path):
    """ONE batch vs many micro-batches must agree doc for doc — the
    seen-not-kept index design's whole claim (a kept-only index would
    diverge on near-dup chains)."""
    docs = _corpus(spark)
    one = StreamingNearDupGate(str(tmp_path / "one"), threshold=THRESHOLD)
    one.process_batch(docs, batch_id=0)
    many = StreamingNearDupGate(str(tmp_path / "many"), threshold=THRESHOLD)
    sliced = docs.withColumn(
        "_slice", F.ntile(6).over(Window.orderBy("doc_id"))
    ).localCheckpoint()
    for s in range(1, 7):
        many.process_batch(
            sliced.filter(F.col("_slice") == s).select("doc_id", "text"),
            batch_id=s,
        )
    assert {r.doc_id for r in one.kept_docs(spark).collect()} == {
        r.doc_id for r in many.kept_docs(spark).collect()
    }


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_replayed_batch_is_idempotent(spark, tmp_path):
    gate = StreamingNearDupGate(str(tmp_path / "index"), threshold=THRESHOLD)
    batch = _corpus(spark).filter(F.col("doc_id") < 100)
    gate.process_batch(batch, batch_id=0)
    kept = sorted(
        (r.doc_id, r.batch_id) for r in gate.kept_docs(spark).collect()
    )
    n_sigs = gate.index(spark).signatures.count()
    gate.process_batch(batch, batch_id=0)  # replay
    assert (
        sorted(
            (r.doc_id, r.batch_id)
            for r in gate.kept_docs(spark).collect()
        )
        == kept
    )
    assert gate.index(spark).signatures.count() == n_sigs


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_crash_between_writes_converges(spark, tmp_path):
    """A batch that appended kept/ and buckets/ but died before the
    signature append (the replay-guard's crash window) re-runs to the
    same final state: verdicts unchanged, no duplicate kept rows."""
    idx = str(tmp_path / "index")
    gate = StreamingNearDupGate(idx, threshold=THRESHOLD)
    first = _corpus(spark).filter(F.col("doc_id") < 150)
    gate.process_batch(first, batch_id=0)
    second = _corpus(spark).filter(
        (F.col("doc_id") >= 150) | (F.col("doc_id") >= 500_000)
    )
    # simulate the crash: run the reduction and land ONLY kept + buckets
    # (every index append carries the writing batch_id, as process_batch's
    # writes do — the replay-leak exclusion keys on it)
    novel, bsigs = gate.batch_reduce(second, gate.index(spark))
    bsigs = bsigs.localCheckpoint()
    novel.withColumn("batch_id", F.lit(1).cast("long")).write.mode(
        "append"
    ).parquet(f"{idx}/kept")
    from cdc_data_lake_pyspark_spark.operators.dedup_text import _banded

    _banded(bsigs, gate.bands, gate.rows_per_band).withColumn(
        "batch_id", F.lit(1).cast("long")
    ).write.mode("append").parquet(f"{idx}/buckets")
    # checkpoint replay re-delivers the batch in full
    gate.process_batch(second, batch_id=1)
    whole = StreamingNearDupGate(str(tmp_path / "ref"), threshold=THRESHOLD)
    whole.process_batch(first, batch_id=0)
    whole.process_batch(second, batch_id=1)
    assert sorted(
        (r.doc_id, r.batch_id) for r in gate.kept_docs(spark).collect()
    ) == sorted(
        (r.doc_id, r.batch_id) for r in whole.kept_docs(spark).collect()
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_crash_after_all_appends_converges(spark, tmp_path):
    """The manifest guard's WORST crash window: every append (kept +
    buckets + signatures) landed but the batch died before its manifest
    row.  The replay re-runs the batch against an index that already
    contains the batch's own rows — the candidate-set exclusion must
    reproduce the original verdicts (no doc may drop as a jaccard-1.0
    near-dup of its own leaked signature), duplicate kept rows fold,
    and a LATER batch probing over the duplicated signature rows still
    gets correct verdicts."""
    from cdc_data_lake_pyspark_spark.operators.dedup_text import _banded

    idx = str(tmp_path / "index")
    gate = StreamingNearDupGate(idx, threshold=THRESHOLD)
    first = _corpus(spark).filter(F.col("doc_id") < 150)
    gate.process_batch(first, batch_id=0)
    second = _corpus(spark).filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 300)
    )
    # simulate: ALL THREE appends land, manifest write never happens
    novel, bsigs = gate.batch_reduce(second, gate.index(spark))
    bsigs = bsigs.localCheckpoint()
    novel.localCheckpoint().withColumn(
        "batch_id", F.lit(1).cast("long")
    ).write.mode("append").parquet(f"{idx}/kept")
    _banded(bsigs, gate.bands, gate.rows_per_band).withColumn(
        "batch_id", F.lit(1).cast("long")
    ).write.mode("append").parquet(f"{idx}/buckets")
    bsigs.withColumn("batch_id", F.lit(1).cast("long")).write.mode(
        "append"
    ).parquet(f"{idx}/signatures")
    # checkpoint replay re-delivers the batch in full
    gate.process_batch(second, batch_id=1)
    third = _corpus(spark).filter(F.col("doc_id") >= 300)
    gate.process_batch(third, batch_id=2)
    whole = StreamingNearDupGate(str(tmp_path / "ref"), threshold=THRESHOLD)
    whole.process_batch(first, batch_id=0)
    whole.process_batch(second, batch_id=1)
    whole.process_batch(third, batch_id=2)
    assert sorted(
        (r.doc_id, r.batch_id) for r in gate.kept_docs(spark).collect()
    ) == sorted(
        (r.doc_id, r.batch_id) for r in whole.kept_docs(spark).collect()
    )
    # a fully-replayed batch is a no-op forever after
    n_sigs = gate.index(spark).signatures.count()
    gate.process_batch(second, batch_id=1)
    assert gate.index(spark).signatures.count() == n_sigs


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_bucket_partitioned_gate_agrees_with_flat(spark, tmp_path):
    """VERDICT r11 #2: with ``bucket_partitions`` on, the gate's bucket
    store is hive-partitioned and each batch's candidate join prunes to
    its own prefixes — verdicts must be IDENTICAL to the flat store."""
    docs = _corpus(spark)
    flat = StreamingNearDupGate(str(tmp_path / "flat"), threshold=THRESHOLD)
    part = StreamingNearDupGate(
        str(tmp_path / "part"), threshold=THRESHOLD, bucket_partitions=8
    )
    w = Window.orderBy("doc_id")
    sliced = docs.withColumn(
        "_slice", (F.row_number().over(w) % N_SLICES)
    ).localCheckpoint()
    for s in range(N_SLICES):
        batch = sliced.filter(F.col("_slice") == s).select("doc_id", "text")
        flat.process_batch(batch, batch_id=s)
        part.process_batch(batch, batch_id=s)
    assert {r.doc_id for r in flat.kept_docs(spark).collect()} == {
        r.doc_id for r in part.kept_docs(spark).collect()
    }
    # the partitioned store really is hive-partitioned
    assert any(
        name.startswith("_pfx=")
        for name in os.listdir(f"{tmp_path}/part/buckets")
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_compaction_preserves_verdicts_and_folds_leaks(spark, tmp_path):
    """Store compaction (the §20 operational posture, now code): after
    streaming + a simulated crash-leak, compact() must fold duplicate
    rows physically, shrink the file sets, recover a half-finished
    swap, and leave every future verdict IDENTICAL to an uncompacted
    twin gate's."""
    from cdc_data_lake_pyspark_spark.operators.dedup_text import _banded

    docs = _corpus(spark)
    a = StreamingNearDupGate(str(tmp_path / "a"), threshold=THRESHOLD)
    b = StreamingNearDupGate(str(tmp_path / "b"), threshold=THRESHOLD)
    first = docs.filter(F.col("doc_id") < 200)
    second = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    for g in (a, b):
        g.process_batch(first, batch_id=0)
        # crash-leak batch 1's appends (no manifest row) then replay it:
        # the stores now hold duplicate signature/bucket/kept rows
        novel, bsigs = g.batch_reduce(second, g.index(spark))
        bsigs = bsigs.localCheckpoint()
        novel.localCheckpoint().withColumn(
            "batch_id", F.lit(1).cast("long")
        ).write.mode("append").parquet(f"{g.index_dir}/kept")
        _banded(bsigs, g.bands, g.rows_per_band).withColumn(
            "batch_id", F.lit(1).cast("long")
        ).write.mode("append").parquet(f"{g.index_dir}/buckets")
        bsigs.withColumn("batch_id", F.lit(1).cast("long")).write.mode(
            "append"
        ).parquet(f"{g.index_dir}/signatures")
        g.process_batch(second, batch_id=1)
    n_dup = a.index(spark).signatures.count()
    n_docs = a.index(spark).signatures.select("doc_id").distinct().count()
    assert n_dup > n_docs  # the leak is really there

    def _n_files(d):
        return sum(
            1
            for root, _, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    files_before = _n_files(f"{a.index_dir}/signatures")
    a.compact(spark)
    assert a.index(spark).signatures.count() == n_docs  # leaks folded
    assert _n_files(f"{a.index_dir}/signatures") < files_before
    # future verdicts identical to the uncompacted twin
    third = docs.filter(F.col("doc_id") >= 300)
    a.process_batch(third, batch_id=2)
    b.process_batch(third, batch_id=2)
    assert {
        (r.doc_id, r.batch_id) for r in a.kept_docs(spark).collect()
    } == {(r.doc_id, r.batch_id) for r in b.kept_docs(spark).collect()}
    # replay guard survives compaction (manifest rows folded, not lost)
    n_sigs = a.index(spark).signatures.count()
    a.process_batch(second, batch_id=1)
    assert a.index(spark).signatures.count() == n_sigs
    # half-finished swap (old parked, store missing) recovers
    os.rename(f"{a.index_dir}/kept", f"{a.index_dir}/kept__old")
    a.compact(spark)
    kept_after = {
        (r.doc_id, r.batch_id) for r in a.kept_docs(spark).collect()
    }
    assert kept_after == {
        (r.doc_id, r.batch_id) for r in b.kept_docs(spark).collect()
    }


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_halfswap_recovered_by_reads_not_just_compact(spark, tmp_path):
    """ADVICE r12: a crash between compact()'s two renames leaves the
    store parked at ``__old`` — a restarted STREAM (not a compaction)
    must repair it and run against the full index, never silently
    against an empty one (where its appends would recreate the dir and
    the next compact() would delete the parked full store)."""
    gate = StreamingNearDupGate(str(tmp_path / "index"), threshold=THRESHOLD)
    docs = _corpus(spark)
    gate.process_batch(docs.filter(F.col("doc_id") < 300), batch_id=0)
    n_sigs = gate.index(spark).signatures.count()
    assert n_sigs > 0
    # simulate the crash window: store parked, dir missing
    os.rename(
        f"{gate.index_dir}/signatures", f"{gate.index_dir}/signatures__old"
    )
    os.rename(f"{gate.index_dir}/buckets", f"{gate.index_dir}/buckets__old")
    # a plain read repairs and sees the full index
    assert gate.index(spark).signatures.count() == n_sigs
    # and the next batch gates against it: re-crawled content all drops
    recrawl = docs.filter(F.col("doc_id") < 75).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    gate.process_batch(recrawl, batch_id=1)
    assert not any(
        r.doc_id >= 2_000_000 for r in gate.kept_docs(spark).collect()
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_layout_mismatch_raises(spark, tmp_path):
    """ADVICE r12: the gate persists its layout in ``params/`` and a
    gate constructed with a DIFFERENT bucket_partitions over the same
    store must refuse loudly — constructor-trusted, the partitioned
    reader read ``_pfx`` as NULL over a flat store and silently dropped
    every pre-existing index row from candidate discovery."""
    idx = str(tmp_path / "index")
    flat = StreamingNearDupGate(idx, threshold=THRESHOLD)
    flat.process_batch(_corpus(spark).filter(F.col("doc_id") < 100), 0)
    part = StreamingNearDupGate(idx, threshold=THRESHOLD, bucket_partitions=8)
    with pytest.raises(ValueError, match="layout mismatch"):
        part.process_batch(
            _corpus(spark).filter(F.col("doc_id") >= 100), 1
        )
    with pytest.raises(ValueError, match="layout mismatch"):
        part.index(spark)
    # hash-layout drift refuses too
    other = StreamingNearDupGate(idx, threshold=THRESHOLD, num_hashes=32)
    with pytest.raises(ValueError, match="layout mismatch"):
        other.index(spark)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_replay_exclusion_is_batch_scoped_not_id_scoped(spark, tmp_path):
    """ADVICE r12: the replay-leak exclusion keys on the WRITING
    batch_id, not the doc_id.  Two consequences the old id-keyed
    exclusion got wrong, both pinned here: (1) a doc_id legitimately
    re-delivered in a LATER batch IS compared against its own earlier
    index copy (dropped as a jaccard-1.0 near-dup, not double-kept);
    (2) an index doc whose id collides with a current-batch id still
    participates in candidacy for the OTHER batch docs — its true
    near-dups are found."""
    gate = StreamingNearDupGate(str(tmp_path / "index"), threshold=THRESHOLD)
    base = _corpus(spark).filter(F.col("doc_id") < 50).localCheckpoint()
    gate.process_batch(base, batch_id=0)
    # batch 1: (a) doc_id 3 re-delivered verbatim; (b) doc_id 7 carries
    # UNRELATED new content (id collision with an index row); (c) a
    # fresh id whose content near-dups indexed doc 7's original text
    redelivered = base.filter(F.col("doc_id") == 3)
    collided = base.filter(F.col("doc_id") == 7).select(
        "doc_id",
        F.lit(
            "completely unrelated replacement content with nothing in "
            "common with anything seen before zebra quark nebula"
        ).alias("text"),
    )
    neardup_of_7 = base.filter(F.col("doc_id") == 7).select(
        F.lit(4_000_000).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    gate.process_batch(
        redelivered.unionByName(collided).unionByName(neardup_of_7),
        batch_id=1,
    )
    kept = {
        (r.doc_id, r.batch_id) for r in gate.kept_docs(spark).collect()
    }
    # (1) the verbatim re-delivery of id 3 dropped against its own copy
    assert (3, 1) not in kept and (3, 0) in kept
    # (2) the collision did NOT mask doc 7's index copy: the fresh
    # near-dup of its original content dropped
    assert (4_000_000, 1) not in kept
    # the collided id's NEW content is genuinely novel and survives
    assert (7, 1) in kept


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_preparams_store_refused_and_adoptable(spark, tmp_path):
    """A store with data but no params/ (pre-r13, or foreign) must be
    REFUSED — blessing the constructor's layout over unknown data is
    the silent-candidate-loss failure the params check prevents — and
    adopt_store() is the explicit one-time migration."""
    idx = str(tmp_path / "index")
    gate = StreamingNearDupGate(idx, threshold=THRESHOLD)
    docs = _corpus(spark).filter(F.col("doc_id") < 100)
    gate.process_batch(docs, batch_id=0)
    import shutil

    shutil.rmtree(f"{idx}/params")  # simulate a pre-params store
    fresh = StreamingNearDupGate(idx, threshold=THRESHOLD)
    with pytest.raises(ValueError, match="adopt_store"):
        fresh.index(spark)
    with pytest.raises(ValueError, match="adopt_store"):
        fresh.process_batch(
            _corpus(spark).filter(F.col("doc_id") >= 100), 1
        )
    fresh.adopt_store(spark)
    # migrated: the full index is visible and gating resumes
    recrawl = docs.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    fresh.process_batch(recrawl, batch_id=1)
    assert not any(
        r.doc_id >= 3_000_000
        for r in fresh.kept_docs(spark).collect()
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_batch_loader_reads_gate_maintained_store(spark, tmp_path):
    """The BATCH lifecycle loader must read a store the STREAMING gate
    has appended to (writer batch_id columns tolerated and dropped),
    so a daily batch probe can run against a gate-maintained index."""
    from cdc_data_lake_pyspark_spark.operators.dedup_text import (
        load_minhash_index,
    )

    idx = str(tmp_path / "index")
    docs = _corpus(spark)
    # seed via the batch artifact, then stream more batches over it
    from cdc_data_lake_pyspark_spark.operators.dedup_text import (
        minhash_index as build_index,
        save_minhash_index,
    )

    save_minhash_index(
        build_index(docs.filter(F.col("doc_id") < 150)), idx
    )
    gate = StreamingNearDupGate(idx, threshold=THRESHOLD)
    gate.process_batch(
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
        batch_id=0,
    )
    loaded = load_minhash_index(spark, idx)
    assert "batch_id" not in loaded.signatures.columns
    # content from BOTH eras is probe-visible through the batch API
    probe = docs.filter(
        (F.col("doc_id") < 10)
        | ((F.col("doc_id") >= 150) & (F.col("doc_id") < 160))
    ).select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    hits = minhash_probe(probe, loaded, threshold=0.99).collect()
    hit_idx = {r.index_id for r in hits}
    assert any(i < 150 for i in hit_idx)  # seeded era
    assert any(150 <= i < 300 for i in hit_idx)  # streamed era


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_exact_signature_recrawls_append_nothing(spark, tmp_path):
    """r16: the index appends one representative per UNIQUE signature —
    an exact-signature re-crawl adds nothing to either index dataset
    (the 24-batch chained soak measured per-batch wall doubling from
    exactly these appends), while verdicts are unchanged: dropped
    near-dups with DISTINCT signatures are still indexed, so chains
    still convict, and a later re-crawl of dropped-near-dup content is
    still gated."""
    docs = _corpus(spark)
    gate = StreamingNearDupGate(str(tmp_path / "i"), threshold=THRESHOLD)
    gate.process_batch(docs, batch_id=0)
    idx = gate.index(spark)
    # the planted exact re-crawls (ids 600_000+) appended nothing;
    # their originals represent their signature
    assert idx.signatures.filter(F.col("doc_id") >= 600_000).count() == 0
    # dropped NEAR-dups (distinct signatures, ids 500_000+) are still
    # indexed — seen-not-kept where it matters
    assert idx.signatures.filter(F.col("doc_id") >= 500_000).count() > 0
    sig_n = idx.signatures.count()
    bucket_n = idx.buckets.count()
    kept = {r.doc_id for r in gate.kept_docs(spark).collect()}

    # a pure exact-re-crawl batch: every verdict is a drop, and the
    # index does not grow by a single row
    recrawl = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    gate.process_batch(recrawl, batch_id=1)
    idx2 = gate.index(spark)
    assert idx2.signatures.count() == sig_n
    assert idx2.buckets.count() == bucket_n
    assert {r.doc_id for r in gate.kept_docs(spark).collect()} == kept

    # a re-crawl of a DROPPED near-dup's exact text is still convicted
    # (through the near-dup's own indexed signature)
    again = docs.filter(F.col("doc_id") == 500_010).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    assert again.count() == 1
    gate.process_batch(again, batch_id=2)
    assert {r.doc_id for r in gate.kept_docs(spark).collect()} == kept
