"""Streaming VECTOR dedup gate (streaming/vector_gate.py): the
embedding twin of the near-dup gate soak — the driver embeddings plus
planted exact re-embeddings, sliced into id-ordered micro-batches, must
produce EXACTLY the batch rule (earlier-seen vector in a probed cell at
≥ threshold cosine drops the later one — the `ivf_dedup_batch`
machinery the oracled entries run), independent of slicing, idempotent
across replays, convergent through the crash window, probe-visible from
a day-0 `save_ivf_corpus_index` seed, and verdict-stable under
compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.operators.similarity import (
    fit_ivf_pq,
    ivf_dedup_batch,
    save_ivf_corpus_index,
    save_ivf_pq_prefit,
)
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream
from cdc_data_lake_pyspark_spark.streaming.vector_gate import StreamingVectorDedupGate

SF_DIR = "/root/testdata/sf0.01"
THRESHOLD = 0.9
N_SLICES = 4


@pytest.fixture(scope="module")
def corpus(spark):
    """Base embeddings + exact re-embeddings of the first 100 under
    high ids — the duplicates arrive LAST in id order, so the
    originals must win."""
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata absent")
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dups = base.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    return base.unionByName(dups).localCheckpoint()


@pytest.fixture(scope="module")
def prefit(corpus):
    return fit_ivf_pq(corpus, n_clusters=16, m_sub=8, k=16, seed=42)


def _expected_novel(corpus, prefit) -> set:
    """The batch rule via the PUBLIC probe API: every (later, earlier)
    probed pair at/above threshold drops the later vector."""
    pairs = ivf_dedup_batch(
        corpus, corpus, prefit, threshold=THRESHOLD, n_probe=4
    )
    dropped = {
        r.batch_id
        for r in pairs.filter(
            F.col("index_id") < F.col("batch_id")
        ).collect()
    }
    return {r.vec_id for r in corpus.collect()} - dropped


def test_sliced_vector_stream_equals_batch_rule(
    spark, corpus, prefit, tmp_path
):
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    idx = str(tmp_path / "index")
    save_ivf_pq_prefit(spark, prefit, idx)
    gate = StreamingVectorDedupGate(idx, threshold=THRESHOLD, n_probe=4)
    sliced = corpus.withColumn(
        "_slice", F.ntile(N_SLICES).over(Window.orderBy("vec_id"))
    ).localCheckpoint()
    for s in range(1, N_SLICES + 1):
        sliced.filter(F.col("_slice") == s).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("append").json(src)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).json(src)
        q = start_foreach_batch_stream(
            stream, gate.process_batch, ckpt, available_now=True
        )
        q.awaitTermination(600)
    expected = _expected_novel(corpus, prefit)
    got = {r.vec_id for r in gate.kept_vectors(spark).collect()}
    assert got == expected
    # the planted duplicates were actually gated (non-vacuous)
    assert not any(v >= 500_000 for v in got)
    # restart with no new data: unchanged
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(src)
    q = start_foreach_batch_stream(
        stream, gate.process_batch, ckpt, available_now=True
    )
    q.awaitTermination(600)
    assert {r.vec_id for r in gate.kept_vectors(spark).collect()} == expected


def test_vector_slicing_invariance(spark, corpus, prefit, tmp_path):
    """ONE batch vs many micro-batches agree vector for vector — the
    seen-not-kept index design's claim, on the vector side."""
    one_dir, many_dir = str(tmp_path / "one"), str(tmp_path / "many")
    for d in (one_dir, many_dir):
        save_ivf_pq_prefit(spark, prefit, d)
    one = StreamingVectorDedupGate(one_dir, threshold=THRESHOLD, n_probe=4)
    one.process_batch(corpus, batch_id=0)
    many = StreamingVectorDedupGate(many_dir, threshold=THRESHOLD, n_probe=4)
    sliced = corpus.withColumn(
        "_slice", F.ntile(5).over(Window.orderBy("vec_id"))
    ).localCheckpoint()
    for s in range(1, 6):
        many.process_batch(
            sliced.filter(F.col("_slice") == s).select(
                "vec_id", "embedding"
            ),
            batch_id=s,
        )
    assert {r.vec_id for r in one.kept_vectors(spark).collect()} == {
        r.vec_id for r in many.kept_vectors(spark).collect()
    }


def test_vector_crash_window_converges_and_replay_noop(
    spark, corpus, prefit, tmp_path
):
    """Worst crash window: kept + encoded appends landed, manifest
    missing.  The batch-scoped exclusion must reproduce the original
    verdicts on replay; a manifested batch replays as a no-op."""
    idx = str(tmp_path / "index")
    save_ivf_pq_prefit(spark, prefit, idx)
    gate = StreamingVectorDedupGate(idx, threshold=THRESHOLD, n_probe=4)
    first = corpus.filter(F.col("vec_id") < 300)
    second = corpus.filter(F.col("vec_id") >= 300)
    gate.process_batch(first, batch_id=0)
    # simulate: both appends land, manifest never written
    from cdc_data_lake_pyspark_spark.streaming.vector_gate import (
        ENCODED_SCHEMA,
    )

    idx_frame = (
        spark.read.schema(ENCODED_SCHEMA)
        .parquet(f"{idx}/encoded")
        .drop("batch_id")
    )
    novel, benc = gate.batch_reduce(second, idx_frame)
    benc = benc.localCheckpoint()
    novel.localCheckpoint().withColumn(
        "batch_id", F.lit(1).cast("long")
    ).write.mode("append").parquet(f"{idx}/kept")
    benc.withColumn("batch_id", F.lit(1).cast("long")).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{idx}/encoded")
    # checkpoint replay re-delivers the batch in full
    gate.process_batch(second, batch_id=1)
    ref_dir = str(tmp_path / "ref")
    save_ivf_pq_prefit(spark, prefit, ref_dir)
    ref = StreamingVectorDedupGate(ref_dir, threshold=THRESHOLD, n_probe=4)
    ref.process_batch(first, batch_id=0)
    ref.process_batch(second, batch_id=1)
    assert sorted(
        (r.vec_id, r.batch_id) for r in gate.kept_vectors(spark).collect()
    ) == sorted(
        (r.vec_id, r.batch_id) for r in ref.kept_vectors(spark).collect()
    )
    # a manifested batch is a no-op forever after
    n_rows = spark.read.parquet(f"{idx}/encoded").count()
    gate.process_batch(second, batch_id=1)
    assert spark.read.parquet(f"{idx}/encoded").count() == n_rows


def test_vector_gate_seeded_by_day0_bootstrap(spark, corpus, prefit, tmp_path):
    """A store seeded by save_ivf_corpus_index (day-0 bootstrap, no
    batch_id column) is fully probe-visible: day-1 re-embeddings of
    seeded content all drop."""
    idx = str(tmp_path / "index")
    day0 = corpus.filter(F.col("vec_id") < 400)
    save_ivf_corpus_index(day0, prefit, idx)
    gate = StreamingVectorDedupGate(idx, threshold=THRESHOLD, n_probe=4)
    recrawl = day0.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )
    gate.process_batch(recrawl, batch_id=0)
    kept = {r.vec_id for r in gate.kept_vectors(spark).collect()}
    assert not any(v >= 900_000 for v in kept)
    # and genuinely novel vectors survive against the seeded store
    fresh = corpus.filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 450)
    )
    gate.process_batch(fresh, batch_id=1)
    kept = {r.vec_id for r in gate.kept_vectors(spark).collect()}
    expected_fresh = _expected_novel(
        corpus.filter(F.col("vec_id") < 450), prefit
    ) & {r.vec_id for r in fresh.collect()}
    assert kept & {r.vec_id for r in fresh.collect()} == expected_fresh


def test_vector_gate_compaction_preserves_verdicts(
    spark, corpus, prefit, tmp_path
):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (a_dir, b_dir):
        save_ivf_pq_prefit(spark, prefit, d)
    a = StreamingVectorDedupGate(a_dir, threshold=THRESHOLD, n_probe=4)
    b = StreamingVectorDedupGate(b_dir, threshold=THRESHOLD, n_probe=4)
    first = corpus.filter(F.col("vec_id") < 250)
    second = corpus.filter(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 400)
    )
    third = corpus.filter(F.col("vec_id") >= 400)
    for g in (a, b):
        g.process_batch(first, batch_id=0)
        g.process_batch(second, batch_id=1)
    def _n_files(d):
        return sum(
            1
            for _, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    files_before = _n_files(f"{a_dir}/encoded")
    a.compact(spark)
    assert _n_files(f"{a_dir}/encoded") <= files_before
    a.process_batch(third, batch_id=2)
    b.process_batch(third, batch_id=2)
    assert {
        (r.vec_id, r.batch_id) for r in a.kept_vectors(spark).collect()
    } == {(r.vec_id, r.batch_id) for r in b.kept_vectors(spark).collect()}
    # replay guard survives compaction
    n_rows = spark.read.parquet(f"{a_dir}/encoded").count()
    a.process_batch(second, batch_id=1)
    assert spark.read.parquet(f"{a_dir}/encoded").count() == n_rows


def test_batch_loader_reads_gate_maintained_vector_store(
    spark, corpus, prefit, tmp_path
):
    """load_ivf_corpus_index must read a store the streaming gate has
    appended to (writer batch_id tolerated and dropped, mergeSchema so
    the mixed seeded+streamed layout validates deterministically), and
    the batch probe must see BOTH eras."""
    from pyspark.sql import functions as F

    from cdc_data_lake_pyspark_spark.operators.similarity import (
        load_ivf_corpus_index,
        probe_ivf_corpus_index,
    )

    idx = str(tmp_path / "index")
    day0 = corpus.filter(F.col("vec_id") < 200)
    save_ivf_corpus_index(day0, prefit, idx)
    gate = StreamingVectorDedupGate(idx, threshold=THRESHOLD, n_probe=4)
    gate.process_batch(
        corpus.filter(
            (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
        ),
        batch_id=0,
    )
    _, encoded = load_ivf_corpus_index(spark, idx)
    assert "batch_id" not in encoded.columns
    probe = corpus.filter(
        (F.col("vec_id") < 20)
        | ((F.col("vec_id") >= 200) & (F.col("vec_id") < 220))
    ).select((F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding")
    hits = probe_ivf_corpus_index(
        spark, idx, probe, threshold=0.999, n_probe=4
    ).collect()
    hit_idx = {r.index_id for r in hits}
    assert any(i < 200 for i in hit_idx)  # seeded era
    assert any(200 <= i < 400 for i in hit_idx)  # streamed era
