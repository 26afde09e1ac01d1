"""Streaming quarantine wrapper: bad rows divert to the dead-letter
store with their failed-check labels, clean rows reach the wrapped
target, and a replayed batch reproduces identical quarantine content."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.streaming.quarantine import (
    read_quarantine,
    with_quarantine,
)


def test_quarantine_splits_and_labels(spark, tmp_path):
    qdir = str(tmp_path / "dlq")
    seen = []

    def target(df, batch_id):
        seen.append(sorted(r["id"] for r in df.collect()))

    gate = with_quarantine(
        target,
        checks=[
            ("null_name", F.col("name").isNull()),
            ("v_min_1", F.col("v") < 1),
        ],
        quarantine_dir=qdir,
    )
    batch = spark.createDataFrame(
        [
            (1, "a", 5.0),
            (2, None, 0.5),  # fails both checks
            (3, "c", 0.2),   # fails range only
            (4, "d", 3.0),
        ],
        "id long, name string, v double",
    )
    gate(batch, batch_id=7)
    assert seen == [[1, 4]]
    q = {
        r["id"]: (r["_violations"], r["_batch_id"])
        for r in read_quarantine(spark, qdir).collect()
    }
    assert q == {
        2: ("null_name,v_min_1", 7),
        3: ("v_min_1", 7),
    }

    # replayed batch: same rows re-quarantined under the same batch id —
    # distinct() recovers the exact set
    gate(batch, batch_id=7)
    assert seen == [[1, 4], [1, 4]]
    assert read_quarantine(spark, qdir).distinct().count() == 2


def test_envelope_checks_label_json_null_literal(spark, tmp_path):
    """ADVICE r6: the well-formed JSON literal ``null`` is valid JSON but
    cannot apply; it must quarantine under its own json_null_literal
    label, not the misleading unparseable_json."""
    from cdc_data_lake_pyspark_spark.streaming.runner import envelope_checks

    qdir = str(tmp_path / "dlq_env")
    clean_ids = []

    def target(df, batch_id):
        clean_ids.append(sorted(r["id"] for r in df.collect()))

    gate = with_quarantine(target, envelope_checks(), qdir)
    batch = spark.createDataFrame(
        [
            (1, '{"op": "c"}'),
            (2, "null"),          # valid JSON, empty envelope
            (3, "  null  "),      # same, padded
            (4, "{not json"),
            (5, None),
            (6, "   "),
        ],
        "id long, value string",
    )
    gate(batch, batch_id=0)
    assert clean_ids == [[1]]
    q = {
        r["id"]: r["_violations"]
        for r in read_quarantine(spark, qdir).collect()
    }
    assert q == {
        2: "json_null_literal",
        3: "json_null_literal",
        4: "unparseable_json",
        5: "null_or_empty_value",
        6: "null_or_empty_value",
    }


def test_replayed_batch_reads_one_quarantine_copy(spark, tmp_path):
    """The bad rows are appended before the wrapped target runs, so a
    target that fails makes the replay append them again; the reader
    returns one copy."""
    qdir = str(tmp_path / "dlq_replay")
    calls = []

    def target(df, batch_id):
        calls.append(batch_id)
        if len(calls) == 1:
            raise RuntimeError("target failed")

    gate = with_quarantine(target, [("v_neg", F.col("v") < 0)], qdir)
    batch = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, -2.0)], "id long, v double"
    )
    try:
        gate(batch, batch_id=4)
    except RuntimeError:
        pass
    gate(batch, batch_id=4)  # the replay
    assert calls == [4, 4]
    assert read_quarantine(spark, qdir).count() == 2
