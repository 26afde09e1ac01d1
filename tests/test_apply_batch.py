"""``FrameTableSink.apply_batch`` — one read and one write per table —
against the sequential default (``TableSink.apply_batch``: append, merge,
delete), on both DataFrame sinks; and the parquet sink's schema cache
against a footer read.

The differential cases are the batch shapes where a fused plan could
part from the three statements: a key both inserted and upserted, a key
inserted and deleted, absent keys, a table created mid-batch, duplicate
insert keys, a composite key that is not the table's first column, and
new columns arriving on two routes at once.
"""

from collections import Counter

import pytest

from cdc_data_lake_pyspark_spark.apply import (
    MemoryTableSink,
    ParquetTableSink,
    TableSink,
)
from cdc_data_lake_pyspark_spark.config import TableConfig
from cdc_data_lake_pyspark_spark.localrel import tiny_frame

KV = "k long, v string"

#: name -> (primary key, base rows or None, {route: (schema, rows)})
CASES = {
    "insert_and_upsert_one_key": (
        "k",
        (KV, [(1, "a"), (2, "b")]),
        {"inserts": (KV, [(3, "i")]), "upserts": (KV, [(3, "u"), (1, "A")])},
    ),
    "delete_then_reinsert": (
        "k",
        (KV, [(1, "a"), (2, "b")]),
        {
            "inserts": (KV, [(1, "again"), (4, "d")]),
            "upserts": (KV, [(2, "B")]),
            "deletes": ("k long", [(1,), (2,)]),
        },
    ),
    "absent_keys": (
        "k",
        (KV, [(1, "a")]),
        {"upserts": (KV, [(7, "new")]), "deletes": ("k long", [(9,)])},
    ),
    "created_by_upsert_and_delete": (
        "k",
        None,
        {"upserts": (KV, [(1, "a"), (2, "b")]), "deletes": ("k long", [(2,)])},
    ),
    "duplicate_insert_keys": (
        "k",
        (KV, [(1, "a")]),
        {"inserts": (KV, [(1, "b"), (1, "c"), (3, "d")]), "deletes": ("k long", [(5,)])},
    ),
    "composite_key": (
        "a,b",
        ("v string, a long, b long", [("x", 1, 1), ("y", 1, 2), ("z", 2, 1)]),
        {
            "inserts": ("v string, a long, b long", [("w", 2, 2)]),
            "upserts": ("v string, a long, b long", [("Y", 1, 2), ("n", 3, 1)]),
            "deletes": ("a long, b long", [(2, 1), (1, 1)]),
        },
    ),
    "new_columns_on_two_routes": (
        "k",
        (KV, [(1, "a"), (2, "b")]),
        {
            "inserts": ("k long, v string, x long", [(3, "c", 30)]),
            "upserts": ("k long, v string, y string", [(2, "B", "yy")]),
        },
    ),
}

SINKS = {"memory": lambda root: MemoryTableSink(), "parquet": ParquetTableSink}


def _state(spark, sink, cfg):
    df = sink.read(spark, cfg.db, cfg.table)
    return (
        [(f.name, f.dataType) for f in df.schema.fields],
        Counter(tuple(r) for r in df.collect()),
    )


def _parsed_keys(cfg, frames):
    """The upserts' keys as the pipeline passes them: taken before the
    dedup, so a key may repeat."""
    if "upserts" not in frames:
        return {}
    keys = frames["upserts"].select(*cfg.primary_keys)
    return {"upsert_keys": keys.unionAll(keys)}


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_fused_apply_batch_matches_sequential(spark, tmp_path, kind):
    for i, (name, (key, base, routes)) in enumerate(CASES.items()):
        cfg = TableConfig(db="d", table=name, primary_key=key)
        frames = {r: tiny_frame(spark, rows, ddl) for r, (ddl, rows) in routes.items()}
        # every other case passes the upserts' keys as the pipeline does;
        # the rest leave the sink to project them from the upserts
        parsed = _parsed_keys(cfg, frames) if i % 2 else {}
        states = []
        for path in ["sequential", "fused"]:
            sink = SINKS[kind](str(tmp_path / path))
            if base is not None:
                sink.append(cfg, tiny_frame(spark, base[1], base[0]))
            if path == "fused":
                sink.apply_batch(cfg, **frames, **parsed)
            else:
                TableSink.apply_batch(sink, cfg, **frames)
            sink.flush(cfg)
            states.append(_state(spark, sink, cfg))
        assert states[0] == states[1], name


def test_new_columns_order_base_then_inserts_then_upserts(spark, tmp_path):
    key, base, routes = CASES["new_columns_on_two_routes"]
    cfg = TableConfig(db="d", table="t", primary_key=key)
    sink = ParquetTableSink(str(tmp_path))
    sink.append(cfg, tiny_frame(spark, base[1], base[0]))
    sink.apply_batch(
        cfg, **{r: tiny_frame(spark, rows, ddl) for r, (ddl, rows) in routes.items()}
    )
    out = sink.read(spark, "d", "t")
    assert out.columns == ["k", "v", "x", "y"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a", None, None),
        (2, "B", None, "yy"),
        (3, "c", 30, None),
    ]


# -- the parquet sink's schema cache -----------------------------------------


def _jobs(sc) -> set:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _assert_footer_schema(spark, sink, root):
    footer = spark.read.parquet(f"{root}/d/t").schema
    assert sink.read(spark, "d", "t").schema == footer


def test_parquet_schema_cache_matches_footer(spark, tmp_path):
    root = str(tmp_path)
    cfg = TableConfig(db="d", table="t", primary_key="k")
    sink = ParquetTableSink(root)
    rows = lambda ddl, *r: tiny_frame(spark, list(r), ddl)  # noqa: E731

    sink.append(cfg, rows(KV, (1, "a"), (2, "b")))
    _assert_footer_schema(spark, sink, root)
    sink.append(cfg, rows("k long, v string, x long", (3, "c", 3)))
    _assert_footer_schema(spark, sink, root)
    sink.merge(cfg, rows("k long, v string, y string", (1, "A", "y")))
    _assert_footer_schema(spark, sink, root)
    sink.delete(cfg, rows("k long", (2,)))
    _assert_footer_schema(spark, sink, root)
    sink.apply_batch(
        cfg,
        upserts=rows("k long, v string, w double", (4, "d", 0.5)),
        deletes=rows("k long", (1,)),
    )
    _assert_footer_schema(spark, sink, root)
    sink.compact("d", "t")
    _assert_footer_schema(spark, sink, root)

    # the sink's own last write is trusted: no footer-reading job
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    before = _jobs(sc)
    sink.read(spark, "d", "t").schema
    assert _jobs(sc) == before

    _assert_footer_schema(spark, ParquetTableSink(root), root)


def test_parquet_schema_cache_sees_another_writer(spark, tmp_path):
    root = str(tmp_path)
    cfg = TableConfig(db="d", table="t", primary_key="k")
    first, second = ParquetTableSink(root), ParquetTableSink(root)
    first.append(cfg, tiny_frame(spark, [(1, "a")], KV))
    first.read(spark, "d", "t")
    # an append adding a column rewrites the table under another instance
    second.append(cfg, tiny_frame(spark, [(2, "b", 7)], "k long, v string, z long"))
    assert first.read(spark, "d", "t").columns == ["k", "v", "z"]
    _assert_footer_schema(spark, first, root)
    # an append adding no column only adds files
    second.append(cfg, tiny_frame(spark, [(3, "c", 8)], "k long, v string, z long"))
    first.merge(cfg, tiny_frame(spark, [(3, "C", 9)], "k long, v string, z long"))
    assert sorted(tuple(r) for r in first.read(spark, "d", "t").collect()) == [
        (1, "a", None),
        (2, "b", 7),
        (3, "C", 9),
    ]
