"""Correctness check: an independent DuckDB fold of the generated events.

The expected state of every table is the base rows plus every applied
change event, folded to the latest version per key by ``ts_ms`` with
deleted keys removed and the configured timestamp fields cast.  DuckDB
parses the raw envelopes itself (Debezium ``source``/``op``/``ts_ms``, DMS
``metadata``), so the fold shares no code with the engine under test.

Each sink table is compared with its expected rows by column set, row count
and an order-independent hash (sum of per-row hashes of a canonical text
rendering).  :func:`verify` also corrupts one sink row in memory and
confirms the hash comparison catches it.
"""

from __future__ import annotations

import os

import duckdb

_TYPES = {
    "amount": "DOUBLE",
    "customer": "VARCHAR",
    "id": "BIGINT",
    "note": "VARCHAR",
    "qty": "BIGINT",
    "region": "VARCHAR",
    "status": "VARCHAR",
    "updated_at": "TIMESTAMP",
}


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


def _image_struct(columns: list[str]) -> str:
    raw = {c: ("VARCHAR" if t == "TIMESTAMP" else t) for c, t in _TYPES.items() if c in columns}
    return "STRUCT(" + ", ".join(f"{_q(c)} {t}" for c, t in raw.items()) + ")"


def _events_sql(fmt: str, files: list[str], columns: list[str]) -> str:
    """One row per change event: tbl, op, ts_ms, id, payload columns."""
    file_list = "[" + ", ".join(_lit(f) for f in files) + "]"
    image = _image_struct(columns)
    payload = ", ".join(f"img.{_q(c)} AS {_q(c)}" for c in columns if c != "id")
    if fmt == "dms":
        meta = (
            'STRUCT("timestamp" VARCHAR, "record-type" VARCHAR, "operation" VARCHAR, '
            '"schema-name" VARCHAR, "table-name" VARCHAR)'
        )
        return f"""
        SELECT metadata."schema-name" AS db, metadata."table-name" AS tbl,
               CASE metadata.operation WHEN 'load' THEN 'r' WHEN 'insert' THEN 'c'
                    WHEN 'update' THEN 'u' WHEN 'delete' THEN 'd' END AS op,
               epoch_ms(CAST(rtrim(metadata."timestamp", 'Z') AS TIMESTAMP)) AS ts_ms,
               img.id AS id, {payload}
        FROM (SELECT metadata, data AS img FROM read_json({file_list},
              format='newline_delimited',
              columns={{data: '{image}', metadata: '{meta}'}}))
        WHERE coalesce(metadata."record-type", 'data') = 'data'
        """
    return f"""
    SELECT source.db AS db, source."table" AS tbl, op, ts_ms,
           img.id AS id, {payload}
    FROM (SELECT source, op, ts_ms,
                 CASE WHEN op = 'd' THEN "before" ELSE "after" END AS img
          FROM read_json({file_list}, format='newline_delimited',
               columns={{"before": '{image}', "after": '{image}',
                        source: 'STRUCT(db VARCHAR, "table" VARCHAR)',
                        op: 'VARCHAR', ts_ms: 'BIGINT'}}))
    """


def _canonical(columns: list[str], rel: str) -> str:
    """Per-row canonical text over ``columns`` (sorted) of relation ``rel``."""
    parts = ", ".join(
        f"coalesce(CAST(CAST({_q(c)} AS {_TYPES[c]}) AS VARCHAR), '<null>')" for c in columns
    )
    return f"SELECT concat_ws('|', {parts}) AS canon FROM {rel}"


def _digest(con, columns: list[str], rel: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(canon))::HUGEINT, 0) FROM ({_canonical(columns, rel)})"
    ).fetchone()
    return int(n), int(h)


def _fold(con, inputs: str, manifest: dict, applied: list[str]) -> list[str]:
    """Create view ``expected`` (db, tbl, payload columns); return columns."""
    columns = list(manifest["payload_columns"])
    if manifest.get("evolved_column"):
        applied_set = set(applied)
        evolved = any(
            b["index"] >= next(x["index"] for x in manifest["batches"] if x["adds_column"])
            for b in manifest["batches"]
            if b["file"] in applied_set
        )
        if evolved:
            columns.append(manifest["evolved_column"])
    columns = sorted(columns)
    fmt = manifest["workload"]["cdc_format"]
    files = [os.path.join(inputs, f) for f in applied]
    parts = [_events_sql(fmt, files, columns)] if files else []
    for b in manifest["base"]:
        if not b["file"]:
            continue
        base_cols = ", ".join(
            _q(c) if c in manifest["payload_columns"] else f"NULL AS {_q(c)}"
            for c in columns
            if c != "id"
        )
        parts.append(
            f"SELECT {_lit(manifest['db'])} AS db, {_lit(b['table'])} AS tbl, 'r' AS op, "
            f"-1::BIGINT AS ts_ms, id, {base_cols} "
            f"FROM read_parquet({_lit(os.path.join(inputs, b['file']))})"
        )
    union = " UNION ALL BY NAME ".join(f"({p})" for p in parts)
    con.execute(
        f"""CREATE OR REPLACE TABLE expected AS
        SELECT * EXCLUDE (rn, op, ts_ms) FROM (
          SELECT *, row_number() OVER (PARTITION BY db, tbl, id ORDER BY ts_ms DESC) AS rn
          FROM ({union}))
        WHERE rn = 1 AND op <> 'd'"""
    )
    return columns


def _sink_rel(sink_root: str, db: str, table: str) -> str:
    return f"read_parquet({_lit(os.path.join(sink_root, db, table, '*.parquet'))})"


def verify(inputs: str, manifest: dict, applied: list[str], sink_root: str) -> dict:
    """Compare every table of ``sink_root`` with the fold of the base rows
    and the ``applied`` batch files (paths relative to ``inputs``).

    Self-test: a copy of the first matching table with one row's ``amount``
    shifted by one must fail the same comparison (``self_test_caught``)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    columns = _fold(con, inputs, manifest, applied)
    db = manifest["db"]
    tables = sorted(
        {b["table"] for b in manifest["base"] if b["rows"]}
        | {t for b in manifest["batches"] if b["file"] in set(applied) for t in b["per_table"]}
    )
    report = []
    caught = None
    for t in tables:
        path = os.path.join(sink_root, db, t)
        exp = _digest(con, columns, f"(SELECT * FROM expected WHERE tbl = {_lit(t)})")
        entry = {"table": t, "rows_expected": exp[0]}
        if not os.path.isdir(path):
            entry.update(ok=False, error="table missing from sink")
            report.append(entry)
            continue
        rel = _sink_rel(sink_root, db, t)
        got_cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall())
        if got_cols != columns:
            entry.update(ok=False, error=f"columns {got_cols} != expected {columns}")
            report.append(entry)
            continue
        got = _digest(con, columns, rel)
        entry.update(rows_got=got[0], ok=got == exp)
        report.append(entry)
        if caught is None:
            con.execute(f"CREATE TABLE corrupted AS SELECT * FROM {rel}")
            con.execute(
                "UPDATE corrupted SET amount = amount + 1 "
                "WHERE id = (SELECT min(id) FROM corrupted)"
            )
            caught = _digest(con, columns, "corrupted") != exp
    con.close()
    return {
        "ok": bool(report) and all(e["ok"] for e in report),
        "columns": columns,
        "tables": report,
        "self_test_caught": bool(caught),
    }
