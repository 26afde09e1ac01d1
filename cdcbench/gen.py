"""Seeded input generator for the CDC micro-batch benchmark.

Writes, for one workload and seed:

* ``base/<db>.<table>.parquet`` — the rows a table holds before the stream
  starts (raw payload images; timestamp fields stay strings, as in CDC);
* ``batches/<n>.jsonl`` — one JSON-lines file per micro-batch of Debezium
  or AWS DMS envelopes;
* ``tables.json`` — the per-table pipeline config;
* ``manifest.json`` — per batch: phase, events per table and route,
  distinct keys touched (the dedup collapse ratio's denominator).

The same ``(workload, seed, measured batches)`` always gives byte-identical
files.  Every event carries a globally unique ``ts_ms`` that grows with its
position in the stream, so "latest change per key" has one answer.

Invariants that keep the stream unambiguous for the reference fold:

* ``c``/``r`` only on brand-new keys, once each;
* ``u`` only on keys live at batch start and not deleted in that batch;
* ``d`` on live keys, at most once, and never touched again afterwards.

This module does not import the engine under test.

Run standalone: ``python3 cdcbench/gen.py --workload upsert_steady --seed 1
--out /tmp/x --batches 4``.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DB = "bench"
PAYLOAD_COLUMNS = ["amount", "customer", "id", "qty", "region", "status", "updated_at"]
EVOLVED_COLUMN = "note"
TIMESTAMP_FIELDS = ["updated_at"]
_STATUS = ["NEW", "PAID", "SHIPPED", "DONE", "HOLD"]
_REGION = ["eu-west", "us-east", "us-west", "ap-south", "sa-east", "af-south"]
_DMS_OPS = {"r": "load", "c": "insert", "u": "update", "d": "delete"}


@dataclass(frozen=True)
class WorkloadSpec:
    """Shape of one workload's change stream."""

    name: str
    cdc_format: str  # 'debezium' | 'dms'
    tables: int
    base_rows: int  # total over all tables
    batch_events: int  # per micro-batch, over all tables
    mix: tuple[float, float, float, float]  # shares of r, c, u, d
    zipf_a: float  # key skew of updates
    warmup_batches: int
    nominal_batch_s: float  # sizes the measured backlog from --seconds
    min_batches: int  # measured batches never fall below this
    evolve: bool  # one measured batch midway adds a nullable column


WORKLOADS = {
    "snapshot_bulk": WorkloadSpec(
        name="snapshot_bulk",
        cdc_format="debezium",
        tables=1,
        base_rows=0,
        batch_events=100_000,
        mix=(1.0, 0.0, 0.0, 0.0),
        zipf_a=1.2,
        warmup_batches=1,
        nominal_batch_s=2.5,
        min_batches=3,
        evolve=False,
    ),
    "upsert_steady": WorkloadSpec(
        name="upsert_steady",
        cdc_format="debezium",
        tables=1,
        base_rows=100_000,
        batch_events=50_000,
        mix=(0.0, 0.15, 0.80, 0.05),
        zipf_a=1.2,
        warmup_batches=2,
        nominal_batch_s=4.5,
        min_batches=4,
        evolve=True,
    ),
    "fanout_many_tables": WorkloadSpec(
        name="fanout_many_tables",
        cdc_format="dms",
        tables=6,
        base_rows=120_000,
        batch_events=6_000,
        mix=(0.0, 0.15, 0.80, 0.05),
        zipf_a=1.2,
        warmup_batches=2,
        nominal_batch_s=6.0,
        min_batches=4,
        evolve=False,
    ),
}


def measured_batches(spec: WorkloadSpec, seconds: float) -> int:
    """Backlog length for one measured phase: about ``seconds`` of work at
    the workload's nominal batch time (4-core host), never fewer than
    ``min_batches``."""
    return max(spec.min_batches, int(round(seconds / spec.nominal_batch_s)))


def table_names(spec: WorkloadSpec) -> list[str]:
    return [f"t{i:02d}" for i in range(spec.tables)]


def tables_config(spec: WorkloadSpec) -> list[dict]:
    return [
        {
            "db": DB,
            "table": t,
            "primary_key": "id",
            "timestamp.fields": TIMESTAMP_FIELDS,
            "precombine_key": "ts_ms",
        }
        for t in table_names(spec)
    ]


def _rows(rng: np.random.Generator, n: int, ts_ms: np.ndarray, with_note: bool) -> dict[str, list]:
    """``n`` random row images as column lists (all columns but ``id``)."""
    amount = rng.integers(100, 1_000_000, n) / 100.0
    secs = (ts_ms // 1000).astype("datetime64[s]")
    cols = {
        "amount": [f"{a:.2f}" for a in amount],
        "customer": [f"cust-{c}" for c in rng.integers(0, 50_000, n)],
        "qty": rng.integers(1, 500, n).tolist(),
        "region": [_REGION[i] for i in rng.integers(0, len(_REGION), n)],
        "status": [_STATUS[i] for i in rng.integers(0, len(_STATUS), n)],
        "updated_at": np.datetime_as_string(secs, unit="s").tolist(),
    }
    if with_note:
        notes = rng.integers(0, 1000, n)
        has = rng.random(n) < 0.7
        cols[EVOLVED_COLUMN] = [
            f'"n-{v}"' if h else "null" for v, h in zip(notes, has)
        ]
    return cols


def _image(cols: dict[str, list], i: int, key: int) -> str:
    note = f',"{EVOLVED_COLUMN}":{cols[EVOLVED_COLUMN][i]}' if EVOLVED_COLUMN in cols else ""
    return (
        f'{{"id":{key},"amount":{cols["amount"][i]},"customer":"{cols["customer"][i]}",'
        f'"qty":{cols["qty"][i]},"region":"{cols["region"][i]}",'
        f'"status":"{cols["status"][i]}","updated_at":"{cols["updated_at"][i]}"{note}}}'
    )


def _debezium(op: str, table: str, ts: int, image: str) -> str:
    before, after = (image, "null") if op == "d" else ("null", image)
    return (
        f'{{"before":{before},"after":{after},'
        f'"source":{{"connector":"mysql","db":"{DB}","table":"{table}","ts_ms":{ts}}},'
        f'"op":"{op}","ts_ms":{ts},"transaction":null}}'
    )


def _dms(op: str, table: str, ts_str: str, image: str, txid: int) -> str:
    return (
        f'{{"data":{image},"metadata":{{"timestamp":"{ts_str}","record-type":"data",'
        f'"operation":"{_DMS_OPS[op]}","partition-key-type":"primary-key",'
        f'"schema-name":"{DB}","table-name":"{table}","transaction-id":{txid}}}}}'
    )


class _TableState:
    """Live key pool of one table (keys present after the events so far)."""

    def __init__(self, base_rows: int):
        self.live = np.arange(1, base_rows + 1, dtype=np.int64)
        self.next_id = base_rows + 1


def _batch_ops(
    rng: np.random.Generator, spec: WorkloadSpec, state: _TableState, n: int
) -> tuple[list[str], np.ndarray]:
    """Ops and keys for ``n`` events of one table in one batch."""
    counts = rng.multinomial(n, spec.mix)
    n_r, n_c, n_u, n_d = (int(c) for c in counts)
    n_d = min(n_d, max(len(state.live) - 1, 0))
    new = np.arange(state.next_id, state.next_id + n_r + n_c, dtype=np.int64)
    state.next_id += n_r + n_c
    dead_idx = rng.choice(len(state.live), size=n_d, replace=False) if n_d else np.empty(0, np.int64)
    dead = state.live[dead_idx]
    keep = np.ones(len(state.live), dtype=bool)
    keep[dead_idx] = False
    pool = state.live[keep]
    if n_u and len(pool):
        # Zipf ranks over a seeded permutation of the pool: a few hot keys
        # change many times within one batch
        ranks = (rng.zipf(spec.zipf_a, n_u) - 1) % len(pool)
        hot = pool[rng.permutation(len(pool))]
        upd = hot[ranks]
    else:
        n_u, upd = 0, np.empty(0, np.int64)
    ops = ["r"] * n_r + ["c"] * n_c + ["u"] * n_u + ["d"] * n_d
    keys = np.concatenate([new[:n_r], new[n_r:], upd, dead])
    order = rng.permutation(len(ops))
    state.live = np.concatenate([pool, new])
    return [ops[i] for i in order], keys[order]


def _write_base(spec: WorkloadSpec, rng: np.random.Generator, out: str) -> list[dict]:
    os.makedirs(os.path.join(out, "base"), exist_ok=True)
    names = table_names(spec)
    per_table = spec.base_rows // spec.tables if spec.tables else 0
    base = []
    for t in names:
        if per_table == 0:
            base.append({"table": t, "rows": 0, "file": None})
            continue
        ts = np.full(per_table, T0_MS - 86_400_000, dtype=np.int64)
        ts -= rng.integers(0, 86_400_000, per_table)
        cols = _rows(rng, per_table, ts, with_note=False)
        arrays = {
            "amount": pa.array([float(a) for a in cols["amount"]], pa.float64()),
            "customer": pa.array(cols["customer"], pa.string()),
            "id": pa.array(np.arange(1, per_table + 1, dtype=np.int64)),
            "qty": pa.array(cols["qty"], pa.int64()),
            "region": pa.array(cols["region"], pa.string()),
            "status": pa.array(cols["status"], pa.string()),
            "updated_at": pa.array(cols["updated_at"], pa.string()),
        }
        rel = os.path.join("base", f"{DB}.{t}.parquet")
        pq.write_table(pa.table(arrays), os.path.join(out, rel))
        base.append({"table": t, "rows": per_table, "file": rel})
    return base


def generate(spec: WorkloadSpec, seed: int, out: str, phases: list[tuple[str, int]]) -> dict:
    """Write the workload's inputs under ``out`` and return the manifest.

    ``phases`` lists ``(phase_name, batch_count)`` in stream order, e.g.
    ``[("warmup", 1), ("measure", 6)]``."""
    rng = np.random.default_rng(np.random.PCG64([seed, sum(map(ord, spec.name))]))
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    base = _write_base(spec, rng, out)
    names = table_names(spec)
    states = {b["table"]: _TableState(b["rows"]) for b in base}
    evolve_at = None
    if spec.evolve:
        # the middle batch of the "measure" phase adds the column
        i = [p for p, _ in phases].index("measure")
        evolve_at = sum(n for _, n in phases[:i]) + phases[i][1] // 2
    batches = []
    seq = 0  # global event sequence → unique, increasing ts_ms
    txid = 0
    idx = 0
    for phase, count in phases:
        for _ in range(count):
            with_note = evolve_at is not None and idx >= evolve_at
            per_table_n = rng.multinomial(spec.batch_events, [1.0 / len(names)] * len(names))
            events = []  # (table, op, key)
            stats: dict[str, dict[str, int]] = {}
            distinct = 0
            for t, n in zip(names, per_table_n):
                ops, keys = _batch_ops(rng, spec, states[t], int(n))
                events.extend(zip([t] * len(ops), ops, keys.tolist()))
                if ops:
                    routes = {"insert": ops.count("r") + ops.count("c"),
                              "upsert": ops.count("u"), "delete": ops.count("d")}
                    stats[t] = routes
                    distinct += len(np.unique(keys))
            # interleave tables the way a shared topic would
            order = rng.permutation(len(events))
            events = [events[i] for i in order]
            n = len(events)
            ts = T0_MS + seq + np.arange(n, dtype=np.int64)
            seq += n
            cols = _rows(rng, n, ts, with_note)
            if spec.cdc_format == "dms":
                ts_str = np.datetime_as_string(ts.astype("datetime64[ms]"), unit="ms")
                lines = [
                    _dms(op, t, f"{ts_str[i]}Z", _image(cols, i, key), txid + i + 1)
                    for i, (t, op, key) in enumerate(events)
                ]
                txid += n
            else:
                ts_list = ts.tolist()
                lines = [
                    _debezium(op, t, ts_list[i], _image(cols, i, key))
                    for i, (t, op, key) in enumerate(events)
                ]
            rel = os.path.join("batches", f"{idx:05d}.jsonl")
            with open(os.path.join(out, rel), "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines))
                fh.write("\n")
            batches.append(
                {
                    "index": idx,
                    "phase": phase,
                    "file": rel,
                    "events": n,
                    "distinct_keys": distinct,
                    "adds_column": bool(evolve_at is not None and idx == evolve_at),
                    "per_table": stats,
                }
            )
            idx += 1
    manifest = {
        "workload": asdict(spec),
        "seed": seed,
        "db": DB,
        "payload_columns": PAYLOAD_COLUMNS,
        "evolved_column": EVOLVED_COLUMN if spec.evolve else None,
        "timestamp_fields": TIMESTAMP_FIELDS,
        "base": base,
        "batches": batches,
    }
    with open(os.path.join(out, "tables.json"), "w", encoding="utf-8") as fh:
        json.dump(tables_config(spec), fh, indent=1)
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=3, help="measured batches")
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]
    m = generate(spec, args.seed, args.out, [("warmup", spec.warmup_batches), ("measure", args.batches)])
    print(json.dumps({"batches": len(m["batches"]), "events": sum(b["events"] for b in m["batches"])}))


if __name__ == "__main__":
    main()
