"""Seeded price-paid inputs with known answers for the ``pp_ingest`` workload.

One call writes, under ``out_dir``:

- ``snapshot.csv``: a headerless 16-column pp-complete file whose rows
  spread over the 29 ``data_year`` values 1995-2023;
- ``batch_0.csv``: a monthly A/C/D file over the latest three years. The
  snapshot holds no deleted rows, so it hits the nine merge outcomes that
  need none (the three that meet a deleted row cannot occur yet);
- ``redelivery.csv``: a byte-identical copy of the batch;
- ``expected.parquet``: the state the batch must leave (key, the 14
  value columns and ``is_deleted``), for the post-merge reconcile;
- ``expected.json``: per batch, the 17 ledger counters and the state
  checksum (rows, live rows, sum of live prices).

The expected answers come from a plain-Python model of the merge rules,
not from the engine. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = list(range(1995, 2024))
# Sales per year grow toward the present, as in the real register, and
# monthly updates mostly touch the latest years.
YEAR_WEIGHTS = [(i + 1) ** 2 / sum(j * j for j in range(1, len(YEARS) + 1))
                for i in range(len(YEARS))]
NARROW_YEARS = YEARS[-3:]

VALUE_COLUMNS = [
    "price",
    "transaction_date",
    "postcode",
    "property_type",
    "new_tag",
    "lease",
    "primary_address_object_name",
    "secondary_address_object_name",
    "street",
    "locality",
    "town_city",
    "district",
    "county",
    "ppd_cat",
]

OUTCOMES = [
    "add_ignore",
    "add_change",
    "add_undelete_change",
    "add_insert",
    "change_ignore",
    "change_change",
    "change_ignore_deleted",
    "change_insert",
    "delete_delete",
    "delete_change_delete",
    "delete_ignore_deleted",
    "delete_ignore_missing",
]

# The reference's 17-counter operation-log row, as sums of outcome counts
# (op-letter entries count input rows by record_op).
LEDGER = {
    "input_file_row_count": ["A", "C", "D"],
    "input_file_row_count_insert": ["A"],
    "input_file_row_count_update": ["C"],
    "input_file_row_count_delete": ["D"],
    "operation_count_insert": ["add_insert", "change_insert"],
    "operation_count_update": ["add_change", "change_change", "add_undelete_change"],
    "operation_count_delete": ["delete_delete", "delete_change_delete"],
    "operation_count_ignored": [
        "add_ignore",
        "change_ignore",
        "change_ignore_deleted",
        "delete_ignore_deleted",
        "delete_ignore_missing",
    ],
    "operation_count_insert_insert": ["add_insert"],
    "operation_count_insert_update": ["add_change", "add_undelete_change"],
    "operation_count_insert_ignore": ["add_ignore"],
    "operation_count_update_update": ["change_change"],
    "operation_count_update_insert": ["change_insert"],
    "operation_count_update_ignore": ["change_ignore", "change_ignore_deleted"],
    "operation_count_delete_delete": ["delete_delete"],
    "operation_count_delete_change_delete": ["delete_change_delete"],
    "operation_count_delete_ignore": ["delete_ignore_missing", "delete_ignore_deleted"],
}

_STREETS = ["HIGH STREET", "STATION ROAD", "CHURCH LANE", "MILL ROAD", "PARK AVENUE",
            "VICTORIA ROAD", "GREEN LANE", "MANOR WAY", "KINGS ROAD", "QUEENS DRIVE"]
_TOWNS = ["LONDON", "LEEDS", "BRISTOL", "YORK", "DERBY", "BATH", "ELY", "HULL"]
_COUNTIES = ["GREATER LONDON", "WEST YORKSHIRE", "AVON", "NORTH YORKSHIRE",
             "DERBYSHIRE", "SOMERSET", "CAMBRIDGESHIRE", "EAST RIDING"]


class _Rows:
    """Random value tuples; every draw comes from the one seeded generator."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def keys(self, n: int, taken: set[str]) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            need = n - len(out)
            h = self.rng.bytes(16 * need).hex().upper()
            for i in range(0, 32 * need, 32):
                k = (f"{{{h[i:i + 8]}-{h[i + 8:i + 12]}-{h[i + 12:i + 16]}-"
                     f"{h[i + 16:i + 20]}-{h[i + 20:i + 32]}}}")
                if k not in taken:
                    taken.add(k)
                    out.append(k)
        return out

    def dates(self, years: np.ndarray) -> list[str]:
        days = self.rng.integers(0, 365, len(years)).tolist()
        return [
            (datetime.date(y, 1, 1) + datetime.timedelta(days=d)).isoformat() + " 00:00"
            for y, d in zip(np.asarray(years).tolist(), days)
        ]

    def values(self, years: np.ndarray) -> list[tuple]:
        n, r = len(years), self.rng
        # Plain Python lists: indexing numpy arrays row by row is slow.
        price = r.integers(20_000, 2_000_000, n).tolist()
        pc_a = r.integers(0, 26, (n, 2)).tolist()
        pc_n = r.integers(1, 99, n).tolist()
        pc_b = r.integers(0, 26, (n, 2)).tolist()
        ptype = r.choice(list("DSTFO"), n).tolist()
        new = r.choice(["Y", "N"], n, p=[0.1, 0.9]).tolist()
        lease = r.choice(["F", "L"], n).tolist()
        paon = r.integers(1, 300, n).tolist()
        saon = r.choice(["", "", "", "FLAT 1", "FLAT 2"], n).tolist()
        street = r.integers(0, len(_STREETS), n).tolist()
        town = r.integers(0, len(_TOWNS), n).tolist()
        ppd = r.choice(["A", "B"], n, p=[0.9, 0.1]).tolist()
        dates = self.dates(years)
        return [
            (
                price[i],
                dates[i],
                f"{chr(65 + pc_a[i][0])}{chr(65 + pc_a[i][1])}{pc_n[i]} "
                f"{pc_n[i] % 10}{chr(65 + pc_b[i][0])}{chr(65 + pc_b[i][1])}",
                ptype[i],
                new[i],
                lease[i],
                str(paon[i]),
                saon[i],
                _STREETS[street[i]],
                "",
                _TOWNS[town[i]],
                _TOWNS[town[i]] + " DISTRICT",
                _COUNTIES[town[i]],
                ppd[i],
            )
            for i in range(n)
        ]

    def changed(self, vals: tuple, years: list[int]) -> tuple:
        """A value-different copy; a quarter of them move to another of
        ``years`` so a change can relocate a row across partitions."""
        v = list(vals)
        v[0] = vals[0] + int(self.rng.integers(1, 50_000))
        if self.rng.random() < 0.25:
            v[1] = self.dates(np.array([self.rng.choice(years)]))[0]
        return tuple(v)


def _year(vals: tuple) -> int:
    return int(vals[1][:4])


def _csv_line(key: str, vals: tuple, op: str) -> str:
    return '"' + '","'.join([key, str(vals[0]), *vals[1:], op]) + '"'


def _write_csv(path: str, lines: list[str]) -> None:
    with open(path, "w", newline="") as f:
        f.write("\n".join(lines) + "\n")


def _write_expected(path: str, state: dict[str, list]) -> None:
    keys = sorted(state)
    rows = [state[k] for k in keys]
    columns = list(zip(*(r[0] for r in rows)))
    arrays = {"transaction_unique_id": pa.array(keys)}
    for name, values in zip(VALUE_COLUMNS, columns):
        arrays[name] = pa.array(values, type=pa.int64() if name == "price" else pa.string())
    days = np.array([d[:10] for d in columns[1]], dtype="datetime64[D]")
    arrays["transaction_date"] = pa.array(
        days.astype("datetime64[us]"), type=pa.timestamp("us")
    ).cast(pa.timestamp("us", tz="UTC"))
    arrays["is_deleted"] = pa.array([r[1] for r in rows], type=pa.bool_())
    pq.write_table(pa.table(arrays), path)


def _plan_batch(
    gen: _Rows, state: dict[str, list], taken: set[str], years: list[int], n_rows: int
) -> tuple[list[str], dict[str, int]]:
    """Draw one A/C/D batch over ``years``, apply it to ``state`` with the
    merge rules, and return its CSV lines and outcome counts."""
    rng = gen.rng
    yset = set(years)
    live = sorted(k for k, (v, d) in state.items() if not d and _year(v) in yset)
    dead = sorted(k for k, (v, d) in state.items() if d and _year(v) in yset)
    rng.shuffle(live)
    rng.shuffle(dead)
    per = n_rows // len(OUTCOMES)
    per_dead = min(per, len(dead) // 3)
    need_live = {"add_ignore", "add_change", "change_ignore", "change_change",
                 "delete_delete", "delete_change_delete"}
    need_dead = {"add_undelete_change", "change_ignore_deleted", "delete_ignore_deleted"}
    counts = {o: per_dead if o in need_dead else per for o in OUTCOMES}
    counts["change_change"] += n_rows - sum(counts.values())
    if sum(counts[o] for o in need_live) > len(live):
        raise ValueError("batch larger than the live rows of its years")

    rows: list[tuple[str, tuple, str]] = []
    for outcome in OUTCOMES:
        n = counts[outcome]
        op = outcome[0].upper()
        if outcome in need_live:
            picked = [live.pop() for _ in range(n)]
        elif outcome in need_dead:
            picked = [dead.pop() for _ in range(n)]
        else:
            picked = gen.keys(n, taken)
        fresh = gen.values(rng.choice(years, n)) if n else []
        for i, key in enumerate(picked):
            if outcome in ("add_insert", "change_insert", "delete_ignore_missing"):
                vals = fresh[i]
            elif outcome in ("add_ignore", "change_ignore", "delete_delete"):
                vals = state[key][0]
            elif outcome in ("change_ignore_deleted", "delete_ignore_deleted"):
                vals = fresh[i][:1] + state[key][0][1:]
            else:
                vals = gen.changed(state[key][0], years)
            rows.append((key, vals, op))
            if outcome in ("add_insert", "change_insert"):
                state[key] = [vals, False]
            elif outcome in ("add_change", "change_change"):
                state[key][0] = vals
            elif outcome == "add_undelete_change":
                state[key] = [vals, False]
            elif outcome == "delete_delete":
                state[key][1] = True
            elif outcome == "delete_change_delete":
                state[key] = [vals, True]
    order = rng.permutation(len(rows))
    return [_csv_line(*rows[i]) for i in order], counts


def _ledger(counts: dict[str, int]) -> dict[str, int]:
    ops = {"A": 0, "C": 0, "D": 0}
    for outcome, n in counts.items():
        ops[outcome[0].upper()] += n
    return {
        name: sum(ops[p] if p in ops else counts[p] for p in parts)
        for name, parts in LEDGER.items()
    }


def _checksum(state: dict[str, list]) -> dict[str, int]:
    live = [v for v, d in state.values() if not d]
    return {"rows": len(state), "live_rows": len(live), "sum_price": sum(v[0] for v in live)}


def generate(
    out_dir: str,
    seed: int,
    snapshot_rows: int,
    batch_rows: int,
) -> dict:
    """Write the workload's files under ``out_dir`` and return the answer
    key that is also written to ``expected.json``."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, 0x9901])
    gen = _Rows(rng)
    taken: set[str] = set()

    years = rng.choice(YEARS, snapshot_rows, p=YEAR_WEIGHTS)
    keys = gen.keys(snapshot_rows, taken)
    vals = gen.values(years)
    state = {k: [v, False] for k, v in zip(keys, vals)}
    _write_csv(
        os.path.join(out_dir, "snapshot.csv"),
        [_csv_line(k, v, "A") for k, v in zip(keys, vals)],
    )

    lines, counts = _plan_batch(gen, state, taken, NARROW_YEARS, batch_rows)
    _write_csv(os.path.join(out_dir, "batch_0.csv"), lines)
    batches = [
        {
            "file": "batch_0.csv",
            "kind": "narrow",
            "years": len(NARROW_YEARS),
            "outcomes": counts,
            "ledger": _ledger(counts),
            "checksum": _checksum(state),
        }
    ]
    _write_expected(os.path.join(out_dir, "expected.parquet"), state)
    shutil.copyfile(
        os.path.join(out_dir, batches[-1]["file"]), os.path.join(out_dir, "redelivery.csv")
    )
    answer = {
        "seed": seed,
        "snapshot": {"file": "snapshot.csv", "rows": snapshot_rows},
        "batches": batches,
        "expected": "expected.parquet",
        "redelivery": "redelivery.csv",
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(answer, f, indent=1, sort_keys=True)
    return answer
