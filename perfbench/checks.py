"""Output checks, all run outside the timed region.

- :func:`compare_tables` checks a query's Spark result against DuckDB
  running the registry's oracle SQL on the same files: same column
  names, same rows in any order, floats equal to within one unit of the
  sixth decimal (the registry's queries round floats to 6 or 9 decimals,
  and a sum that lands on a decimal tie rounds either way in two engines).
- :func:`planted_pair_problems` checks ``dedup_minhash_lsh`` against the
  generator's planted families.
- :func:`ledger_counters` and :func:`state_checksum` read the store's
  operation log and current manifest with pyarrow, without Spark, for
  the price-paid answer key.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import pyarrow.parquet as pq

import gen_pp


def _cell(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _rows(table) -> tuple[list[str], list[tuple]]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(_cell(v) for v in row) for row in zip(*data)]
    rows.sort(key=lambda r: tuple((0, 0) if v is None else (1, v) for v in r))
    return cols, rows


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1.000001e-6)
    return a == b


def compare_tables(spark_table, duck_table, name: str) -> list[str]:
    """Mismatch descriptions (empty when the results agree)."""
    s_cols, s_rows = _rows(spark_table)
    d_cols, d_rows = _rows(duck_table)
    if s_cols != d_cols:
        return [f"{name}: columns spark={s_cols} oracle={d_cols}"]
    if len(s_rows) != len(d_rows):
        return [f"{name}: rows spark={len(s_rows)} oracle={len(d_rows)}"]
    bad = [
        f"{name}: row {i}: spark={s!r} oracle={d!r}"
        for i, (s, d) in enumerate(zip(s_rows, d_rows))
        if not all(_equal(a, b) for a, b in zip(s, d))
    ]
    return bad[:5] + ([f"{name}: {len(bad)} rows differ"] if len(bad) > 5 else [])


def planted_pair_problems(pairs_table, families: list[dict]) -> list[str]:
    """Check the near-duplicate pairs of ``dedup_minhash_lsh`` against the
    planted families.

    Guaranteed by construction, whatever the MinHash hash functions: no
    pair crosses families or holds an unplanted document (unrelated texts
    share almost no word 3-grams), and each family's verbatim pair is
    found. A near copy can be missed by every band, so at least 95 % of
    the planted documents must be paired with a member of their family."""
    family_of = {d: i for i, f in enumerate(families) for d in f["members"]}
    pairs = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
             for r in pairs_table.select(["doc_a", "doc_b"]).to_pylist()}
    problems = [
        f"pair {a}, {b} is not inside one planted family"
        for a, b in sorted(pairs)
        if family_of.get(a) is None or family_of.get(a) != family_of.get(b)
    ]
    for f in families:
        a, b = f["verbatim"]
        if (a, b) not in pairs:
            problems.append(f"verbatim pair {a}, {b} not found")
    paired = {d for p in pairs for d in p}
    planted = len(family_of)
    if len(paired & family_of.keys()) < 0.95 * planted:
        problems.append(f"only {len(paired & family_of.keys())} of {planted} planted "
                        "documents paired")
    return problems[:5]


def ledger_counters(store_root: str, run_id: str) -> dict[str, int]:
    """The 17 ledger counters of one run, from the store's operation log."""
    log = pq.read_table(os.path.join(store_root, "operation_log")).to_pylist()
    counts = dict.fromkeys(gen_pp.OUTCOMES, 0)
    ops = {"A": 0, "C": 0, "D": 0}
    for r in log:
        if r["run_id"] != run_id:
            continue
        counts[r["outcome"]] = counts.get(r["outcome"], 0) + r["n_rows"]
        ops[r["record_op"]] = ops.get(r["record_op"], 0) + r["n_rows"]
    return {
        name: sum(ops[p] if p in ops else counts[p] for p in parts)
        for name, parts in gen_pp.LEDGER.items()
    }


def state_checksum(manifest_dir: str) -> tuple[dict[str, int], int]:
    """(rows, live rows, sum of live prices) of the state a manifest
    references, and the bytes of the data files it references."""
    rows = live = total = nbytes = 0
    for entry in pq.read_table(manifest_dir).to_pylist():
        path = entry["path"]
        for f in sorted(os.listdir(path)):
            if not f.startswith("part-"):
                continue
            full = os.path.join(path, f)
            nbytes += os.path.getsize(full)
            t = pq.read_table(full, columns=["price", "is_deleted"])
            deleted = t.column("is_deleted").to_pylist()
            prices = t.column("price").to_pylist()
            rows += len(deleted)
            for d, p in zip(deleted, prices):
                if not d:
                    live += 1
                    total += p
    return {"rows": rows, "live_rows": live, "sum_price": total}, nbytes
