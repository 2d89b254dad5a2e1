"""Seeded input generator.

Everything a workload reads is written here, before timing starts, from
``--seed`` alone: the same seed gives byte-identical inputs. The engine
under test only ever sees these files.

- ``cdc/initial.parquet``: the SCD2 customer dimension's initial
  snapshot, shaped like TPC-H ``customer`` at sf 0.1 (15k rows).
- ``cdc/batch_NNNN.parquet``: its daily change batches, each a mix of
  changed, inserted and unchanged rows, with the expected table state
  after every batch (for per-operation checks).
- ``tables/<name>.parquet``: the analytics tables the registry queries
  read, with injected near-duplicate documents.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy")


def _choice(rng: np.random.Generator, items: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(items), n)
    return pa.array(np.asarray(items, dtype=object)[idx], type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer_table(rng: np.random.Generator, n: int, start: int = 0) -> pa.Table:
    keys = np.arange(start, start + n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, SEGMENTS, n),
    })


def gen_cdc(out: str, seed: int, n_customers: int, n_batches: int,
            batch_rows: int, shares: tuple[float, float]) -> dict:
    """The SCD2 dimension's initial snapshot plus ``n_batches`` daily CDC
    batches of ``batch_rows`` distinct ids each. ``shares`` = (changed,
    inserted); the rest of each batch re-sends current rows unchanged.

    Returns the batch properties and, per batch, the expected table
    state after it is merged: total rows, current rows, and the sum of
    current balances in integer cents."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    init = customer_table(rng, n_customers).rename_columns(
        ["id", "name", "nationkey", "acctbal", "mktsegment"])
    _write(init, f"{out}/initial.parquet")
    cur = {c: init.column(c).to_numpy(zero_copy_only=False).copy()
           for c in init.column_names}
    cents = np.round(cur["acctbal"] * 100).astype(np.int64)
    total_rows = n_customers
    n_chg = int(batch_rows * shares[0])
    n_ins = int(batch_rows * shares[1])
    n_same = batch_rows - n_chg - n_ins
    expected = []
    for b in range(n_batches):
        n_cur = len(cur["id"])
        pick = rng.choice(n_cur, n_chg + n_same, replace=False)
        chg, same = pick[:n_chg], pick[n_chg:]
        # changed rows: the balance moves by at least a cent, so the row's
        # checksum always differs, and the segment is drawn again
        new_bal = np.round(cur["acctbal"][chg] + rng.integers(1, 100_000, n_chg) / 100, 2)
        new_seg = np.asarray(SEGMENTS, dtype=object)[rng.integers(0, 5, n_chg)]
        ins = customer_table(rng, n_ins, start=n_customers + b * n_ins)
        cur["acctbal"][chg] = new_bal
        cur["mktsegment"][chg] = new_seg
        rows = np.concatenate([chg, same])
        batch = {c: np.concatenate([cur[c][rows], ins.column(i).to_numpy(zero_copy_only=False)])
                 for i, c in enumerate(cur)}
        order = rng.permutation(batch_rows)
        _write(pa.table({
            "id": pa.array(batch["id"][order], pa.int64()),
            "name": pa.array(batch["name"][order], pa.string()),
            "nationkey": pa.array(batch["nationkey"][order], pa.int32()),
            "acctbal": pa.array(batch["acctbal"][order], pa.float64()),
            "mktsegment": pa.array(batch["mktsegment"][order], pa.string()),
        }), f"{out}/batch_{b:04d}.parquet")
        for i, c in enumerate(cur):
            cur[c] = np.concatenate([cur[c], ins.column(i).to_numpy(zero_copy_only=False)])
        cents[chg] = np.round(new_bal * 100).astype(np.int64)
        cents = np.concatenate([cents, np.round(ins.column(3).to_numpy() * 100).astype(np.int64)])
        total_rows += n_chg + n_ins
        expected.append({"rows": total_rows, "current": len(cur["id"]),
                         "bal_cents": int(cents.sum()), "changed": n_chg,
                         "inserted": n_ins})
    return {"initial_rows": n_customers, "batch_rows": batch_rows,
            "changed_share": n_chg / batch_rows,
            "inserted_share": n_ins / batch_rows,
            "unchanged_share": n_same / batch_rows,
            "batches": n_batches, "expected": expected}


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = ("a the data spark query scan filter join group sort hash agg window key value "
         "table column line part order customer batch stream merge vector fast slow big "
         "small").split()
LANGS = ["en", "zh", "de", "fr", "es"]


def _ts(rng: np.random.Generator, start: dt.datetime, span_s: int, n: int,
        unit: str = "us") -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    step = 1 if unit == "us" else 86_400_000_000
    off = rng.integers(0, span_s * 1_000_000 // step, n) * step
    return pa.array(base + off, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int, dup_share: float) -> tuple[pa.Table, set]:
    """``n`` documents of random words. A ``dup_share`` of them are
    near-duplicates: a copy of an earlier document of at least 30 words
    with one word replaced (3-shingle Jaccard above 0.8). Returns the
    table and the injected duplicate pairs."""
    vocab = np.asarray(WORDS, dtype=object)
    texts = [list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    pairs = set()
    for copy in rng.choice(np.arange(n // 2, n), int(n * dup_share), replace=False):
        src = int(rng.integers(0, n // 2))
        while len(texts[src]) < 30:
            src = int(rng.integers(0, n // 2))
        words = list(texts[src])
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[int(copy)] = words
        pairs.add((src, int(copy)))
    text = [" ".join(w) for w in texts]
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": _choice(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    return tbl, pairs


def gen_tables(out: str, seed: int, n_customers: int = 2_000, n_docs: int = 1_000,
               dup_share: float = 0.05) -> dict:
    """TPC-H-shaped tables (region, nation, customer, supplier, part,
    orders, lineitem) plus ``events`` and ``documents``, with the same
    columns and value domains as the registry queries expect. Orders
    are ten per customer and carry one to seven line items each."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_supp, n_part, n_ord, n_ev = n_customers // 15, n_customers * 4 // 3, n_customers * 10, 20_000
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
                     "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(customer_table(rng, n_customers), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _choice(rng, ["large ring", "hot bolt", "small gear", "red pin"], n_part),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _choice(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 / 10, 2)),
    }), f"{out}/part.parquet")
    odate = _ts(rng, dt.datetime(1995, 1, 1), 2404 * 86_400, n_ord, unit="day")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": odate,
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    ship = (np.repeat(odate.cast(pa.int64()).to_numpy(), lines)
            + rng.integers(1, 122, n_li) * 86_400_000_000)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - first + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(rng, dt.datetime(2024, 1, 1), 30 * 86_400, n_ev),
        "user_id": pa.array(rng.integers(0, 300, n_ev), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(_money(rng, 0, 500, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    }), f"{out}/events.parquet")
    docs, pairs = _documents(rng, n_docs, dup_share)
    _write(docs, f"{out}/documents.parquet")
    return {"customers": n_customers, "orders": n_ord, "lineitems": n_li, "events": n_ev,
            "documents": n_docs, "duplicate_share": len(pairs) / n_docs,
            "dup_pairs": pairs}


def day(k: int) -> str:
    """SQL timestamp literal of business day ``k`` (0 = initial load)."""
    d = dt.date(2024, 1, 1) + dt.timedelta(days=k)
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"
