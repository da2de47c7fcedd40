"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is made here from the
run's ``--seed`` and written as parquet under the run's work
directory; the engine only ever receives those files.  The base
tables follow the shape of the repository's TPC-H-ish test corpus
(same table names, column names and types), at a size picked per
workload, so every registry gate and its DuckDB oracle run on them.

Generation is numpy + pyarrow only (no Spark), so it costs well under
a second at the sizes the workloads use.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark stream batch table row column key value hash sort "
    "merge join scan filter group agg query window order part line small "
    "big fast slow vector customer index chunk ledger commit verify "
    "migrate sink source schema"
).split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
US_PER_DAY = 86_400_000_000


def write_table(table: pa.Table, path: str) -> None:
    # one row group per file, like the test corpus
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(rng: np.random.Generator, epoch, n: int, span_days: int) -> pa.Array:
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(epoch + d.astype("timedelta64[us]"), pa.timestamp("us"))


def lineitem(rng: np.random.Generator, n_orders: int) -> pa.Table:
    """About four lines per order; (l_orderkey, l_linenumber) is unique.
    Rows are shuffled so the key order is not the file order."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    perm = rng.permutation(len(okey))
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": lnum[perm].astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, EPOCH_1995, n, 2500),
    })


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n // 10, 1), n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1_000, 450_000, n), 2),
        "o_orderdate": _days(rng, EPOCH_1995, n, 2400),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 90, n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centres."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Time-ordered over January 2024 (the registry's stream cuts sit
    on Jan 12 and Jan 22)."""
    off = np.sort(rng.integers(0, 30 * US_PER_DAY, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + off, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def small_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    nc, ns, npart = 1_500, 100, 2_000
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": regions}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": pa.array(np.array(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
            )[rng.integers(0, 5, nc)]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(npart)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": pa.array(np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"])[
                rng.integers(0, 5, npart)]),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, npart), 2),
        }),
    }


def write_corpus(out_dir: str, seed: int, sizes: dict[str, int]) -> str:
    """The full ten-table corpus under ``out_dir`` (one parquet file
    per table, named like the test corpus).  ``sizes`` gives row
    counts for orders, lineitem orders, documents, embeddings and
    events."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = small_tables(rng)
    tables["orders"] = orders(rng, sizes["orders"])
    tables["lineitem"] = lineitem(rng, sizes["lineitem_orders"])
    tables["documents"] = documents(rng, sizes["documents"])
    tables["embeddings"] = embeddings(rng, sizes["embeddings"])
    tables["events"] = events(rng, sizes["events"], sizes["users"])
    for name, t in tables.items():
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- cutover: drifted source ---------------------------------------------

def drift(rng: np.random.Generator, src: pa.Table, n_sites: int = 4,
          orders_per_site: int = 30) -> tuple[pa.Table, dict]:
    """Copy of ``src`` (a lineitem table) with a few hundred rows
    changed at ``n_sites`` random places of the key space: at each site
    about half the lines of ``orders_per_site`` consecutive orders get
    ``l_quantity + 1``.  Site 0 also loses one line and gains one new
    key, so deletes and inserts are on the repair path too.

    Returns the drifted table and the drift itself: the changed keys
    (updated, deleted, inserted) from which the expected chunk ids
    are computed against the engine's plan bounds, and the repair
    statement count (one DELETE plus one INSERT per updated row, one
    DELETE for the deleted row, one INSERT for the inserted one)."""
    okey = src.column("l_orderkey").to_numpy()
    lnum = src.column("l_linenumber").to_numpy()
    n_orders = int(okey.max()) + 1
    # sites on disjoint stretches of the key space
    slots = rng.choice(n_orders // orders_per_site - 1, n_sites, replace=False)
    starts = (slots * orders_per_site).tolist()
    qty = src.column("l_quantity").to_numpy().copy()
    updated: list[int] = []
    for s in starts:
        rows = np.flatnonzero((okey >= s) & (okey < s + orders_per_site))
        updated.extend(rows[rng.random(len(rows)) < 0.5].tolist())
    qty[updated] += 1.0
    out = src.set_column(src.schema.get_field_index("l_quantity"), "l_quantity",
                         pa.array(qty))
    site0 = np.flatnonzero((okey >= starts[0]) & (okey < starts[0] + orders_per_site))
    untouched = np.setdiff1d(site0, np.array(updated))
    deleted, template = int(untouched[0]), int(untouched[1])
    new_row = out.slice(template, 1).to_pydict()
    new_row["l_linenumber"] = [99]    # the generator never exceeds 7 lines
    mask = np.ones(out.num_rows, dtype=bool)
    mask[deleted] = False
    out = pa.concat_tables([out.filter(pa.array(mask)),
                            pa.table(new_row, schema=out.schema)])
    keys = [(int(okey[i]), int(lnum[i])) for i in updated + [deleted]]
    keys.append((int(new_row["l_orderkey"][0]), 99))
    return out, {"keys": keys, "fix_statements": 2 * len(updated) + 2,
                 "updated_rows": len(updated)}


# -- cdc: event backlog ----------------------------------------------------

CDC_SCHEMA = pa.schema([
    ("schema_name", pa.string()), ("table_name", pa.string()),
    ("query_type", pa.string()), ("commit_ts", pa.int64()),
    ("key_json", pa.string()), ("new_json", pa.string()),
    ("old_json", pa.string()), ("is_ddl", pa.bool_()),
    ("ddl_query", pa.string()),
])
ADDED_COL = "o_note"
DDL = f"ALTER TABLE orders ADD COLUMN {ADDED_COL} VARCHAR(32)"


def snapshot_events(snapshot: pa.Table, ts: int = 1) -> pa.Table:
    """The ``orders`` snapshot as INSERT events at one commit_ts: the
    initial load goes through the same apply path as the backlog."""
    rows = _images(snapshot)
    n = len(rows)
    return pa.table({
        "schema_name": ["db"] * n, "table_name": ["orders"] * n,
        "query_type": ["INSERT"] * n, "commit_ts": pa.array([ts] * n, pa.int64()),
        "key_json": [json.dumps({"o_orderkey": r["o_orderkey"]}) for r in rows],
        "new_json": [json.dumps(r) for r in rows],
        "old_json": pa.array([None] * n, pa.string()),
        "is_ddl": [False] * n, "ddl_query": pa.array([None] * n, pa.string()),
    }, schema=CDC_SCHEMA)


def _images(t: pa.Table) -> list[dict]:
    rows = t.to_pylist()
    for r in rows:
        r["o_orderdate"] = r["o_orderdate"].isoformat(sep=" ")
    return rows


def cdc_backlog(rng: np.random.Generator, n_keys: int, out_dir: str,
                n_batches: int, batch_events: int, ddl_batch: int,
                ts0: int = 1_000) -> None:
    """Write ``n_batches`` parquet files of CDC events against an
    ``orders`` snapshot holding keys ``0 .. n_keys - 1``, one file per
    micro-batch.  Mix: ~30% inserts of new keys, ~55% updates (80% of
    them on the 2,000 most recently inserted or updated keys), ~15%
    deletes of live keys.  Half-way through batch ``ddl_batch`` comes
    ``ALTER TABLE orders ADD COLUMN``; later images carry the column.
    commit_ts rises by one per event."""
    os.makedirs(out_dir, exist_ok=True)
    live = list(range(n_keys))          # live keys, swap-remove on delete
    pos = {k: i for i, k in enumerate(live)}
    recent = live[-2000:]
    next_key, ts, added = n_keys, ts0, False

    def image(k: int, status: str) -> str:
        img = {"o_orderkey": k, "o_custkey": int(rng.integers(0, 15_000)),
               "o_orderstatus": status,
               "o_totalprice": round(float(rng.uniform(1_000, 450_000)), 2),
               "o_orderdate": f"2024-01-{int(rng.integers(1, 29)):02d} 00:00:00",
               "o_orderpriority": "3-MEDIUM"}
        if added:
            img[ADDED_COL] = f"n{int(rng.integers(0, 1000))}"
        return json.dumps(img)

    for b in range(n_batches):
        rows = []
        for j, kind in enumerate(rng.choice(3, batch_events, p=[0.30, 0.55, 0.15])):
            if b == ddl_batch and j == batch_events // 2:
                ts += 1
                rows.append(("db", "orders", "DDL", ts, None, None, None, True, DDL))
                added = True
            ts += 1
            if kind == 0:
                k, qt = next_key, "INSERT"
                next_key += 1
                pos[k] = len(live)
                live.append(k)
                recent.append(k)
            elif kind == 1:
                k, qt = recent[int(rng.integers(0, len(recent)))], "UPDATE"
                if k not in pos or rng.random() >= 0.8:
                    k = live[int(rng.integers(0, len(live)))]
                recent.append(k)
            else:
                k = live[int(rng.integers(0, len(live)))]
                i, last = pos.pop(k), live.pop()
                if last != k:
                    live[i], pos[last] = last, i
                rows.append(("db", "orders", "DELETE", ts, json.dumps({"o_orderkey": k}),
                             None, None, False, None))
                continue
            rows.append(("db", "orders", qt, ts, json.dumps({"o_orderkey": k}),
                         image(k, "F" if qt == "UPDATE" else "O"), None, False, None))
        recent = recent[-2000:]
        t = pa.table({f.name: pa.array(list(c), f.type)
                      for f, c in zip(CDC_SCHEMA, zip(*rows))}, schema=CDC_SCHEMA)
        pq.write_table(t, os.path.join(out_dir, f"batch-{b:05d}.parquet"))
