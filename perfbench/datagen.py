"""Seeded synthetic inputs for the benchmark.

The package's queries read a TPC-H-shaped star schema plus ``events`` and
``documents`` tables (see ``TESTDATA.md``). The benchmark must not depend on
files outside its checkout, so it regenerates tables of the same schema and
value domains from a seed:

- ``write_tables(out, seed, sf)`` writes ``region nation customer supplier
  part orders lineitem events`` at scale factor ``sf`` (row counts follow
  the fixture: 6M·sf line items, 1.5M·sf orders, 200k·sf parts, ...).
- ``write_documents(out, seed, n_base, replicas, build)`` writes a ``documents``
  table: ``n_base`` seeded documents over the fixture's 25-word vocabulary
  (10–100 words, ~5 % near-duplicates that append `` dup`` to an earlier
  document, a few exact duplicates), then replicated ``replicas`` times by
  DuckDB with ``scaling.py gen``'s rules (``doc_id + r·1M`` and a per-replica
  `` r{r}`` text suffix), so dedup output grows linearly with the factor.

Every value is a pure function of the seed, so equal seeds give
byte-identical parquet content; ``digest`` hashes a directory's tables to
prove that.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])
DSHIFT = 1_000_000  # doc_id stride per replica, as in scaling.py gen

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out: str, seed: int, sf: float) -> dict[str, int]:
    """Write the star schema + ``events`` at scale ``sf``; return row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 1)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array("blue old red small new large hot cold".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    # reservas.seq packs (orderkey, linenumber, partkey, suppkey, qty); keep
    # the 5-tuple unique so every reservation _id is unique
    ok = rng.integers(0, n_ord, n_line, dtype=np.int64)
    ln = rng.integers(1, 8, n_line, dtype=np.int32)
    lp = rng.integers(0, n_part, n_line, dtype=np.int64)
    ls = rng.integers(0, n_supp, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    seq = ok * 10**12 + ln.astype(np.int64) * 10**11 + lp * 10**6 + ls * 100 + qty.astype(np.int64)
    _, first = np.unique(seq, return_index=True)
    keep = np.sort(first)
    ok, ln, lp, ls, qty = ok[keep], ln[keep], lp[keep], ls[keep], qty[keep]
    n_line = len(keep)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]
    _write(out, "lineitem", {
        "l_orderkey": ok, "l_partkey": lp, "l_suppkey": ls,
        "l_linenumber": pa.array(ln),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _EPOCH_1995 + rng.integers(1, 2499, n_line) * np.timedelta64(1, "D"),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"customer": n_cust, "part": n_part, "orders": n_ord,
            "lineitem": n_line, "events": n_ev}


def base_documents(seed: int, n: int, build: int = 0) -> dict:
    """``n`` seeded documents with the fixture's text rules (columns dict);
    ``build`` selects an independent corpus for the same seed."""
    rng = np.random.default_rng([seed, 2, build])
    vocab = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[idx[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    # ~5 % near-duplicates (an earlier doc + " dup") and ~0.2 % exact copies
    # of a near-duplicate, as in the fixture
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_documents(out: str, seed: int, n_base: int, replicas: int, build: int = 0) -> int:
    """Write a seeded ×``replicas`` corpus to ``out/documents.parquet``."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    base = pa.table(base_documents(seed, n_base, build))
    con = duckdb.connect()
    try:
        con.register("base", base)
        parts = []
        for r in range(replicas):
            suffix = f" || ' r{r}'" if r > 0 else ""
            parts.append(
                f"SELECT doc_id + {r * DSHIFT} AS doc_id, text{suffix} AS text,"
                f" lang, source, n_chars FROM base"
            )
        target = os.path.join(out, "documents.parquet")
        con.execute(
            f"COPY ({' UNION ALL '.join(parts)} ORDER BY doc_id) TO '{target}' (FORMAT PARQUET)"
        )
    finally:
        con.close()
    return n_base * replicas


def digest(out: str) -> str:
    """Order-insensitive content hash of every table under ``out``."""
    import duckdb

    h = hashlib.sha256()
    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(out)):
            if name.endswith(".parquet"):
                path = os.path.join(out, name)
                row = con.execute(f"SELECT count(*), bit_xor(hash(t)) FROM '{path}' t").fetchone()
                h.update(f"{name}:{row[0]}:{row[1]};".encode())
    finally:
        con.close()
    return h.hexdigest()[:16]
