"""Deterministic inputs for the benchmark.

Two kinds of input, kept apart on purpose:

* the base tables — an sf0.1 star schema plus the events, documents
  and embeddings tables, modelled on the engine's synthetic sf0.1
  fixtures (README.md lists how closely they match). They depend on a fixed
  seed only, so they are built once per checkout and the (slow) DuckDB
  oracle answers over them can be cached;
* everything the ``--seed`` decides — the op sequence of each
  workload, the split of events and documents into micro-batch files,
  and the perturbation that turns one orders snapshot into the next.
  These are rebuilt on every run, from the seed alone.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Seed of the base tables. Changing it invalidates every cached oracle.
BASE_SEED = 42
#: Bumped whenever the base-table generator changes shape or values.
BASE_VERSION = 2
SF = 0.1

#: Rows per table at scale factor 1.
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLE_ROWS = {t: round(n * SF) for t, n in _ROWS_SF1.items()}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "anvil", "gizmo", "widget", "rod"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The base tables as Arrow tables (about 1 s of numpy work)."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n["part"]), rng.choice(_PART_NOUN, n["part"])
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, ne).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random-vocabulary texts with planted duplicates: 5% near-copies
    (another doc's text plus a ``dup`` token) and 8 exact copies, the
    two kinds the dedup operators look for."""
    lengths = rng.integers(10, 100, nd)
    texts = [" ".join(rng.choice(_VOCAB, k)) for k in lengths]
    near = rng.choice(nd, nd // 20 + 8, replace=False)
    for i in near[: nd // 20]:
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    for i in near[nd // 20 :]:
        texts[i] = texts[int(rng.integers(0, nd))]
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def ensure_base(data_root: Path) -> Path:
    """Write the base tables under ``data_root`` once; return the table
    directory. Built in a temporary directory and renamed into place,
    so a killed build never leaves a half-written table set behind."""
    sf_dir = data_root / f"base-v{BASE_VERSION}-s{BASE_SEED}-sf{SF:g}"
    if sf_dir.is_dir():
        return sf_dir
    data_root.mkdir(parents=True, exist_ok=True)
    tmp = data_root / f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    for name, table in base_tables().items():
        pq.write_table(table, tmp / f"{name}.parquet")
    try:
        tmp.rename(sf_dir)
    except OSError:  # another run won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return sf_dir


# --- seeded inputs -------------------------------------------------------


def zipf_counts(n_items: int, n_ops: int, s: float = 1.0) -> list[int]:
    """Expected Zipf(s) counts of ``n_ops`` draws over ``n_items`` ranked
    items, rounded by largest remainder so they sum to ``n_ops``. Using
    the expectation rather than random draws keeps the multiset of ops
    the same for every seed; the seed only orders them."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    exact = w / w.sum() * n_ops
    counts = np.floor(exact).astype(int)
    short = n_ops - counts.sum()
    order = np.argsort(-(exact - counts), kind="stable")
    counts[order[:short]] += 1
    return counts.tolist()


def zipf_sequence(names: list[str], n_ops: int, seed: int) -> list[str]:
    """``names`` ranked hottest first; a seeded order of their Zipf counts."""
    seq = [n for n, c in zip(names, zipf_counts(len(names), n_ops)) for _ in range(c)]
    rng = np.random.default_rng([seed, 1])
    return [seq[i] for i in rng.permutation(len(seq))]


def permutations(names: list[str], rounds: int, seed: int) -> list[str]:
    """``rounds`` back-to-back seeded permutations of ``names``."""
    rng = np.random.default_rng([seed, 2])
    return [names[i] for _ in range(rounds) for i in rng.permutation(len(names))]


def split_files(
    table: pa.Table, out_dir: Path, n_files: int, rows_per_file: int, seed: int, salt: int
) -> list[Path]:
    """Write ``n_files`` micro-batch files of ``rows_per_file`` rows each,
    drawn without replacement in a seeded order. File names sort in
    arrival order, which is the order the file-source stream admits
    them."""
    rng = np.random.default_rng([seed, salt])
    take = rng.permutation(table.num_rows)[: n_files * rows_per_file]
    out_dir.mkdir(parents=True, exist_ok=True)
    paths = []
    for i in range(n_files):
        idx = np.sort(take[i * rows_per_file : (i + 1) * rows_per_file])
        p = out_dir / f"batch-{i:04d}.parquet"
        pq.write_table(table.take(idx), p)
        paths.append(p)
    return paths


def perturb_orders(
    orders: pa.Table, seed: int, frac: float = 0.02
) -> tuple[pa.Table, dict[str, int]]:
    """The next nightly dump of ``orders``: a seeded ``frac`` of rows
    deleted, another ``frac`` updated (status and price) and ``frac``
    new orders inserted. Returns the new dump and its change counts."""
    rng = np.random.default_rng([seed, 3])
    n = orders.num_rows
    k = max(1, int(n * frac))
    pick = rng.permutation(n)
    deleted, updated = pick[:k], pick[k : 2 * k]
    keep = np.ones(n, dtype=bool)
    keep[deleted] = False
    status = orders.column("o_orderstatus").to_numpy(zero_copy_only=False).copy()
    price = orders.column("o_totalprice").to_numpy().copy()
    status[updated] = np.where(status[updated] == "F", "O", "F")
    price[updated] = np.round(price[updated] + rng.uniform(1, 100, k), 2)
    changed = orders.set_column(
        orders.schema.get_field_index("o_orderstatus"), "o_orderstatus", pa.array(status)
    ).set_column(
        orders.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price)
    )
    first_new = pc.max(orders.column("o_orderkey")).as_py() + 1
    src = rng.integers(0, n, k)
    inserted = changed.take(src).set_column(
        0, "o_orderkey", pa.array(np.arange(first_new, first_new + k, dtype=np.int64))
    )
    new = pa.concat_tables([changed.filter(pa.array(keep)), inserted])
    return new, {"deleted": k, "updated": k, "inserted": k}

