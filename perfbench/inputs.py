"""Seeded benchmark inputs, generated once per (seed, size) and cached.

The program only ever sees the parquet files written here. The map
workloads read one ``events`` table made by ``tools/gen_scale_docs.gen_events``
(whale user, timestamp ties, NULL values). The board reads all ten registry
tables: ``documents``/``embeddings`` come from the same generator module,
and the TPC-H-shaped tables and the ``events`` table are drawn here to the
statistics of the repository's fixed test tables (``TESTDATA.md``): row
counts, key cardinalities, value ranges and mixes, microsecond timestamps.
``testdata_stats_sf0.01.json`` records those statistics, measured on the
fixed sf0.01 tables with ``table_stats``, and ``test_perfbench.py`` checks
the generator against them. ``sf=0.1`` gives 600k lineitems.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.gen_scale_docs import gen_documents, gen_embeddings, gen_events

_DONE = "_COMPLETE"
BOARD_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _generator_digest() -> str:
    """Digest of the generators' sources: inputs cached by an older
    generator are not reused."""
    h = hashlib.sha256()
    for mod in (__file__, gen_events.__code__.co_filename):
        with open(mod, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _cached(path: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``path`` is already complete; the
    marker lands last, so an interrupted generation is redone."""
    path = f"{path}_{_generator_digest()}"
    if os.path.isfile(os.path.join(path, _DONE)):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, _DONE), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def events_input(work: str, seed: int, n: int) -> str:
    """Directory holding ``events.parquet`` with ``n`` generated events."""

    def build(d: str) -> None:
        rng = np.random.default_rng([seed, n])
        pq.write_table(gen_events(rng, n), os.path.join(d, "events.parquet"))

    return _cached(os.path.join(work, "inputs", f"events_s{seed}_n{n}"), build)


def board_input(work: str, seed: int, sf: float) -> str:
    """Directory holding all ten registry tables at scale ``sf``."""

    def build(d: str) -> None:
        rng = np.random.default_rng([seed, int(sf * 1_000_000)])
        for name, table in board_tables(rng, sf).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))

    return _cached(os.path.join(work, "inputs", f"board_s{seed}_sf{sf:g}"), build)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _days(base_us: int, days: np.ndarray) -> pa.Array:
    return pa.array(base_us + days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def board_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    pick = lambda vals, n: pa.array(rng.choice(vals, n))  # noqa: E731

    order_days = rng.integers(0, 2405, n_ord)
    line_order = rng.integers(0, n_ord, n_line)
    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev))
    return {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pick(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(PART_ADJECTIVES, n_part), rng.choice(PART_NOUNS, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pick(PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(_EPOCH_1995_US, order_days),
                "o_orderpriority": pick(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(line_order),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": pick(["A", "N", "R"], n_line),
                "l_linestatus": pick(["F", "O"], n_line),
                "l_shipdate": _days(
                    _EPOCH_1995_US, order_days[line_order] + rng.integers(1, 122, n_line)
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_ev)),
                "ts": pa.array(ev_ts, type=pa.timestamp("us")),
                # about 67 events per user, as in the fixed tables
                "user_id": i64(rng.integers(0, max(1, n_ev * 3 // 200), n_ev)),
                "event_type": pick(EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": gen_documents(rng, n_docs),
        "embeddings": gen_embeddings(rng, n_emb),
    }


def table_stats(d: str, tables=BOARD_TABLES) -> dict:
    """Per table its row count, and per column its type, NULLs, distinct
    values, min and max (numbers; timestamps as epoch microseconds) and,
    for a string column of at most six values, each value's share."""
    out = {}
    for t in tables:
        tb = pq.read_table(os.path.join(d, f"{t}.parquet"))
        cols = {}
        for c in tb.column_names:
            col = tb[c]
            if pa.types.is_list(col.type):
                cols[c] = {"type": str(col.type), "nulls": col.null_count}
                continue
            s = {"type": str(col.type), "nulls": col.null_count, "distinct": len(pc.unique(col))}
            if pa.types.is_string(col.type):
                if s["distinct"] <= 6:
                    s["mix"] = {
                        v["values"]: round(v["counts"] / tb.num_rows, 4)
                        for v in pc.value_counts(col).to_pylist()
                    }
            else:
                num = col.cast(pa.int64()) if pa.types.is_timestamp(col.type) else col
                mm = pc.min_max(num).as_py()
                s["min"], s["max"] = mm["min"], mm["max"]
            cols[c] = s
        out[t] = {"rows": tb.num_rows, "columns": cols}
    return out
