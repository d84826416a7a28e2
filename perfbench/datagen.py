"""Seeded inputs for the benchmark workloads, written with numpy + pyarrow.

Everything here is a pure function of ``seed`` (and the size arguments):
the package under test only ever sees the files these functions write.

* ``write_tables`` — the ten TPC-H-ish tables the query registry reads
  (region … embeddings), with the column types, value vocabularies and
  row-count ratios of the repository's testdata (TESTDATA.md, FIXTURES.md).
* ``write_ticks`` — a market-data feed: consecutive 6-hour windows of
  hourly coin snapshots in the raw schema of ``sources.generator``, with
  re-delivered duplicates and one-tick-late arrivals mixed in.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = "blue cold hot large old red small".split()
_NOUN = "anvil bolt gizmo plate ring rod widget".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMBED_DIM = 64
_CORPUS = 500  # documents / embeddings rows: fixed across scale factors
SF = 0.001  # query_mix's scale factor: per-query overhead dominates


def _dates(rng, n, start, end):
    """``n`` midnight timestamps uniform in [start, end] (TIMESTAMP[us])."""
    days = (end - start).days
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return base + offs.astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the registry's ten input tables at scale factor ``SF``.

    Row counts follow the testdata ratios (lineitem = 6M·sf, orders =
    1.5M·sf, events = 1M·sf over 15k·sf users, …); documents and
    embeddings stay at 500 rows. Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_li = int(6_000_000 * SF)
    n_ev = int(1_000_000 * SF)
    n_users = int(15_000 * SF)
    pick = lambda vocab, n: np.asarray(vocab, dtype=object)[  # noqa: E731
        rng.integers(0, len(vocab), n)
    ]
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    rows = {}
    rows["region"] = _write(
        out_dir, "region",
        {"r_regionkey": i32(np.arange(5)), "r_name": _REGIONS},
    )
    rows["nation"] = _write(
        out_dir, "nation",
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        },
    )
    rows["customer"] = _write(
        out_dir, "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        },
    )
    rows["supplier"] = _write(
        out_dir, "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    partkeys = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(
        out_dir, "part",
        {
            "p_partkey": partkeys,
            "p_name": [
                f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(_PTYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (partkeys % 1000) / 10.0, 2),
        },
    )
    rows["orders"] = _write(
        out_dir, "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(
                rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)
            ),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        },
    )
    rows["lineitem"] = _write(
        out_dir, "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _dates(
                rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)
            ),
        },
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    rows["events"] = _write(
        out_dir, "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64(datetime(2024, 1, 1), "us")
            + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": pick(_EVENT_TYPES, n_ev),
            "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    )
    texts = [
        " ".join(pick(_WORDS, int(n))) for n in rng.integers(10, 100, _CORPUS)
    ]
    rows["documents"] = _write(
        out_dir, "documents",
        {
            "doc_id": np.arange(_CORPUS, dtype=np.int64),
            "text": texts,
            "lang": pick(_LANGS, _CORPUS),
            "source": [f"src{i % 20}" for i in range(_CORPUS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    vecs = rng.standard_normal((_CORPUS, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), pa.float32()), _EMBED_DIM
    ).cast(pa.list_(pa.float32()))
    rows["embeddings"] = _write(
        out_dir, "embeddings",
        {
            "vec_id": np.arange(_CORPUS, dtype=np.int64),
            "embedding": emb,
            "label": i32(rng.integers(0, 10, _CORPUS)),
        },
    )
    return rows


# --- market feed -----------------------------------------------------------

RAW_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("symbol", pa.string()),
        ("name", pa.string()),
        ("current_price", pa.float64()),
        ("market_cap", pa.int64()),
        ("total_volume", pa.int64()),
        ("last_updated", pa.string()),
    ]
)
FEED_START = datetime(2024, 3, 1)
HOURS_PER_TICK = 6
DUP_SHARE = 0.05  # of a tick's rows, re-delivered copies of earlier rows
LATE_SHARE = 0.3  # of a tick's last hour, held back to the next tick


def _snapshots(rng, n_coins: int, hours: list[datetime]) -> dict:
    """Hourly coin snapshots (generator.py's log-normal jitter, seeded)."""
    coin = np.tile(np.arange(n_coins), len(hours))
    hour = np.repeat(np.arange(len(hours)), n_coins)
    base_price = 0.01 + (coin * 7919 % 10_000) / 10_000.0 * 50_000.0
    base_cap = 1e6 + (coin * 104_729 % 10_000) / 10_000.0 * 1e12
    n = coin.size
    return {
        "id": [f"coin-{c}" for c in coin],
        "symbol": [f"c{c}" for c in coin],
        "name": [f"Coin {c}" for c in coin],
        "current_price": base_price * np.exp(rng.standard_normal(n) * 0.08),
        "market_cap": (base_cap * np.exp(rng.standard_normal(n) * 0.05)).astype(
            np.int64
        ),
        "total_volume": (
            base_cap * 0.05 * np.exp(rng.standard_normal(n) * 0.4)
        ).astype(np.int64),
        "last_updated": [
            hours[h].strftime("%Y-%m-%dT%H:%M:%S") for h in hour
        ],
    }


def write_ticks(out_dir: str, seed: int, n_ticks: int, n_coins: int) -> list[str]:
    """Write ``n_ticks`` raw parquet files, one per tick; return their paths.

    Tick ``t`` carries the snapshots of hours [t·h, (t+1)·h) except a
    ``LATE_SHARE`` of its last hour's rows, which arrive one tick late (in
    tick t+1). That keeps every late row inside the streaming silver
    watermark (2 h), so the stream and a batch rebuild agree on the result.
    Each tick from the second on also re-delivers ``DUP_SHARE`` of its
    rows as exact copies of rows already delivered."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths, carry, delivered = [], None, None
    for t in range(n_ticks):
        hours = [
            FEED_START + timedelta(hours=t * HOURS_PER_TICK + h)
            for h in range(HOURS_PER_TICK)
        ]
        tick = pa.table(_snapshots(rng, n_coins, hours), schema=RAW_SCHEMA)
        # the last hour's late share is held back for the next tick
        last_hour = np.arange(tick.num_rows) >= (HOURS_PER_TICK - 1) * n_coins
        held = last_hour & (rng.random(tick.num_rows) < LATE_SHARE)
        if t == n_ticks - 1:
            held[:] = False
        parts = [tick.filter(pa.array(~held))]
        if carry is not None:
            parts.append(carry)
        if delivered is not None:
            k = int(DUP_SHARE * tick.num_rows)
            parts.append(delivered.take(rng.integers(0, delivered.num_rows, k)))
        out = pa.concat_tables(parts)
        carry = tick.filter(pa.array(held))
        delivered = out if delivered is None else pa.concat_tables([delivered, out])
        path = os.path.join(out_dir, f"tick-{t:05d}.parquet")
        pq.write_table(out, path)
        paths.append(path)
    return paths
