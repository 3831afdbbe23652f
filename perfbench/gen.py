"""Seeded input generators for the lakehouse benchmark.

Everything here is a pure function of a ``numpy.random.Generator``: the
engine only ever sees the rows these functions produce.  Two families:

- the reference's Silver shapes (transactions, clients, daily currency
  rates) for ``lakehouse_refresh``;
- the star-schema query corpus (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings) for ``query_mix``, with
  the same schemas and value domains as the engine's test corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's transaction_datetime range: 2020-01-01 .. 2025-05-31.
TXN_START = np.datetime64("2020-01-01", "D")
TXN_END = np.datetime64("2025-06-01", "D")
# Rates run past TXN_END so every refresh increment finds its rate day.
RATES_END = np.datetime64("2031-01-01", "D")
CURRENCIES = np.array(["USD", "EUR", "RUB", "CNY"])
CURRENCY_P = [0.25, 0.375, 0.28, 0.095]
CATEGORIES = np.array(["payment", "transfer", "withdrawal", "deposit"])
COUNTRIES = np.array(["RU", "US", "DE", "CN", "JP", "GB", "FR", "IN", "BR", "CA"])
FIRST_CLIENT = 100_000
NULL_DATE_FRAC = 0.0005  # edge rows with no timestamp: the NULL-date bucket


def transactions(
    rng: np.random.Generator,
    n: int,
    n_clients: int,
    first_id: int = 0,
    lo: np.datetime64 = TXN_START,
    hi: np.datetime64 = TXN_END,
    clients: np.ndarray | None = None,
) -> pd.DataFrame:
    """Raw transactions: ids ``first_id..first_id+n``, timestamps uniform in
    ``[lo, hi)``, amounts in cents (1.00 .. 10000.00).  ``clients`` (when
    given) is the pool client ids are drawn from, else all clients."""
    lo_s = lo.astype("datetime64[s]").astype(np.int64)
    hi_s = hi.astype("datetime64[s]").astype(np.int64)
    secs = rng.integers(lo_s, hi_s, n)
    ts = pd.to_datetime(secs, unit="s")
    ts = ts.where(rng.random(n) >= NULL_DATE_FRAC)
    if clients is None:
        client_id = rng.integers(FIRST_CLIENT, FIRST_CLIENT + n_clients, n)
    else:
        client_id = rng.choice(clients, n)
    return pd.DataFrame(
        {
            "transaction_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "client_id": client_id.astype(np.int64),
            "amount_cents": rng.integers(100, 1_000_001, n),
            "currency": rng.choice(CURRENCIES, n, p=CURRENCY_P),
            "transaction_datetime": ts,
            "category": rng.choice(CATEGORIES, n),
        }
    )


def increment(
    rng: np.random.Generator,
    n_new: int,
    n_clients: int,
    first_id: int,
    high_water: np.datetime64,
    previous: pd.DataFrame | None,
) -> pd.DataFrame:
    """One refresh increment: ``n_new`` new rows dated in the 30 days after
    ``high_water``, plus corrections (new amounts) of 10% of the previous
    increment's rows.  Half the new rows go to clients active in the
    previous increment, so recent keys are favoured."""
    pool = None
    if previous is not None:
        recent = previous["client_id"].to_numpy()
        pool = np.concatenate(
            [recent, rng.integers(FIRST_CLIENT, FIRST_CLIENT + n_clients, len(recent))]
        )
    new = transactions(
        rng, n_new, n_clients, first_id, high_water + 1, high_water + 31, clients=pool
    )
    if previous is None:
        return new
    fix = previous.sample(frac=0.1, random_state=rng).copy()
    fix["amount_cents"] = rng.integers(100, 1_000_001, len(fix))
    return pd.concat([new, fix], ignore_index=True)


def clients(rng: np.random.Generator, n_clients: int) -> pd.DataFrame:
    """Raw clients; 1% have no registration date (they become 'new')."""
    reg = TXN_START - 5 * 365 + rng.integers(0, 10 * 365, n_clients)
    reg = pd.to_datetime(reg.astype("datetime64[D]")).where(rng.random(n_clients) >= 0.01)
    ids = np.arange(FIRST_CLIENT, FIRST_CLIENT + n_clients, dtype=np.int64)
    return pd.DataFrame(
        {
            "client_id": ids,
            "name": [f"Client-{i}" for i in ids],
            "registration_date": reg,
            "tier": np.where(rng.random(n_clients) < 0.3, "premium", "standard"),
            "country": rng.choice(COUNTRIES, n_clients),
        }
    )


def currency_rates(rng: np.random.Generator) -> pd.DataFrame:
    """Daily RUB rates: quoted on business days, forward-filled over
    weekends (the reference's Silver layer fills the gaps)."""
    days = np.arange(TXN_START, RATES_END)
    business = np.is_busday(days)
    out = {"date": pd.to_datetime(days)}
    for ccy, base, width in (("USD", 60.0, 40.0), ("EUR", 65.0, 45.0), ("CNY", 8.0, 6.0)):
        quoted = np.round(base + rng.random(len(days)) * width, 4)
        # forward fill: each day takes the latest business day's quote
        last = np.maximum.accumulate(np.where(business, np.arange(len(days)), 0))
        out[ccy] = quoted[last]
    return pd.DataFrame(out)


# --------------------------------------------------------------------------- #
# query corpus
# --------------------------------------------------------------------------- #

_WORDS = np.array(
    "a the data spark table query join key value row column scan filter sort "
    "group agg window stream batch merge hash vector order line part customer "
    "small big fast slow".split()
)
_LANG = np.array(["en", "es", "zh", "de", "fr"])
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_NAME_A = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])
_NAME_B = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    d = rng.integers(np.datetime64(lo, "D").astype(np.int64), np.datetime64(hi, "D").astype(np.int64), n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, n_words))


def corpus_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten corpus tables at scale factor ``sf`` (lineitem = 6M x sf)."""
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_vec, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(rng.choice(_NAME_A, n_part), " "), rng.choice(_NAME_B, n_part)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900 + rng.random(n_line) * 1200), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-05", n_line),
        }
    )
    ev_us = np.sort(
        rng.integers(
            np.datetime64("2024-01-01", "us").astype(np.int64),
            np.datetime64("2024-01-31", "us").astype(np.int64),
            n_ev,
        )
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_us.astype("datetime64[us]")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": _money(rng, 0.01, 500, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(10, 110, n_doc)]
    # ~3% near-duplicates (a few words changed) and ~0.5% exact copies,
    # so the dedup and near-dup operators have pairs to find
    for i in rng.choice(n_doc, n_doc // 30, replace=False):
        words = texts[rng.integers(0, n_doc)].split()
        for j in rng.integers(0, len(words), max(1, len(words) // 20)):
            words[j] = rng.choice(_WORDS)
        texts[i] = " ".join(words)
    for i in rng.choice(n_doc, n_doc // 200, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANG, n_doc, p=_LANG_P),
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_corpus(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """Write the corpus as one parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(rng, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
