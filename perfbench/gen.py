"""Seeded input generator for the three benchmark workloads.

Every input the program sees is made here from ``--seed`` alone (plus the
run length for ``stream_ingest``, which sets how many files arrive), so the
same arguments give byte-identical files. The tables follow the schemas of
the repository's test data (TPC-H-like star schema plus ``events`` and
``documents``); value ranges mimic it so every registry entry runs the same
code paths it runs on that data.

The properties the program's behaviour depends on are drawn per seed from
a narrow band and returned as realized values (the ``gen.*`` metrics):

* ``stream_ingest``: user-key skew (Zipf exponent) and the share of late,
  out-of-order events. Late events stay inside the watermark of
  ``visitor_stats_scale_agg`` (never older than the start of the hour of
  the newest event already written), so no row may be dropped.
* ``llm_curation``: the planted near-duplicate rate of the corpus and of
  the arrival batches.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The vocabulary and value sets of the repository's test data.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "green")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "nut", "pipe")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")

_US = 1_000_000
ORDER_EPOCH = dt.datetime(1995, 1, 1)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _utc_us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * _US


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(days: np.ndarray, epoch: dt.datetime) -> pa.Array:
    us = _utc_us(epoch) + days.astype(np.int64) * 86_400 * _US
    return pa.array(us, pa.timestamp("us"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


# ---------------------------------------------------------------- tables
def warehouse_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the star-schema tables at scale ``sf`` (sf 1 = 6M line items).
    Returns the row count of each table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
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
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
        }
    )
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days_us(odays, ORDER_EPOCH),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days_us(odays[okey] + rng.integers(1, 121, n_li), ORDER_EPOCH),
        }
    )
    ts = np.sort(_utc_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * 86_400 * _US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents_table(rng, n_docs, dup_rate=0.05)[0]
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def documents_table(
    rng: np.random.Generator, n_docs: int, dup_rate: float, id0: int = 0
) -> tuple[pa.Table, int]:
    """Documents with ~``dup_rate`` planted near-duplicates: a planted doc
    copies an earlier doc and changes one word. Texts are unique, so
    digest-keyed indexes have one holder per text. Returns the table and
    the number of planted near-duplicates."""
    texts: list[str] = []
    seen: set[str] = set()
    planted = 0
    while len(texts) < n_docs:
        if texts and rng.random() < dup_rate:
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            text, is_dup = " ".join(words), True
        else:
            text, is_dup = _text(rng, int(rng.integers(10, 101))), False
        if text in seen:
            continue
        seen.add(text)
        texts.append(text)
        planted += is_dup
    ids = np.arange(id0, id0 + n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    return table, planted


# ---------------------------------------------------------------- serving
SERVING_SF = 0.01


def serving_inputs(out_dir: str, seed: int) -> dict:
    rows = warehouse_tables(out_dir, seed, SERVING_SF)
    return {"gen.distinct_keys": rows["customer"], "gen.dup_rate": 0.0,
            "gen.late_share": 0.0}


# ---------------------------------------------------------------- curation
CURATION_DOCS = 400
#: Arrival files generated; the run lands one warm-up file, then one per
#: micro-batch until its time is up, but never fewer than
#: ARRIVAL_BATCHES_MIN timed ones.
ARRIVAL_BATCHES_MAX = 8
ARRIVAL_BATCHES_MIN = 3
ARRIVAL_DOCS = 20
ARRIVAL_ID0 = 300_000


def curation_inputs(out_dir: str, seed: int) -> dict:
    """``documents.parquet`` (the corpus) and ``arrivals_<k>.parquet``.
    Each arrival batch mixes fresh docs, exact copies and near copies
    (one word changed) of corpus docs, at the seeded planted rate."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    dup_rate = float(rng.uniform(0.08, 0.16))
    docs, planted = documents_table(rng, CURATION_DOCS, dup_rate)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    corpus = docs.column("text").to_pylist()
    seen = set(corpus)
    n_dup = planted
    n_total = CURATION_DOCS
    for k in range(ARRIVAL_BATCHES_MAX):
        texts: list[str] = []
        while len(texts) < ARRIVAL_DOCS:
            r = rng.random()
            src = corpus[int(rng.integers(0, len(corpus)))]
            if r < dup_rate / 2:
                text = src  # exact copy of a corpus doc
            elif r < dup_rate:
                words = src.split()
                words[int(rng.integers(0, len(words)))] = "dup"
                text = " ".join(words)
            else:
                text = _text(rng, int(rng.integers(10, 101)))
            if text in texts or (text in seen and text != src):
                continue
            texts.append(text)
            n_dup += r < dup_rate
        seen.update(texts)
        n_total += len(texts)
        ids = np.arange(ARRIVAL_ID0 + k * 10_000, ARRIVAL_ID0 + k * 10_000 + len(texts))
        _write(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            os.path.join(out_dir, f"arrivals_{k}.parquet"),
        )
    return {"gen.dup_rate": n_dup / n_total, "gen.distinct_keys": len(seen),
            "gen.late_share": 0.0}


# ---------------------------------------------------------------- streaming
STREAM_USERS = 2_000
STREAM_EVENTS_PER_FILE = 200
STREAM_BACKLOG_FILES = 60
#: Offered arrival rate of the open loop, files per second. Fixed: set
#: below saturation on the commit that introduced the benchmark and never
#: re-derived per run, so a slower program shows as worse freshness.
STREAM_FILES_PER_S = 4.0
STREAM_EVENT_SPAN_US = 30 * _US  # event time covered by one file
STREAM_LATE_MAX_US = 20 * 60 * _US


def stream_file_count(seconds: float) -> int:
    return STREAM_BACKLOG_FILES + int(round(STREAM_FILES_PER_S * seconds))


def stream_inputs(out_dir: str, seed: int, seconds: float) -> dict:
    """Event files ``ev-<i>.parquet`` in file order: the first
    STREAM_BACKLOG_FILES form the pre-staged backlog, the rest arrive at
    STREAM_FILES_PER_S. User keys are Zipf-skewed; a seeded share of
    events is late (event time moved back, within the watermark)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    zipf_s = float(rng.uniform(1.05, 1.3))
    late_share = float(rng.uniform(0.05, 0.15))
    ranks = np.arange(1, STREAM_USERS + 1, dtype=np.float64)
    p = ranks**-zipf_s
    p /= p.sum()
    perm = rng.permutation(STREAM_USERS)  # hot keys are not the low ids
    n_files = stream_file_count(seconds)
    base = _utc_us(dt.datetime(2024, 1, 1))
    hour = 3600 * _US
    newest = base
    n_late = 0
    users: set[int] = set()
    for i in range(n_files):
        n = STREAM_EVENTS_PER_FILE
        lo = base + i * STREAM_EVENT_SPAN_US
        ts = np.sort(lo + rng.integers(0, STREAM_EVENT_SPAN_US, n))
        late = rng.random(n) < late_share
        floor = newest - newest % hour  # start of the newest event's hour
        back = ts - rng.integers(1, STREAM_LATE_MAX_US, n)
        ts = np.where(late, np.maximum(back, floor), ts)
        n_late += int(late.sum())
        newest = max(newest, int(ts.max()))
        uid = perm[rng.choice(STREAM_USERS, n, p=p)].astype(np.int64)
        users.update(uid.tolist())
        table = pa.table(
            {
                "event_id": pa.array(np.arange(i * n, (i + 1) * n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(uid, pa.int64()),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": _money(rng, 0, 560, n),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            },
            schema=EVENTS_SCHEMA,
        )
        _write(table, os.path.join(out_dir, f"ev-{i:05d}.parquet"))
    total = n_files * STREAM_EVENTS_PER_FILE
    return {"gen.late_share": n_late / total, "gen.distinct_keys": len(users),
            "gen.dup_rate": 0.0, "gen.zipf_s": zipf_s}
