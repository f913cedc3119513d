"""Seeded input generators for the benchmark workloads.

Everything the engine reads in a run is made here from ``--seed``; the
same seed gives byte-identical tables. The tables follow the fixture
schemas in FIXTURES.md (column names, arrow types, value domains) at a
scale factor chosen by the caller. Their shape was measured on the
repo's fixtures at sf0.001, sf0.01 and sf0.1 and is checked by
``fixture_stats.py`` (which prints fixture and generated figures side
by side) and by the self-tests:

- lineitem rows pick their order uniformly: 4.0 lines an order with a
  variance of ~4 (Poisson(4)), ~1.7% of orders without lines; orders
  pick customers and lineitems pick parts uniformly;
- ``events`` is sorted by ``ts`` and ``event_id`` together (the
  fixtures have no out-of-order row at any scale, although FIXTURES.md
  calls them "ordered-ish"); its user keys are uniform with
  EVENTS_PER_USER events a key on average;
- exactly NEAR_DUP_SHARE of documents and embeddings, at seeded rows,
  are near-duplicates of an earlier row. The fixture embeddings have
  no pair above cosine 0.9, so these rows are not a fixture property:
  they give the dedup queries positive cases.

The stream workload additionally gets a two-topic event log
(:func:`event_log`). The fixtures have no disorder, no duplicates and
no key skew, so the log takes those from published benchmark
generators instead; see the constants below.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("small", "new", "blue", "old", "red", "hot", "large", "cold")
NOUNS = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
NEAR_DUP_SHARE = 0.05
# Events per user key in the fixtures: 1,000 / 10,000 / 100,000 events
# over 15 / 150 / 1,500 keys at sf0.001 / sf0.01 / sf0.1.
EVENTS_PER_USER = 200 / 3
# Key popularity of the stream's log: Zipf with YCSB's default zipfian
# constant (Cooper et al., "Benchmarking Cloud Serving Systems with
# YCSB", SoCC 2010), over the fixtures' key count for the log's size.
LOG_ZIPF = 0.99
# Out-of-order delivery, after the NEXMark generator's defaults in
# Apache Beam (NexmarkConfiguration: probDelayedEvent = 0.1,
# occasionalDelaySec = 3, firstEventRate = 10,000 events/s): a tenth of
# the events is delayed by a uniform 0-3 s, that is by up to 30,000
# positions in the log at that rate.
PROB_DELAYED = 0.1
MAX_DELAY_EVENTS = 30_000
# At-least-once redelivery: each topic's producer fails once a log, at
# a seeded point of a seeded file, and resends what it wrote to that
# file before the failure into the next file (as a producer retrying
# unacknowledged records does). So half a file on average is delivered
# twice, per topic and log.


def _choice(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema at scale ``sf`` (lineitem = 6M x sf)."""
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(50, round(1_500_000 * sf))
    n_line = max(200, round(6_000_000 * sf))

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    nk = np.arange(25)
    nation = pa.table(
        {
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": pa.array(nk % 5, pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    customer = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp)
    supplier = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    part = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n_ord)
    orders = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    # (l_orderkey, l_linenumber) is unique: number the lines of each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    linenumber = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line]))
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(linenumber + 1, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _choice(rng, ("F", "O"), n_line),
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(
    rng: np.random.Generator, n: int, n_users: int, zipf_s: float | None = None
) -> pa.Table:
    """The ``events`` table: ts ascending with event_id over 30 days.
    User keys are uniform, or Zipf(``zipf_s``)-ranked when given."""
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n))
    if zipf_s is None:
        users = rng.integers(0, n_users, n)
    else:
        w = 1.0 / np.arange(1, n_users + 1) ** zipf_s
        users = rng.choice(n_users, size=n, p=w / w.sum())
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(users, pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _near_dup_rows(rng: np.random.Generator, n: int) -> set[int]:
    """Exactly NEAR_DUP_SHARE of the rows past the first ten, chosen by
    the seed: the seed decides which rows, never how many."""
    return set(rng.choice(np.arange(10, n), round(NEAR_DUP_SHARE * n), replace=False))


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; NEAR_DUP_SHARE of them copy an earlier
    document with one word changed and a ``dup`` marker appended."""
    texts = []
    dups = _near_dup_rows(rng, n)
    for i in range(n):
        if i in dups:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _choice(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float32 embeddings with 10 class labels;
    NEAR_DUP_SHARE of them are an earlier vector plus small noise."""
    x = rng.standard_normal((n, EMB_DIM))
    for i in sorted(_near_dup_rows(rng, n)):
        x[i] = x[rng.integers(0, i)] + rng.normal(0.0, 0.05, EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def all_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``; documents and embeddings keep
    the sf0.01 fixture sizes (500 rows each) below sf0.1."""
    rng = np.random.default_rng([seed, 1])
    tables = star_tables(rng, sf)
    n_events = max(500, round(1_000_000 * sf))
    tables["events"] = events_table(rng, n_events, _users(n_events))
    tables["documents"] = documents_table(rng, 500)
    tables["embeddings"] = embeddings_table(rng, 500)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Stage tables as ``<out_dir>/<name>.parquet``, the layout
    ``io.load`` and the DuckDB oracle views read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _users(n_events: int) -> int:
    return max(10, round(n_events / EVENTS_PER_USER))


def event_log(seed: int, n_files: int, per_file: int) -> list[pd.DataFrame]:
    """A two-topic event log as ``n_files`` delivery slices.

    ``n_files * per_file`` events with the fixtures' key count and
    Zipf(LOG_ZIPF)-ranked keys are laid out in event-time order. Each
    event is delayed with probability PROB_DELAYED by a uniform
    0..MAX_DELAY_EVENTS positions, and slice i delivers the positions
    ``[i * per_file, (i + 1) * per_file)`` after the delays (the last
    slice also takes what is delayed past the end). Then each topic's
    producer fails once: a seeded prefix of its part of a seeded slice
    (not the last) is delivered again at the start of the next slice.
    Each returned frame is one slice in delivery order, with a ``topic``
    column (0 or 1, by event_id parity) — the files of one micro-batch.
    """
    rng = np.random.default_rng([seed, 2])
    n = n_files * per_file
    ev = events_table(rng, n, _users(n), LOG_ZIPF).to_pandas()
    delay = np.where(
        rng.random(n) < PROB_DELAYED, rng.integers(0, MAX_DELAY_EVENTS + 1, n), 0
    )
    ev["topic"] = (ev["event_id"] % 2).astype("int8")
    ev["pos"] = np.arange(n) + delay
    ev = ev.sort_values(["pos", "event_id"], kind="stable").reset_index(drop=True)
    ev["slice"] = np.minimum(ev["pos"] // per_file, n_files - 1)
    parts = [ev]
    for topic in (0, 1):
        at = int(rng.integers(0, n_files - 1))
        own = ev[(ev["slice"] == at) & (ev["topic"] == topic)]
        resent = own.iloc[: int(rng.integers(0, len(own) + 1))]
        # resent rows go first in the next slice
        parts.append(resent.assign(slice=at + 1, pos=(at + 1) * per_file - 1))
    rows = pd.concat(parts, ignore_index=True).sort_values(
        ["slice", "pos"], kind="stable"
    )
    return [
        rows[rows["slice"] == i].drop(columns=["slice", "pos"]).reset_index(drop=True)
        for i in range(n_files)
    ]
