#!/usr/bin/env python3
"""Shape statistics of the input tables, fixture and generated side by side.

    python3 perfbench/fixture_stats.py <fixture_dir> [--sf 0.01] [--seed 1]

``<fixture_dir>`` holds the repo's fixture parquet files (the layout
``io.load`` reads). The generated tables are made by ``gen.py`` at
``--sf`` from ``--seed``; pass the fixture's own scale factor. The
last block describes the stream workload's event log, which has no
fixture counterpart.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pandas as pd

TABLES = ("customer", "part", "orders", "lineitem", "events", "documents", "embeddings")


def table_stats(get) -> dict:
    """Row counts, join fan-out, key spread and event ordering of the
    tables ``get(name)`` returns as pandas frames."""
    out = {f"{n}.rows": len(get(n)) for n in TABLES}
    li, orders, cust = get("lineitem"), get("orders"), get("customer")
    per_order = li.groupby("l_orderkey").size().reindex(orders["o_orderkey"], fill_value=0)
    out["lines_per_order.mean"] = per_order.mean()
    out["lines_per_order.var"] = per_order.var()
    out["orders_without_lines.share"] = (per_order == 0).mean()
    per_cust = orders.groupby("o_custkey").size().reindex(cust["c_custkey"], fill_value=0)
    out["orders_per_customer.cv"] = per_cust.std() / per_cust.mean()
    ev = get("events")
    per_user = ev.groupby("user_id").size()
    out["events.users"] = len(per_user)
    out["events_per_user.mean"] = per_user.mean()
    out["events_per_user.cv"] = per_user.std() / per_user.mean()
    ts = ev.sort_values("event_id")["ts"].astype("int64").to_numpy()
    out["events.out_of_order.share"] = (ts[1:] < np.maximum.accumulate(ts)[:-1]).mean()
    x = np.array(get("embeddings")["embedding"].to_list(), dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sim = x @ x.T
    np.fill_diagonal(sim, -1.0)
    out["embeddings.cos_gt_0.9_neighbour.share"] = (sim.max(axis=1) > 0.9).mean()
    return {k: float(v) for k, v in out.items()}


def log_stats(slices: list[pd.DataFrame], per_file: int) -> dict:
    """Delivery shape of a stream log (``gen.event_log``'s slices)."""
    seen: set = set()
    n = redelivered = later = 0
    for i, s in enumerate(slices):
        ids = s["event_id"].to_numpy()
        redelivered += sum(e in seen for e in ids)
        later += int((ids < i * per_file).sum())
        seen.update(ids)
        n += len(s)
    keys = pd.concat(slices)["user_id"].value_counts()
    return {
        "log.rows": n,
        "log.users": len(keys),
        "log.top_key.share": keys.iloc[0] / n,
        "log.redelivered.share": redelivered / n,
        "log.from_earlier_slice.share": later / n,
    }


def main(argv=None) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    import gen
    import pyarrow.parquet as pq

    from workloads import STREAM_FILES, STREAM_PER_FILE

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    fixture = table_stats(
        lambda n: pq.read_table(os.path.join(args.fixture_dir, f"{n}.parquet")).to_pandas()
    )
    tables = gen.all_tables(args.seed, args.sf)
    generated = table_stats(lambda n: tables[n].to_pandas())
    print(f"{'statistic':40s} {'fixture':>12s} {'generated':>12s}")
    for k in fixture:
        print(f"{k:40s} {fixture[k]:12.4f} {generated[k]:12.4f}")
    log = gen.event_log(args.seed, STREAM_FILES, STREAM_PER_FILE)
    for k, v in log_stats(log, STREAM_PER_FILE).items():
        print(f"{k:40s} {'':>12s} {v:12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
