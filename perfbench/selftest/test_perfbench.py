"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench/selftest -q

The first group needs no Spark and takes a few seconds. The last two
run the benchmark end to end (one untraced and one traced run of the
stream workload, about two and a half minutes together).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
for p in (BENCH_DIR, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
from fixture_stats import log_stats, table_stats  # noqa: E402
from layers import Tracer, parse_metric, tail  # noqa: E402
from workloads import sequence_reference  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_generators_are_seeded():
    a, b, c = gen.all_tables(7, 0.001), gen.all_tables(7, 0.001), gen.all_tables(8, 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    la = [s.equals(t) for s, t in zip(gen.event_log(7, 3, 200), gen.event_log(7, 3, 200))]
    assert all(la)


def test_event_log_has_late_and_redelivered_events():
    st = log_stats(gen.event_log(3, 8, 5000), 5000)
    # 600 Zipf(0.99) keys; a tenth delayed by up to 30,000 positions;
    # two producer retries of up to a slice's half each
    assert st["log.users"] == 600 and 0.1 < st["log.top_key.share"] < 0.2
    assert 0.05 < st["log.from_earlier_slice.share"] < 0.3
    assert 0 < st["log.redelivered.share"] < 1 / 8


def test_tables_have_the_fixture_shape():
    """The figures measured on the sf0.001, sf0.01 and sf0.1 fixtures
    (see README): join fan-out, key spread, event order."""
    t = gen.all_tables(5, 0.01)
    st = table_stats(lambda n: t[n].to_pandas())
    assert st["lineitem.rows"] == 60_000 and st["orders.rows"] == 15_000
    assert st["lines_per_order.mean"] == 4.0
    assert 3.8 < st["lines_per_order.var"] < 4.2
    assert 0.01 < st["orders_without_lines.share"] < 0.025
    assert 0.28 < st["orders_per_customer.cv"] < 0.36
    assert st["events.users"] == 150 and st["events_per_user.cv"] < 0.2
    assert st["events.out_of_order.share"] == 0
    # 5% seeded near-duplicates plus the rows they copy
    assert 0.05 < st["embeddings.cos_gt_0.9_neighbour.share"] < 0.11


def test_lineitem_keys_are_unique():
    li = gen.all_tables(1, 0.001)["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()


def _batch(rows):
    return pd.DataFrame(
        [(e, pd.Timestamp(t, unit="s", tz="UTC"), u) for e, t, u in rows],
        columns=["event_id", "ts", "user_id"],
    )


def test_sequence_reference_flags_late_and_redelivered_rows():
    out = sequence_reference(
        [
            _batch([(1, 10, 7), (2, 20, 7)]),
            # event 0 is older than the key's last on-time row; event 2
            # is a redelivery of it; event 3 is on time
            _batch([(0, 5, 7), (2, 20, 7), (3, 30, 7)]),
        ]
    )
    got = {(r.batch_id, r.event_id): (r.seq, r.late) for r in out.itertuples()}
    assert got == {
        (0, 1): (1, False),
        (0, 2): (2, False),
        (1, 0): (3, True),
        (1, 2): (4, True),
        (1, 3): (5, False),
    }


def test_parse_metric_reads_totals():
    assert parse_metric("1,234", "count") == 1234
    assert parse_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)", "size") == 2048
    assert parse_metric("total (min, med, max)\n1.5 s (0 ms, 1 ms, 2 ms)", "time") == 1500
    assert parse_metric("12 ms", "time") == 12


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None
    assert tail([float(i) for i in range(40)])["percentile"] == 75
    assert tail([float(i) for i in range(1000)])["percentile"] == 99


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        t.count("c")
    assert t.spans == [] and t.counts == {}
    t = Tracer(True)
    with t.span("outer", op="a"):
        with t.span("inner"):
            pass
    assert [(s["parent"], s["op"]) for s in t.spans] == [(None, "a"), (0, "a")]


def _run(trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         "stream_causal_once", "--seed", "0", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_printed_with_its_unit(trace, key):
    detail, result = _run(trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    if trace:
        # the traced unit issues exactly the untraced units' SQL executions
        counts = detail["trace_overhead"]["sql_executions"]
        assert counts[0] > 0 and len(set(counts)) == 1
        assert result["metrics"]["query.sql_executions"]["value"] == counts[0]
        assert result["metrics"]["trace.self_s"]["value"] > 0
