"""Unit tests for the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import subprocess
import sys
import textwrap

import pytest

from perfbench import harness
from perfbench.harness import Ops, Tracer, median, quartiles, relative_spread
from perfbench.ingest import ExpectedLedger, block_counts, range_start
from perfbench.suite import result_digest, seeded_order


def _tx(n_instructions: int, balances: list[dict]) -> dict:
    return {
        "transaction": {"signatures": ["s"], "message": {"instructions": [{}] * n_instructions}},
        "meta": {"postTokenBalances": balances},
    }


def test_block_counts_one_event_per_tx_instruction_and_minted_balance():
    block = {"transactions": [_tx(3, [{"mint": "m1"}, {"mint": None}, {}]), _tx(1, [])]}
    # tx 1: 1 + 3 instructions + 1 minted balance; tx 2: 1 + 1
    assert block_counts(block) == (7, 2)
    assert block_counts(None) == (0, 0)


def test_ledger_matches_fixture_blocks_and_skips():
    from solana_data_etl_pipeline_spark.sources.fixtures import make_block

    ledger = ExpectedLedger(make_block)
    lo, hi = 1_701, 1_760  # holds 1,717, 1,734 and 1,751, which fixtures skip
    by_hand = 0
    for slot in range(lo, hi + 1):
        block = make_block(slot)
        if block is None:
            assert ledger.slot(slot) == (0, 0, False)
            continue
        for tx in block["transactions"]:
            by_hand += 1 + len(tx["transaction"]["message"]["instructions"])
            by_hand += len([b for b in tx["meta"]["postTokenBalances"] if b["mint"]])
    assert ledger.events(lo, hi) == by_hand
    assert ledger.blocks(range(lo, hi + 1)) == (hi - lo + 1) - 3
    assert ledger.transactions(lo, hi) == sum(len(make_block(s)["transactions"]) for s in range(lo, hi + 1) if make_block(s))


@pytest.mark.parametrize("seed", [0, 1, 7, 42, 996, 997, 123_457])
def test_range_start_keeps_the_span_inside_one_utc_day(seed):
    from solana_data_etl_pipeline_spark.sources.fixtures import GENESIS_TIME

    span = 1_150
    lo = range_start(seed, GENESIS_TIME, span)

    def day(slot: int) -> dt.date:
        return dt.datetime.fromtimestamp(GENESIS_TIME + 2 * slot, tz=dt.timezone.utc).date()

    assert day(lo) == day(lo + span - 1)
    assert range_start(seed, GENESIS_TIME, span) == lo


def test_quartiles_match_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert median(values) == q2 == statistics.median(values)
    assert relative_spread(values) == pytest.approx((q3 - q1) / q2)
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert relative_spread([2.5]) == 0.0


def test_ops_failed_frac_counts_check_failures_like_errors():
    ops = Ops()
    assert ops.failed_frac == 0.0
    for ok in (True, True, False, True):
        ops.record(ok, "chunk")
    assert (ops.attempted, ops.failed) == (4, 1)
    assert ops.failed_frac == 0.25
    assert ops.errors == ["chunk"]


def test_tracer_self_times_add_up_to_the_outer_span(monkeypatch):
    clock = iter(float(t) for t in range(100))
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            with tr.span("leaf"):
                pass
    assert sum(tr.self_time.values()) == pytest.approx(tr.total["outer"])
    assert tr.total["inner"] == pytest.approx(tr.self_time["inner"] + tr.total["leaf"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.wrap("x", lambda a: a + 1)(1) == 2
    assert not tr.total and not tr.self_time


def test_result_digest_ignores_row_and_column_order_not_values():
    cols = ["b", "a"]
    rows = [(1.0000001, "x"), (2.5, None), (3.0, [1, 2])]
    same = result_digest(["a", "b"], [(r[1], r[0]) for r in reversed(rows)])
    assert result_digest(cols, rows) == same
    assert result_digest(cols, rows)[0] == 3
    assert result_digest(cols, [(1.0, "x"), (2.5, None), (3.0, [1, 3])]) != same


def test_seeded_order_is_a_seed_stable_permutation():
    names = [f"q{i}" for i in range(30)]
    a, b = seeded_order(names, 5), seeded_order(names, 5)
    assert a == b and sorted(a) == sorted(names)
    assert seeded_order(names, 6) != a


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="reads the process tree from /proc")
def test_stop_children_ends_orphaned_grandchildren():
    # in a process of its own, so no other child of the test runner is touched
    script = textwrap.dedent(
        """
        import os, subprocess, time
        from perfbench.harness import become_subreaper, live_descendants, stop_children

        assert become_subreaper()
        # the shell exits at once and leaves its sleep behind, as a JVM leaves its workers
        subprocess.Popen(["sh", "-c", "sleep 60 & exit 0"])
        subprocess.Popen(["sleep", "0.2"])
        time.sleep(0.5)
        assert live_descendants(os.getpid()), "the orphan was not reparented here"
        t0 = time.monotonic()
        stop_children(grace_s=0.5)
        assert live_descendants(os.getpid()) == []
        try:
            os.waitpid(-1, os.WNOHANG)
            raise AssertionError("a child was left unreaped")
        except ChildProcessError:
            pass
        print(round(time.monotonic() - t0, 1))
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert float(out.stdout) < 10


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="reads CPU times from /proc")
def test_stopwatch_counts_busy_cpu_of_other_processes():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    with harness.stopwatch() as t:
        subprocess.run([sys.executable, "-c", burn], check=True)
    assert t[1] >= 0.4  # the child's CPU time
    assert t[0] >= 0.4
