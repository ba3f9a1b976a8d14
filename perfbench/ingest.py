"""The ``ingest`` workload: bulk backfill, a zero-work replay, then
ingest-to-dashboard freshness cycles, all on one fresh warehouse.

One iteration (closed loop, one caller):

1. ``run_backfill`` loads BACKFILL_SLOTS fixture slots into a fresh
   ``ParquetWarehouse`` at the reference chunk size (1,000 slots);
2. ``run_backfill`` replays the last REPLAY_SLOTS slots -- useful work
   zero, so its time prices idempotency;
3. CYCLES times: the chain tip advances CYCLE_SLOTS slots (one 30 s
   ``ETL_INTERVAL_SECONDS`` of chain), ``process_incremental`` ingests
   them and ``run_analytics`` rewrites the 13 ``analytics_*``/``dim_*``
   tables at as-of = tip block time.

Nothing is warmed up first: the pass meets the pipeline as a fresh
backfill process does, first-call JIT and Python-worker start
included. The sizes are small because a whole run, Spark start
included, has about a minute.

The whole range sits inside one UTC day (fixtures put 43,200 slots in
a day), so every batch anti-joins against the one growing date
partition. The seed picks the day and the offset in it; blocks are
seeded per slot, so the seed changes every input block.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import time

from perfbench.harness import Ops, Tracer, dir_stats, median, patched, stopwatch

BACKFILL_SLOTS = 1_000
REPLAY_SLOTS = 1_000
CHUNK_SLOTS = 1_000
CYCLES = 1
CYCLE_SLOTS = 75
SLOTS_PER_DAY = 43_200
SECONDS_PER_SLOT = 2  # fixture block time step (sources/fixtures.py)


def day_start_slot(genesis: int, day: int) -> int:
    """First slot whose fixture block time falls on UTC day ``day``
    after the genesis day."""
    first = (86_400 - genesis % 86_400) // SECONDS_PER_SLOT
    return first + day * SLOTS_PER_DAY


def range_start(seed: int, genesis: int, span: int) -> int:
    """Seeded start slot of a range of ``span`` slots that fits in one
    UTC day."""
    day = 100 + seed % 997
    offset = (seed * 7_919) % (SLOTS_PER_DAY - span)
    return day_start_slot(genesis, day) + offset


def block_counts(block: dict | None) -> tuple[int, int]:
    """(canonical events, transaction events) one fixture block yields,
    counted from the block dict itself: one event per transaction, one
    per instruction, one per post token balance that names a mint."""
    if block is None:
        return 0, 0
    events = txs = 0
    for tx in block["transactions"]:
        txs += 1
        events += 1 + len(tx["transaction"]["message"]["instructions"])
        events += sum(1 for bal in tx["meta"]["postTokenBalances"] if bal.get("mint"))
    return events, txs


class ExpectedLedger:
    """Driver-side expected counts per slot, computed from the same
    ``make_block`` dicts the fixture client serves -- a different path
    from the Spark fetch/parse/insert pipeline it checks."""

    def __init__(self, make_block) -> None:
        self._make_block = make_block
        self._cache: dict[int, tuple[int, int, bool]] = {}

    def slot(self, slot: int) -> tuple[int, int, bool]:
        """(events, transactions, has_block)."""
        if slot not in self._cache:
            block = self._make_block(slot)
            self._cache[slot] = (*block_counts(block), block is not None)
        return self._cache[slot]

    def events(self, lo: int, hi: int) -> int:
        return sum(self.slot(s)[0] for s in range(lo, hi + 1))

    def transactions(self, lo: int, hi: int) -> int:
        return sum(self.slot(s)[1] for s in range(lo, hi + 1))

    def blocks(self, slots) -> int:
        return sum(1 for s in slots if self.slot(s)[2])


class CountingClient:
    """Fixture client wrapper that counts ``get_block`` calls and the
    time spent in them, through Spark accumulators (the calls run
    inside executor tasks). Used only by traced runs."""

    def __init__(self, inner, calls, busy) -> None:
        self.inner = inner
        self.calls = calls
        self.busy = busy

    @property
    def tip(self) -> int:
        return self.inner.tip

    def get_slot(self) -> int:
        return self.inner.get_slot()

    def get_block(self, slot: int, encoding: str = "jsonParsed"):
        t0 = time.perf_counter()
        block = self.inner.get_block(slot, encoding)
        self.busy.add(time.perf_counter() - t0)
        self.calls.add(1)
        return block

    def advance(self, n: int) -> None:
        self.inner.advance(n)


def _as_of(genesis: int, slot: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(genesis + slot * SECONDS_PER_SLOT, tz=dt.timezone.utc).replace(tzinfo=None)


class IngestWorkload:
    def __init__(self, spark, seed: int, workdir: str) -> None:
        from solana_data_etl_pipeline_spark.config import Config
        from solana_data_etl_pipeline_spark.sources.fixtures import GENESIS_TIME, make_block

        self.spark = spark
        self.workdir = workdir
        self.genesis = GENESIS_TIME
        span = BACKFILL_SLOTS + CYCLES * CYCLE_SLOTS
        self.lo = range_start(seed, GENESIS_TIME, span)
        self.hi = self.lo + BACKFILL_SLOTS - 1
        self.config = Config()
        self.config.etl.backfill_chunk_size = CHUNK_SLOTS
        self.ledger = ExpectedLedger(make_block)
        # expected counts are computed now, outside every timed region
        self.ledger.events(self.lo, self.hi + CYCLES * CYCLE_SLOTS)

    def describe(self) -> dict:
        return {"backfill": [self.lo, self.hi], "replay_slots": REPLAY_SLOTS, "chunk_slots": CHUNK_SLOTS,
                "cycles": CYCLES, "cycle_slots": CYCLE_SLOTS}

    # -- one measured iteration -----------------------------------------
    def iteration(self, it: int, tracer: Tracer, groups, ops: Ops) -> dict:
        from solana_data_etl_pipeline_spark.plans import analytics as A
        from solana_data_etl_pipeline_spark.plans import canonical
        from solana_data_etl_pipeline_spark.plans import dimensions as DIM
        from solana_data_etl_pipeline_spark.plans.canonical import run_analytics
        from solana_data_etl_pipeline_spark.sinks.warehouse import ParquetWarehouse
        from solana_data_etl_pipeline_spark.sources.fixtures import FixtureRpcClient
        from solana_data_etl_pipeline_spark.streaming import incremental
        from solana_data_etl_pipeline_spark.streaming.incremental import process_incremental, run_backfill

        spark, sc = self.spark, self.spark.sparkContext
        path = os.path.join(self.workdir, f"wh{it}")
        wh = ParquetWarehouse(spark, path)
        client = FixtureRpcClient(tip=self.hi)
        acc = None
        counts = {"offered": 0, "rows_new": 0, "useful_blocks": 0, "refetched": 0, "short": 0}
        requested: set[int] = set()
        pending: list[list[int]] = []  # slots of a fetched chunk not yet inserted

        if tracer.enabled:
            acc = (sc.accumulator(0), sc.accumulator(0.0))
            client = CountingClient(client, *acc)
            fetch_impl = incremental.fetch_blocks_df

            def fetch(spark_, client_, slots):
                counts["refetched"] += sum(1 for s in slots if s in requested)
                new = [s for s in slots if s not in requested]
                requested.update(slots)
                counts["useful_blocks"] += self.ledger.blocks(new)
                if pending:
                    counts["short"] += 1  # the previous chunk never reached the sink
                pending[:] = [list(slots)]
                return fetch_impl(spark_, client_, slots)

            insert_impl = wh.insert_events

            def insert(events):
                slots = pending.pop() if pending else []
                expected = sum(self.ledger.slot(s)[0] for s in slots)
                counts["offered"] += expected
                n = insert_impl(events)
                counts["rows_new"] += n
                if n < expected:
                    counts["short"] += 1
                return n

            wh.insert_events = tracer.wrap("warehouse.insert", insert)
            for meth in ("get_last_slot", "update_last_slot", "get_last_backfill_slot", "update_last_backfill_slot"):
                setattr(wh, meth, tracer.wrap("warehouse.checkpoint", getattr(wh, meth)))
            wh.read_events = tracer.wrap("warehouse.read", wh.read_events)
            plans = {k: tracer.wrap("analytics.construct", v) for k, v in A.ALL_PLANS.items()}
            patches = [
                patched(incremental, "fetch_blocks_df", tracer.wrap("sources.fetch", fetch)),
                patched(incremental, "parse_blocks", tracer.wrap("parse", incremental.parse_blocks)),
                patched(canonical, "normalize_canonical", tracer.wrap("analytics.construct", canonical.normalize_canonical)),
                patched(A, "ALL_PLANS", plans),
            ] + [patched(DIM, f, tracer.wrap("analytics.construct", getattr(DIM, f))) for f in ("dim_wallets", "dim_programs", "dim_tokens")]
        else:
            patches = []

        with contextlib.ExitStack() as stack:
            for p in patches:
                stack.enter_context(p)
            with stopwatch() as t_backfill, groups.group("incremental"), tracer.span("incremental"):
                n_backfill = run_backfill(spark, wh, lambda: client, self.lo, self.hi, self.config)
            if pending:
                counts["short"] += 1
                pending.clear()
            with stopwatch() as t_replay, groups.group("incremental"), tracer.span("incremental"):
                n_replay = run_backfill(spark, wh, lambda: client, self.hi - REPLAY_SLOTS + 1, self.hi, self.config)
            if pending:
                counts["short"] += 1
                pending.clear()
            self._check_backfill(wh, n_backfill, n_replay, ops)

            cycle_s: list[float] = []
            cycle_cpu_s = 0.0
            for c in range(CYCLES):
                client.advance(CYCLE_SLOTS)
                tip = client.tip
                as_of = _as_of(self.genesis, tip)
                try:
                    with stopwatch() as t_cycle:
                        with groups.group("incremental"), tracer.span("incremental"):
                            n_new = process_incremental(spark, wh, client, self.config)
                        with groups.group("analytics"), tracer.span("analytics"):
                            run_analytics(wh.read_events(), as_of, output_path=wh.path)
                except Exception as exc:  # a failed cycle is counted, the loop goes on
                    ops.record(False, f"cycle {c}: {exc!r}")
                    continue
                cycle_s.append(t_cycle[0])
                cycle_cpu_s += t_cycle[1]
                self._check_cycle(wh, c, tip, n_new, ops)

        files, _ = dir_stats(wh.events_path)
        dates = sum(1 for d in os.listdir(wh.events_path) if d.startswith("event_date=")) if os.path.isdir(wh.events_path) else 0
        _, total_bytes = dir_stats(path)
        shutil.rmtree(path, ignore_errors=True)

        out = {
            "pass_s": t_backfill[0] + t_replay[0] + sum(cycle_s),
            "cpu_s": t_backfill[1] + t_replay[1] + cycle_cpu_s,
            "backfill_events_per_s": n_backfill / t_backfill[0],
            "replay_s": t_replay[0],
            "freshness_p50_s": median(cycle_s) if cycle_s else 0.0,
        }
        if tracer.enabled:
            calls, busy = (a.value for a in acc)
            out.update(
                {
                    "sources.get_block_calls": calls,
                    "sources.get_block_s": busy,
                    "sources.blocks_per_call": counts["useful_blocks"] / calls if calls else 0.0,
                    "parse.events": counts["offered"],
                    "warehouse.rows_new": counts["rows_new"],
                    "warehouse.new_frac": counts["rows_new"] / counts["offered"] if counts["offered"] else 0.0,
                    "warehouse.bytes_written": total_bytes,
                    "warehouse.files_per_date": files / dates if dates else 0.0,
                    "incremental.slots_refetched": counts["refetched"],
                    "incremental.chunks_short": counts["short"],
                    "incremental.spark_jobs": groups.jobs("incremental"),
                    "analytics.spark_jobs": groups.jobs("analytics"),
                }
            )
        return out

    # -- output checks (never inside a timed region) ---------------------
    def _check_backfill(self, wh, n_backfill: int, n_replay: int, ops: Ops) -> None:
        """Each backfill chunk must hold exactly the events its fixture
        blocks yield (a chunk ``run_backfill`` logged and skipped shows
        up short); the replay must commit nothing, store nothing twice
        and leave the checkpoint at the range end."""
        from pyspark.sql import functions as F

        committed = {
            int(r["chunk"]): int(r["n"])
            for r in type(wh).read_events(wh)
            .groupBy(F.floor((F.col("slot") - self.lo) / CHUNK_SLOTS).alias("chunk"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for k, lo in enumerate(range(self.lo, self.hi + 1, CHUNK_SLOTS)):
            want = self.ledger.events(lo, min(lo + CHUNK_SLOTS - 1, self.hi))
            got = committed.get(k, 0)
            ops.record(got == want, f"backfill chunk {k}: {got} events stored, want {want}")
        last = type(wh).get_last_slot(wh)
        stored = sum(committed.values())
        ops.record(
            n_replay == 0 and stored == n_backfill and last == self.hi,
            f"replay: returned {n_replay} (want 0), {stored} events stored after it (want {n_backfill}), "
            f"last_slot {last} (want {self.hi})",
        )

    def _check_cycle(self, wh, c: int, tip: int, n_new: int, ops: Ops) -> None:
        """The cycle committed exactly the new slots' events, moved the
        checkpoint to the tip, and the dashboard's transaction total
        equals the transaction events in the warehouse."""
        want_new = self.ledger.events(tip - CYCLE_SLOTS + 1, tip)
        want_tx = self.ledger.transactions(self.lo, tip)
        rows = self.spark.read.parquet(os.path.join(wh.path, "analytics_transaction_volume")).collect()
        total = next((int(r["tx_count"]) for r in rows if r["period_type"] == "total"), None)
        ok = n_new == want_new and type(wh).get_last_slot(wh) == tip and total == want_tx
        ops.record(ok, f"cycle {c}: new {n_new} (want {want_new}), tx total {total} (want {want_tx})")
