"""The ``driver_suite`` workload: entries of the graded driver registry
(``plans.suite.DRIVER_ORDER``, see ``entries()``) over the sf0.001
tables shipped in ``perfbench/data``, one entry at a time (closed
loop, one caller), in an order the seed permutes -- the tables are
fixed, so the order is the seeded input, and no order is favoured.

The pass times each entry's first call in the session, as a fresh
process meets it: building the DataFrame (``construct``: Python plan
code, py4j, analysis, per-table artifact builds and the eager jobs of
construction) and collecting its rows (``execute``). The rows are
digested outside the timed region and checked against DuckDB running
``oracle_sql()`` on the same tables (row count plus an
order-insensitive hash; rows only where there is no oracle).
Persistent RDDs an entry leaves behind are dropped after it, outside
the timed region, and only those.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os
import random

from perfbench.harness import Ops, Tracer, drop_new_rdds, persistent_rdd_ids, stopwatch

HEAVY5 = ("hybrid_rank_indexed", "corpus_curation", "contamination_report", "dedup_keepers", "dedup_clusters")
FAMILIES = ("dedup", "similarity", "text", "multimodal", "corpus", "analytics")
#: Entries left out of the pass, outside HEAVY5: those whose first
#: call is dominated by building a stored per-table artifact
#: (semdedup layouts 16 s, BPE vocabulary 5 s, MRL layout 5 s, winnow
#: index 8 s, IVF layout 2.5 s, shard export 1 s at sf0.001 on 4 cores;
#: their steady-state work is about 3 s in all). With them a suite run
#: would take about 105 s instead of 75 s.
BUILD_DOMINATED = (
    "semdedup_exact_first", "semdedup_near_dup", "bpe_train", "bpe_encode", "knn_ivf_mrl",
    "knn_ivf_materialized", "delta_containment_exposure", "shard_manifest",
)#: Entries also left out, so that the 4 + 22 x 2 runs of a benchmark
#: check fit in its time limit on a contended host: those whose median
#: first call took under 0.6 s over 18 passes at sf0.001 on 4 cores
#: (most of that is the shared first-call cost that lands on whichever
#: entry comes first), and simhash_near_dup_wide, the operator of
#: simhash_near_dup with a wider key. cumulative_new_users and
#: sketch_rollup (rows-only check) stay, so the analytics family is
#: still timed.
LIGHT_OR_TWIN = (
    "pack_boundaries", "media_stats", "denoising_spans", "sales_rollup", "rollup_exact_users",
    "stratified_holdout", "length_buckets", "canary_registry", "simhash_near_dup_wide",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def entries() -> list[str]:
    """DRIVER_ORDER without BUILD_DOMINATED, LIGHT_OR_TWIN and the
    entries of the analytics and dimension registries: their plans
    (``plans.analytics``, ``plans.dimensions``) are the ones the ingest
    workload's refresh times."""
    from solana_data_etl_pipeline_spark.plans import suite as S

    left_out = set(BUILD_DOMINATED) | set(LIGHT_OR_TWIN) | set(S.ANALYTICS_QUERIES) | set(S.DIMENSION_QUERIES)
    return [n for n in S.DRIVER_ORDER if n not in left_out]


def seeded_order(names: list[str], seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def family(name: str) -> str:
    """Operator family of a registry entry, read off the registry group
    that holds it; corpus entries are the text entries built by
    ``plans.corpus``."""
    from solana_data_etl_pipeline_spark.plans import suite as S

    if name in S.DEDUP_QUERIES:
        return "dedup"
    if name in S.SIMILARITY_QUERIES:
        return "similarity"
    if name in S.MULTIMODAL_QUERIES:
        return "multimodal"
    if name in S.TEXT_QUERIES:
        fn = S.TEXT_QUERIES[name]
        return "corpus" if getattr(fn, "__module__", "").endswith(".plans.corpus") else "text"
    return "analytics"


# -- order-insensitive output comparison --------------------------------


def norm_value(v):
    """Engine-neutral form of one output value: floats to 6 decimal
    places, temporals to ISO strings, containers to tuples."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if f != f else round(f, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm_value(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def result_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash of the row multiset) -- independent of row
    order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted((tuple(norm_value(r[i]) for i in order) for r in rows), key=lambda t: tuple(map(str, t)))
    h = hashlib.sha256(repr((sorted(columns), normed)).encode()).hexdigest()
    return len(rows), h


def oracle_digests(sf_dir: str, sqls: dict[str, str], names: list[str]) -> dict[str, list | str]:
    """Digest of each entry's ``oracle_sql()`` result on DuckDB (an
    error message where the oracle fails)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out: dict[str, list | str] = {}
        for name in names:
            if name not in sqls:
                continue
            try:
                rel = con.sql(sqls[name])
                out[name] = list(result_digest(list(rel.columns), rel.fetchall()))
            except duckdb.Error as exc:
                out[name] = f"oracle error: {exc}"
        return out
    finally:
        con.close()


def cached_oracle_digests(cache_dir: str, sf_dir: str, sqls: dict[str, str], names: list[str]) -> dict[str, list | str]:
    """``oracle_digests`` computed once per checkout: the file is keyed
    on the oracle SQL text and the bytes of the input tables, so an
    edited oracle or table is run again."""
    key = hashlib.sha256(json.dumps({n: sqls.get(n) for n in sorted(names)}).encode())
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            key.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = oracle_digests(sf_dir, sqls, names)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


class SuiteWorkload:
    def __init__(self, spark, seed: int, data_dir: str, cache_dir: str) -> None:
        import __spark_entry__ as E

        self.spark = spark
        self.sf_dir = data_dir
        self.cache_dir = cache_dir
        self.queries = E.queries()
        self.oracle_sql = E.oracle_sql()
        self.order = seeded_order(entries(), seed)
        self.families = {n: family(n) for n in self.order}

    def describe(self) -> dict:
        return {"sf_dir": os.path.basename(self.sf_dir), "order": self.order, "entries": len(self.order)}

    def iteration(self, it: int, tracer: Tracer, groups, ops: Ops) -> dict:
        """One pass: each entry built and collected, timed; its rows
        digested outside the timed region. DuckDB runs the oracles
        after the pass, when Spark is idle."""
        sc = self.spark.sparkContext
        per: dict[str, tuple[float, float]] = {}
        digests: dict[str, tuple[int, str]] = {}
        errors: dict[str, str] = {}
        cpu_s = 0.0
        for name in self.order:
            before = persistent_rdd_ids(sc)
            tc = te = [0.0, 0.0]
            try:
                with stopwatch() as tc, groups.group(f"{name}:construct"), tracer.span("suite.construct"):
                    df = self.queries[name](self.spark, self.sf_dir)
                with stopwatch() as te, groups.group(f"{name}:execute"), tracer.span("suite.execute"):
                    rows = df.collect()
                digests[name] = result_digest(list(df.columns), [tuple(r) for r in rows])
            except Exception as exc:  # the entry failed; the pass goes on
                errors[name] = f"spark error: {exc!r}"[:500]
            finally:
                drop_new_rdds(sc, before)
            per[name] = (tc[0], te[0])
            cpu_s += tc[1] + te[1]

        with stopwatch() as t_oracle:
            oracle = cached_oracle_digests(self.cache_dir, self.sf_dir, self.oracle_sql, self.order)
        for name in self.order:
            got, want = digests.get(name), oracle.get(name)
            if name in errors:
                problem = errors[name]
            elif isinstance(want, str):
                problem = want
            elif want is None:
                # no oracle (sketch_rollup): rows-only check
                problem = "" if name not in self.oracle_sql and got[0] > 0 else f"{got[0]} rows, no oracle result"
            else:
                problem = "" if list(got) == want else f"rows/hash {got} != oracle {want}"
            ops.record(not problem, f"{name}: {problem}")

        suite_s = sum(c + e for c, e in per.values())
        out = {"pass_s": suite_s, "cpu_s": cpu_s, "suite_s": suite_s, "heavy5_s": sum(sum(per[n]) for n in HEAVY5 if n in per),
               "oracle_s": t_oracle[0], "entries": {n: [round(c, 3), round(e, 3)] for n, (c, e) in per.items()}}
        if tracer.enabled:
            def block(prefix: str, names: list[str]) -> dict:
                return {
                    f"{prefix}.construct_s": sum(per[n][0] for n in names),
                    f"{prefix}.execute_s": sum(per[n][1] for n in names),
                    f"{prefix}.construct_jobs": sum(groups.jobs(f"{n}:construct") for n in names),
                    f"{prefix}.execute_jobs": sum(groups.jobs(f"{n}:execute") for n in names),
                }

            out.update(block("suite", self.order))
            for fam in FAMILIES:
                out.update(block(f"suite.{fam}", [n for n in self.order if self.families[n] == fam]))
            for n in HEAVY5:
                out.update(block(f"suite.{n}", [n]))
        return out
