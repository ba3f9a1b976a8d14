"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,driver_suite} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Set-up starts one Spark session with
the engine's own factory (``session.get_spark`` then
``__spark_entry__._configure``, as bench.py does) on
``local[<cores this process may use>]`` and prepares the workload's
inputs. Then the workload's pass runs -- as a fresh process meets it:
first calls, per-table artifact builds and JIT included -- and repeats
until ``--seconds`` have passed (at least once); every output it timed
is checked.

Output on stdout: one JSON line recording the run (workload, seed,
cores, commit, effective session confs), then, as the last line, the
result ``{"correct", "attempted", "failed", "metrics"}``.

- ``--trace 0``: the end-to-end metrics ``setup_s`` (the CPU seconds
  from start to ready to measure) and ``pass_cpu_s`` (median over the
  run's passes of the CPU seconds one pass costs). CPU seconds are
  the time the machine's CPUs were busy (``harness.busy_cpu_s``), with
  the run the only load on the machine. Both are CPU time, not wall
  clock, because on a shared host the hypervisor takes the CPUs away
  for minutes at a time: on 4 vCPUs, as the time stolen per suite run
  went from 2 s to 65 s, its pass read 51 to 87 s of wall clock but
  141 to 185 CPU seconds. The wall-clock set-up and pass times go to
  stderr.
- ``--trace 1``: one traced pass -- spans around calls into each
  layer, a Spark job group per phase, stage/task totals from the
  status store -- reported as the per-layer metrics, wall clock.
  ``trace.pass_s`` and ``trace.pass_cpu_s`` are that pass's wall and
  CPU time (compare the latter with the untraced ``pass_cpu_s`` for
  the whole tracing cost); ``trace.overhead_s`` is the time the
  instrumentation itself spent inside it. Metrics of layers a
  workload does not use read 0.

Everything a run writes (Spark local dirs, temp files, warehouses,
artifact caches) lives under ``.perfbench_work/<pid>`` in the checkout
and is removed before exit; only the DuckDB oracle digests are kept,
in ``.perfbench_cache/``, for the next run in the same checkout. The
Spark JVM and every process below it have ended before the run exits,
also when it fails or receives SIGTERM. Exit
status 2, without a result line, when the checkout does not hold the
package.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.001")
WORKLOADS = ("ingest", "driver_suite")

INGEST_LAYERS = ("incremental", "sources.fetch", "parse", "warehouse.insert", "warehouse.checkpoint",
                 "warehouse.read", "analytics", "analytics.construct")
SUITE_LAYERS = ("suite.construct", "suite.execute")


def per_layer_names() -> list[str]:
    from perfbench.suite import FAMILIES, HEAVY5

    names = [
        "session.start_s",
        "sources.fetch_s", "sources.get_block_s", "sources.get_block_calls", "sources.blocks_per_call",
        "parse.s", "parse.events",
        "warehouse.insert_s", "warehouse.read_s", "warehouse.checkpoint_s", "warehouse.rows_new",
        "warehouse.new_frac", "warehouse.bytes_written", "warehouse.files_per_date",
        "incremental.pass_s", "incremental.spark_jobs", "incremental.slots_refetched", "incremental.chunks_short",
        "analytics.refresh_s", "analytics.construct_s", "analytics.write_s", "analytics.spark_jobs",
    ]
    for prefix in ("suite", *(f"suite.{f}" for f in FAMILIES), *(f"suite.{n}" for n in HEAVY5)):
        names += [f"{prefix}.construct_s", f"{prefix}.execute_s", f"{prefix}.construct_jobs", f"{prefix}.execute_jobs"]
    names += ["spark.stages", "spark.tasks", "spark.executor_run_s", "spark.shuffle_write_bytes", "spark.spill_bytes"]
    names += ["backfill_events_per_s", "replay_s", "freshness_p50_s", "suite_s", "heavy5_s", "failed_frac"]
    names += ["trace.pass_s", "trace.pass_cpu_s", "trace.overhead_s", "trace.unattributed_frac"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name == "parse.s":
        return "s"
    if name.endswith(("_bytes", ".bytes_written")):
        return "bytes"
    if name.endswith(("_frac", "_per_call", "_per_date")):
        return "ratio"
    return "count"


def _prepare_environment(workdir: str) -> int:
    """Point every scratch location into ``workdir`` and size the
    session to the cores this process may use. Returns that count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return cores


def _session_confs(spark) -> dict[str, str]:
    """Effective confs worth comparing across runs: every SQL conf the
    session set plus the static ones that shape execution."""
    confs = {k: v for k, v in spark.sparkContext.getConf().getAll()
             if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master", "spark.default.parallelism",
                              "spark.ui.enabled", "spark.executor."))}
    for row in spark.sql("SET").collect():
        if row[0].startswith("spark.sql."):
            confs[row[0]] = row[1]
    confs.pop("spark.sql.warehouse.dir", None)
    return dict(sorted(confs.items()))


def _layer_metrics(workload: str, tracer, result: dict) -> dict[str, float]:
    st, tot = tracer.self_time, tracer.total
    if workload == "ingest":
        out = {
            "sources.fetch_s": st["sources.fetch"],
            "parse.s": st["parse"],
            "warehouse.insert_s": st["warehouse.insert"],
            "warehouse.read_s": st["warehouse.read"],
            "warehouse.checkpoint_s": st["warehouse.checkpoint"],
            "incremental.pass_s": st["incremental"],
            "analytics.refresh_s": tot["analytics"],
            "analytics.construct_s": st["analytics.construct"],
            "analytics.write_s": st["analytics"],
        }
        layers = INGEST_LAYERS
    else:
        layers = SUITE_LAYERS
        out = {}
    layer_sum = sum(st[name] for name in layers)
    out["trace.unattributed_frac"] = 1.0 - layer_sum / result["pass_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    # the checkout root, not this directory, is the import root
    sys.path[0] = ROOT
    from perfbench.harness import (JobGroups, Ops, Tracer, become_subreaper, busy_cpu_s, head_commit, median,
                                   stage_metrics, stop_children, stop_spark_jvm, stopwatch)

    cpu_start = busy_cpu_s()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "solana_data_etl_pipeline_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(DATA_DIR)):
        print("perfbench: this checkout does not hold the package, its driver entry and the benchmark tables",
              file=sys.stderr)
        return 2
    try:
        import duckdb  # noqa: F401  (the oracle engine)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    # every process the run starts ends before it exits, on every way out
    become_subreaper()
    terminated: list[int] = []

    def on_sigterm(signum, _frame):
        # SystemExit raised inside a py4j call can surface as another
        # error that a workload counts and goes past; the flag keeps a
        # terminated run from printing a result
        terminated.append(signum)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_sigterm)
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir, exist_ok=True)
    spark = None
    try:
        cores = _prepare_environment(workdir)
        with stopwatch() as t_session:
            import __spark_entry__ as E
            from solana_data_etl_pipeline_spark.session import get_spark

            spark = E._configure(get_spark("perfbench"))
        spark.sparkContext.setLogLevel("ERROR")

        if args.workload == "ingest":
            from perfbench.ingest import IngestWorkload

            wl = IngestWorkload(spark, args.seed, workdir)
        else:
            from perfbench.suite import SuiteWorkload

            wl = SuiteWorkload(spark, args.seed, DATA_DIR, os.path.join(ROOT, ".perfbench_cache"))
        print(json.dumps({"run": {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                                  "trace": args.trace, "nproc": cores, "commit": head_commit(ROOT),
                                  "python": sys.version.split()[0], "pyspark": pyspark.__version__,
                                  "inputs": wl.describe(), "session_confs": _session_confs(spark)}}), flush=True)
        setup_s = busy_cpu_s() - cpu_start
        print(f"perfbench: session {t_session[0]:.2f} s, set-up {time.perf_counter() - t_start:.2f} s "
              f"({setup_s:.2f} CPU s)", file=sys.stderr)

        ops = Ops()
        sc = spark.sparkContext
        tracer = Tracer(bool(args.trace))
        prefix = f"perfbench-{os.getpid()}"
        groups = JobGroups(sc, bool(args.trace), prefix)
        passes: list[dict] = []
        t_measure = time.perf_counter()
        while True:
            passes.append(wl.iteration(len(passes), tracer, groups, ops))
            print(f"perfbench: pass {json.dumps(passes[-1])}", file=sys.stderr)
            if args.trace or time.perf_counter() - t_measure >= args.seconds:
                break

        if not args.trace:
            metrics = {"setup_s": setup_s, "pass_cpu_s": median([p["cpu_s"] for p in passes])}
        else:
            traced = passes[0]
            metrics = dict.fromkeys(per_layer_names(), 0)
            metrics.update({k: v for k, v in traced.items() if k in metrics})
            metrics.update(_layer_metrics(args.workload, tracer, traced))
            metrics.update(stage_metrics(sc, prefix))
            metrics["session.start_s"] = t_session[0]
            metrics["failed_frac"] = ops.failed_frac
            metrics["trace.pass_s"] = traced["pass_s"]
            metrics["trace.pass_cpu_s"] = traced["cpu_s"]
            metrics["trace.overhead_s"] = groups.overhead_s + tracer.overhead_s
        for err in ops.errors:
            print(f"perfbench: failed: {err}", file=sys.stderr)
        result = {
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
        if terminated:
            return 128 + terminated[0]
        print(json.dumps(result), flush=True)
        return 0
    except Exception:
        traceback.print_exc()
        return 128 + terminated[0] if terminated else 1
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        stop_spark_jvm(spark)
        stop_children()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    sys.exit(main())
