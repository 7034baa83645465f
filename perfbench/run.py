"""CDC apply benchmark: incremental MERGE and streaming microbatch.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload merge_incremental --seed 1 \
        --seconds 20 --trace 0

Drives the engine's public entry points from one process on
``local[<cores>]`` with as many shuffle partitions as cores. The load is a
closed loop with one caller: each batch is applied, then the primary table
is read in full, then the next batch follows. Inputs come from ``--seed``
only. After the timed rounds the final tables are compared with
``feed.sequential_oracle``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's public callables in
spans (tracer.py) and reports the per-layer metrics instead. A summary table
precedes it. Everything the run writes stays under ``.bench_work/`` in the
working directory and is removed at exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
PREFIX_REPS = 3  # one timing of a 0.3 s prefix can give a negative self time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["merge_incremental", "stream_microbatch"])
    p.add_argument("--seed", type=int, default=DEFAULT_SEED,
                   help="workload seed; 90001 is held out for confirming "
                        "a claim made on other seeds")
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(work: str, cores: int):
    """Local session whose scratch space stays inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])])
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        # no hsperfdata under /tmp; JVM scratch files inside the work dir
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_rounds(workload, tracer, seconds: float) -> tuple[list, float, int]:
    """Whole rounds until ``seconds`` have passed; a round starts only if
    the previous round's length still fits. At least one round."""
    records, wall, rounds = [], 0.0, 0
    while True:
        workload.restore()
        t0 = time.perf_counter()
        records += workload.run_round(tracer)
        dt = time.perf_counter() - t0
        wall += dt
        rounds += 1
        if wall + dt > seconds:
            return records, wall, rounds


def operator_prefixes(spark, workload) -> dict:
    """Time the lazy operators by writing three cumulative prefixes of
    replay's operator chain to the noop sink: decode, + assembly (with the
    multi-row unnest), + net-change. Self time is the difference between
    consecutive prefixes. Runs on the first timed batch's input, PREFIX_REPS
    times; each counter is the median over the repetitions."""
    from pyspark.sql import Observation, functions as F

    from tracer import OPERATOR_SPANS, SPAN_FIELDS, Tracer

    from openlogreplicator_spark.operators.decode import (
        apply_start_position, decode_events, unnest_multirow,
    )
    from openlogreplicator_spark.operators.lww import net_changes
    from openlogreplicator_spark.plans.replay import assemble

    cfg = workload.cfg
    first = workload.BOOT_BATCHES
    events = apply_start_position(workload.batch_df(first), cfg)
    n_events = workload.batches[first]["events"]
    proj = ["scn", "seq", "xid", "op", *cfg.key_cols, "after", "cols_set"]
    if "rows" in events.columns:
        proj.append("rows")
    dml = decode_events(events, cfg).where(F.col("op") != "DDL").select(*proj)
    assembled = unnest_multirow(assemble(dml, cfg))
    lww = net_changes(assembled, list(cfg.key_cols), list(cfg.payload_cols))
    rows, reps = {}, []
    for _ in range(PREFIX_REPS):
        tracer = Tracer(spark)
        tracer.enabled = True
        for name, df in zip(OPERATOR_SPANS, (dml, assembled, lww)):
            obs = Observation()
            with tracer.span(name):
                (df.observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.format("noop").mode("overwrite").save())
            rows[name] = obs.get["n"]
        t = tracer.totals
        for inner, outer in zip(OPERATOR_SPANS, OPERATOR_SPANS[1:]):
            t[outer]["self_s"] = t[outer]["s"] - t[inner]["s"]
        reps.append(t)
    out = {f"{s}.{f}": statistics.median(t[s][f] for t in reps)
           for s in OPERATOR_SPANS for f in SPAN_FIELDS}
    out["operators.assembly.committed_per_event"] = (
        rows["operators.assembly"] / n_events)
    out["operators.lww.keys_per_event"] = rows["operators.lww"] / n_events
    return out


def summary_table(metrics: dict, units: dict, counts: dict,
                  extra: list) -> str:
    """One line per metric; a median carries its sample count."""
    lines = [f"{'metric':<48} {'value':>14}  unit"]
    for k, v in metrics.items():
        n = f"  (n={counts[k]})" if k in counts else ""
        lines.append(f"{k:<48} {v:>14.6g}  {units[k]}{n}")
    for k, v, u in extra:
        lines.append(f"{k:<48} {v:>14.6g}  {u}")
    return "\n".join(lines)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(
            ROOT, "openlogreplicator_spark", "__init__.py")):
        print("perfbench: the engine package openlogreplicator_spark is not "
              f"in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".bench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work, cores)
        session_s = time.perf_counter() - T_START

        from tracer import SPAN_FIELDS, Tracer, per_layer_names
        from workloads import WORKLOADS

        tracer = Tracer(spark)
        if args.trace:
            tracer.install()
        workload = WORKLOADS[args.workload](spark, args.seed, work)

        t0 = time.perf_counter()
        workload.prepare()
        prepare_s = time.perf_counter() - t0
        # no timed batch writes into an empty table: a traced run takes
        # lake.merge_direct from the bootstrap, then starts afresh
        tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        workload.bootstrap()
        bootstrap_s = time.perf_counter() - t0
        direct = tracer.totals["lake.merge_direct"]
        tracer.reset()
        setup_s = time.perf_counter() - T_START
        print(f"perfbench: session {session_s:.2f} s, inputs+oracle "
              f"{prepare_s:.2f} s, bootstrap {bootstrap_s:.2f} s",
              file=sys.stderr)

        failed = 0
        try:
            records, wall, rounds = timed_rounds(workload, tracer,
                                                 args.seconds)
        except Exception as exc:  # the engine failed: report, do not time
            import traceback

            traceback.print_exc()
            records, wall, rounds = [], 0.0, 0
            failed = 1
            errors = [f"engine error: {exc!r}"]
        tracer.enabled = False
        print("perfbench: batches "
              f"{[round(r['batch_s'], 2) for r in records]} s, reads "
              f"{[round(x, 2) for r in records for x in r['read_s']]} s",
              file=sys.stderr)
        # each batch and each read is one operation
        attempted = sum(1 + len(r["read_s"]) for r in records) + failed
        reads = [x for r in records for x in r["read_s"]]

        if not failed:
            lake_mb = workload.lake_mb()
            errors = workload.check()
        if errors:
            failed = attempted
            for e in errors:
                print(f"perfbench: MISMATCH {e}", file=sys.stderr)

        error_rate = failed / max(attempted, 1)
        counts = {}
        if args.trace:
            if records:
                metrics = tracer.report(rounds, wall, cores)
                metrics.update(operator_prefixes(spark, workload))
                for f in SPAN_FIELDS:
                    metrics[f"lake.merge_direct.{f}"] = direct[f]
                metrics["error_rate"] = error_rate
                metrics = {n: metrics[n] for n in per_layer_names()}
            else:  # the engine failed before a batch was timed
                metrics = dict.fromkeys(per_layer_names(), 0.0)
                metrics["error_rate"] = error_rate
            units = {n: _layer_unit(n) for n in metrics}
        else:
            metrics = {
                "setup_s": setup_s,
                "events_per_s": (sum(r["events"] for r in records) / wall
                                 if wall else 0.0),
                "batch_p50_s": _median(r["batch_s"] for r in records),
                "read_p50_s": _median(reads),
                "lake_mb_end": lake_mb if records else 0.0,
            }
            units = {"setup_s": "s", "events_per_s": "ev/s",
                     "batch_p50_s": "s", "read_p50_s": "s",
                     "lake_mb_end": "MB"}
            counts = {"batch_p50_s": len(records), "read_p50_s": len(reads)}
        extra = [] if args.trace else [("error_rate", error_rate, "ratio")]
        extra += [("rounds", rounds, "count"),
                  ("timed_wall_s", wall, "s")]
        print(summary_table(metrics, units, counts, extra))
        print(json.dumps({
            "correct": not errors,
            "attempted": max(attempted, 1),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0 if not errors else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field in ("s", "self_s", "task_s", "unattributed_s"):
        return "s"
    if "mb" in field:
        return "MB"
    if field in ("calls", "jobs", "files_live", "eqdel_rows_live",
                 "pending_rows", "tasks_failed"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
