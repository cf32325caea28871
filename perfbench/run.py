"""Benchmark of the PriceCatcher product paths, end to end and per layer.

    python3 perfbench/run.py --workload rebuild_wide --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. One process is one run
with one client in a closed loop: it starts the engine's session
(session.get_spark, SPARK_GRAFT_CPUS defaulting to the usable cores), writes
the workload's inputs from the seed, warms up, then repeats the workload's
operation for about ``--seconds`` and checks every operation's output
against an oracle. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's end_to_end metrics.
With ``--trace 1`` the session runs with the event log on and the run
alternates untraced and traced operations, twice as many; the metrics are
BENCHMARK.json's per_layer metrics, 0 where a layer does not run in the
workload. Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, suppress
from pathlib import Path
from typing import Callable, NamedTuple

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "opendosm_parquet_to_sqlite_spark"
STAGINGS = 3  # set-ups per run; setup_s takes their median
MIN_OPS = 2


class Plan(NamedTuple):
    make: Callable[[], object]
    # Seconds one operation and its check take on a 4-core box. A run makes
    # round(--seconds / op_seconds) operations (at least MIN_OPS): a fixed
    # count, so every run's median covers the same stretch of the JVM's
    # warming curve, where a time window would reach further on fast runs.
    op_seconds: float


def plans() -> dict[str, Plan]:
    from workloads import PrepareCorpus, Rebuild, TopUp

    return {
        # 25k pairs seen once each: output as large as the input, so the
        # SQLite write and the Deflate-9 zip carry the largest share.
        "rebuild_wide": Plan(lambda: Rebuild(n_premises=2000, n_items=600, n_pairs=25_000,
                                             obs_per_pair=1), 2.7),
        # a 50k-pair month, then one 10k-row day file per operation
        "topup_stream": Plan(lambda: TopUp(n_premises=2000, n_items=600, n_pairs=50_000,
                                           rows_per_day=10_000), 1.6),
        # the --prepare-corpus composition on 500 documents
        "prepare_corpus": Plan(lambda: PrepareCorpus(n_docs=500), 8.5),
    }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(work: Path, event_log: Path | None = None):
    """session.get_spark with the engine's defaults; the only settings
    added keep files inside the checkout and, when tracing, turn on the
    event log."""
    from opendosm_parquet_to_sqlite_spark.session import get_spark

    conf = {
        # no hsperfdata file under /tmp; temporary files under the work dir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    return spark, time.perf_counter() - t


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Stop the session's JVM (and with it the Python workers) and wait."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def measure(wl, spark, n_ops: int, first_op: int, tracer=None) -> list[dict]:
    """``n_ops`` operations back to back, each checked; returns one record
    per operation."""
    records = []
    for op in range(first_op, first_op + n_ops):
        wl.prepare(op)
        rec = {"op": op, "problems": [], "out": None}
        t = time.perf_counter()
        try:
            wl.run(spark, op, tracer)
            rec["wall"] = time.perf_counter() - t
            rec["problems"], rec["out"] = wl.check()
        except Exception:  # a failed operation is counted and the run goes on
            rec.setdefault("wall", time.perf_counter() - t)
            rec["problems"] = [traceback.format_exc()]
        for p in rec["problems"]:
            log(f"op {op} FAILED: {p}")
        records.append(rec)
    return records


def median_wall(records: list[dict]) -> float:
    ok = [r["wall"] for r in records if not r["problems"]] or [r["wall"] for r in records]
    return statistics.median(ok)


def tail_note(walls: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return f"no percentile has 10 samples beyond it in {n} operations"
    k = n - 10
    return f"p{100 * k / n:.1f} = {sorted(walls)[k - 1]:.4f} s over {n} operations"


def set_up(wl, spark, work: Path, seed: int) -> float:
    """Stages the inputs STAGINGS times (keeping the last), then computes
    the expected output while one operation warms the session up (JIT and
    class loading); returns the median staging time + the time of the rest."""
    stagings = []
    for k in range(STAGINGS):
        d = work / f"stage{k}"
        if k:
            shutil.rmtree(work / f"stage{k - 1}")
        t = time.perf_counter()
        wl.stage(d, seed)
        stagings.append(time.perf_counter() - t)
    t = time.perf_counter()
    with ThreadPoolExecutor(max_workers=1) as pool:
        expected = pool.submit(wl.compute_expected)
        wl.start(spark)
        wl.prepare(-1)
        wl.run(spark, -1, None)
        expected.result()
    rest = time.perf_counter() - t
    log(f"staging {', '.join(f'{s:.2f}' for s in stagings)} s; oracle and warm-up {rest:.2f} s")
    return statistics.median(stagings) + rest


def end_to_end(wl, records: list[dict], setup_s: float, driver_rss_mb: float) -> dict:
    wall = median_wall(records)
    return {
        "wall_s": wall,
        "rows_per_s": wl.input_rows / wall,
        "setup_s": setup_s,
        "driver_peak_rss_mb": driver_rss_mb,
    }


def per_layer(wl, traced: list[dict], untraced: list[dict], tracer, log_dir: Path,
              session_s: float, jvm_rss_mb: float, cores: int) -> dict:
    import tracing

    ev = tracing.EventLog.parse(tracing.event_log_file(log_dir))
    jobs = ev.attribute(tracer.spans)
    per_op = []
    for r in traced:
        if r["problems"]:
            continue
        op = r["op"]
        op_jobs = [j for (o, _), js in jobs.items() if o == op for j in js]
        m = tracing.spark_metrics(ev, op_jobs, r["wall"], cores)
        m.update(wl.layer_metrics(op, tracer, ev, jobs, r["out"]))
        m["trace.layer_share"] = sum(s.seconds for s in tracer.spans if s.op == op) / r["wall"]
        per_op.append(m)
    metrics = {k: statistics.median(m[k] for m in per_op) for k in (per_op[0] if per_op else {})}
    metrics["session.get_spark_s"] = session_s
    metrics["spark.jvm_peak_rss_mb"] = jvm_rss_mb
    metrics["trace.overhead_ratio"] = median_wall(traced) / median_wall(untraced)
    return metrics


def run(args, work: Path, spec: dict) -> dict:
    import tracing

    plan = plans()[args.workload]
    wl = plan.make()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    log_dir = work / "eventlog" if args.trace else None
    t_setup = time.perf_counter()
    spark, session_s = start_session(work, event_log=log_dir)
    pids = {"driver": os.getpid(), "jvm": jvm_pid()}
    setup_s = session_s + set_up(wl, spark, work, args.seed)
    log(f"set-up {time.perf_counter() - t_setup:.2f} s (setup_s {setup_s:.3f})")
    for pid in pids.values():
        tracing.reset_peak_rss(pid)
    n_ops = max(MIN_OPS, round(args.seconds / plan.op_seconds))
    if args.trace:
        # Pairs of one untraced and one traced operation, in alternating
        # order, so neither side sits later on the JVM's warming curve.
        tracer = tracing.Tracer(spark)
        untraced, traced = [], []
        op = 0
        for i in range(n_ops):
            pair = [(untraced, None), (traced, tracer)]
            for side, side_tracer in pair if i % 2 == 0 else pair[::-1]:
                side += measure(wl, spark, 1, first_op=op, tracer=side_tracer)
                op += 1
        records = untraced + traced
    else:
        records = measure(wl, spark, n_ops, first_op=0)
    peak_mb = {name: tracing.peak_rss_mb(pid) for name, pid in pids.items()}
    walls = [r["wall"] for r in records]
    log(f"{len(walls)} operations, wall s: {' '.join(f'{w:.3f}' for w in walls)}; "
        f"tail: {tail_note(walls)}")

    if args.trace:
        spark.stop()
        metrics = per_layer(wl, traced, untraced, tracer, log_dir, session_s, peak_mb["jvm"],
                            cores)
        wanted = spec["per_layer"]
    else:
        metrics = end_to_end(wl, records, setup_s, peak_mb["driver"])
        wanted = spec["end_to_end"]

    for m in wanted:
        log(f"{m['name']} = {metrics.get(m['name'], 0)} {m['unit']}")
    return {**counts(records),
            "metrics": {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
                        for m in wanted}}


def counts(records: list[dict]) -> dict:
    """Operations attempted and failed; an output that fails its check fails."""
    failed = sum(1 for r in records if r["problems"])
    return {"correct": failed == 0, "attempted": len(records), "failed": failed}


@contextmanager
def checkout_environment(tag: str):
    """Makes the checkout's package importable, points every file the run
    writes (Spark's local and temporary directories included) into a work
    directory under the checkout, and on exit stops the JVM, waits for it
    and removes the work directory. Raises SystemExit(2) outside a checkout."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"no {PACKAGE} package beside {HERE.name}/: run from a checkout of the repository")
        raise SystemExit(2)
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = ROOT / ".perfbench_work" / f"{tag}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        yield work
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    with checkout_environment(args.workload) as work:
        result = run(args, work, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
