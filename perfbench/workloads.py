"""The benchmark's workloads: each runs one product path through the
program's public functions, the way its user runs it.

A workload has six steps. ``stage`` writes the seeded inputs;
``compute_expected`` derives the expected output from them; ``start`` builds
what the operations work on, if anything; ``prepare`` readies one operation
(untimed); ``run`` is the timed operation, optionally traced layer by layer;
``check`` compares the operation's output with the expected output.
"""

from __future__ import annotations

import shutil
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

import gen
import oracle
import tracing


@dataclass
class Output:
    """What one operation produced, for the checks and the size metrics."""

    rows: int  # rows in the published artifact
    store_bytes: int  # the SQLite file, or the parquet dataset


def _tree_bytes(path: Path, suffix: str) -> tuple[int, int]:
    files = [p for p in path.rglob(f"*{suffix}") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Rebuild:
    """The reference's product: parquet trio -> cleanse -> latest price per
    (premise, item) -> SQLite with the nine indexes -> VACUUM -> zip
    (plans.pipeline.build_tables then build_artifact)."""

    def __init__(self, n_premises: int, n_items: int, n_pairs: int, obs_per_pair: int):
        self.shape = dict(n_premises=n_premises, n_items=n_items, n_pairs=n_pairs,
                          obs_per_pair=obs_per_pair)

    def stage(self, d: Path, seed: int) -> None:
        self.paths = gen.write_trio(d / "src", seed, **self.shape)
        self.input_rows = pq.read_metadata(self.paths["prices"]).num_rows
        self.out_root = d / "out"

    def compute_expected(self) -> None:
        self.expected = oracle.rebuild_oracle(self.paths)

    def start(self, spark) -> None:
        pass

    def prepare(self, op: int) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)

    def run(self, spark, op: int, tracer: tracing.Tracer | None) -> None:
        from opendosm_parquet_to_sqlite_spark.plans import pipeline

        p = self.paths
        if tracer is None:
            tables = pipeline.build_tables(spark, p["prices"], p["premises"], p["items"])
            self.db, self.zip, _ = pipeline.build_artifact(tables, self.out_root, gen.MONTH)
            return
        # The calls of pipeline.build_artifact, one span each (its closing
        # row count is left out), on a plan built fresh for this operation:
        # a second action on an executed plan would reuse its shuffle output.
        from opendosm_parquet_to_sqlite_spark.operators import dedup
        from opendosm_parquet_to_sqlite_spark.sinks.sqlite import REFERENCE_INDEXES, write_sqlite
        from opendosm_parquet_to_sqlite_spark.sinks.zipsink import zip_artifact

        with tracer.layer(op, "plans.pipeline.build_tables"):
            tables = pipeline.build_tables(spark, p["prices"], p["premises"], p["items"])
        with tracer.layer(op, "operators.dedup.assert_unique_key"):
            dedup.assert_unique_key(tables["premises"], ["premise_code"])
            dedup.assert_unique_key(tables["items"], ["item_code"])
        with tracer.layer(op, "sinks.sqlite.write_sqlite"):
            self.db = write_sqlite(tables, self.out_root / f"pricecatcher_{gen.MONTH}.db",
                                   indexes=REFERENCE_INDEXES)
        with tracer.layer(op, "sinks.zipsink.zip_artifact"):
            self.zip = zip_artifact(self.db, self.out_root / "pricecatcher.zip",
                                    arcname="pricecatcher.db")

    def check(self) -> tuple[list[str], Output]:
        problems = oracle.check_rebuild(self.db, self.zip, self.expected)
        rows = sum(e.rows for e in self.expected.values())
        return problems, Output(rows, self.db.stat().st_size)

    def layer_metrics(self, op: int, tracer, log: tracing.EventLog, jobs: dict, out: Output) -> dict:
        write_jobs = jobs.get((op, "sinks.sqlite.write_sqlite"), [])
        assert_jobs = jobs.get((op, "operators.dedup.assert_unique_key"), [])
        prices_file = self.paths["prices"].name
        prices_jobs = [j for j in write_jobs if prices_file in log.plans.get(j.execution_id, "")]
        dims_jobs = [j for j in write_jobs if j not in prices_jobs]
        write_s = tracer.seconds(op, "sinks.sqlite.write_sqlite")
        job_s = tracing.busy_seconds(write_jobs)
        zip_s = tracer.seconds(op, "sinks.zipsink.zip_artifact")
        zip_bytes = self.zip.stat().st_size
        return {
            "plans.pipeline.build_tables_s": tracer.seconds(op, "plans.pipeline.build_tables"),
            "plans.pipeline.prices_exec_s": tracing.busy_seconds(prices_jobs),
            "plans.pipeline.dims_exec_s": tracing.busy_seconds(dims_jobs),
            "operators.dedup.assert_unique_key_s": tracer.seconds(op, "operators.dedup.assert_unique_key"),
            "operators.dedup.assert_unique_key_jobs": len(assert_jobs),
            "sinks.sqlite.write_s": write_s,
            "sinks.sqlite.spark_job_s": job_s,
            "sinks.sqlite.driver_s": write_s - job_s,
            "sinks.sqlite.rows": out.rows,
            "sinks.sqlite.result_bytes": log.work(write_jobs).result_bytes,
            "sinks.sqlite.db_bytes": out.store_bytes,
            "sinks.sqlite.bytes_per_row": out.store_bytes / out.rows,
            "sinks.zipsink.zip_s": zip_s,
            "sinks.zipsink.zip_bytes": zip_bytes,
            "sinks.zipsink.ratio": out.store_bytes / zip_bytes,
            "sinks.zipsink.mb_per_s": out.store_bytes / 1e6 / zip_s,
        }


class TopUp:
    """The daily cron done incrementally: each operation lands one day's
    price file and drains it into the artifact with
    streaming.pipeline.stream_prices_to_sqlite."""

    def __init__(self, n_premises: int, n_items: int, n_pairs: int, rows_per_day: int):
        self.n_premises, self.n_items = n_premises, n_items
        self.n_pairs, self.rows_per_day = n_pairs, rows_per_day
        self.input_rows = rows_per_day

    def stage(self, d: Path, seed: int) -> None:
        self.seed, self.root = seed, d
        self.watched = d / "prices"
        month = gen.write_trio(d / "month", seed, self.n_premises, self.n_items, self.n_pairs, 1)
        self.watched.mkdir(parents=True)
        shutil.move(month["prices"], self.watched / month["prices"].name)
        self.day = 0
        self.listener = None

    def compute_expected(self) -> None:
        """Nothing to compute ahead: each check runs the batch oracle over
        the files drained so far."""

    def start(self, spark) -> None:
        """Builds the artifact from the month."""
        from opendosm_parquet_to_sqlite_spark.streaming.pipeline import stream_prices_to_sqlite

        self.schema = spark.read.parquet(str(self.watched)).schema
        self.db = self.root / "pricecatcher.db"
        stream_prices_to_sqlite(spark, self.watched, self.db, self.root / "checkpoint", self.schema)

    def prepare(self, op: int) -> None:
        # Written beside the watched directory, then renamed into it: the
        # file source must never see a partly written file.
        staged = gen.write_day_file(self.root / "staging", self.seed, self.day, self.n_premises,
                                    self.n_items, self.n_pairs, self.rows_per_day)
        staged.rename(self.watched / staged.name)
        self.day += 1

    def run(self, spark, op: int, tracer: tracing.Tracer | None) -> None:
        from opendosm_parquet_to_sqlite_spark.streaming.pipeline import stream_prices_to_sqlite

        if tracer is not None and self.listener is None:
            self.listener = tracing.progress_listener()
            spark.streams.addListener(self.listener)
            self.drained: list[int] = []  # the ops the listener has seen, in order
        span = (nullcontext() if tracer is None
                else tracer.layer(op, "streaming.pipeline.stream_prices_to_sqlite"))
        with span:
            stream_prices_to_sqlite(spark, self.watched, self.db, self.root / "checkpoint", self.schema)
        if self.listener is not None:
            self.drained.append(op)

    def check(self) -> tuple[list[str], Output]:
        want = oracle.latest_prices_oracle(sorted(self.watched.glob("*.parquet")))
        got = oracle.sqlite_table(self.db, "prices")
        problems = [] if got == want else [
            f"prices: {got.rows} rows, batch oracle {want.rows}; digests differ"]
        return problems, Output(got.rows, self.db.stat().st_size)

    def layer_metrics(self, op: int, tracer, log, jobs, out: Output) -> dict:
        # Each drain is one run of the query: its progress records share a
        # runId, and runs are reported in the order they ran.
        self.listener.wait_terminated(len(self.drained))
        runs: dict[str, list[dict]] = {}
        for p in self.listener.progress:
            runs.setdefault(p["runId"], []).append(p)
        progress = list(runs.values())[self.drained.index(op)]

        def total(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in progress)

        state = progress[-1]["stateOperators"][0] if progress else {}
        return {
            "streaming.topup_s": tracer.seconds(op, "streaming.pipeline.stream_prices_to_sqlite"),
            "streaming.batches": len(progress),
            "streaming.input_rows": sum(p["numInputRows"] for p in progress),
            "streaming.add_batch_ms": total("addBatch"),
            "streaming.query_planning_ms": total("queryPlanning"),
            "streaming.wal_commit_ms": total("walCommit"),
            "streaming.latest_offset_ms": total("latestOffset"),
            "streaming.state_rows_total": state.get("numRowsTotal", 0),
            "streaming.state_rows_updated": state.get("numRowsUpdated", 0),
            "streaming.state_mem_bytes": state.get("memoryUsedBytes", 0),
        }


# Parameters of the registered prepare_training_data query
# (plans.queries.q_prepare_training_data), so its DuckDB oracle applies.
CORPUS_PARAMS = dict(
    rates={"src0": 0.5, "src1": 0.25}, default_rate=0.1, min_quality=0.5, ngram_n=3,
    jaccard_threshold=0.3, max_doc_freq=50, contamination_n=5, budget=64, block_size=128,
)


class PrepareCorpus:
    """The --prepare-corpus path: documents -> prepare_training_data ->
    write_dataset, as __main__._prepare_corpus composes it."""

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.input_rows = n_docs

    def stage(self, d: Path, seed: int) -> None:
        self.docs = gen.write_corpus(d / "documents.parquet", seed, self.n_docs)
        self.out = d / "dataset"

    def compute_expected(self) -> None:
        from opendosm_parquet_to_sqlite_spark.plans.queries import SHADOW_ORACLES

        self.expected = oracle.corpus_oracle(self.docs, SHADOW_ORACLES["prepare_training_data"])

    def start(self, spark) -> None:
        pass

    def prepare(self, op: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark, op: int, tracer: tracing.Tracer | None) -> None:
        from pyspark.sql import functions as F

        from opendosm_parquet_to_sqlite_spark.caching import release_cached
        from opendosm_parquet_to_sqlite_spark.operators.corpus import prepare_training_data
        from opendosm_parquet_to_sqlite_spark.sinks.dataset import write_dataset

        def span(name):
            return nullcontext() if tracer is None else tracer.layer(op, name)

        with span("operators.corpus.prepare_training_data"):
            docs = spark.read.parquet(str(self.docs))
            bench = docs.filter(F.col("doc_id") % 97 == 0)
            cand = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "source", "text")
            out = prepare_training_data(cand, bench, "text", "doc_id", "source", **CORPUS_PARAMS)
        with span("sinks.dataset.write_dataset"):
            write_dataset(out, str(self.out), partition_by=["split"],
                          sort_within_by=["source", "block", "seq_in_block"])
        with span("caching.release_cached"):
            release_cached()

    def check(self) -> tuple[list[str], Output]:
        got = oracle.dataset_rows(self.out)
        problems = [] if got == self.expected else [
            f"dataset: {got.rows} rows, oracle {self.expected.rows}; digests differ"]
        _, size = _tree_bytes(self.out, ".parquet")
        return problems, Output(got.rows, size)

    def layer_metrics(self, op: int, tracer, log, jobs, out: Output) -> dict:
        files, size = _tree_bytes(self.out, ".parquet")
        return {
            "operators.corpus.prepare_s": tracer.seconds(op, "operators.corpus.prepare_training_data"),
            "operators.corpus.output_rows": out.rows,
            "sinks.dataset.write_s": tracer.seconds(op, "sinks.dataset.write_dataset"),
            "sinks.dataset.files": files,
            "sinks.dataset.bytes": size,
        }
