"""The benchmark's own self-test, on tiny inputs, in one session:

- the generator writes byte-identical files for the same seed;
- one operation of every workload passes its output check;
- a corrupted artifact fails the check: a row deleted from each workload's
  output, an index dropped from the rebuilt .db;
- the run loop counts an operation whose output is corrupted as failed.

    python3 perfbench/selftest.py

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import sqlite3
import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def tiny_workloads() -> dict:
    from workloads import PrepareCorpus, Rebuild, TopUp

    return {
        "rebuild": Rebuild(n_premises=60, n_items=20, n_pairs=400, obs_per_pair=3),
        "topup_stream": TopUp(n_premises=60, n_items=20, n_pairs=400, rows_per_day=60),
        "prepare_corpus": PrepareCorpus(n_docs=300),
    }


def delete_sqlite_row(db: Path, table: str) -> None:
    con = sqlite3.connect(db)
    try:
        con.execute(f'DELETE FROM "{table}" WHERE rowid = (SELECT min(rowid) FROM "{table}")')
        con.commit()
    finally:
        con.close()


def drop_index(db: Path, index: str) -> None:
    con = sqlite3.connect(db)
    try:
        con.execute(f'DROP INDEX "{index}"')
        con.commit()
    finally:
        con.close()


def delete_dataset_row(dataset: Path) -> None:
    part = next(p for p in sorted(dataset.rglob("*.parquet")) if pq.read_metadata(p).num_rows)
    pq.write_table(pq.read_table(part).slice(1), part)


class CorruptingRebuild:
    """A rebuild whose every artifact loses one price row after it is built."""

    def __init__(self, inner):
        self.inner = inner

    def prepare(self, op: int) -> None:
        self.inner.prepare(op)

    def run(self, spark, op: int, tracer) -> None:
        self.inner.run(spark, op, tracer)
        delete_sqlite_row(self.inner.db, "prices")

    def check(self):
        return self.inner.check()


def main() -> int:
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    with run.checkout_environment("selftest") as work:
        import gen

        a = gen.write_trio(work / "gen_a", 7, 60, 20, 400, 3)
        b = gen.write_trio(work / "gen_b", 7, 60, 20, 400, 3)
        c = gen.write_trio(work / "gen_c", 8, 60, 20, 400, 3)
        same = all(a[k].read_bytes() == b[k].read_bytes() for k in a)
        expect(same and a["prices"].read_bytes() != c["prices"].read_bytes(),
               "generator: same seed, same bytes; another seed, other bytes")
        days = [gen.write_day_file(work / f"day_{x}", 7, 3, 60, 20, 400, 60) for x in "ab"]
        docs = [gen.write_corpus(work / f"docs_{x}.parquet", 7, 300) for x in "ab"]
        expect(days[0].read_bytes() == days[1].read_bytes()
               and docs[0].read_bytes() == docs[1].read_bytes(),
               "generator: day files and corpus repeat byte for byte")

        spark, _ = run.start_session(work)
        wls = tiny_workloads()
        for name, wl in wls.items():
            wl.stage(work / name, 7)
            wl.compute_expected()
            wl.start(spark)
            wl.prepare(0)
            wl.run(spark, 0, None)
            problems, _ = wl.check()
            expect(not problems, f"{name}: one operation passes its check {problems or ''}")

        rebuild = wls["rebuild"]
        delete_sqlite_row(rebuild.db, "prices")
        expect(bool(rebuild.check()[0]), "rebuild: a deleted price row fails the check")
        rebuild.prepare(1)
        rebuild.run(spark, 1, None)
        drop_index(rebuild.db, "idx_items_item_group")
        expect(bool(rebuild.check()[0]), "rebuild: a dropped index fails the check")
        delete_sqlite_row(wls["topup_stream"].db, "prices")
        expect(bool(wls["topup_stream"].check()[0]), "topup_stream: a deleted row fails the check")
        delete_dataset_row(wls["prepare_corpus"].out)
        expect(bool(wls["prepare_corpus"].check()[0]),
               "prepare_corpus: a deleted dataset row fails the check")

        records = run.measure(CorruptingRebuild(rebuild), spark, n_ops=2, first_op=2)
        result = run.counts(records)
        expect(result["failed"] == result["attempted"] > 0 and not result["correct"],
               f"run loop: corrupted artifacts are counted as failed {result}")

    print("selftest:", "FAILED " + "; ".join(failures) if failures else "all checks hold")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
