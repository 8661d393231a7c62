"""Check the benchmark's generated sf0.1 tables against a copy of the
engine's committed sf0.1 test data.

    python3 perfbench/calibrate.py <test-data sf0.1 dir> [--queries]

For each table it prints the row counts and whether schema and values
are equal. With ``--queries`` it also runs each ``batch_relational``
query on both directories through the engine's session and prints its
result rows and its median time (construction + noop action, 3 runs
after a warm one). The benchmark never reads the test data itself: it
regenerates it with ``gen.write_relational``, and this script shows
that the two are the same.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def compare_tables(ref: str, mine: str) -> bool:
    print("| table | rows (test data) | rows (generated) | equal |\n|---|---|---|---|")
    same = True
    for t in TABLES:
        a, b = (pq.read_table(os.path.join(d, f"{t}.parquet")) for d in (ref, mine))
        eq = a.schema.equals(b.schema) and a.equals(b)
        same &= eq
        print(f"| `{t}` | {a.num_rows} | {b.num_rows} | {'yes' if eq else 'NO'} |")
    return same


def compare_queries(ref: str, mine: str) -> None:
    from flink_samples_spark.plans import QUERIES
    from flink_samples_spark.session import get_spark

    import workloads

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    print("\n| query | rows (test data) | rows (generated) | s (test data) | s (generated) |\n"
          "|---|---|---|---|---|")
    for q in workloads.BATCH_RELATIONAL:
        cells = []
        for d in (ref, mine):
            rows = QUERIES[q](spark, d).count()
            times = []
            for _ in range(4):
                t = time.perf_counter()
                QUERIES[q](spark, d).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t)
            cells.append((rows, statistics.median(times[1:])))
        (ra, ta), (rb, tb) = cells
        print(f"| `{q}` | {ra} | {rb} | {ta:.3f} | {tb:.3f} |")
    spark.stop()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reference", help="directory holding the test data's sf0.1 parquet tables")
    ap.add_argument("--queries", action="store_true", help="also run the batch_relational queries")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"calibrate-{os.getpid()}")
    os.makedirs(work)
    try:
        gen.write_relational(work, seed=42, sf=0.1)
        same = compare_tables(args.reference, work)
        if args.queries:
            sys.path.insert(0, ROOT)
            compare_queries(args.reference, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if same else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
