#!/usr/bin/env python3
"""Age one table by single-row ``add_files`` commits (Spark-free).

    python3 ingestbench/age.py <table_root> <table> <count> <seed>

Writes ``count`` single-row files under the table root, commits each with
``LakehouseTable.add_files`` and prints the table's snapshot count. The
trickle_aged set-up runs one of these per table while the JVM starts.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from iceberg_kafka_connect_spark.sinks.table import LakehouseTable  # noqa: E402


def main(argv: list[str]) -> int:
    root, table, count, seed = argv[0], argv[1], int(argv[2]), int(argv[3])
    t = LakehouseTable(root)
    for p in gen.write_aged_rows(root, table, count, seed):
        t.add_files([p])
    print(len(t.snapshots()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
