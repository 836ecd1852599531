"""Subprocess body for the IceTable concurrent-writer soak
(tests/test_icetable_concurrent.py): a REAL second OS process (own
JVM, own Python) hammering appends — plus one mid-run compaction —
against a shared table root, retrying through CommitConflict.

Prints one final line ``COMMITTED <json>`` mapping seq -> snapshot id
so the parent can assert no commit was lost.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_schema_spark.session import get_spark
from json_schema_spark.sources.icetable import CommitConflict, IceTable


def main() -> None:
    root, wid, n_commits = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    spark = get_spark(
        app_name=f"ice-writer-{wid}", master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "2g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = IceTable(spark, root)

    committed: dict[int, int] = {}
    for i in range(n_commits):
        df = spark.range(10).selectExpr(
            f"id + {wid * 1_000_000 + i * 1_000} AS doc_id",
            f"'w{wid}' AS lang",
        )
        tries = 0
        while True:
            try:
                committed[i] = t.append(df, {"writer": wid, "seq": i})
                break
            except CommitConflict:
                tries += 1
                if tries > 200:
                    raise
        # writer 0 stirs maintenance into the race mid-run: compaction
        # must neither lose concurrent appends nor deadlock retries
        if wid == 0 and i == n_commits // 2:
            tries = 0
            while True:
                try:
                    t.compact()
                    break
                except CommitConflict:
                    tries += 1
                    if tries > 200:
                        raise
    print("COMMITTED " + json.dumps({"writer": wid, "snaps": committed}))


if __name__ == "__main__":
    main()
