"""IceTable multi-PROCESS commit soak (VERDICT r3 item 6).

The exclusive-link commit protocol was only ever exercised by racing
threads inside one process; POSIX link(), which fails on an existing
name, is the cross-process primitive, so the contract needs evidence
with separate OS processes (own JVMs, own page caches). Two subprocess writers race appends —
one also compacts mid-run — and the parent asserts:

* no lost commits: every (writer, seq) batch's rows are present in the
  final scan exactly once;
* exactly one winner per metadata version: version files are
  contiguous and each snapshot id appears once;
* conflict losers retried to success (both writers report a snapshot
  id per seq).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from json_schema_spark.sources.icetable import IceTable

N_COMMITS = 6
N_WRITERS = 2


def test_concurrent_writers_no_lost_commits(spark, tmp_path):
    root = str(tmp_path / "race")
    IceTable.create(spark, root, "doc_id long, lang string", ["lang"])

    procs = [
        subprocess.Popen(
            [sys.executable,
             os.path.join(os.path.dirname(__file__), "icetable_writer.py"),
             root, str(w), str(N_COMMITS)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in range(N_WRITERS)
    ]
    reports = []
    for p in procs:
        out, err = p.communicate(timeout=540)
        assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
        line = [l for l in out.splitlines() if l.startswith("COMMITTED ")][-1]
        reports.append(json.loads(line[len("COMMITTED "):]))

    # every writer committed every seq (losers retried to success)
    for r in reports:
        assert sorted(int(k) for k in r["snaps"]) == list(range(N_COMMITS))

    t = IceTable(spark, root)
    snaps = t.snapshots()
    # exactly one winner per version: snapshot ids strictly increasing,
    # no duplicates (the exclusive link gives a version one author)
    ids = [s["id"] for s in snaps]
    assert ids == sorted(set(ids))
    # all 12 appends + 1 compaction are in history
    ops = [s["operation"] for s in snaps]
    assert ops.count("append") == N_WRITERS * N_COMMITS
    assert ops.count("replace") == 1
    # metadata versions are contiguous — no orphaned/missing v<k>
    meta_dir = os.path.join(root, "metadata")
    versions = sorted(
        int(f[1:-len(".metadata.json")])
        for f in os.listdir(meta_dir) if f.endswith(".metadata.json"))
    assert versions == list(range(len(versions)))  # create() writes v0

    # no lost rows: every (writer, seq) decade present exactly once
    rows = t.scan().groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in rows)
    expect = {
        w * 1_000_000 + i * 1_000 + k
        for w in range(N_WRITERS) for i in range(N_COMMITS) for k in range(10)
    }
    assert {r["doc_id"] for r in rows} == expect

    # snapshot summaries kept every writer's claim (cross-check the
    # reported snapshot ids against history)
    by_id = {s["id"]: s for s in snaps}
    for r in reports:
        for seq, sid in r["snaps"].items():
            s = by_id[sid]
            assert s["summary"]["writer"] == r["writer"]
            assert s["summary"]["seq"] == int(seq)
