"""spark-submit entry point for a (resumable) validation run.

Deployment shape (north rule):

    zip -r jss.zip json_schema_spark
    spark-submit --py-files jss.zip bin/run_validation.py \
        --input  s3://bucket/crawl/documents/ \
        --spec   constraints.json \
        --results /mnt/validation/run-42/ \
        --run-id run-42 \
        --partition-col warc_day \
        --id-col url

--input may be any URI Spark reads; --results (and --input with
--input-icetable) must be a local or mounted POSIX path that the
driver and the executors share, because the results IceTables list and
commit their files through the local filesystem. A URI there is
rejected. The same invocation works on local[*] for smoke runs.
Re-running with the same --results resumes from the verdict table
(committed partitions are skipped). Exit code 0 iff every check passed on every partition
processed in THIS invocation ("valid iff errors nil",
/root/reference/src/json-schema.lisp:33-38).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running from a plain checkout (spark-submit --py-files covers
# the cluster case; this covers `python bin/run_validation.py`)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path of the documents table")
    ap.add_argument("--spec", required=True, help="constraint-spec JSON file")
    ap.add_argument("--results", required=True, help="results directory, a local or mounted POSIX path (the verdicts and violations IceTables; the verdict commits are the checkpoint)")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument(
        "--partition-col", default="warc_day",
        help="column whose values are the checkpoint unit; with "
             "--input-icetable it must be a partition column of the table")
    ap.add_argument("--id-col", default="url")
    ap.add_argument(
        "--max-partitions", type=int, default=None,
        help="validate at most this many pending partitions in this "
             "invocation; they are validated in one pass, so this bounds "
             "both what the call's Spark jobs read and the slice it "
             "caches. Re-run with the same --results to resume")
    ap.add_argument("--master", default=None, help="override spark master (else spark-submit's)")
    ap.add_argument(
        "--dim", action="append", default=[], metavar="NAME=PARQUET_PATH",
        help="dimension table for the spec's dataset ref checks (repeatable)")
    ap.add_argument(
        "--skip-dataset-checks", action="store_true",
        help="per-partition pass only; skip the spec's table-level block")
    ap.add_argument(
        "--input-icetable", action="store_true",
        help="treat --input as an IceTable root and validate only the "
             "files added since the last validated snapshot "
             "(continuous-validation mode)")
    args = ap.parse_args()

    from json_schema_spark.plans.runner import ValidationRunner
    from json_schema_spark.session import get_spark
    from json_schema_spark.spec import ConstraintSpec

    spark = get_spark(app_name=f"jss-{args.run_id}", master=args.master)
    with open(args.spec) as f:
        spec = ConstraintSpec(json.load(f))

    runner = ValidationRunner(
        spark, spec, args.results, run_id=args.run_id, id_cols=(args.id_col,))
    if args.input_icetable:
        from json_schema_spark.sources.icetable import IceTable

        source = IceTable(spark, args.input)
        out = runner.run_snapshot_increment(
            source, partition_col=args.partition_col,
            max_partitions=args.max_partitions)
        processed = out["partitions"]
        df = source.scan()
    else:
        df = spark.read.parquet(args.input)
        processed = runner.run(df, partition_col=args.partition_col,
                               max_partitions=args.max_partitions)
    if not processed:
        print(json.dumps({"run_id": args.run_id, "processed": [], "note": "nothing pending"}))
        return 0

    rows = [r.asDict() for r in runner.verdicts().collect()
            if r["partition"] in set(processed)]
    n_fail = sum(1 for r in rows if not r["pass"])

    # table-level block (unique / ref / drift / dedup) — cross-partition
    # by nature, so it runs once per invocation that processed anything
    ds_rows: list[dict] = []
    if spec.dataset and not args.skip_dataset_checks:
        dims = {}
        for d in args.dim:
            name, _, path = d.partition("=")
            if not name or not path:
                raise SystemExit(f"--dim expects NAME=PARQUET_PATH, got {d!r}")
            if name in dims:
                raise SystemExit(f"--dim {name!r} given twice")
            dims[name] = spark.read.parquet(path)
        ds_rows = [r.asDict() for r in
                   runner.run_dataset_checks(df, dims=dims).collect()]
        n_fail += sum(1 for r in ds_rows if not r["pass"])

    print(json.dumps({
        "run_id": args.run_id,
        "processed": processed,
        "checks": len(rows) + len(ds_rows),
        "failed_checks": n_fail,
        "dataset_checks": [
            {"check": r["check"], "pass": r["pass"], "metric": r["metric"]}
            for r in ds_rows
        ],
    }))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
