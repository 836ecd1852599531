"""Checkpoint-resumable per-partition validation runs (SURVEY.md §2.4).

The reference's reusable ``context`` ("mutable, build up state as they
go", README.rst:144; make-context src/reference.lisp:103-119) becomes:
compile the spec ONCE, then validate every pending partition in one
pass over a cached projection of its failure flags — a fixed handful
of Spark jobs per call, not per partition — recording a
verdict/metrics/lineage row per (partition, check) in a results
table. A run interrupted after K partitions resumes by skipping the
partitions that already have verdicts — no duplicated results,
identical final verdicts.

Two entry points share that pass (``_validate``): ``run()`` takes a
plain DataFrame and finds its pending partitions with a ``distinct``
over it; ``run_snapshot_increment()`` takes an IceTable source and reads
the partitions touched since its watermark snapshot from the source's
manifests, so a call runs only the violations write, the verdict
aggregate and the verdict write.

The spec's table-level block (``run_dataset_checks``) is separate: its
checks are independent tasks, submitted together from a pool of driver
threads so that their small Spark jobs overlap on the cores. ``unique``
and ``fd`` checks on one key share one key aggregate; ``incremental``
dedup entries run in order inside one task; a block that cannot run (a
missing dims table, an unknown dedup method or quality signal) raises
before any job starts.

Storage layout: two IceTables (``sources/icetable.py``), both
partitioned by ``partition``, and nothing else. Each call replaces
exactly its pending partitions in one commit per table, violations
first, so a redo never duplicates rows, a partition that is now clean
loses its old violation rows, and earlier results stay readable by
time travel:

    <results_dir>/verdicts_ice/     IceTable of verdict rows
    <results_dir>/violations_ice/   IceTable of violation rows (created
                                    on the first run() from their schema)

The verdict commit is the only checkpoint: it lands the partitions'
verdicts (which mark them done) and, in its snapshot summary, the rest
of the runner's state. A crash before it redoes the call, idempotently;
a crash after it leaves nothing to redo.

Verdict row schema (FIXTURES.md §5):
    run_id, partition, check, pass, n_rows, n_violations,
    metrics MAP<STRING,DOUBLE>, input_files ARRAY<STRING>, wall_ms
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_spark.compiler import (
    CompiledSpec,
    _failed,
    _violation_rows,
    compile_spec,
)
from json_schema_spark.session import local_frame
from json_schema_spark.sources.icetable import (
    HIVE_DEFAULT_PARTITION,
    IceTable,
    require_local_path,
)
from json_schema_spark.spec import ConstraintSpec


# verdict snapshot-summary keys: run_snapshot_increment's watermark and
# open budgeted diff with its done partitions; the partitions a spec
# without per-row checks (so without verdict rows) completed
_WATERMARK, _DIFF, _DIFF_DONE = "runner_watermark", "runner_diff", "runner_diff_done"
_DONE = "runner_done"


@dataclass
class ValidationRunner:
    spark: SparkSession
    spec: ConstraintSpec | dict
    results_dir: str
    run_id: str = "run-0"
    id_cols: tuple[str, ...] = ("url",)
    compiled: CompiledSpec | None = field(default=None)
    # results always land in IceTables; the field is kept only so that
    # existing callers passing use_icetable=True keep working
    use_icetable: bool = True

    _VERDICT_DDL = (
        "run_id string, partition string, check string, pass boolean, "
        "n_rows long, n_violations long, metrics map<string,double>, "
        "input_files array<string>, wall_ms long"
    )

    def __post_init__(self):
        if not self.use_icetable:
            raise ValueError("ValidationRunner results always land in "
                             "IceTables; use_icetable=False is not supported")
        require_local_path(self.results_dir)
        os.makedirs(self.results_dir, exist_ok=True)
        # the older layout kept results as plain parquet under verdicts/
        # and violations/, which verdicts()/violations() do not show
        legacy = [d for d in ("verdicts", "violations")
                  if os.path.isdir(os.path.join(self.results_dir, d))]
        if legacy:
            raise ValueError(
                f"{self.results_dir!r} holds results in the older plain-parquet "
                f"layout ({', '.join(legacy)}); start a fresh results directory")
        self._verdict_table = self._table("verdicts_ice", self._VERDICT_DDL)

    def _table(self, name: str, ddl: str) -> IceTable:
        """Open the results IceTable ``name``, creating it from ``ddl``
        on first use."""
        root = os.path.join(self.results_dir, name)
        if os.path.exists(os.path.join(root, "metadata", "v0.metadata.json")):
            return IceTable(self.spark, root)
        return IceTable.create(self.spark, root, ddl, ["partition"])

    # -- helpers ----------------------------------------------------------
    def _compile(self, df: DataFrame) -> CompiledSpec:
        if self.compiled is None:  # compile once, validate many (§4.1)
            self.compiled = compile_spec(self.spec, df)
        return self.compiled

    def completed(self) -> set[str]:
        """The partitions the verdict table's current files hold, or a
        verdict commit names (metadata only, no Spark job). Its
        partitions are never NULL, so the Hive default is ``""``."""
        meta = self._verdict_table._read_meta()
        done = {e["partition"]["partition"]
                for e in self._verdict_table.plan_files(_meta=meta)}
        for snap in meta["snapshots"]:
            done.update(snap["summary"].get(_DONE, ()))
        return {"" if p == HIVE_DEFAULT_PARTITION else p for p in done}

    def pending_partitions(self, df: DataFrame, partition_col: str) -> list[str]:
        """All non-null partition values of ``df`` as strings (Spark's
        ``cast(string)``), minus completed ones. The distinct() runs
        Spark jobs that scan ``df``, even a partitioned parquet source
        (``spark.sql.optimizer.metadataOnly`` is off by default)."""
        done = self.completed()
        return sorted(
            r[0] for r in
            df.select(F.col(partition_col).cast("string")).distinct().collect()
            if r[0] is not None and r[0] not in done)

    # -- the partition pass -----------------------------------------------
    def run(
        self,
        df: DataFrame,
        partition_col: str = "warc_day",
        max_partitions: int | None = None,
    ) -> list[str]:
        """Validate the pending partitions of ``df`` in one pass;
        returns the partitions processed.

        The pending set is every partition value of ``df`` without
        verdicts yet (:meth:`completed`, minus a ``distinct`` over
        ``df``), cut to ``max_partitions`` (tests use it to simulate an
        interruption). The call's verdict commit is its checkpoint: a
        call interrupted before it is redone on resume, idempotently,
        and the partitions it landed are skipped."""
        pending = self.pending_partitions(df, partition_col)
        if max_partitions is not None:
            pending = pending[:max_partitions]
        if pending:
            self._validate(
                df.where(F.col(partition_col).cast("string").isin(pending)),
                partition_col, pending)
        return pending

    def _validate(self, slice_df: DataFrame, partition_col: str,
                  pending: list[str], summary: dict | None = None) -> None:
        """Validate ``slice_df``, the rows of the ``pending`` partitions,
        and record their results; ``summary`` goes into the verdict
        commit's snapshot summary, and so does ``pending`` when the spec
        has no per-row checks (:meth:`completed`).

        Every check's predicate runs once per row, in one projection
        of the id columns and failure flags (``compiler._failed``),
        which is cached: the violations write explodes it, one grouped
        aggregate sums its flags into every partition's verdicts, and
        one IceTable commit per results table lands every violation and
        verdict row. A call thus runs the same few Spark jobs whether it
        validates one partition or a thousand. The cache grows with the
        partitions taken, by the id columns and one boolean per check
        per row."""
        compiled = self._compile(slice_df)
        if not compiled.checks:
            summary = {**(summary or {}), _DONE: pending}
        t0 = time.monotonic()
        # two actions read the slice (violation rows + verdict agg):
        # cache only the ids and every check's failure flag, so each
        # predicate runs once per row and wide columns (html, text)
        # stay out of memory. input_file_name() is projected here,
        # before the cache: it returns '' once rows come from the
        # InMemoryRelation, and aggregates reject it inline.
        keep = [*self.id_cols, "partition"]
        flags = _failed(slice_df, compiled, [
            *[F.col(k) for k in self.id_cols],
            F.col(partition_col).cast("string").alias("partition"),
            F.input_file_name().alias("\x00file"),
        ]).cache()
        # unpersist in finally: a failure (commit conflict, write error)
        # must not leak the cached flags — retries would otherwise
        # accumulate cached DataFrames in executor memory for the rest
        # of the session
        try:
            viol = _violation_rows(flags, compiled, keep, self.run_id)
            # naming the pending set replaces its partitions' rows,
            # including those of a partition that is now clean
            self._table("violations_ice", viol.schema.toDDL()) \
                .overwrite_partitions(viol, pending)

            # single-pass verdict agg + lineage over the SAME flags
            rows = {r["partition"]: r for r in flags.groupBy("partition").agg(
                *compiled.flag_sums, F.count(F.lit(1)).alias("n_rows"),
                F.collect_set(F.col("`\x00file`")).alias("files")).collect()}
            wall_ms = int((time.monotonic() - t0) * 1000)

            verdicts = []
            for part in pending:
                row = rows.get(part)
                n = row["n_rows"] if row else 0
                files = [f for f in (row["files"] if row else []) if f]
                for i, c in enumerate(compiled.checks):
                    nv = row[f"v{i}"] if row else 0
                    verdicts.append((
                        self.run_id, part, f"{c.column}/{c.keyword}",
                        nv == 0, n, nv,
                        {"violation_rate": (nv / n) if n else 0.0},
                        files, wall_ms,
                    ))
            vdf = local_frame(self.spark, verdicts, self._VERDICT_DDL)
            self._verdict_table.overwrite_partitions(vdf.coalesce(1), pending,
                                                     summary=summary)
        finally:
            flags.unpersist()

    # -- snapshot-incremental pass (source is an IceTable) ------------------
    def run_snapshot_increment(
        self,
        source: IceTable,
        partition_col: str = "warc_day",
        max_partitions: int | None = None,
    ) -> dict:
        """Continuous validation against an IceTable source: validate
        the partitions touched by data files added since the last
        validated snapshot, then advance the watermark.

        The touched set comes from the source's manifests, not from a
        scan: the current snapshot's file entries minus the watermark
        snapshot's (:meth:`IceTable.files_added_since`), each entry's
        value of ``partition_col``. ``partition_col`` must therefore be
        one of the source's partition columns (else ValueError), and
        the values are the strings the Hive paths hold — Spark's
        ``cast(string)`` of the column; the null partition is skipped.
        A touched partition is validated over its FULL current content
        (one manifest-pruned read of the pending partitions): diff-only
        validation would overwrite its verdict and violations with
        late-rows-only results, silently flipping a failing partition
        to pass.

        Complements :meth:`run`'s resume, which skips partitions that
        have verdicts and would therefore miss LATE files landing in
        them. The previous rows of a re-validated partition stay
        readable through the results tables' snapshot history.

        The watermark rides in the summary of the verdict commit that
        drains the diff (one of no files if the diff touches no
        partition). ``max_partitions`` budgets one invocation: the
        watermark stays until the WHOLE diff is drained, and each
        budgeted verdict commit records the diff's done partitions. An
        expired watermark snapshot (source history truncated past it)
        re-validates every current partition rather than failing every
        subsequent run.
        Returns {"snapshot": <new watermark>, "partitions": [...]}.
        """
        meta = source._read_meta()  # pins the snapshot, files and schema
        if partition_col not in meta["partition_by"]:
            raise ValueError(
                f"partition_col {partition_col!r} is not a partition column "
                f"of the source (partitioned by {meta['partition_by']})")
        # the progress recorded by the latest verdict commit carrying one
        state = next((s["summary"] for s in reversed(self._verdict_table.snapshots())
                      if _WATERMARK in s["summary"]), {})
        last = state.get(_WATERMARK)
        cur = meta["current_snapshot_id"]
        if cur is None or cur == last:
            return {"snapshot": last, "partitions": []}
        try:
            added = source.files_added_since(last, _meta=meta)
        except FileNotFoundError:
            # the watermark snapshot was expired from the source's
            # history: the diff is unrecoverable — re-validate every
            # current partition instead of wedging every run
            last = None
            added = source.files_added_since(None, _meta=meta)
        touched = sorted({e["partition"].get(partition_col) for e in added}
                         - {None, HIVE_DEFAULT_PARTITION})

        # every touched partition is pending, except those a budgeted
        # previous call of this SAME diff validated
        diff_id = f"{last}->{cur}"
        done = state.get(_DIFF_DONE, []) if state.get(_DIFF) == diff_id else []
        pending = [p for p in touched if p not in done]
        todo = pending if max_partitions is None else pending[:max_partitions]
        # the verdict commit records this call's progress
        if len(todo) == len(pending):
            summary = {_WATERMARK: cur}
        else:
            summary = {_WATERMARK: last, _DIFF: diff_id, _DIFF_DONE: done + todo}
        if todo:
            self._validate(
                source.scan([(partition_col, "in", todo)], snapshot_id=cur),
                partition_col, todo, summary)
        elif not pending:
            table = self._verdict_table
            table._commit(table._read_meta(), "overwrite", summary)
        return {"snapshot": summary[_WATERMARK], "partitions": todo}

    # -- dataset-level checks (spec "dataset" block, FIXTURES.md §3) -------
    def run_dataset_checks(
        self,
        df: DataFrame,
        dims: dict[str, DataFrame] | None = None,
    ) -> DataFrame:
        """Execute the spec's table-level block:

            "dataset": {"unique": ["url"],
                        "ref":   [{"column","table","key"}, ...],
                        "fd":    [{"determinant","dependent",
                                   "max_violating_frac"}, ...],
                        "drift": [{"column","test","by"}, ...],
                        "dedup": [{"column","id","method","max_dup_frac"}, ...],
                        "blocklist": [{"column","domains"|"table",
                                       "max_blocked_frac"}, ...],
                        "quality": [{"column","signal","min_fre"|"max_fre"|
                                     "ngram"/"max_dup_ngram_frac",
                                     "max_fail_frac"}, ...],
                        "normalized": [{"column","form",
                                        "max_changed_frac"}, ...]}

        ``dims`` maps ref-check and blocklist table names to DataFrames.
        Returns one verdict row per check (check, pass, n_violations,
        metric), in the block's order. These run once per table (not
        per partition) — they are cross-partition by nature (global
        uniqueness, referential integrity, cross-partition drift).

        The checks are independent tasks, submitted together to a pool
        of driver threads (at most ``_MAX_TASK_THREADS``), so that their
        small Spark jobs share the cores instead of running one after
        another; each thread inherits the caller's job group and other
        local properties. ``unique`` keys and ``fd`` determinants that
        share a key tuple are one task: one ``key_verdicts`` aggregate
        (``operators/unique.py``) scans and shuffles the key once for
        all of them. ``incremental`` dedup entries run in order inside
        one task, because they commit to ledgers that may be shared.
        A missing dims table or an unknown dedup method or quality
        signal raises before any job starts; a task's error is raised
        after the tasks before it in block order have finished, the
        first in block order winning.
        """
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        spec = self.spec if isinstance(self.spec, ConstraintSpec) else ConstraintSpec(self.spec)
        entries = [(kind, e) for kind in _BLOCK_ORDER
                   for e in spec.dataset.get(kind, [])]
        dims = dims or {}
        _check_dataset_block(entries, dims)

        tasks = _dataset_tasks(self.spark, df, entries, dims)
        results: list[tuple | None] = [None] * len(entries)
        with ThreadPoolExecutor(
                max_workers=max(1, min(len(tasks), _MAX_TASK_THREADS))) as pool:
            futures = [pool.submit(inheritable_thread_target(self.spark)(t))
                       for t in tasks]
            try:
                for f in futures:
                    for pos, row in f.result():
                        results[pos] = row
            except BaseException:
                pool.shutdown(cancel_futures=True)
                raise
        return local_frame(
            self.spark, results,
            "check string, pass boolean, n_violations long, metric double",
        )

    # -- results ------------------------------------------------------------
    # The runner writes no NULL partition, so the one its tables read as
    # NULL (Hive's default partition) is the empty string.
    def verdicts(self) -> DataFrame:
        return self._verdict_table.scan().fillna("", ["partition"])

    def violations(self) -> DataFrame:
        return IceTable(self.spark, os.path.join(self.results_dir, "violations_ice")
                        ).scan().fillna("", ["partition"])


# -- the dataset block's tasks ------------------------------------------------

# the spec's dataset-block kinds, in the order of the result rows
_BLOCK_ORDER = ("unique", "ref", "fd", "drift", "dedup", "blocklist",
                "quality", "normalized")
# driver threads that submit a block's tasks; the cores, not the
# threads, bound how many of their jobs make progress at once
_MAX_TASK_THREADS = 8
_DEDUP_METHODS = ("exact", "fingerprint", "incremental")
_QUALITY_SIGNALS = ("readability", "repetition")


def _check_dataset_block(entries: list[tuple[str, dict]],
                         dims: dict[str, DataFrame]) -> None:
    """Raise ValueError for what would fail inside a task, before any
    task starts a job."""
    for kind, e in entries:
        if kind == "ref" and dims.get(e["table"]) is None:
            raise ValueError(f"dimension table {e['table']!r} not provided")
        if kind == "blocklist" and "table" in e and dims.get(e["table"]) is None:
            raise ValueError(f"blocklist table {e['table']!r} not provided")
        if kind == "dedup" and e.get("method", "exact") not in _DEDUP_METHODS:
            raise ValueError(
                f"dataset dedup method {e['method']!r} not supported "
                "(exact | fingerprint | incremental)")
        if kind == "quality" and e.get("signal", "readability") not in _QUALITY_SIGNALS:
            raise ValueError(
                f"dataset quality signal {e['signal']!r} not supported "
                "(readability | repetition)")


def _dataset_tasks(spark: SparkSession, df: DataFrame,
                   entries: list[tuple[str, dict]],
                   dims: dict[str, DataFrame]) -> list:
    """The block as independent tasks, in the order of their first
    result row. A task takes no arguments and returns
    ``[(position in the block, verdict row), ...]``."""
    # a key tuple's task and the incremental task are created at their
    # first entry; later entries join the list the task holds
    keyed: dict[tuple[str, ...], list] = {}
    incremental: list = []
    tasks: list = []
    for pos, (kind, e) in enumerate(entries):
        if kind in ("unique", "fd"):
            key = e if kind == "unique" else e["determinant"]
            key = tuple([key] if isinstance(key, str) else key)
            if key not in keyed:
                keyed[key] = []
                tasks.append(partial(_key_rows, df, key, keyed[key]))
            keyed[key].append((pos, kind, e))
        elif kind == "dedup" and e.get("method", "exact") == "incremental":
            if not incremental:
                tasks.append(partial(_incremental_dedup_rows, spark, df, incremental))
            incremental.append((pos, e))
        elif kind == "ref":
            tasks.append(_one(pos, _ref_row, df, e, dims))
        elif kind == "drift":
            tasks.append(_one(pos, _drift_row, df, e))
        elif kind == "dedup":
            tasks.append(_one(pos, _dedup_row, df, e))
        elif kind == "blocklist":
            tasks.append(_one(pos, _blocklist_row, spark, df, e, dims))
        elif kind == "quality":
            tasks.append(_one(pos, _quality_row, df, e))
        else:
            tasks.append(_one(pos, _normalized_row, df, e))
    return tasks


def _one(pos: int, fn, *args):
    """The task of one check, whose verdict row is ``fn(*args)``."""
    return lambda: [(pos, fn(*args))]


def _key_rows(df: DataFrame, key: tuple[str, ...], items: list) -> list:
    """Every ``unique`` and ``fd`` check on one key tuple from ONE
    ``key_verdicts`` aggregate; fd: verdict vs a tolerated violating-key
    fraction."""
    from json_schema_spark.operators.unique import key_verdicts

    deps = list(dict.fromkeys(e["dependent"] for _, kind, e in items if kind == "fd"))
    row = key_verdicts(df, list(key), deps).collect()[0]
    out = []
    for pos, kind, e in items:
        if kind == "unique":
            u = row["unique"]
            out.append((pos, (u["check"], bool(u["pass"]),
                              int(u["n_violating_rows"]),
                              float(u["n_violating_keys"]))))
        else:
            fd = row["fd"][deps.index(e["dependent"])]
            frac = float(fd["violating_key_frac"])
            cap = float(e.get("max_violating_frac", 0.0))
            out.append((pos, (fd["check"], frac <= cap,
                              int(fd["n_violations"]), frac)))
    return out


def _ref_row(df: DataFrame, ref: dict, dims: dict[str, DataFrame]) -> tuple:
    from json_schema_spark.operators.referential import referential_verdict

    row = referential_verdict(df, dims[ref["table"]], ref["column"],
                              ref["key"]).collect()[0]
    return (row["check"], bool(row["pass"]),
            int(row["n_violations"]), float(row["n_violations"]))


def _drift_row(df: DataFrame, d: dict) -> tuple:
    from json_schema_spark.operators.drift import chi2_by_partition, ks_by_partition

    by = d["by"]
    by_col = F.to_date(F.col(by[5:-1])) if by.startswith("days(") else F.col(by)
    col = d["column"]
    col_expr = F.expr(col) if "(" in col else F.col(col)
    if d.get("test") == "chi2":
        # project the (possibly expression-valued) column first:
        # chi2_by_partition takes a column NAME
        tagged = df.withColumn("__cat", col_expr)
        rows = [r for r in chi2_by_partition(tagged, "__cat", by_col).collect()
                if r["chi2"] is not None]
        if not rows:
            # all-null column/partition: nothing to test -> pass
            return (f"drift_chi2({col} by {by})", True, 0, 0.0)
        worst = max(rows, key=lambda r: r["chi2"])
        # crude flag: chi2 beyond 5x the median partition
        med = sorted(r["chi2"] for r in rows)[len(rows) // 2]
        drifted = worst["chi2"] > 5 * max(med, 1e-9)
        return (f"drift_chi2({col} by {by})", not drifted,
                int(drifted), float(worst["chi2"]))
    tagged = df.withColumn("__by", by_col).withColumn("__v", col_expr)
    if d.get("test") == "tdigest":
        # sketch path: rows fold into per-partition KLL sketches
        # before the shuffle; sketches are storable for incremental
        # cross-run drift (operators/tdigest.py)
        from json_schema_spark.operators.tdigest import (
            digest_by_partition,
            ks_by_partition_tdigest,
        )

        ks_rows = ks_by_partition_tdigest(digest_by_partition(tagged, "__v", "__by"))
        worst_ks = max((ks for _, _, ks in ks_rows if ks == ks),
                       default=0.0)  # ks==ks drops NaN (no rest)
        return (f"drift_tdigest({col} by {by})", worst_ks < 0.2,
                int(worst_ks >= 0.2), float(worst_ks))
    # ks: every partition vs rest in one query (no driver loop)
    rows = ks_by_partition(tagged, "__v", "__by", n_bins=256).collect()
    worst_ks = max((r["ks"] or 0.0) for r in rows) if rows else 0.0
    return (f"drift_ks({col} by {by})", worst_ks < 0.2,
            int(worst_ks >= 0.2), float(worst_ks))


def _dedup_row(df: DataFrame, d: dict) -> tuple:
    """Exact or fingerprint dedup: the extra copies beyond each group's
    survivor and the rows they are a fraction of, in one aggregate over
    every text group."""
    from json_schema_spark.operators.dedup import text_groups

    method = d.get("method", "exact")
    row = text_groups(df, d.get("id", "doc_id"), d["column"],
                      normalized=method == "fingerprint").agg(
        F.coalesce(F.sum(F.col("n_dups") - 1), F.lit(0)).alias("extra"),
        F.coalesce(F.sum("n_dups"), F.lit(0)).alias("n_total"),
    ).collect()[0]
    frac = (row["extra"] / row["n_total"]) if row["n_total"] else 0.0
    cap = float(d.get("max_dup_frac", 0.0))
    return (f"dedup_{method}({d['column']})", frac <= cap,
            int(row["extra"]), float(frac))


def _incremental_dedup_rows(spark: SparkSession, df: DataFrame,
                            items: list[tuple[int, dict]]) -> list:
    """Cross-snapshot dedup against persistent ledgers
    (operators/incremental_dedup.py), one entry after another: the spec
    carries the ledger root + this run's snapshot ordinal; redo of a
    snapshot is byte-idempotent, so a resumed/re-run validation changes
    no verdict (the runner's own checkpoint contract)."""
    from json_schema_spark.operators.incremental_dedup import (
        create_dedup_ledger,
        incremental_dedup_snapshot,
    )

    out = []
    for pos, d in items:
        id_col = d.get("id", "doc_id")
        root = d["ledger"]
        snap = int(d["snapshot"])
        if os.path.exists(os.path.join(root, "metadata")):
            ledger = IceTable(spark, root)
        else:
            # keep_id must take the id column's actual type (url ids
            # are strings; a bigint ledger column would NULL them on
            # scan-back)
            ledger = create_dedup_ledger(spark, root, id_type=dict(df.dtypes)[id_col])
        st = incremental_dedup_snapshot(
            df, ledger, id_col, d["column"], snap,
            normalized=bool(d.get("normalized", False)),
        ).collect()[0]
        extra = st["n_dup_within"] + st["n_dup_history"]
        frac = (extra / st["n_rows"]) if st["n_rows"] else 0.0
        cap = float(d.get("max_dup_frac", 0.0))
        out.append((pos, (f"dedup_incremental({d['column']}@snap{snap})",
                          frac <= cap, int(extra), float(frac))))
    return out


def _blocklist_row(spark: SparkSession, df: DataFrame, b: dict,
                   dims: dict[str, DataFrame]) -> tuple:
    """Domain blocklist gate at the registrable-domain level
    (operators/textstats.domain_blocklist_flag): inline "domains" list
    or a dims-provided one-column table; verdict in ONE fused aggregate
    over the broadcast join."""
    from json_schema_spark.operators.textstats import domain_blocklist_flag

    url_col = b.get("column", "url")
    if "table" in b:
        blocked, src = dims[b["table"]], b["table"]
    else:
        blocked = local_frame(spark, [(x,) for x in b["domains"]], "domain string")
        ds = sorted(b["domains"])
        src = ",".join(ds[:2]) + ("…" if len(ds) > 2 else "")
    agg = (
        domain_blocklist_flag(
            df.where(F.col(url_col).isNotNull()).select(url_col), url_col, blocked)
        .agg(F.coalesce(F.sum(F.col("blocked").cast("long")), F.lit(0))
             .alias("n_blocked"),
             F.count(F.lit(1)).alias("n_rows"))
        .collect()[0]
    )
    frac = (agg["n_blocked"] / agg["n_rows"]) if agg["n_rows"] else 0.0
    cap = float(b.get("max_blocked_frac", 0.0))
    return (f"blocklist({url_col} vs {src})", frac <= cap,
            int(agg["n_blocked"]), float(frac))


def _quality_row(df: DataFrame, q: dict) -> tuple:
    """Per-row text-quality gate: a signal computed row-wise
    (readability FRE band or within-doc duplicate-n-gram fraction), a
    threshold, and a tolerated failing fraction; verdict in ONE fused
    aggregate — the spec-side face of the corpus-quality operator
    family."""
    signal = q.get("signal", "readability")
    col = q.get("column", "text")
    id_col = q.get("id", "doc_id")
    cap = float(q.get("max_fail_frac", 0.0))
    if signal == "readability":
        from json_schema_spark.operators.textstats import readability_profile

        lo, hi = q.get("min_fre"), q.get("max_fre")
        fail = F.lit(False)
        if lo is not None:
            fail = fail | (F.col("fre") < F.lit(float(lo)))
        if hi is not None:
            fail = fail | (F.col("fre") > F.lit(float(hi)))
        rows = readability_profile(df, id_col, col).where(F.col("fre").isNotNull())
    else:  # repetition
        from json_schema_spark.operators.quality import dup_ngram_frac, tokens_df

        n = int(q.get("ngram", 2))
        thr = float(q.get("max_dup_ngram_frac", 0.5))
        rows = tokens_df(df.where(F.col(col).isNotNull()), id_col, col)
        fail = dup_ngram_frac(F.col("__toks"), n) > thr
    agg = rows.agg(F.coalesce(F.sum(fail.cast("long")), F.lit(0)).alias("n_fail"),
                   F.count(F.lit(1)).alias("n_rows")).collect()[0]
    frac = (agg["n_fail"] / agg["n_rows"]) if agg["n_rows"] else 0.0
    return (f"quality_{signal}({col})", frac <= cap,
            int(agg["n_fail"]), float(frac))


def _normalized_row(df: DataFrame, nrm: dict) -> tuple:
    """Unicode-normalization invariant: text must already be in the
    given form (the precondition every hash-keyed operator in this
    engine silently assumes; §1.1's byte-identity contract is only
    well-defined modulo this)."""
    from json_schema_spark.operators.normalize import nfc_audit

    col = nrm.get("column", "text")
    form = nrm.get("form", "NFC")
    cap = float(nrm.get("max_changed_frac", 0.0))
    agg = (
        nfc_audit(df, nrm.get("id", "doc_id"), col, form=form)
        .agg(F.coalesce(F.sum(F.col("changed").cast("long")), F.lit(0))
             .alias("n_changed"),
             F.count(F.lit(1)).alias("n_rows"))
        .collect()[0]
    )
    frac = (agg["n_changed"] / agg["n_rows"]) if agg["n_rows"] else 0.0
    return (f"normalized_{form}({col})", frac <= cap,
            int(agg["n_changed"]), float(frac))
