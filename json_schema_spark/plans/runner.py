"""Checkpoint-resumable per-partition validation runs (SURVEY.md §2.4).

The reference's reusable ``context`` ("mutable, build up state as they
go", README.rst:144; make-context src/reference.lisp:103-119) becomes:
compile the spec ONCE, then validate every pending partition in one
pass over a cached projection of its failure flags — a fixed handful
of Spark jobs per call, not per partition — recording a
verdict/metrics/lineage row per (partition, check) in a results
table. A run interrupted after K partitions resumes by skipping the
partitions already in the manifest — no duplicated results, identical
final verdicts.

Two entry points share that pass (``_validate``): ``run()`` takes a
plain DataFrame and finds its pending partitions with a ``distinct``
over it; ``run_snapshot_increment()`` takes an IceTable source and reads
the partitions touched since its watermark snapshot from the source's
manifests, so a call runs only the violations write, the verdict
aggregate and the verdict write.

Storage layout: two IceTables (``sources/icetable.py``), both
partitioned by ``partition``, and a JSON checkpoint. Each ``run()``
call replaces exactly its pending partitions in one commit per table,
so a redo never duplicates rows, a partition that is now clean loses
its old violation rows, and earlier results stay readable by time
travel:

    <results_dir>/verdicts_ice/     IceTable of verdict rows
    <results_dir>/violations_ice/   IceTable of violation rows (created
                                    on the first run() from their schema)
    <results_dir>/manifest.json     {completed: {P: metrics},
                                     __snapshot_watermark, __diff_id}

Verdict row schema (FIXTURES.md §5):
    run_id, partition, check, pass, n_rows, n_violations,
    metrics MAP<STRING,DOUBLE>, input_files ARRAY<STRING>, wall_ms
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_spark.compiler import (
    CompiledSpec,
    _failed,
    _flag,
    _violation_rows,
    compile_spec,
)
from json_schema_spark.session import local_frame
from json_schema_spark.sources.icetable import IceTable, require_local_path
from json_schema_spark.spec import ConstraintSpec


class _Manifest:
    """Atomic JSON manifest (write-tmp + rename). The checkpoint unit
    is one partition value; idempotent re-marks are fine."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"completed": {}}

    def save(self, state: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1, default=str)
        os.replace(tmp, self.path)  # atomic on POSIX

    def completed(self) -> set[str]:
        return set(self.load()["completed"].keys())


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
        self.manifest = _Manifest(os.path.join(self.results_dir, "manifest.json"))
        # the older layout kept results as plain parquet under verdicts/
        # and violations/; resuming from its manifest would skip those
        # partitions while their results stay out of view
        legacy = [d for d in ("verdicts", "violations")
                  if os.path.isdir(os.path.join(self.results_dir, d))]
        if legacy or (self.manifest.completed() and not os.path.isdir(
                os.path.join(self.results_dir, "violations_ice"))):
            raise ValueError(
                f"{self.results_dir!r} holds results in the older plain-"
                f"parquet layout ({', '.join(legacy) or 'manifest.json'}); "
                "start a fresh results directory")
        self._verdict_table = self._table("verdicts_ice", self._VERDICT_DDL)

    def _table(self, name: str, ddl: str) -> IceTable:
        """Open the results IceTable ``name``, creating it from ``ddl``
        on first use."""
        root = os.path.join(self.results_dir, name)
        if os.path.exists(os.path.join(root, "metadata", "version-hint.text")):
            return IceTable(self.spark, root)
        return IceTable.create(self.spark, root, ddl, ["partition"])

    # -- helpers ----------------------------------------------------------
    def _compile(self, df: DataFrame) -> CompiledSpec:
        if self.compiled is None:  # compile once, validate many (§4.1)
            self.compiled = compile_spec(self.spec, df)
        return self.compiled

    def pending_partitions(self, df: DataFrame, partition_col: str) -> list[str]:
        """All non-null partition values of ``df`` as strings (Spark's
        ``cast(string)``), minus completed ones. The distinct() runs
        Spark jobs that scan ``df``, even a partitioned parquet source
        (``spark.sql.optimizer.metadataOnly`` is off by default)."""
        done = self.manifest.completed()
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

        The pending set is every partition value of ``df`` not yet in
        the manifest (a ``distinct`` over ``df``), cut to ``max_partitions``
        (tests use it to simulate an interruption). The manifest is
        marked per partition: an interrupted call is redone on resume,
        idempotently, and completed partitions are skipped."""
        pending = self.pending_partitions(df, partition_col)
        if max_partitions is not None:
            pending = pending[:max_partitions]
        if pending:
            self._validate(
                df.where(F.col(partition_col).cast("string").isin(pending)),
                partition_col, pending)
        return pending

    def _validate(self, slice_df: DataFrame, partition_col: str,
                  pending: list[str]) -> None:
        """Validate ``slice_df``, the rows of the ``pending`` partitions,
        and record their results.

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
            aggs = [
                F.sum(F.col(f"`{_flag(i)}`").cast("long")).alias(f"v{i}")
                for i in range(len(compiled.checks))
            ] + [
                F.count(F.lit(1)).alias("n_rows"),
                F.collect_set(F.col("`\x00file`")).alias("files"),
            ]
            rows = {r["partition"]: r
                    for r in flags.groupBy("partition").agg(*aggs).collect()}
            wall_ms = int((time.monotonic() - t0) * 1000)

            verdicts, completed = [], {}
            for part in pending:
                row = rows.get(part)
                n = row["n_rows"] if row else 0
                completed[part] = {"run_id": self.run_id, "n_rows": n,
                                   "wall_ms": wall_ms}
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
            self._verdict_table.overwrite_partitions(vdf.coalesce(1), pending)

            state = self.manifest.load()
            state["completed"].update(completed)
            self.manifest.save(state)
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

        Complements :meth:`run`'s partition-manifest resume — which
        skips completed partitions and would therefore miss LATE
        files landing in them. The watermark lives in the same results
        manifest (key ``__snapshot_watermark``), so a crash between
        validate and advance just re-validates the same diff
        (idempotent: verdicts overwrite per partition). The previous
        verdict and violation rows of a re-validated partition stay
        readable through the results tables' snapshot history.

        ``max_partitions`` budgets one invocation; the watermark only
        advances once the WHOLE diff is drained, so budgeted runs
        continue the same diff. An expired watermark snapshot (source
        history truncated past it) re-validates every current
        partition rather than failing every subsequent run.
        Returns {"snapshot": <new watermark>, "partitions": [...]}.
        """
        meta = source._read_meta()  # pins the snapshot, files and schema
        if partition_col not in meta["partition_by"]:
            raise ValueError(
                f"partition_col {partition_col!r} is not a partition column "
                f"of the source (partitioned by {meta['partition_by']})")
        state = self.manifest.load()
        last = state.get("__snapshot_watermark")
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
                         - {None, "__HIVE_DEFAULT_PARTITION__"})

        # the diff may re-touch completed partitions: clear their
        # completion marks so they are re-validated — but NOT when
        # continuing the identical diff (a budgeted previous
        # invocation): its marks ARE this diff's progress
        diff_id = f"{last}->{cur}"
        if state.get("__diff_id") != diff_id:
            for p in touched:
                state["completed"].pop(p, None)
            state["__diff_id"] = diff_id
        state["__snapshot_watermark"] = last
        self.manifest.save(state)

        pending = [p for p in touched if p not in state["completed"]]
        todo = pending if max_partitions is None else pending[:max_partitions]
        if todo:
            self._validate(
                source.scan([(partition_col, "in", todo)], snapshot_id=cur),
                partition_col, todo)

        # advance only once the whole diff is validated: a budgeted
        # (max_partitions) run leaves the watermark so the next
        # invocation continues the SAME diff from its partition marks
        drained = len(todo) == len(pending)
        state = self.manifest.load()
        new_mark = cur if drained else last
        state["__snapshot_watermark"] = new_mark
        if drained:
            state.pop("__diff_id", None)
        self.manifest.save(state)
        return {"snapshot": new_mark, "partitions": todo}

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

        ``dims`` maps ref-check table names to dimension DataFrames.
        Returns one verdict row per check (check, pass, n_violations,
        metric). These run once per table (not per partition) — they
        are cross-partition by nature (global uniqueness, referential
        integrity, cross-partition drift).
        """
        from json_schema_spark.operators.drift import chi2_by_partition, ks_by_partition
        from json_schema_spark.operators.referential import referential_verdict
        from json_schema_spark.operators.unique import uniqueness_verdict

        spec = self.spec if isinstance(self.spec, ConstraintSpec) else ConstraintSpec(self.spec)
        block = spec.dataset
        results: list[tuple] = []

        for key in block.get("unique", []):
            cols = key if isinstance(key, list) else [key]
            row = uniqueness_verdict(df, cols).collect()[0]
            results.append((row["check"], bool(row["pass"]),
                            int(row["n_violating_rows"]),
                            float(row["n_violating_keys"])))

        for ref in block.get("ref", []):
            dim = (dims or {}).get(ref["table"])
            if dim is None:
                raise ValueError(f"dimension table {ref['table']!r} not provided")
            row = referential_verdict(df, dim, ref["column"], ref["key"]).collect()[0]
            results.append((row["check"], bool(row["pass"]),
                            int(row["n_violations"]), float(row["n_violations"])))

        for fd in block.get("fd", []):
            # functional dependency A -> B (operators/referential.py):
            # the consistency constraint between uniqueness (A -> whole
            # row) and free-form columns; ONE partial-aggregable
            # groupBy, verdict vs a tolerated violating-key fraction
            from json_schema_spark.operators.referential import fd_verdict

            row = fd_verdict(df, fd["determinant"], fd["dependent"]) \
                .collect()[0]
            cap = float(fd.get("max_violating_frac", 0.0))
            results.append((row["check"],
                            float(row["violating_key_frac"]) <= cap,
                            int(row["n_violations"]),
                            float(row["violating_key_frac"])))

        for d in block.get("drift", []):
            by = d["by"]
            by_col = F.to_date(F.col(by[5:-1])) if by.startswith("days(") else F.col(by)
            col = d["column"]
            col_expr = F.expr(col) if "(" in col else F.col(col)
            if d.get("test") == "chi2":
                # project the (possibly expression-valued) column first:
                # chi2_by_partition takes a column NAME
                tagged = df.withColumn("__cat", col_expr)
                rows = [r for r in
                        chi2_by_partition(tagged, "__cat", by_col).collect()
                        if r["chi2"] is not None]
                if not rows:
                    # all-null column/partition: nothing to test -> pass
                    results.append((f"drift_chi2({col} by {by})", True, 0, 0.0))
                    continue
                worst = max(rows, key=lambda r: r["chi2"])
                # crude flag: chi2 beyond 5x the median partition
                med = sorted(r["chi2"] for r in rows)[len(rows) // 2]
                drifted = worst["chi2"] > 5 * max(med, 1e-9)
                results.append((f"drift_chi2({col} by {by})", not drifted,
                                int(drifted), float(worst["chi2"])))
            elif d.get("test") == "tdigest":
                # sketch path: rows fold into per-partition KLL sketches
                # before the shuffle; sketches are storable for
                # incremental cross-run drift (operators/tdigest.py)
                from json_schema_spark.operators.tdigest import (
                    digest_by_partition,
                    ks_by_partition_tdigest,
                )

                tagged = df.withColumn("__by", by_col).withColumn("__v", col_expr)
                ks_rows = ks_by_partition_tdigest(
                    digest_by_partition(tagged, "__v", "__by"))
                worst_ks = max((ks for _, _, ks in ks_rows if ks == ks),
                               default=0.0)  # ks==ks drops NaN (no rest)
                results.append((f"drift_tdigest({col} by {by})", worst_ks < 0.2,
                                int(worst_ks >= 0.2), float(worst_ks)))
            else:  # ks: every partition vs rest in one query (no driver loop)
                tagged = df.withColumn("__by", by_col).withColumn("__v", col_expr)
                rows = ks_by_partition(tagged, "__v", "__by", n_bins=256).collect()
                worst_ks = max((r["ks"] or 0.0) for r in rows) if rows else 0.0
                results.append((f"drift_ks({col} by {by})", worst_ks < 0.2,
                                int(worst_ks >= 0.2), float(worst_ks)))

        for d in block.get("dedup", []):
            from json_schema_spark.operators.dedup import (
                exact_duplicates,
                fingerprint_duplicates,
            )

            method = d.get("method", "exact")
            if method not in ("exact", "fingerprint", "incremental"):
                raise ValueError(
                    f"dataset dedup method {method!r} not supported "
                    "(exact | fingerprint | incremental)")
            id_col = d.get("id", "doc_id")
            if method == "incremental":
                # cross-snapshot dedup against the persistent ledger
                # (operators/incremental_dedup.py): spec carries the
                # ledger root + this run's snapshot ordinal; redo of a
                # snapshot is byte-idempotent, so a resumed/re-run
                # validation changes no verdict (the runner's own
                # checkpoint contract)
                import os as _os

                from json_schema_spark.operators.incremental_dedup import (
                    create_dedup_ledger,
                    incremental_dedup_snapshot,
                )

                root = d["ledger"]
                snap = int(d["snapshot"])
                if _os.path.exists(_os.path.join(root, "metadata")):
                    ledger = IceTable(self.spark, root)
                else:
                    # keep_id must take the id column's actual type
                    # (url ids are strings; a bigint ledger column
                    # would NULL them on scan-back)
                    ledger = create_dedup_ledger(
                        self.spark, root,
                        id_type=dict(df.dtypes)[id_col])
                st = incremental_dedup_snapshot(
                    df, ledger, id_col, d["column"], snap,
                    normalized=bool(d.get("normalized", False)),
                ).collect()[0]
                extra = st["n_dup_within"] + st["n_dup_history"]
                frac = (extra / st["n_rows"]) if st["n_rows"] else 0.0
                cap = float(d.get("max_dup_frac", 0.0))
                results.append((
                    f"dedup_incremental({d['column']}@snap{snap})",
                    frac <= cap, int(extra), float(frac),
                ))
                continue
            fn = fingerprint_duplicates if method == "fingerprint" else exact_duplicates
            groups = fn(df, id_col, d["column"])
            # extra copies beyond each group's survivor
            row = groups.agg(
                F.coalesce(F.sum(F.col("n_dups") - 1), F.lit(0)).alias("extra")
            ).collect()[0]
            n_total = df.where(F.col(d["column"]).isNotNull()).count()
            frac = (row["extra"] / n_total) if n_total else 0.0
            cap = float(d.get("max_dup_frac", 0.0))
            results.append((
                f"dedup_{method}({d['column']})", frac <= cap,
                int(row["extra"]), float(frac),
            ))

        for b in block.get("blocklist", []):
            # domain blocklist gate at the registrable-domain level
            # (operators/textstats.domain_blocklist_flag): inline
            # "domains" list or a dims-provided one-column table;
            # verdict in ONE fused aggregate over the broadcast join
            from json_schema_spark.operators.textstats import (
                domain_blocklist_flag,
            )

            url_col = b.get("column", "url")
            if "table" in b:
                blocked = (dims or {}).get(b["table"])
                if blocked is None:
                    raise ValueError(
                        f"blocklist table {b['table']!r} not provided")
                src = b["table"]
            else:
                blocked = local_frame(
                    self.spark, [(x,) for x in b["domains"]], "domain string")
                ds = sorted(b["domains"])
                src = ",".join(ds[:2]) + ("…" if len(ds) > 2 else "")
            agg = (
                domain_blocklist_flag(
                    df.where(F.col(url_col).isNotNull()).select(url_col),
                    url_col, blocked)
                .agg(
                    F.coalesce(
                        F.sum(F.col("blocked").cast("long")), F.lit(0)
                    ).alias("n_blocked"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
                .collect()[0]
            )
            frac = (agg["n_blocked"] / agg["n_rows"]) if agg["n_rows"] else 0.0
            cap = float(b.get("max_blocked_frac", 0.0))
            results.append((
                f"blocklist({url_col} vs {src})", frac <= cap,
                int(agg["n_blocked"]), float(frac),
            ))

        for q in block.get("quality", []):
            # per-row text-quality gate: a signal computed row-wise
            # (readability FRE band or within-doc duplicate-n-gram
            # fraction), a threshold, and a tolerated failing
            # fraction; verdict in ONE fused aggregate — the spec-side
            # face of the corpus-quality operator family
            signal = q.get("signal", "readability")
            col = q.get("column", "text")
            id_col = q.get("id", "doc_id")
            cap = float(q.get("max_fail_frac", 0.0))
            if signal == "readability":
                from json_schema_spark.operators.textstats import (
                    readability_profile,
                )

                lo, hi = q.get("min_fre"), q.get("max_fre")
                fail = F.lit(False)
                if lo is not None:
                    fail = fail | (F.col("fre") < F.lit(float(lo)))
                if hi is not None:
                    fail = fail | (F.col("fre") > F.lit(float(hi)))
                agg = (
                    readability_profile(df, id_col, col)
                    .where(F.col("fre").isNotNull())
                    .agg(F.coalesce(F.sum(fail.cast("long")), F.lit(0))
                         .alias("n_fail"),
                         F.count(F.lit(1)).alias("n_rows"))
                    .collect()[0]
                )
            elif signal == "repetition":
                from json_schema_spark.operators.quality import (
                    dup_ngram_frac,
                    tokens_df,
                )

                n = int(q.get("ngram", 2))
                thr = float(q.get("max_dup_ngram_frac", 0.5))
                toks = tokens_df(
                    df.where(F.col(col).isNotNull()), id_col, col)
                fail = dup_ngram_frac(F.col("__toks"), n) > thr
                agg = toks.agg(
                    F.coalesce(F.sum(fail.cast("long")), F.lit(0))
                    .alias("n_fail"),
                    F.count(F.lit(1)).alias("n_rows")).collect()[0]
            else:
                raise ValueError(
                    f"dataset quality signal {signal!r} not supported "
                    "(readability | repetition)")
            frac = (agg["n_fail"] / agg["n_rows"]) if agg["n_rows"] else 0.0
            results.append((f"quality_{signal}({col})", frac <= cap,
                            int(agg["n_fail"]), float(frac)))

        for nrm in block.get("normalized", []):
            # Unicode-normalization invariant: text must already be in
            # the given form (the precondition every hash-keyed
            # operator in this engine silently assumes; §1.1's
            # byte-identity contract is only well-defined modulo this)
            from json_schema_spark.operators.normalize import nfc_audit

            col = nrm.get("column", "text")
            id_col = nrm.get("id", "doc_id")
            form = nrm.get("form", "NFC")
            cap = float(nrm.get("max_changed_frac", 0.0))
            agg = (
                nfc_audit(df, id_col, col, form=form)
                .agg(F.coalesce(F.sum(F.col("changed").cast("long")),
                                F.lit(0)).alias("n_changed"),
                     F.count(F.lit(1)).alias("n_rows"))
                .collect()[0]
            )
            frac = (agg["n_changed"] / agg["n_rows"]) if agg["n_rows"] \
                else 0.0
            results.append((f"normalized_{form}({col})", frac <= cap,
                            int(agg["n_changed"]), float(frac)))

        return local_frame(
            self.spark, results,
            "check string, pass boolean, n_violations long, metric double",
        )

    # -- results ------------------------------------------------------------
    def verdicts(self) -> DataFrame:
        return self._verdict_table.scan()

    def violations(self) -> DataFrame:
        return IceTable(self.spark, os.path.join(self.results_dir,
                                                 "violations_ice")).scan()
