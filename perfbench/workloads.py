"""The benchmark workloads.

A workload is a list of parts; each part drives one group of the
engine's layers through their public functions and has these steps:

* ``prepare`` (untimed): build the seeded corpus under the run's work
  directory and derive the expected outputs;
* ``setup`` (timed into ``setup_s``): load the corpus and compile the
  spec;
* ``warmup`` (timed into ``setup_s``): a pass over a small slice of the
  corpus;
* ``op``: one measured operation, whose outputs are checked;
* ``breakdown`` (traced runs only): extra calls that split the op into
  the layers it runs through.

The workload's op runs every part's op in turn; its time is the time of
the calls into the engine, not of the checks. Every call into a layer
runs inside a span named after the layer.

* ``scan``: typed keywords over 1M webpages, then 100k JSON strings via
  VARIANT and the Arrow UDF; data-proportional passes.
* ``checks``: the spec's dataset block over 100k webpages (shuffles and
  aggregates), then a checkpointed runner over an IceTable (small jobs
  and commits).
"""

from __future__ import annotations

import math
import os
import shutil
from collections import defaultdict
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import corpora

N_DAYS = 8  # warc_day partitions of synth_webpages
CHECKS_DOCS = 100_000  # the webpage corpus the checks parts share


@dataclass
class OpResult:
    docs: int          # corpus documents the op validated
    seconds: float     # time those documents took
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def first_days(df, n: int):
    """The rows of the first n warc_day partitions. The filter prunes
    files and leaves the plan's generated code as it is for ``df``."""
    first = F.lit("2024-03-01").cast("date")
    return df.where(F.col("warc_day") < F.date_add(first, n))


def _link_copies(src: str, dst: str, copies: int) -> None:
    """A parquet table at ``dst`` that holds every data file of ``src``
    ``copies`` times, as hard links: the rows repeat, nothing is written."""
    for root, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(out, exist_ok=True)
        for name in files:
            if name.endswith(".parquet"):
                for i in range(copies):
                    os.link(os.path.join(root, name), os.path.join(out, f"copy{i}-{name}"))


def _plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total_ms += p.get().durationMs()
    return total_ms / 1000.0


class Part:
    name = ""

    def __init__(self, work: str, seed: int, nproc: int, tracer, samples):
        self.work, self.seed, self.nproc, self.tr = work, seed, nproc, tracer
        # per-layer values measured inside ops, reported as medians
        self.samples: dict[str, list[float]] = samples

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark) -> OpResult:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """An unchecked pass over a small slice whose plans are the op's,
        so that code generation, the JIT and the Python workers are warm
        when the op is timed."""
        self._pass(self.warm_df)

    def breakdown(self, spark) -> None:
        pass

    def _write_webpages(self, spark, n_docs: int, name: str) -> None:
        """Written once per run; parts of one workload share it."""
        from json_schema_spark.sources.tables import synth_webpages

        if os.path.exists(self.path(name)):
            return
        with self.tr.span("tables.synth"):
            (synth_webpages(spark, n_docs, seed=self.seed, partitions=self.nproc)
             .repartition("warc_day")
             .write.partitionBy("warc_day").parquet(self.path(name)))


class TypedScan(Part):
    """compile_spec once; each op is a verdict pass and a violation count.

    The corpus is SYNTH_DOCS generated webpages, each data file linked
    COPIES times: the keywords are per-row, so repeated rows cost what
    new ones would, and the corpus takes a fraction of the time to build."""

    name = "typed_scan"
    SYNTH_DOCS = 125_000
    COPIES = 8
    N_DOCS = SYNTH_DOCS * COPIES

    def prepare(self, spark):
        self._write_webpages(spark, self.SYNTH_DOCS, "webpages_synth")
        once = corpora.typed_expected(spark.read.parquet(self.path("webpages_synth")),
                                      self.SYNTH_DOCS)
        self.expected = {k: v * self.COPIES for k, v in once.items()}
        _link_copies(self.path("webpages_synth"), self.path("webpages"), self.COPIES)

    def setup(self, spark):
        from json_schema_spark import compile_spec

        self.df = spark.read.parquet(self.path("webpages"))
        self.warm_df = first_days(self.df, 1)
        with self.tr.span("compiler.compile"):
            self.compiled = compile_spec(corpora.WEB_SPEC, self.df)
        self.samples["compiler.checks"].append(len(self.compiled.checks))

    def _pass(self, df):
        from json_schema_spark import verdict_df, violations_df

        with self.tr.span("compiler.verdict"):
            vdf = verdict_df(df, self.compiled)
            rows = vdf.collect()
        with self.tr.span("compiler.violations"):
            n_viol = violations_df(df, self.compiled, id_cols=["url"]).count()
        return vdf, rows, n_viol

    def op(self, spark):
        spans = len(self.tr.spans)
        vdf, rows, n_viol = self._pass(self.df)
        t = sum(s["end"] - s["start"] for s in self.tr.spans[spans:])
        res = OpResult(self.N_DOCS, t)
        self.samples["typed.docs_per_s"].append(self.N_DOCS / t)
        got = {(r["column"], r["keyword"]): r["n_violations"] for r in rows}
        res.check(got == self.expected, f"typed verdicts {got} != {self.expected}")
        res.check(all(r["n_rows"] == self.N_DOCS for r in rows), "typed n_rows")
        res.check(n_viol == sum(self.expected.values()), f"violation rows {n_viol}")
        if self.tr.enabled:
            self.samples["compiler.plan_s"].append(_plan_seconds(vdf))
        return res


class JsonDynamic(Part):
    """One JSON-string corpus validated on the JVM (VARIANT) and in the
    Arrow pandas UDF; the two paths must agree row for row."""

    name = "json_dynamic"
    N_DOCS = 100_000

    def prepare(self, spark):
        with self.tr.span("tables.synth"):
            for name, n in (("json", self.N_DOCS), ("json_warm", self.N_DOCS // N_DAYS)):
                (corpora.synth_json(spark, n, self.seed, self.nproc)
                 .write.parquet(self.path(name)))
        self.expected_invalid = corpora.json_expected_invalid(self.N_DOCS, self.seed)

    def setup(self, spark):
        from json_schema_spark.compiler_variant import variant_compiled_spec
        from json_schema_spark.pyvalidator import validate_json_udf

        self.df = spark.read.parquet(self.path("json"))
        self.warm_df = spark.read.parquet(self.path("json_warm"))
        with self.tr.span("compiler_variant.compile"):
            n_checks = len(variant_compiled_spec("doc", corpora.JSON_SCHEMA).checks)
        self.samples["compiler_variant.checks"].append(n_checks)
        self.udf = validate_json_udf(corpora.JSON_SCHEMA)

    def _pass(self, df):
        from json_schema_spark.compiler_variant import (
            variant_verdict_df,
            variant_violations_df,
        )

        with self.tr.span("compiler_variant.verdict"):
            verdicts = variant_verdict_df(df, "doc", corpora.JSON_SCHEMA).collect()
        with self.tr.span("compiler_variant.violations"):
            per_doc = (variant_violations_df(df, "doc", corpora.JSON_SCHEMA,
                                             id_cols=["doc_id"])
                       .groupBy("doc_id").count())
            variant = per_doc.agg(
                F.count(F.lit(1)).alias("docs"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("rows"),
                F.bit_xor(F.xxhash64("doc_id")).alias("fp")).collect()[0]
        with self.tr.span("pyvalidator.validate"):
            udf = (df.select("doc_id", self.udf(F.col("doc")).alias("r"))
                   .where(~F.col("r.valid"))
                   .agg(F.count(F.lit(1)).alias("docs"),
                        F.bit_xor(F.xxhash64("doc_id")).alias("fp")).collect()[0])
        return verdicts, variant, udf

    def op(self, spark):
        spans = len(self.tr.spans)
        verdicts, variant, udf = self._pass(self.df)
        took = {s["name"]: s["end"] - s["start"] for s in self.tr.spans[spans:]}
        t_variant = took["compiler_variant.verdict"] + took["compiler_variant.violations"]
        self.samples["json_variant.docs_per_s"].append(self.N_DOCS / t_variant)
        self.samples["json_udf.docs_per_s"].append(self.N_DOCS / took["pyvalidator.validate"])
        res = OpResult(self.N_DOCS, sum(took.values()))
        res.check(all(r["n_rows"] == self.N_DOCS for r in verdicts), "variant n_rows")
        res.check(sum(r["n_violations"] for r in verdicts) == variant["rows"],
                  "variant verdict counts != violation rows")
        res.check(variant["docs"] == self.expected_invalid,
                  f"variant invalid docs {variant['docs']} != {self.expected_invalid}")
        res.check((udf["docs"], udf["fp"]) == (variant["docs"], variant["fp"]),
                  "udf and variant verdicts disagree")
        return res

    def breakdown(self, spark):
        from json_schema_spark.compiler_variant import with_parsed_variant

        # The parse floor: try_parse_json alone bounds any VARIANT gain.
        for _ in range(2):
            with self.tr.span("compiler_variant.parse_floor"):
                with_parsed_variant(self.df, "doc").agg(
                    F.count(F.col("__variant_parsed"))).collect()


class DatasetChecks(Part):
    """The spec's dataset block plus column stats and a cardinality profile."""

    name = "dataset_checks"
    N_DOCS = CHECKS_DOCS

    def prepare(self, spark):
        self._write_webpages(spark, self.N_DOCS, "webpages")
        self.expected = corpora.dataset_expected(spark.read.parquet(self.path("webpages")))

    def setup(self, spark):
        from json_schema_spark.plans.runner import ValidationRunner
        from json_schema_spark.sources.tables import lang_dim

        self.df = spark.read.parquet(self.path("webpages"))
        self.warm_df = first_days(self.df, 2)  # drift needs two days
        self.dims = {"lang_dim": lang_dim(spark)}
        self.runner = ValidationRunner(spark, corpora.DATASET_SPEC,
                                       self.path("results"), run_id="ds")

    def _pass(self, df):
        from json_schema_spark.operators.stats import cardinality_profile, column_stats

        with self.tr.span("runner.dataset_checks"):
            rows = self.runner.run_dataset_checks(df, dims=self.dims).collect()
        with self.tr.span("operators.stats.column_stats"):
            stats = column_stats(df, columns=["url", "text", "lang", "warc_ts"]).collect()
        with self.tr.span("operators.stats.cardinality"):
            card = cardinality_profile(df, ["url", "lang", "warc_day"]).collect()
        return rows, stats, card

    def op(self, spark):
        spans = len(self.tr.spans)
        rows, stats, card = self._pass(self.df)
        t = sum(s["end"] - s["start"] for s in self.tr.spans[spans:])
        res = OpResult(self.N_DOCS, t)
        self.samples["dataset.docs_per_s"].append(self.N_DOCS / t)
        got = {r["check"]: (r["pass"], r["n_violations"], r["metric"]) for r in rows}
        for check, want in self.expected.items():
            have = got.get(check)
            res.check(have is not None and have[:2] == want[:2]
                      and math.isclose(have[2], want[2], rel_tol=1e-9),
                      f"{check}: {have} != {want}")
        chi2 = got.get("drift_chi2(lang by warc_day)")
        ks = got.get("drift_ks(char_length(text) by warc_day)")
        tdg = got.get("drift_tdigest(char_length(text) by warc_day)")
        # the planted drift day fails chi2; text lengths share one generator
        res.check(chi2 is not None and chi2[0] is False, f"chi2 {chi2}")
        res.check(ks is not None and ks[0] is True, f"ks {ks}")
        res.check(tdg is not None and tdg[0] is True and ks is not None
                  and abs(tdg[2] - ks[2]) < 0.05, f"tdigest {tdg} vs ks {ks}")
        res.check(len(rows) == len(self.expected) + 3, f"{len(rows)} dataset rows")
        n_distinct = {r["col_name"]: r["n_distinct"] for r in card}
        n_urls = self.N_DOCS - self.expected["unique(url)"][1] + int(self.expected["unique(url)"][2])
        res.check(stats[0]["n_rows"] == self.N_DOCS and n_distinct.get("url") == n_urls
                  and n_distinct.get("warc_day") == N_DAYS, "stats/cardinality")
        return res

    def breakdown(self, spark):
        """Each operator's public function, with the arguments
        run_dataset_checks passes it."""
        from json_schema_spark.operators.dedup import exact_duplicates
        from json_schema_spark.operators.drift import chi2_by_partition, ks_by_partition
        from json_schema_spark.operators.referential import fd_verdict, referential_verdict
        from json_schema_spark.operators.tdigest import (
            digest_by_partition,
            ks_by_partition_tdigest,
        )
        from json_schema_spark.operators.unique import uniqueness_verdict

        df, by = self.df, F.col("warc_day")
        tagged = df.withColumn("__by", by).withColumn("__v", F.expr("char_length(text)"))
        with self.tr.span("operators.unique.verdict"):
            uniqueness_verdict(df, ["url"]).collect()
        with self.tr.span("operators.referential.verdict"):
            referential_verdict(df, self.dims["lang_dim"], "lang", "lang_code").collect()
        with self.tr.span("operators.referential.fd"):
            fd_verdict(df, "url", "lang").collect()
        with self.tr.span("operators.drift.chi2"):
            chi2_by_partition(df.withColumn("__cat", F.col("lang")), "__cat", by).collect()
        with self.tr.span("operators.drift.ks"):
            ks_by_partition(tagged, "__v", "__by", n_bins=256).collect()
        with self.tr.span("operators.tdigest.digest"):
            ks_by_partition_tdigest(digest_by_partition(tagged, "__v", "__by"))
        with self.tr.span("operators.dedup.exact"):
            exact_duplicates(df, "url", "text").agg(
                F.sum(F.col("n_dups") - 1)).collect()
            df.where(F.col("text").isNotNull()).count()


class RunnerIncremental(Part):
    """ValidationRunner (default arguments, verdicts in an IceTable) over
    an IceTable source, in two steps:

    1. a full run over every warc_day partition of the base snapshot,
       interrupted after INTERRUPT_AFTER partitions (``max_partitions``)
       and resumed: two ``run_snapshot_increment`` calls, which drive
       ``run()`` and leave the snapshot watermark the increments need;
    2. K appended snapshots, each followed by ``run_snapshot_increment``.

    This is the write path: a handful of small jobs and an IceTable
    commit per partition, so per-job overhead, not data size, sets its
    time. The source keeps the first N_PARTS warc_day partitions of the
    corpus, so that the ~50 jobs and ~10 commits of a cycle fit in a run."""

    name = "runner_incremental"
    N_PARTS = 2
    K = 2             # appended snapshots
    INTERRUPT_AFTER = 1

    def _frames(self, spark):
        """(base, [appended snapshot k]): snapshot k holds the rows of day
        k % N_PARTS whose url hash falls in bucket k; the base holds the
        rows of buckets >= K."""
        first = F.lit("2024-03-01").cast("date")
        df = first_days(spark.read.parquet(self.path("webpages")), self.N_PARTS)
        bucket = F.pmod(F.xxhash64("url"), F.lit(N_DAYS))
        late = [df.where((bucket == k) & (F.col("warc_day") == F.date_add(first, k % self.N_PARTS)))
                for k in range(self.K)]
        return df.where(bucket >= self.K), late

    def prepare(self, spark):
        from json_schema_spark import compile_spec, verdict_df

        self._write_webpages(spark, CHECKS_DOCS, "webpages")
        base, late = self._frames(spark)
        self.ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                             for f in base.schema.fields)
        # one-shot verdicts of every snapshot a cycle commits, in one job
        compiled = compile_spec(corpora.WEB_SPEC, base)
        snaps = [base.withColumn("__snap", F.lit(0))]
        for k in range(1, self.K + 1):
            snaps.append(late[k - 1].withColumn("__snap", F.lit(k)))
        # snapshot k holds the base and appends 0..k-1: tag each row with
        # every snapshot that holds it
        tagged = reduce(DataFrame.unionByName, snaps).withColumn(
            "__snap", F.explode(F.sequence(F.col("__snap"), F.lit(self.K))))
        key = F.concat_ws("|", F.col("__snap").cast("string"),
                          F.col("warc_day").cast("string"))
        self.expected = [[] for _ in range(self.K + 1)]
        for r in verdict_df(tagged.withColumn("__key", key), compiled,
                            partition_col="__key").collect():
            snap, day = r["partition"].split("|")
            self.expected[int(snap)].append(
                (day, f"{r['column']}/{r['keyword']}", r["pass"], r["n_rows"],
                 r["n_violations"]))
        for e in self.expected:
            e.sort()
        # an op validates the base, then the whole current content of
        # the day each appended snapshot touches
        self.days = sorted({v[0] for v in self.expected[0]})
        rows = [{day: n for day, _check, _ok, n, _v in e} for e in self.expected]
        self.n_base = sum(rows[0].values())
        self.n_docs = self.n_base + sum(rows[k + 1][self.days[k % self.N_PARTS]]
                                        for k in range(self.K))
        self.cycles = 0

    def setup(self, spark):
        from json_schema_spark import compile_spec

        self.base, self.late = self._frames(spark)
        with self.tr.span("compiler.compile"):
            self.samples["compiler.checks"].append(
                len(compile_spec(corpora.WEB_SPEC, self.base).checks))

    def _source(self, spark, df, name: str):
        from json_schema_spark.sources.icetable import IceTable

        src = IceTable.create(spark, self.path(name, "source"), self.ddl, ["warc_day"])
        src.append(df)
        return src

    @staticmethod
    def _verdicts(runner) -> list[tuple]:
        return sorted((r["partition"], r["check"], r["pass"], r["n_rows"], r["n_violations"])
                      for r in runner.verdicts().collect())

    def warmup(self, spark):
        """None: the cycle is a string of small jobs, and a warm-up cycle
        did not make the next one faster."""

    def op(self, spark):
        """Steps 1 and 2 over a new IceTable source; the verdicts are
        checked after every step."""
        from json_schema_spark.plans.runner import ValidationRunner

        self.cycles += 1
        name = f"cycle{self.cycles}"
        res = OpResult(self.n_docs, 0.0)
        spans = len(self.tr.spans)
        try:
            with self.tr.span("icetable.load_base"):
                src = self._source(spark, self.base, name)
            runner = ValidationRunner(spark, corpora.WEB_SPEC, self.path(name, "results"),
                                      use_icetable=True)
            with self.tr.span("runner.interrupted"):
                first = runner.run_snapshot_increment(src, max_partitions=self.INTERRUPT_AFTER)
            with self.tr.span("runner.resume"):
                rest = runner.run_snapshot_increment(src)
            res.check(len(first["partitions"]) == self.INTERRUPT_AFTER
                      and sorted(first["partitions"] + rest["partitions"]) == self.days
                      and self._verdicts(runner) == self.expected[0], "resumed run verdicts")
            results_bytes = _dir_bytes(self.path(name, "results"))
            source_bytes = _dir_bytes(os.path.join(src.root, "data"))

            for k, df in enumerate(self.late):
                with self.tr.span("icetable.append"):
                    src.append(df)
                with self.tr.span("runner.increment"):
                    out = runner.run_snapshot_increment(src)
                res.check(len(out["partitions"]) == 1
                          and self._verdicts(runner) == self.expected[k + 1],
                          f"verdicts after increment {k + 1}")

            took = defaultdict(float)
            for s in self.tr.spans[spans:]:
                took[s["name"]] += s["end"] - s["start"]
            res.seconds = sum(took.values())
            run_s = took["runner.interrupted"] + took["runner.resume"]
            self.samples["runner.run_s"].append(run_s)
            self.samples["runner.docs_per_s"].append(self.n_base / run_s)
            self.samples["runner.write_amp"].append(results_bytes / source_bytes)
            tables = [src, runner._verdict_table]
            self.samples["icetable.commits"].append(sum(len(t.snapshots()) for t in tables))
            self.samples["icetable.bytes_written"].append(sum(_dir_bytes(t.root) for t in tables))
            return res
        finally:
            shutil.rmtree(self.path(name), ignore_errors=True)

    def breakdown(self, spark):
        """The incremental read on its own: the rows each appended
        snapshot adds."""
        src = self._source(spark, self.base, "breakdown")
        try:
            for late in self.late:
                prev = src.snapshots()[-1]["id"]
                src.append(late)
                with self.tr.span("icetable.scan_added_since"):
                    src.scan_added_since(prev).count()
        finally:
            shutil.rmtree(self.path("breakdown"), ignore_errors=True)


class Workload:
    """Parts run in order in one session; an op's documents and seconds
    are the sums of its parts'."""

    name = ""
    PARTS: tuple[type[Part], ...] = ()

    def __init__(self, work: str, seed: int, nproc: int, tracer):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.parts = [p(work, seed, nproc, tracer, self.samples) for p in self.PARTS]

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def warmup(self, spark) -> None:
        for p in self.parts:
            p.warmup(spark)

    def op(self, spark) -> OpResult:
        res = OpResult(0, 0.0)
        for p in self.parts:
            r = p.op(spark)
            res.docs += r.docs
            res.seconds += r.seconds
            res.attempted += r.attempted
            res.failed += r.failed
            res.notes += r.notes
        return res

    def breakdown(self, spark) -> None:
        for p in self.parts:
            p.breakdown(spark)


class Scan(Workload):
    name = "scan"
    PARTS = (TypedScan, JsonDynamic)


class Checks(Workload):
    name = "checks"
    PARTS = (DatasetChecks, RunnerIncremental)


WORKLOADS = {w.name: w for w in (Scan, Checks)}
