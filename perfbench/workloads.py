"""The benchmark's workloads: set-up, one timed operation, output checks
and per-layer metrics for each.

Each workload drives the public ``zoi_spark`` API over a seeded corpus
(see corpus.py) and loads some layers heavily and others not at all:

* validate_pages — per-row rule evaluation (compile, validate)
* table_checks   — shuffles and aggregations (tablechecks), no rules
* resume_run     — validation used for writes (runner)
* curate_dedup   — curation and near-dup removal (pipeline, text, dedup)
"""

from __future__ import annotations

import datetime as dt
import importlib
import os
import shutil
import statistics
from dataclasses import dataclass, field

import corpus as corpus_mod
import probe

PAGES_ROWS = 20_000
CURATE_ROWS = 2_000
# 8 partition-id buckets: 16 wrote twice the small files for the same
# rows, and each operation took ~20 % longer
RUNNER_PARTITIONS = 8
SALT_PARTITIONS = 8
PSI_THRESHOLD = 0.2
NEAR_DUP_THRESHOLD = 0.8
# near copies keep a shingle Jaccard >= 0.88 (corpus.py) and candidates
# are verified with exact Jaccard, so a near copy survives only when
# LSH (8 bands of 8 rows at this threshold) misses its pair: about 0.12
# of the 60 near copies of a 2k-page corpus, more than 3 on ~1e-5 seeds
NEAR_COPY_SLACK = 3


def page_schema():
    """The full per-row rule-set over the page columns."""
    import zoi_spark as z

    return z.fields({
        "row_id": z.integer().non_negative(),
        "url": z.url().max(corpus_mod.URL_MAX_CHARS),
        "warc_ts": z.datetime().gte(dt.datetime.fromtimestamp(
            corpus_mod.OLDEST_TS, dt.timezone.utc)),
        "html": z.any_(),
        "text": z.string(min=1, max=corpus_mod.TEXT_MAX_CHARS),
        "lang": z.string(min=2, max=2).one_of(corpus_mod.ALLOWED_LANGS),
    })


@dataclass
class Ctx:
    """Per-run state a workload builds in set-up and its operations use."""
    spark: object
    tracer: probe.Tracer
    corpus: corpus_mod.Corpus
    out: str                      # this workload's output directory
    df: object = None             # the registered input
    schema: object = None
    extra: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.out, name)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _span_median(tracer, name, op_prefix=""):
    return _median([s.seconds for s in tracer.select(name, op_prefix)])


def _jobs_per_op(tracer, names, op_prefix):
    """Median over traced operations of the jobs/tasks/failed tasks run
    inside spans named ``names``."""
    per_op: dict[str, probe.JobCounts] = {}
    for s in tracer.spans:
        if s.name in names and s.op.startswith(op_prefix):
            per_op.setdefault(s.op, probe.JobCounts()).__iadd__(s.jobs)
    ops = list(per_op.values())
    return (_median([c.jobs for c in ops]), _median([c.tasks for c in ops]),
            _median([c.failed_tasks for c in ops]))


def _register(ctx: Ctx) -> None:
    with ctx.tracer.span("io.register"):
        ctx.df = ctx.spark.read.parquet(ctx.corpus.path)


def _build_and_compile(ctx: Ctx) -> None:
    import zoi_spark as z

    with ctx.tracer.span("schema.build"):
        ctx.schema = page_schema()
    with ctx.tracer.span("compile.compile"):
        compiled = z.compile_schema(ctx.schema, ctx.df.schema)
    ctx.extra["rules"] = len(compiled.rules)
    ctx.extra["expr_nodes"] = (_expr_nodes(ctx.df, compiled.errors_col)
                               + _expr_nodes(ctx.df, compiled.parsed_col))
    with ctx.tracer.span("compile.plan"):
        res = z.validate(ctx.df, ctx.schema, id_cols=["row_id"])
        res.annotated._jdf.queryExecution().executedPlan()


def _expr_nodes(df, col) -> int:
    """Catalyst expression nodes of ``col``, resolved against ``df``."""
    plan = df.select(col.alias("__n"))._jdf.queryExecution().analyzed()
    return len(plan.expressions().apply(0).treeString().splitlines())


def _setup_metrics(tracer) -> dict:
    return {
        "schema.build_s": _span_median(tracer, "schema.build", "setup"),
        "compile.compile_s": _span_median(tracer, "compile.compile", "setup"),
        "compile.plan_s": _span_median(tracer, "compile.plan", "setup"),
    }


class Workload:
    name = ""
    rows = PAGES_ROWS
    writes: tuple[str, ...] = ()   # output dirs counted by write_amp
    warm_ops = 0                   # untimed operations after the cold one

    def setup(self, ctx: Ctx) -> None:
        _register(ctx)
        _build_and_compile(ctx)

    def prepare(self, ctx: Ctx) -> None:
        """Untimed, before each operation: start from empty outputs."""
        for d in self.writes:
            shutil.rmtree(ctx.path(d), ignore_errors=True)

    def op(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def check(self, ctx: Ctx, result: dict) -> list[str]:
        """Untimed, after each operation: what differs from the oracle."""
        raise NotImplementedError

    def output_bytes(self, ctx: Ctx) -> int:
        return probe.dir_bytes(*(ctx.path(d) for d in self.writes))

    def trace_wraps(self, ctx: Ctx, tracer: probe.Tracer) -> None:
        """Spans around the layer calls the operation makes indirectly."""
        # the package re-exports validate(), which hides the module name
        v = importlib.import_module("zoi_spark.validate")
        tracer.wrap(v, "compile_schema", "compile.compile_schema")

    def run_once_checks(self, ctx: Ctx) -> list[str]:
        """Untimed checks made once per run."""
        return []

    def probe(self, ctx: Ctx) -> list[str]:
        """Traced runs only, after the timed operations; returns what
        differs from the oracle."""
        return []

    def layer_metrics(self, ctx: Ctx, tracer: probe.Tracer,
                      last: dict) -> dict:
        raise NotImplementedError


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


class ValidatePages(Workload):
    """Read Parquet → validate → violations to Parquet → counts."""
    name = "validate_pages"
    writes = ("violations",)
    # short operations: without these the first timed ones still JIT
    warm_ops = 3

    def op(self, ctx):
        import zoi_spark as z

        t = ctx.tracer
        with t.span("validate.validate"):
            res = z.validate(ctx.df, ctx.schema, id_cols=["row_id"])
        with t.span("validate.violations"):
            res.violations.write.mode("overwrite").parquet(
                ctx.path("violations"))
        with t.span("validate.counts"):
            c = res.counts().collect()[0]
        return {"n_rows": c.n_rows, "n_valid": c.n_valid,
                "n_invalid": c.n_invalid}

    def check(self, ctx, result):
        o = ctx.corpus.oracle
        got = {r.rule_id: r["count"] for r in
               ctx.spark.read.parquet(ctx.path("violations"))
               .groupBy("rule_id").count().collect()}
        result["violation_rows"] = sum(got.values())
        want = {k: v for k, v in o["rule_counts"].items() if v}
        return (_diff("rule counts", got, want)
                + _diff("n_rows", result["n_rows"], o["rows"])
                + _diff("n_valid", result["n_valid"], o["n_valid"])
                + _diff("n_invalid", result["n_invalid"], o["n_invalid"]))

    def run_once_checks(self, ctx) -> list[str]:
        import zoi_spark as z
        from zoi_spark import runner

        res = z.validate(ctx.df, ctx.schema, id_cols=["row_id"])
        ok = runner.assert_byte_identity(ctx.df, res.annotated,
                                         "row_id", "text")
        return [] if ok else ["text is not byte-identical after validate"]

    def probe(self, ctx):
        """The annotated frame alone, into a sink that writes nothing;
        then the table checks and the runner's fresh, interrupted and
        resumed runs over the same input, which no timed workload runs
        (see TableChecks and ResumeRun)."""
        import zoi_spark as z

        for i in range(3):
            with ctx.tracer.op(f"probe#{i}", True):
                res = z.validate(ctx.df, ctx.schema, id_cols=["row_id"])
                with ctx.tracer.span("validate.annotate"):
                    (res.annotated.write.format("noop").mode("overwrite")
                     .save())
        WORKLOADS["table_checks"].plan(ctx)
        errs = []
        for name, times in (("table_checks", 3), ("resume_run", 2)):
            wl = WORKLOADS[name]
            for i in range(times):
                wl.prepare(ctx)
                with ctx.tracer.op(f"{name}#probe{i}", True):
                    result = wl.op(ctx)
                errs += wl.check(ctx, result)
            ctx.extra[name] = result
        return errs

    def layer_metrics(self, ctx, tracer, last):
        jobs, tasks, failed = _jobs_per_op(
            tracer, {"validate.violations", "validate.counts"}, self.name)
        return {
            **_setup_metrics(tracer),
            "compile.rules": ctx.extra["rules"],
            "compile.expr_nodes": ctx.extra["expr_nodes"],
            "validate.annotate_s": _span_median(tracer, "validate.annotate"),
            "validate.violations_s": _span_median(tracer,
                                                  "validate.violations"),
            "validate.counts_s": _span_median(tracer, "validate.counts"),
            "validate.violation_rows": last["violation_rows"],
            "validate.invalid_rows": last["n_invalid"],
            "validate.jobs": jobs, "validate.tasks": tasks,
            "validate.failed_tasks": failed,
            "validate.output_bytes": self.output_bytes(ctx),
            **WORKLOADS["table_checks"].layer_metrics(
                ctx, tracer, ctx.extra["table_checks"]),
            **WORKLOADS["resume_run"].layer_metrics(
                ctx, tracer, ctx.extra["resume_run"]),
            "self_s.tablechecks": tracer.self_times("table_checks").get(
                "tablechecks", 0.0),
            "self_s.runner": tracer.self_times("resume_run").get(
                "runner", 0.0),
        }


class TableChecks(Workload):
    """Salted url uniqueness, broadcast lang membership, fused column
    stats and PSI/KL drift — no rule expression is compiled.

    Not in BENCHMARK.json, for time (see README.md). The traced run of
    validate_pages runs its operation for the tablechecks metrics, and
    it still runs by name."""
    name = "table_checks"
    writes = ("duplicates", "referential")

    def setup(self, ctx):
        _register(ctx)
        self.plan(ctx)

    def plan(self, ctx):
        from zoi_spark import tablechecks as tc

        with ctx.tracer.span("tablechecks.plan"):
            ctx.extra["langs"] = ctx.spark.createDataFrame(
                [(c,) for c in corpus_mod.ALLOWED_LANGS], "lang string")
            lo, hi, buckets = corpus_mod.TEXT_LEN_BUCKETS
            ctx.extra["hist"] = tc.HistogramSpec("text", lo, hi, buckets,
                                                 length_of=True)

    def op(self, ctx):
        from zoi_spark import tablechecks as tc

        t, df, o = ctx.tracer, ctx.df, ctx.corpus.oracle
        with t.span("tablechecks.duplicates"):
            (tc.duplicates(df, "url", salt_partitions=SALT_PARTITIONS)
             .write.mode("overwrite").parquet(ctx.path("duplicates")))
        with t.span("tablechecks.referential"):
            (tc.referential_violations(df, "lang", ctx.extra["langs"])
             .write.mode("overwrite").parquet(ctx.path("referential")))
        with t.span("tablechecks.column_stats"):
            stats = tc.column_stats(df, histograms=[ctx.extra["hist"]]
                                    ).collect()[0].asDict()
        with t.span("tablechecks.drift"):
            current = [(r["bucket"], r["count"]) for r in
                       tc.stats_to_rows(stats, [ctx.extra["hist"]])]
            same = tc.check_drift([tuple(b) for b in o["text_len_hist"]],
                                  current, psi_threshold=PSI_THRESHOLD)
            drifted = tc.check_drift(
                [tuple(b) for b in o["drifted_text_len_hist"]], current,
                psi_threshold=PSI_THRESHOLD)
        return {"nulls": {c: stats[f"{c}__nulls"] for c in o["nulls"]},
                "psi_same": same["psi"], "psi_drifted": drifted["psi"],
                "drifted": drifted["drifted"]}

    def check(self, ctx, result):
        o, read = ctx.corpus.oracle, ctx.spark.read.parquet
        result["duplicate_keys"] = read(ctx.path("duplicates")).count()
        result["referential_rows"] = read(ctx.path("referential")).count()
        errs = (_diff("duplicate keys", result["duplicate_keys"],
                      o["duplicate_keys"])
                + _diff("referential rows", result["referential_rows"],
                        o["referential_rows"])
                + _diff("null counts", result["nulls"], o["nulls"]))
        if not result["psi_same"] < 1e-6:
            errs.append(f"PSI vs same-seed baseline {result['psi_same']}")
        if not result["drifted"]:
            errs.append(f"PSI vs drifted baseline {result['psi_drifted']} "
                        f"not above {PSI_THRESHOLD}")
        return errs

    def layer_metrics(self, ctx, tracer, last):
        names = ("duplicates", "referential", "column_stats", "drift")
        jobs, tasks, _ = _jobs_per_op(
            tracer, {f"tablechecks.{n}" for n in names}, self.name)
        return {
            **{f"tablechecks.{n}_s": _span_median(tracer, f"tablechecks.{n}")
               for n in names},
            "tablechecks.duplicate_keys": last["duplicate_keys"],
            "tablechecks.referential_rows": last["referential_rows"],
            "tablechecks.jobs": jobs, "tablechecks.tasks": tasks,
        }


class ResumeRun(Workload):
    """A fresh ValidationRunner run, then an interrupted run (half of the
    partition ids) resumed over the full input.

    Not in BENCHMARK.json, for time and steadiness (see README.md). The
    traced run of validate_pages runs its operation for the runner
    metrics, and it still runs by name."""
    name = "resume_run"
    writes = ("fresh_manifest", "fresh_violations",
              "resume_manifest", "resume_violations")

    def _runner(self, ctx, kind):
        from zoi_spark.runner import ValidationRunner

        return ValidationRunner(
            ctx.spark, ctx.schema, id_col="row_id",
            n_partitions=RUNNER_PARTITIONS,
            manifest_dir=ctx.path(f"{kind}_manifest"),
            violations_dir=ctx.path(f"{kind}_violations"),
            input_lineage=os.path.basename(ctx.corpus.path))

    def op(self, ctx):
        from pyspark.sql import functions as F
        from zoi_spark.runner import partition_id

        t = ctx.tracer
        with t.span("runner.fresh"):
            fresh = self._runner(ctx, "fresh").run(ctx.df, "fresh")
        # the interruption is by partition id: a row filter would leave
        # every partition partly done and marked complete
        resumer = self._runner(ctx, "resume")
        first_half = ctx.df.where(
            partition_id(F.col("row_id"), RUNNER_PARTITIONS)
            < RUNNER_PARTITIONS // 2)
        with t.span("runner.partial"):
            resumer.run(first_half, "resumed")
        with t.span("runner.resume"):
            resumed = resumer.run(ctx.df, "resumed")
        return {"fresh": fresh, "resumed": resumed}

    def check(self, ctx, result):
        o = ctx.corpus.oracle
        f, r = result["fresh"], result["resumed"]
        read = ctx.spark.read.parquet
        result["violation_rows"] = read(ctx.path("resume_violations")).count()
        errs = []
        for k in ("n_rows", "n_valid", "n_invalid", "n_violations"):
            errs += _diff(f"resumed {k}", getattr(r, k), getattr(f, k))
        errs += _diff("fresh n_valid", f.n_valid, o["n_valid"])
        errs += _diff("fresh n_violations", f.n_violations, o["n_violations"])
        errs += _diff("skipped", r.n_partitions_skipped,
                      RUNNER_PARTITIONS // 2)
        # the interrupted run wrote the manifest rows of the first half of
        # the partition ids, the resume those of the other half, and no
        # partition id was written twice (one finished_at per write)
        writes: dict = {}
        for row in (read(ctx.path("resume_manifest"))
                    .where("run_id = 'resumed'")
                    .select("finished_at", "partition_id").collect()):
            writes.setdefault(row.finished_at, []).append(row.partition_id)
        half = RUNNER_PARTITIONS // 2
        errs += _diff("manifest partition ids per write",
                      [sorted(writes[k]) for k in sorted(writes)],
                      [list(range(half)), list(range(half, 2 * half))])
        errs += _diff("violation rows", result["violation_rows"],
                      read(ctx.path("fresh_violations")).count())
        return errs

    def layer_metrics(self, ctx, tracer, last):
        r = last["resumed"]
        jobs, _, _ = _jobs_per_op(tracer, {"runner.fresh"}, self.name)
        return {
            **_setup_metrics(tracer),
            "compile.rules": ctx.extra["rules"],
            "compile.expr_nodes": ctx.extra["expr_nodes"],
            "runner.fresh_s": _span_median(tracer, "runner.fresh"),
            "runner.partial_s": _span_median(tracer, "runner.partial"),
            "runner.resume_s": _span_median(tracer, "runner.resume"),
            "runner.partitions_skipped": r.n_partitions_skipped,
            "runner.skip_ratio": r.n_partitions_skipped / r.n_partitions_total,
            "runner.jobs": jobs,
            "runner.violations_bytes": probe.dir_bytes(
                ctx.path("fresh_violations"), ctx.path("resume_violations")),
            "runner.manifest_bytes": probe.dir_bytes(
                ctx.path("fresh_manifest"), ctx.path("resume_manifest")),
        }


class CurateDedup(Workload):
    """pipeline.curate (validate → quality gate → exact dedup → MinHash
    LSH → connected components), kept corpus written to Parquet, stage
    ledger counted from it."""
    name = "curate_dedup"
    rows = CURATE_ROWS
    writes = ("kept",)
    # the second operation of a process still ran ~25 % slower than the
    # sixth, and it was the one timed sample of a run
    warm_ops = 1

    def op(self, ctx):
        from zoi_spark import pipeline

        t = ctx.tracer
        with t.span("pipeline.curate"):
            res = pipeline.curate(ctx.df, ctx.schema, id_col="row_id",
                                  approx_rows=self.rows,
                                  near_dup_threshold=NEAR_DUP_THRESHOLD)
        with t.span("pipeline.write_kept"):
            res.kept.write.mode("overwrite").parquet(ctx.path("kept"))
        with t.span("pipeline.report"):
            ledger = res.report(ctx.spark.read.parquet(ctx.path("kept")))
        res.release()
        return {"ledger": ledger, "converged": res.converged}

    def check(self, ctx, result):
        o, led = ctx.corpus.oracle, result["ledger"]
        first = ctx.extra.setdefault("kept", led["near_dedup"])
        errs = (_diff("converged", result["converged"], True)
                + _diff("valid rows", led["valid"], o["n_valid"])
                + _diff("exact copies removed",
                        led["quality"] - led["exact_dedup"], o["exact_copies"])
                + _diff("kept rows vs first operation", led["near_dedup"],
                        first))
        near = led["exact_dedup"] - led["near_dedup"]
        if abs(near - o["near_copies"]) > NEAR_COPY_SLACK:
            errs.append(f"near copies removed: got {near}, want "
                        f"{o['near_copies']} ± {NEAR_COPY_SLACK}")
        return errs

    def trace_wraps(self, ctx, tracer):
        from zoi_spark import dedup, pipeline, text

        super().trace_wraps(ctx, tracer)
        tracer.wrap(pipeline, "validate", "validate.validate")
        tracer.wrap(text, "quality_score", "text.quality_score")
        for fn in ("exact_dedup", "minhash_dedup_pairs", "duplicate_clusters"):
            tracer.wrap(dedup, fn, f"dedup.{fn}")

    def probe(self, ctx):
        """Each curation stage materialized on its own, from a cached
        input, so every layer gets a time of its own."""
        import zoi_spark as z
        from pyspark.sql import functions as F
        from zoi_spark import dedup, text

        t, extra = ctx.tracer, ctx.extra
        bands = dedup.suggest_minhash_bands(num_hashes=64,
                                            threshold=NEAR_DUP_THRESHOLD)
        lsh = dict(id_col="row_id", text_col="text", bands=bands,
                   max_bucket_size=dedup.suggest_max_bucket_size(self.rows))
        cached = []

        def keep(df):
            cached.append(df.persist())
            return cached[-1]

        with t.op("probe", True):
            with t.span("validate.valid_rows"):
                valid = keep(z.validate(ctx.df, ctx.schema, ["row_id"])
                             .valid_rows)
                valid.count()
            with t.span("text.quality"):
                valid.where(text.quality_score(F.col("text")) >= 0.0).count()
            with t.span("dedup.exact"):
                exact = keep(dedup.exact_dedup(valid, "text", "row_id"))
                exact.count()
            with t.span("dedup.candidates"):
                cands = dedup.minhash_lsh_candidates(exact, **lsh)
                extra["candidate_pairs"] = cands.count()
                dedup.unpersist_candidates(cands)
            with t.span("dedup.minhash_pairs"):
                pairs = dedup.minhash_dedup_pairs(
                    exact, threshold=NEAR_DUP_THRESHOLD, **lsh)
                verified = keep(pairs)
                extra["verified_pairs"] = verified.count()
                dedup.unpersist_candidates(pairs)
            with t.span("dedup.clusters"):
                dedup.duplicate_clusters(
                    verified, max_iters=dedup.suggest_cluster_iters(
                        self.rows)).count()
        for df in cached:
            df.unpersist()
        return []

    def layer_metrics(self, ctx, tracer, last):
        led, extra = last["ledger"], ctx.extra
        cands = extra["candidate_pairs"]
        return {
            **_setup_metrics(tracer),
            "compile.rules": extra["rules"],
            "compile.expr_nodes": extra["expr_nodes"],
            "pipeline.curate_s": _span_median(tracer, "op.curate_dedup"),
            **{f"pipeline.rows.{k}": led[k]
               for k in ("valid", "quality", "exact_dedup", "near_dedup")},
            "text.quality_s": _span_median(tracer, "text.quality", "probe"),
            "dedup.exact_dedup_s": _span_median(tracer, "dedup.exact",
                                                "probe"),
            "dedup.minhash_pairs_s": _span_median(
                tracer, "dedup.minhash_pairs", "probe"),
            "dedup.candidate_pairs": cands,
            "dedup.verified_pairs": extra["verified_pairs"],
            "dedup.verify_ratio": (extra["verified_pairs"] / cands
                                   if cands else 0.0),
            "dedup.clusters_s": _span_median(tracer, "dedup.clusters",
                                             "probe"),
        }


WORKLOADS = {w.name: w for w in (ValidatePages(), TableChecks(), ResumeRun(),
                                 CurateDedup())}
