"""The workloads.  Each owns its inputs (made from the seed in
``setup``), the timed calls through public entry points of
``fences_spark``, the checks of those calls' outputs, and the layer
probes of the traced run."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs, oracle
from perfbench.trace import JobGroup, call_s, noop_s

# Sizes are small: most of a run goes to the JVM start and the cold
# warm-up pass, and 22 runs per workload have to fit in under an hour
# on a 4-core host.  At these sizes per-call fixed costs dominate.
BASE_ROWS = 2_000
APPEND_ROWS = 2_000
CORPUS_DOCS = 2_000
N_BUCKETS = 64
QUALITY_MIN_PCT = 0.1
N_SHARDS = 8


@dataclass
class Op:
    """One timed call and what its check needs."""

    rows: int
    wall_s: float
    out_dir: str
    entry: str  # job group of the call in the event log
    # from the commit of the input until its verdicts are written;
    # None for a call that validates an input committed in set-up
    verdict_s: float | None = None
    oracle: object = None  # what the call's outputs are checked against
    info: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.con = oracle.connect(work)
        self.appends: list[float] = []
        self.ops = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def commit(self, stage: str, table: str) -> str:
        """Commit a staged parquet input as a snaplog snapshot."""
        from fences_spark.sources import snaplog

        t = time.perf_counter()
        snap = snaplog.append(self.spark, table, self.spark.read.parquet(stage))
        self.appends.append(time.perf_counter() - t)
        return snap

    def setup(self) -> None:
        """Make and commit the inputs, then one full-size warm-up pass."""
        raise NotImplementedError

    def round(self) -> list[Op]:
        """One round of timed calls; a run makes whole rounds."""
        raise NotImplementedError

    def traced_round(self) -> list[Op]:
        """The round of the traced run: the same calls, and any call
        whose layers the event-log digest needs besides."""
        return self.round()

    def check(self, op: Op) -> None:
        raise NotImplementedError

    def probes(self, ops: list[Op]) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# files table: snapshot appends, each validated by run_incremental
# ---------------------------------------------------------------------------

# The JSON rules: one variant-tier rule and three Arrow-tier rules
# (deep-equality uniqueItems; unevaluatedProperties beside an in-place
# allOf; the $dynamicRef strict tree of the entry-query suite).
JSON_RULES = {
    "order_shape": ("doc", {
        "type": "object", "required": ["id", "items"],
        "properties": {
            "id": {"type": "integer", "minimum": 1},
            "items": {"type": "array", "minItems": 1, "items": {
                "type": "object", "required": ["sku", "qty"],
                "properties": {"sku": {"type": "string", "pattern": "^[A-Z]{3}-[0-9]{4}$"},
                               "qty": {"type": "integer", "minimum": 1}}}},
        },
    }),
    "tags_unique": ("doc", {"type": "object", "properties": {"tags": {"type": "array", "uniqueItems": True}}}),
    "strict_order": ("doc", {
        "allOf": [{"properties": {"id": {"type": "integer"}}},
                  {"properties": {"items": {"type": "array"}}}],
        "properties": {"tags": {"type": "array"}, "note": {"type": "string"}},
        "unevaluatedProperties": False,
    }),
}
EXPECTED_TIERS = {
    "repo_format": "typed", "path_nonempty": "typed", "commit_sha": "typed",
    "lang_enum": "typed", "content_present": "typed",
    "order_shape": "variant", "tags_unique": "arrow_udf",
    "strict_order": "arrow_udf", "tree_strict": "arrow_udf",
}


def json_rules() -> dict[str, tuple[str, dict]]:
    from fences_spark.entry_queries import _STRICT_TREE

    return {**JSON_RULES, "tree_strict": ("tree", _STRICT_TREE)}


def files_ruleset():
    """The five typed flagship rules plus the JSON rules."""
    from fences_spark.flagship import files_ruleset as typed

    rs = typed()
    for rid, (col, schema) in json_rules().items():
        rs.add(rid, col, schema, mode="json")
    return rs


RUN_OPTIONS = dict(
    n_buckets=N_BUCKETS,
    key_columns=("file_id", "repo", "path", "commit"),
    pointer_diagnostics=True,
)


class IncrementalAppends(Workload):
    name = "incremental_appends"

    def stage(self, name: str, n: int, first_id: int) -> oracle.FilesOracle:
        path = self.path("stage", name)
        rows, classes = inputs.files_rows(self.seed, n, first_id)
        inputs.write_parquet(rows, inputs.FILES_SCHEMA, path, 2 * self.cores)
        return oracle.FilesOracle(self.con, path, name, classes, first_id, self.jv)

    def setup(self) -> None:
        from fences_spark.run.runner import run_incremental

        self.rs = files_ruleset()
        self.jv = oracle.JsonVerdicts(json_rules())
        self.table = self.path("tables", "files")
        self.inc_out = self.path("out", "incremental")
        self.base = self.stage("base", BASE_ROWS, 0)
        # appended again by every round: each append is its own snapshot
        self.delta = self.stage("delta", APPEND_ROWS, BASE_ROWS)
        self.base_snap = self.commit(self.base.stage, self.table)
        # warm-up: the table's first validation, a full pass over the base
        run_incremental(self.spark, self.rs, self.table, self.inc_out, **RUN_OPTIONS)
        self.appends.clear()

    def full(self) -> Op:
        """``ValidationRunner.run`` over the base snapshot, all buckets."""
        from fences_spark.run.runner import RunConfig, ValidationRunner
        from fences_spark.sources import read_table

        self.ops += 1
        out = self.path("out", f"full{self.ops}")
        cfg = RunConfig(output_dir=out, run_id=f"full{self.ops}", snapshot_id=self.base_snap, **RUN_OPTIONS)
        t = time.perf_counter()
        with JobGroup(self.spark, "runner"):
            df = read_table(self.spark, self.table, snapshot_id=self.base_snap)
            summary = ValidationRunner(self.spark, self.rs, cfg).run(df)
        wall = time.perf_counter() - t
        return Op(self.base.rows, wall, out, "runner", None, self.base, {"rows_processed": summary.rows_processed})

    def append(self) -> Op:
        """``snaplog.append`` of a new snapshot, then ``run_incremental``."""
        from fences_spark.run.runner import run_incremental

        self.ops += 1
        t0 = time.perf_counter()
        snap = self.commit(self.delta.stage, self.table)
        t1 = time.perf_counter()
        with JobGroup(self.spark, "incremental"):
            summary = run_incremental(self.spark, self.rs, self.table, self.inc_out, **RUN_OPTIONS)
        t2 = time.perf_counter()
        return Op(self.delta.rows, t2 - t0, os.path.join(self.inc_out, f"snap-{snap}"), "incremental", t2 - t1, self.delta,
                  {"rows_processed": summary.rows_processed if summary else -1})

    def round(self) -> list[Op]:
        return [self.append()]

    def traced_round(self) -> list[Op]:
        return [self.append(), self.full()]

    def check(self, op: Op) -> None:
        oracle.expect(op.info["rows_processed"] == op.rows, "runner summary rows != input rows")
        op.oracle.check(op.out_dir)

    def probes(self, ops: list[Op]) -> dict[str, float]:
        from fences_spark.run.runner import RunConfig
        from fences_spark.sources import read_table

        df = read_table(self.spark, self.table, snapshot_id=self.base_snap)
        tiers = self.rs.apply(df).tiers
        if tiers != EXPECTED_TIERS:  # the tier metrics would measure something else
            raise RuntimeError(f"rules compiled to tiers {tiers}, expected {EXPECTED_TIERS}")
        full_s = statistics.median(o.wall_s for o in ops if o.entry == "runner")
        m = runner_probes(self.rs, df, self.base.rows, sum(self.base.fails.values()),
                          RunConfig("", "probe", **RUN_OPTIONS), full_s)
        m["run.runner.resume_lookup_ms"] = resume_lookup_ms(self.spark, self.table, self.inc_out)
        return m


# ---------------------------------------------------------------------------
# curation pipeline
# ---------------------------------------------------------------------------

class CuratePipeline(Workload):
    name = "curate_pipeline"

    def setup(self) -> None:
        path = self.path("stage", "corpus")
        inputs.write_parquet(inputs.corpus_rows(self.seed, CORPUS_DOCS), inputs.CORPUS_SCHEMA,
                             path, 2 * self.cores)
        self.oracle = oracle.CurateOracle(self.con, path)
        self.table = self.path("tables", "corpus")
        self.commit(path, self.table)
        self.round()

    def config(self, out_dir: str):
        from fences_spark.run.pipeline import PipelineConfig

        return PipelineConfig(output_dir=out_dir, quality_min_pct=QUALITY_MIN_PCT,
                              strata_col="lang", n_shards=N_SHARDS)

    def round(self) -> list[Op]:
        from fences_spark.run.pipeline import run_pipeline
        from fences_spark.sources import read_table

        self.ops += 1
        out = self.path("out", f"pipeline{self.ops}")
        t = time.perf_counter()
        with JobGroup(self.spark, "pipeline"):
            summary = run_pipeline(self.spark, read_table(self.spark, self.table), self.config(out))
        wall = time.perf_counter() - t
        return [Op(self.oracle.input_docs, wall, out, "pipeline", wall, self.oracle, {"summary": summary})]

    def check(self, op: Op) -> None:
        self.oracle.check(op.out_dir, op.info["summary"], N_SHARDS)

    def probes(self, ops: list[Op]) -> dict[str, float]:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from fences_spark.compiler.ruleset import RuleSet
        from fences_spark.operators.curate import curate_documents
        from fences_spark.operators.dedup import connected_components, minhash_lsh_pairs
        from fences_spark.operators.sampling import quality_percentiles_staged, shuffle_shards
        from fences_spark.operators.text import pack_sequences
        from fences_spark.sources import read_table

        spark = self.spark
        df = read_table(spark, self.table)
        rs = RuleSet()
        for rid, schema in self.config("").rules.items():
            rs.add(rid, "text", schema)
        m = compiler_probes(rs, df, self.oracle.input_docs)
        m["run.runner.resume_lookup_ms"] = resume_lookup_ms(spark, self.table, ops[-1].out_dir)
        # each operator's public function over the valid documents, as
        # the pipeline feeds them, through the noop sink
        valid = df.filter(F.length("text") >= 1).persist(StorageLevel.MEMORY_AND_DISK)
        nv = valid.count()

        def ns_per_doc(build, reps: int = 1) -> float:
            # operators that iterate (connected components) run jobs
            # while building their frame: time the build with the sink
            return call_s(lambda: noop_s(build()), reps) * 1e9 / nv

        m["operators.curate.ns_per_doc"] = ns_per_doc(lambda: curate_documents(valid, "doc_id", "text"))
        pcts, release = quality_percentiles_staged(valid, "doc_id", "text", "lang")
        m["operators.sampling.quality_band_ns_per_doc"] = ns_per_doc(lambda: pcts)
        release()
        m["operators.dedup.near_dup_ns_per_doc"] = ns_per_doc(
            lambda: connected_components(minhash_lsh_pairs(valid, "doc_id", "text")))
        m["operators.text.pack_ns_per_doc"] = ns_per_doc(lambda: pack_sequences(valid, "doc_id", "text"), 3)
        m["operators.sampling.shard_ns_per_doc"] = ns_per_doc(
            lambda: shuffle_shards(valid, "doc_id", n_shards=N_SHARDS), 3)
        spark.catalog.clearCache()
        return m


# ---------------------------------------------------------------------------
# layer probes
# ---------------------------------------------------------------------------

def resume_lookup_ms(spark, table: str, out_dir: str) -> float:
    from fences_spark.run.runner import last_validated_snapshot

    return call_s(lambda: last_validated_snapshot(spark, table, out_dir, N_BUCKETS), 3) * 1e3


def compiler_probes(rs, df, rows: int) -> dict[str, float]:
    """The scan alone, then each rule tier alone on top of the scan,
    all through the noop sink; and the driver-side plan build of
    ``RuleSet.apply``."""
    from fences_spark.compiler.ruleset import RuleSet

    m = {}
    scan = noop_s(df, 3)
    m["sources.scan_ns_per_row"] = scan * 1e9 / rows
    m["compiler.ruleset.apply_ms"] = call_s(lambda: rs.apply(df), 3) * 1e3
    tiers = rs.apply(df).tiers
    for tier, name in (("typed", "typed"), ("variant", "variant"), ("arrow_udf", "arrow")):
        sub = RuleSet([r for r in rs.rules if tiers[r.rule_id] == tier])
        if sub.rules:
            reps = 3 if tier == "typed" else 1  # the Python tiers cost seconds a pass
            m[f"compiler.{name}.eval_ns_per_row"] = (noop_s(sub.apply(df).df, reps) - scan) * 1e9 / rows
    return m


def runner_probes(rs, df, rows: int, n_viol: int, cfg, run_s: float) -> dict[str, float]:
    """Cumulative noop steps of one runner batch, mirroring
    ``ValidationRunner._run_batch``: scan, + rule evaluation, +
    violation rows, + their pointer entries; the per-bucket aggregate,
    the batch's second pass over the input; and the full ``run``
    (``run_s``), whose remainder is the sinks and bookkeeping."""
    from pyspark.sql import functions as F

    m = compiler_probes(rs, df, rows)
    df_b = df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(*[F.col(k) for k in cfg.bucket_keys]), F.lit(cfg.n_buckets)).cast("int"))
    res = rs.apply(df_b)
    annotated = res.df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    evaluated = noop_s(annotated)
    failing = annotated.filter(~F.col("row_valid"))
    keep = ["bucket", *cfg.key_columns, "content_sha256"]
    plain = failing.select(*keep, F.explode("violations").alias("rule_id"))
    plain_s = noop_s(plain)
    viol = failing.select(*keep, F.explode(rs.pointer_entries_per_rule(failing)).alias("_v"))
    viol_s = noop_s(viol)
    agg = annotated.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rows"),
        *[F.sum((~F.col(rid)).cast("long")).alias(rid) for rid in res.rule_ids])
    agg_s = noop_s(agg)
    m["compiler.pointers.ns_per_violation"] = (viol_s - plain_s) * 1e9 / n_viol
    m["run.runner.violations_ns_per_row"] = (plain_s - evaluated) * 1e9 / rows
    m["run.runner.aggregate_ns_per_row"] = agg_s * 1e9 / rows
    m["run.runner.sinks_ns_per_row"] = (run_s - viol_s - agg_s) * 1e9 / rows
    plans = [d._jdf.queryExecution().executedPlan().toString() for d in (viol, agg)]
    m["compiler.arrow.python_nodes"] = float(sum(p.count("ArrowEvalPython") for p in plans))
    return m


WORKLOADS = {w.name: w for w in (IncrementalAppends, CuratePipeline)}
