"""The benchmark's workloads: one iteration each, and the checks on its outputs.

Every call into the package is a public function (``engine.validate``,
``ledger.run_with_ledger`` / ``load_results``, ``operators.cleaning``,
``operators.dedup.unpersist_intermediates``) timed from outside. Checks run
after the timed region of each iteration and never inside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_validator_guard_spark.engine import validate
from data_validator_guard_spark.ledger import load_results, run_with_ledger
from data_validator_guard_spark.operators.cleaning import apply_rulebook
from data_validator_guard_spark.operators.dedup import unpersist_intermediates
from data_validator_guard_spark.rules import AGG_LEVEL_TYPES, ROW_LEVEL_TYPES, RuleSuite
from data_validator_guard_spark.suites import source_code_suite

import inputs
from tracing import Tracer

KEY_COLS = ("repo", "path", "commit")


@dataclass
class Iteration:
    """What one iteration did, for the end-to-end and per-layer metrics."""

    wall_s: float
    verdicts_s: float
    violation_rows: int
    bytes_written: int
    errors: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)


class Layers:
    """Opens a span per call and, when tracing, a Spark job group so the
    number of Spark jobs each layer ran can be counted."""

    def __init__(self, spark: SparkSession, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.jobs: dict[str, int] = {}
        self._n = 0

    def call(self, name: str, fn, *args, **kwargs):
        if not self.tracer.enabled:
            return fn(*args, **kwargs)
        self._n += 1
        group = f"valbench-{self._n}"
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name):
                return fn(*args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            n = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.jobs[name] = self.jobs.get(name, 0) + n


def _persisted_frames(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_cached(spark: SparkSession) -> None:
    """Start every iteration from the same cache state."""
    unpersist_intermediates()
    spark.catalog.clearCache()


def _verdict_totals(rows) -> dict[str, tuple[int, int]]:
    out: dict[str, tuple[int, int]] = {}
    for r in rows:
        n, v = out.get(r["rule_id"], (0, 0))
        out[r["rule_id"]] = (n + (r["n_rows"] or 0), v + (r["n_violations"] or 0))
    return out


def _digest(rows) -> str:
    return hashlib.sha256(
        json.dumps(sorted(tuple(r) for r in rows), default=str).encode()
    ).hexdigest()


def _violation_summary(violations: DataFrame) -> list:
    """Per rule: emitted rows and an order-insensitive digest of all four
    columns. Every column of every row is evaluated, as a noop sink would."""
    h = F.pmod(F.xxhash64("rule_id", "partition", "keys", "detail"), F.lit(1 << 40))
    return (
        violations.groupBy("rule_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
        .collect()
    )


def _check_totals(exp: dict, verdict_rows, violation_counts: dict[str, int]) -> list[str]:
    errors = []
    totals = _verdict_totals(verdict_rows)
    for rid in inputs.CHECKED_RULES:
        e = exp["rules"][rid]
        got = totals.get(rid)
        if got != (e["n_rows"], e["n_violations"]):
            errors.append(f"{rid}: verdict totals {got} != expected {(e['n_rows'], e['n_violations'])}")
        if violation_counts.get(rid, 0) != e["violation_rows"]:
            errors.append(
                f"{rid}: {violation_counts.get(rid, 0)} violation rows != expected {e['violation_rows']}"
            )
    return errors


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class ValidateClean:
    """Full source-code suite over a ~3%-defect table; verdicts collected
    (the pass/fail-first use), violations consumed by one aggregation."""

    name = "validate_clean"
    rows = 800_000
    defects = inputs.CLEAN
    with_cleaning = False

    def open(self, spark: SparkSession, inp: str) -> None:
        self.spark = spark
        self.df = spark.read.parquet(os.path.join(inp, "source.parquet"))
        self.suite = source_code_suite(
            spark, baseline_hist=spark.read.parquet(os.path.join(inp, "baseline_hist.parquet"))
        )
        with open(os.path.join(inp, "expected.json")) as f:
            self.expected = json.load(f)
        self.reference: tuple[str, str] | None = None

    def iterate(self, k: int, layers: Layers, out_root: str) -> Iteration:
        t0 = time.perf_counter()
        verdicts, violations = layers.call("engine.validate_call", validate, self.df, self.suite)
        verdict_rows = layers.call("engine.verdicts_sink", verdicts.collect)
        t1 = time.perf_counter()
        summary = layers.call("engine.violations_sink", _violation_summary, violations)
        t2 = time.perf_counter()
        persisted = _persisted_frames(self.spark)
        release_cached(self.spark)

        counts = {r["rule_id"]: r["n"] for r in summary}
        it = Iteration(
            wall_s=t2 - t0,
            verdicts_s=t1 - t0,
            violation_rows=sum(counts.values()),
            bytes_written=0,
            counts={"engine.persisted_frames_after": persisted},
        )
        it.counts["engine.violation_rows"] = it.violation_rows
        it.errors = _check_totals(self.expected, verdict_rows, counts)
        digests = (_digest(verdict_rows), _digest(summary))
        if self.reference is None:
            self.reference = digests
        elif digests != self.reference:
            it.errors.append("verdict or violation digest differs from the first iteration")
        return it

    def families(self, layers: Layers) -> None:
        """Each rule family alone, verdicts and violations sunk (traced run)."""
        rules = self.suite.rules
        fams = {
            "row_agg": [
                r for r in rules
                if r.type in ROW_LEVEL_TYPES | AGG_LEVEL_TYPES
                or (r.type == "foreign_key" and r.params.get("inline"))
            ],
            "unique": [r for r in rules if r.type in ("unique", "unique_normalized")],
            "drift": [r for r in rules if r.type == "drift"],
        }
        for fam, subset in fams.items():
            sub = RuleSuite(f"{self.suite.name}_{fam}", subset, self.suite.partition_by, self.suite.key_cols)

            def run(sub=sub):
                v, x = validate(self.df, sub)
                v.collect()
                _violation_summary(x)

            layers.call(f"engine.family.{fam}", run)
            release_cached(self.spark)


class DefectHeavyLedger:
    """Same suite over a ~20%-defect table through the resumable ledger:
    validate and commit, resume (must validate nothing), then clean the
    violating identities out with a delete rulebook."""

    name = "defect_heavy_ledger"
    rows = 200_000
    defects = inputs.HEAVY
    with_cleaning = True

    def open(self, spark: SparkSession, inp: str) -> None:
        self.spark = spark
        self.inp = inp
        self.df = spark.read.parquet(os.path.join(inp, "source.parquet"))
        self.rulebook = spark.read.parquet(os.path.join(inp, "rulebook.parquet"))
        self.suite = source_code_suite(
            spark, baseline_hist=spark.read.parquet(os.path.join(inp, "baseline_hist.parquet"))
        )
        with open(os.path.join(inp, "expected.json")) as f:
            self.expected = json.load(f)
        self.snapshot_id = os.path.basename(inp)
        self.reference: str | None = None

    def iterate(self, k: int, layers: Layers, out_root: str) -> Iteration:
        out = os.path.join(out_root, f"iter{k}")
        cleaned_path = os.path.join(out_root, f"cleaned{k}")
        t0 = time.perf_counter()
        first = layers.call(
            "ledger.run_with_ledger", run_with_ledger, self.df, self.suite, out, self.snapshot_id, "v1"
        )
        t1 = time.perf_counter()
        resumed = layers.call(
            "ledger.resume", run_with_ledger, self.df, self.suite, out, self.snapshot_id, "v1"
        )

        def clean():
            apply_rulebook(self.df, self.rulebook, KEY_COLS).write.mode("overwrite").parquet(cleaned_path)

        layers.call("cleaning.apply_rulebook", clean)
        t2 = time.perf_counter()
        persisted = _persisted_frames(self.spark)
        release_cached(self.spark)

        it = Iteration(wall_s=t2 - t0, verdicts_s=t1 - t0, violation_rows=0, bytes_written=0)
        verdicts, violations = load_results(self.spark, out)
        verdict_rows = verdicts.collect()
        counts = {r["rule_id"]: r["count"] for r in violations.groupBy("rule_id").count().collect()}
        it.violation_rows = sum(counts.values())
        it.errors = _check_totals(self.expected, verdict_rows, counts)
        n_parts = len({r["partition"] for r in verdict_rows})
        if first["partitions_validated"] != n_parts or first["partitions_done_before"] != 0:
            it.errors.append(f"first ledger run: {first}, {n_parts} partitions in its verdicts")
        if resumed["partitions_validated"] != 0 or resumed["partitions_done_before"] != n_parts:
            it.errors.append(f"resume validated partitions again: {resumed}")
        digest = _digest(verdict_rows)
        if self.reference is None:
            self.reference = digest
        elif digest != self.reference:
            it.errors.append("verdict digest differs from the first iteration")

        got = inputs.table_digest(cleaned_path)
        if got != self.expected["survivors"]:
            it.errors.append(f"cleaned survivors {got} != expected {self.expected['survivors']}")

        written = _dir_bytes(out)
        it.bytes_written = written + _dir_bytes(cleaned_path)
        it.counts = {
            "engine.persisted_frames_after": persisted,
            "engine.violation_rows": it.violation_rows,
            "ledger.resume_partitions_validated": resumed["partitions_validated"],
            "ledger.bytes_written": written,
            "cleaning.rows_deleted": self.expected["rows"] - got["rows"],
        }
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(cleaned_path, ignore_errors=True)
        return it


WORKLOADS = {w.name: w for w in (ValidateClean, DefectHeavyLedger)}
