"""The benchmark's jobs, driven through the engine's public functions only.

Each job replays the order in which the CLI (``cli._execute_job`` for
validations, ``cli._run_curate`` for curation) calls the engine, with one
span per public call. A span around a call that only builds a plan also
covers the action that first materialises its result (persist + count, the
same pattern ``_execute_job`` applies to the report), so the span carries
that call's work; later calls read the cached frame. Each job returns the
outputs the oracle checks.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

from professional_services_data_validator_spark import (
    ValidationConfig,
    consts,
    get_spark,
    run_validation,
)
from professional_services_data_validator_spark.functions.calculated import (
    apply_calculated_fields,
)
from professional_services_data_validator_spark.lineage import (
    LineageStore,
    config_hash,
)
from professional_services_data_validator_spark.metadata import RunMetadata
from professional_services_data_validator_spark.operators.checksums import (
    checksum_validation,
    failing_partition_predicate,
)
from professional_services_data_validator_spark.operators.dedup import (
    dedup_clusters,
)
from professional_services_data_validator_spark.operators.drift import (
    ks_binned,
    psi_verdict,
)
from professional_services_data_validator_spark.operators.partitioning import (
    assign_partition_id,
    partition_manifest,
    pending_where,
)
from professional_services_data_validator_spark.operators.referential import (
    referential_violations,
)
from professional_services_data_validator_spark.operators.row_compare import (
    row_compare_verdicts,
)
from professional_services_data_validator_spark.operators.text import (
    quality_score,
)
from professional_services_data_validator_spark.operators.uniqueness import (
    uniqueness_verdict,
)
from professional_services_data_validator_spark.sources.sinks import (
    report_to_text,
    write_report,
)

from . import gen, oracle

PKS = ["conv_id", "turn_idx"]
FAIL = consts.VALIDATION_STATUS_FAIL
#: manifest partitions of the row jobs (CLI --num-partitions)
N_PARTS = 16
#: checksum-first partition expression of the row jobs: 64-conversation
#: blocks, finer than the manifest's PK ranges
CHECKSUM_DIV = 64
CHECKSUM_EXPR = f"conv_id DIV {CHECKSUM_DIV}"
#: KS statistic above which a day counts as drifted (drill-down to PSI)
KS_FLAG = 0.1
UNIQ_BUCKETS = 8
QUALITY_MIN = 0.55

#: Column / GroupedColumn aggregates of the column_drift job
AGGREGATES = [
    {"agg_type": "count", "column": None, "precalc": None},
    {"agg_type": "sum", "column": "n_tokens", "precalc": None},
    {"agg_type": "sum", "column": "latency_ms", "precalc": None},
    {"agg_type": "sum", "column": "text", "precalc": "length"},
    {"agg_type": "max", "column": "turn_idx", "precalc": None},
    {"agg_type": "min", "column": "score", "precalc": None},
    {"agg_type": "max", "column": "score", "precalc": None},
]
GROUPINGS = ([], ["ts"], ["role"])


def row_config() -> dict:
    """The config dict ``validate row --primary-keys conv_id,turn_idx
    --hash '*'`` builds (cli._config_dict_from_flags)."""
    return {
        "type": consts.ROW_VALIDATION,
        "filters": [],
        "threshold": 0.0,
        "primary_keys": list(PKS),
        "hash_columns": "*",
        "trim_string_pks": False,
        "case_insensitive_match": False,
    }


def _session(tr):
    # the CLI calls get_spark at the top of every job; with a live
    # session it returns it (getOrCreate)
    with tr.span("session.get_spark"):
        return get_spark("psdv-job")


def row_job(tr, data: str, lineage_dir: str, out_dir: str, resume: bool) -> dict:
    """``validate row --primary-keys conv_id,turn_idx --hash '*'
    --partition-keys conv_id,turn_idx --num-partitions 16 --lineage-dir L
    --output O``, with ``resume``: ``--resume --checksum-first
    'conv_id DIV 64'``."""
    spark = _session(tr)
    source = spark.read.parquet(f"{data}/source")
    target = spark.read.parquet(f"{data}/target")
    cfg_dict = row_config()
    config = ValidationConfig.from_dict(cfg_dict)
    ch = config_hash(cfg_dict)
    store = LineageStore(spark, lineage_dir)
    out: dict = {}

    with tr.span("partitioning.partition_manifest"):
        manifest = partition_manifest(source, PKS, N_PARTS)
    if resume:
        source, target = _resume_and_drill(tr, store, manifest, ch, config,
                                           source, target, out)

    with tr.span("compiler.run_validation"):
        report = run_validation(config, source, target, spark=spark).persist()
        report.count()
    try:
        mrows = sorted(manifest.collect(), key=lambda r: int(r["partition_idx"]))
        out["manifest"] = [
            [r["partition_id"], int(r["conv_id_lower"]), int(r["turn_idx_lower"])]
            for r in mrows
        ]
        bound_rows = [{k: r[f"{k}_lower"] for k in PKS} for r in mrows]
        vsrc = apply_calculated_fields(source, config.calculated_fields)
        vtgt = apply_calculated_fields(target, config.calculated_fields)
        with tr.span("row_compare.row_compare_verdicts"):
            verdicts = row_compare_verdicts(
                vsrc, vtgt, PKS,
                partition_col=assign_partition_id(
                    PKS, bound_rows, partition_ids=[r["partition_id"] for r in mrows]
                ),
                hash_columns=config.hash_columns or "*",
                case_insensitive=config.case_insensitive_match,
                trim_string_pks=config.trim_string_pks,
            ).persist()
            verdicts.count()
        try:
            with tr.span("lineage.append_verdicts"):
                store.append_verdicts(
                    verdicts, ch, RunMetadata().run_id, config.validation_type
                )
        finally:
            verdicts.unpersist()
        with tr.span("sinks.write_report"):
            write_report(report, out_dir, partition_by=["validation_status"])
        with tr.span("sinks.report_to_text"):
            report_to_text(report)
        out["failed"] = (
            report.filter(F.col("validation_status") == FAIL).count() > 0
        )
    finally:
        report.unpersist()
    return out


def _resume_and_drill(tr, store, manifest, ch, config, source, target, out):
    """``--resume`` (skip partitions the lineage holds as passed) then
    ``--checksum-first`` (row-join only the blocks whose fingerprints
    differ), as in ``_execute_job``."""
    with tr.span("lineage.pending_partitions"):
        pending = store.pending_partitions(
            manifest, ch, config.validation_type
        ).persist()
        out["n_pending"] = pending.count()
    try:
        with tr.span("partitioning.pending_where"):
            wc = pending_where(pending)
    finally:
        pending.unpersist()
    source = source.filter(F.expr(wc))
    target = target.filter(F.expr(wc))

    pexpr = F.expr(CHECKSUM_EXPR).cast("string")
    ck_cols = [c for c in source.columns if c not in config.primary_keys]
    with tr.span("checksums.checksum_validation"):
        ck = checksum_validation(
            source, target, pexpr, ck_cols,
            case_insensitive=config.case_insensitive_match,
        ).persist()
        out["ck_total"] = ck.count()
        out["ck_fail"] = ck.filter(F.col("validation_status") == FAIL).count()
    try:
        with tr.span("lineage.append_verdicts"):
            store.append_verdicts(
                ck, ch, RunMetadata().run_id,
                f"{config.validation_type}:checksum",
            )
        with tr.span("checksums.failing_partition_predicate"):
            pred = failing_partition_predicate(ck, pexpr)
    finally:
        ck.unpersist()
    return source.filter(pred), target.filter(pred)


def write_snapshot(data: str, lineage_dir: str, dirty_parts) -> None:
    """Lineage of a prior run of ``row_job``'s config: one Row verdict per
    manifest partition, failed for ``dirty_parts`` and passed otherwise."""
    spark = get_spark("psdv-job")
    source = spark.read.parquet(f"{data}/source")
    manifest = partition_manifest(source, PKS, N_PARTS)
    verdicts = manifest.select(
        "partition_id",
        F.when(F.col("partition_idx").isin(list(dirty_parts)), F.lit(FAIL))
        .otherwise(F.lit(consts.VALIDATION_STATUS_SUCCESS))
        .alias("validation_status"),
    )
    LineageStore(spark, lineage_dir).append_verdicts(
        verdicts, config_hash(row_config()), RunMetadata().run_id,
        consts.ROW_VALIDATION,
    )


def drift_job(tr, data: str) -> dict:
    """Column + GroupedColumn (by day, by role) validations, then the
    uniqueness, referential and KS -> PSI drill-down checks."""
    spark = _session(tr)
    source = spark.read.parquet(f"{data}/source")
    target = spark.read.parquet(f"{data}/target")
    dim = spark.read.parquet(f"{data}/dim")
    out: dict = {"reports": [], "failed": []}
    for group in GROUPINGS:
        cfg_dict = {
            "type": (
                consts.GROUPED_COLUMN_VALIDATION if group
                else consts.COLUMN_VALIDATION
            ),
            "filters": [],
            "threshold": 0.0,
            "aggregates": AGGREGATES,
            "group_by": group,
        }
        config = ValidationConfig.from_dict(cfg_dict)
        with tr.span("compiler.run_validation"):
            report = run_validation(config, source, target, spark=spark).persist()
            report.count()
        try:
            with tr.span("sinks.report_to_text"):
                rows = json.loads(report_to_text(report, fmt="json"))
        finally:
            report.unpersist()
        out["reports"].append(rows)
        # the whole (small) report is in the text output: exit status from it
        out["failed"].append(any(r["validation_status"] == FAIL for r in rows))

    with tr.span("uniqueness.uniqueness_verdict"):
        out["uniqueness"] = [
            r.asDict()
            for r in uniqueness_verdict(
                target, PKS, partition_col=F.col("conv_id") % UNIQ_BUCKETS
            ).collect()
        ]
    with tr.span("referential.referential_violations"):
        out["orphans"] = [
            (r[0], r[1])
            for r in referential_violations(target, dim, "conv_id")
            .select(*PKS).collect()
        ]
    day = F.date_format("ts", "yyyy-MM-dd")
    with tr.span("drift.ks_binned"):
        out["ks"] = [
            r.asDict()
            for r in ks_binned(
                source.withColumn("day", day), target.withColumn("day", day),
                F.length("text"), bin_width=1, group_cols=["day"],
            ).collect()
        ]
    flagged = sorted(r["day"] for r in out["ks"] if r["ks_stat"] > KS_FLAG)
    out["flagged_days"] = flagged
    on = day.isin(flagged)
    with tr.span("drift.psi_verdict"):
        out["psi"] = psi_verdict(
            source.filter(on), target.filter(on), F.col("role")
        ).first().asDict()
    return out


def curate_job(tr, data: str, out_dir: str) -> dict:
    """``curate --docs-path D --output O`` (dedup + quality, no
    contamination or seen-set inputs)."""
    spark = _session(tr)
    docs = spark.read.parquet(f"{data}/docs")
    idc, txt = "doc_id", "text"
    with tr.span("dedup.dedup_clusters"):
        verdicts = dedup_clusters(
            docs, idc, txt, k=3, num_hashes=16, bands=4, threshold=0.5
        ).persist()
        verdicts.count()
    with tr.span("text.quality_score"):
        qual = quality_score(docs, idc, txt).select(
            F.col("id").alias(idc), "quality_score"
        ).persist()
        qual.count()
    contaminated = F.lit(False)
    final = verdicts.join(qual, idc).select(
        idc, "cluster_id", "cluster_size", "is_canonical",
        contaminated.alias("is_contaminated"), "quality_score",
        (
            F.col("is_canonical") & ~contaminated
            & (F.col("quality_score") >= QUALITY_MIN)
        ).alias("keep"),
    ).persist()
    try:
        final.write.mode("overwrite").parquet(out_dir)
        out = {
            "total": final.count(),
            "kept": final.filter(F.col("keep")).count(),
            "dup": final.filter(~F.col("is_canonical")).count(),
            "lowq": final.filter(F.col("quality_score") < QUALITY_MIN).count(),
        }
    finally:
        final.unpersist()
        qual.unpersist()
        verdicts.unpersist()
    return out


# ---------------------------------------------------------------------------
# workloads: inputs, per-run state, the job and its checks
# ---------------------------------------------------------------------------


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    """One workload: its inputs, the per-run state reset, the job and the
    checks of its outputs."""

    name = ""
    #: input rows one run processes (turns; docs for curation)
    rows_key = "n_source"

    def generate(self, seed: int, data: str) -> dict:
        """Write the seeded inputs and their truth file; return the truth."""
        raise NotImplementedError

    def expect(self, data: str) -> None:
        """Precompute the oracle's expectations for ``data``."""
        raise NotImplementedError

    def setup(self, data: str, run_dir: str) -> None:
        """State every run starts from, built once per process."""

    def prepare(self, run_dir: str) -> None:
        """Reset per-run state (outside the timed region)."""
        fresh_dir(run_dir)
        os.makedirs(run_dir)

    def job(self, tr, data: str, run_dir: str) -> dict:
        raise NotImplementedError

    def check(self, res: dict, run_dir: str) -> dict[str, bool]:
        raise NotImplementedError

    def run(self, tr, data: str, run_dir: str):
        """Run the job once; return (wall seconds, checks, job outputs)."""
        t0 = time.perf_counter()
        res = self.job(tr, data, run_dir)
        wall = time.perf_counter() - t0
        return wall, self.check(res, run_dir), res


class RowFull(Workload):
    """Fresh Row validation of a table whose every manifest partition is
    dirty: per-partition verdicts into an empty lineage, partitioned
    violation write."""

    name = "row_full"
    n_convs = 500
    dirty_parts = None
    #: the lineage starts from a prior-run snapshot (else empty)
    has_snapshot = False

    def generate(self, seed, data):
        return gen.row_tables(
            seed, self.n_convs, N_PARTS, self.dirty_parts, data
        )

    def expect(self, data):
        self.exp = oracle.RowExpect(data, CHECKSUM_DIV, resume=self.has_snapshot)

    def prepare(self, run_dir):
        super().prepare(run_dir)
        lineage = os.path.join(run_dir, "lineage")
        if self.has_snapshot:
            shutil.copytree(self.snapshot, lineage)
        self.prior_runs = oracle.lineage_run_ids(lineage)

    def job(self, tr, data, run_dir):
        return row_job(
            tr, data, os.path.join(run_dir, "lineage"),
            os.path.join(run_dir, "report"), resume=self.has_snapshot,
        )

    def check(self, res, run_dir):
        return self.exp.check(
            res, os.path.join(run_dir, "report"),
            os.path.join(run_dir, "lineage"), self.prior_runs,
        )


class ResumeDirty(RowFull):
    """The same job re-validating a table whose target differs from the
    source in a few seeded manifest partitions. Before every run the
    lineage is restored to one prior-run snapshot: the verdicts of a fresh
    run (clean partitions passed, dirty ones failed), written through the
    engine's ``LineageStore``."""

    name = "resume_dirty"
    n_convs = 1600
    dirty_parts = 2
    has_snapshot = True

    def setup(self, data, run_dir):
        self.snapshot = fresh_dir(run_dir + "-snapshot")
        write_snapshot(data, self.snapshot, self.exp.dirty)


class ColumnDrift(Workload):
    name = "column_drift"
    n_convs = 1200

    def generate(self, seed, data):
        return gen.drift_tables(seed, self.n_convs, data)

    def expect(self, data):
        self.exp = oracle.DriftExpect(data, KS_FLAG, UNIQ_BUCKETS)

    def job(self, tr, data, run_dir):
        return drift_job(tr, data)

    def check(self, res, run_dir):
        return self.exp.check(res)


class CurateDedup(Workload):
    name = "curate_dedup"
    rows_key = "n_docs"
    n_base = 3000

    def generate(self, seed, data):
        return gen.corpus(seed, self.n_base, data)

    def expect(self, data):
        self.exp = oracle.CurateExpect(data, QUALITY_MIN)

    def job(self, tr, data, run_dir):
        return curate_job(tr, data, os.path.join(run_dir, "curated"))

    def check(self, res, run_dir):
        return self.exp.check(res, os.path.join(run_dir, "curated"))


WORKLOADS = {w.name: w for w in (RowFull, ColumnDrift, ResumeDirty, CurateDedup)}
