"""4-stage pipeline orchestrator (X1-X5, src/pipeline.py:43-459).

Stage policy mirrored exactly (src/pipeline.py:110, 126-132, 142, 157):
ingestion / transformation / storage failures abort the run; a
validation failure only warns and the pipeline continues.

Spark-first execution shape (SURVEY.md §3): stages compose *lazy*
DataFrame transforms with one ``persist()`` alive at a time (released
before the run returns) instead of the reference's four full copies.
A run triggers ten actions, 21 Spark jobs per run (a test pins this):
ingest ``count()``; the single-pass quality agg; transform ``count()``;
the ``orders`` write; the CSV and parquet exports; the summary report's
aggregate and categorical collect; the two run-tracking writes (X2).
"""

from __future__ import annotations

import logging
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cleaning import clean
from ..operators.enrichment import enrich
from ..operators.standardize import standardize
from ..quality import quality_scores, validate_schema
from ..sources.api import ApiSource
from ..sources.files import collect_all
from ..storage import Warehouse
from .config import Config

log = logging.getLogger(__name__)


@dataclass
class StageResult:
    success: bool
    records: int = 0
    execution_time: float = 0.0
    error_message: str | None = None
    metadata: dict = field(default_factory=dict)


@dataclass
class PipelineResult:
    run_id: str
    success: bool = False
    stages_completed: list[str] = field(default_factory=list)
    stages_failed: list[str] = field(default_factory=list)
    stage_results: dict[str, StageResult] = field(default_factory=dict)
    records_processed: int = 0
    quality: dict = field(default_factory=dict)
    start_time: str = ""
    end_time: str = ""
    total_time: float = 0.0
    error_message: str | None = None
    # Set when the run-tracking writes (X2) failed; does not affect success.
    bookkeeping_error: str | None = None


class PipelineManager:
    def __init__(self, spark: SparkSession, config: Config | None = None):
        self.spark = spark
        self.config = config or Config()
        self.warehouse = Warehouse(spark, self.config.get("warehouse.root"))
        self.enable_validation = True
        self.enable_transformation = True
        self.enable_storage = True

    # ------------------------------------------------------------------ run
    def run_pipeline(self, api_limit: int = 100, run_name: str | None = None) -> PipelineResult:
        run_id = run_name or f"RUN-{datetime.now(timezone.utc):%Y%m%d%H%M%S}-{uuid.uuid4().hex[:8]}"
        result = PipelineResult(run_id=run_id, start_time=datetime.now(timezone.utc).isoformat())
        t0 = time.monotonic()
        current: DataFrame | None = None

        # -- ingest (abort on failure, src/pipeline.py:110)
        t = time.monotonic()
        try:
            current = collect_all(
                self.spark,
                input_dir=self.config.get("files.input_dir"),
                api_limit=api_limit,
                api=self.api_source(),
            ).persist()
            n = current.count()
            result.stage_results["ingestion"] = StageResult(True, n, time.monotonic() - t)
            result.stages_completed.append("ingestion")
            result.records_processed = n
        except Exception as exc:  # noqa: BLE001
            self._fail(result, "ingestion", t, exc, abort=True)
            return self._finish(result, t0, current)

        # -- validate (warn-only on failure, src/pipeline.py:126-132)
        if self.enable_validation:
            t = time.monotonic()
            try:
                schema_res = validate_schema(current)
                scores = quality_scores(current)
                result.quality = scores
                result.stage_results["validation"] = StageResult(
                    True,
                    result.records_processed,
                    time.monotonic() - t,
                    metadata={
                        "schema_errors": schema_res.errors,
                        "schema_warnings": schema_res.warnings,
                        **scores,
                    },
                )
                result.stages_completed.append("validation")
            except Exception as exc:  # noqa: BLE001
                self._fail(result, "validation", t, exc)  # continue anyway

        # -- transform (abort on failure, src/pipeline.py:142)
        if self.enable_transformation:
            t = time.monotonic()
            try:
                transformed = current
                if self.config.get("transformation.enable_cleaning", True):
                    transformed = clean(transformed)
                if self.config.get("transformation.enable_enrichment", True):
                    transformed = enrich(transformed)
                if self.config.get("transformation.enable_standardization", True):
                    transformed = standardize(transformed)
                current.unpersist()
                current = transformed.persist()
                n = current.count()
                result.stage_results["transformation"] = StageResult(
                    True, n, time.monotonic() - t
                )
                result.stages_completed.append("transformation")
                result.records_processed = n
            except Exception as exc:  # noqa: BLE001
                self._fail(result, "transformation", t, exc, abort=True)
                return self._finish(result, t0, current)

        # -- store (abort on failure, src/pipeline.py:157; success if any
        # of db/export/report succeeded, src/storage.py:653)
        if self.enable_storage:
            t = time.monotonic()
            ops_ok = 0
            errors: list[str] = []
            wh = self.warehouse
            report_path = f"{wh.root}/reports/summary_{run_id}.json"
            for label, op in (
                ("save", lambda: wh.save_orders(current)),
                ("export", lambda: wh.export(current, "orders", formats=("csv", "parquet"))),
                ("report", lambda: wh.summary_report(current, path=report_path)),
            ):
                try:
                    op()
                    ops_ok += 1
                except Exception as exc:  # noqa: BLE001
                    errors.append(f"{label}: {exc}")

            stage_ok = ops_ok >= 1
            result.stage_results["storage"] = StageResult(
                stage_ok,
                result.records_processed,
                time.monotonic() - t,
                "; ".join(errors) or None,
                metadata={"operations_succeeded": ops_ok},
            )
            (result.stages_completed if stage_ok else result.stages_failed).append("storage")
            if not stage_ok:
                result.error_message = "storage failed: " + "; ".join(errors)

        result.success = not result.stages_failed or result.stages_failed == ["validation"]
        return self._finish(result, t0, current)

    @staticmethod
    def _fail(result: PipelineResult, stage: str, t: float, exc: Exception, abort=False) -> None:
        result.stage_results[stage] = StageResult(False, 0, time.monotonic() - t, str(exc))
        result.stages_failed.append(stage)
        if abort:
            result.error_message = f"{stage} failed: {exc}"

    def _finish(
        self, result: PipelineResult, t0: float, current: DataFrame | None
    ) -> PipelineResult:
        """Release the run's only persisted frame, stamp times, track the run."""
        if current is not None:
            current.unpersist()
        result.end_time = datetime.now(timezone.utc).isoformat()
        result.total_time = time.monotonic() - t0
        self._persist_run(result)
        return result

    # ------------------------------------------------------- persistence (X2)
    def _persist_run(self, result: PipelineResult) -> None:
        try:
            self.warehouse.save_pipeline_run(
                {
                    "run_id": result.run_id,
                    "start_time": result.start_time,
                    "end_time": result.end_time,
                    "status": "success" if result.success else "failed",
                    "records_processed": result.records_processed,
                    "records_failed": 0,
                    "error_message": result.error_message,
                }
            )
            if result.quality:
                self.warehouse.save_quality_metrics(result.run_id, result.quality)
        except Exception as exc:  # noqa: BLE001 — run bookkeeping must not fail the run
            log.exception("run %s: run-tracking write failed", result.run_id)
            result.bookkeeping_error = f"{type(exc).__name__}: {exc}"

    # ------------------------------------------------------------ status (X3)
    def status(self) -> dict:
        return {
            "warehouse": self.warehouse.stats(),
            "config": {
                "warehouse_root": self.config.get("warehouse.root"),
                "input_dir": self.config.get("files.input_dir"),
                "quality_threshold": self.config.get("data_quality.quality_threshold"),
            },
        }

    def api_source(self) -> ApiSource:
        """The REST source of a run and of the health check, from ``api.*``."""
        return ApiSource(
            base_url=self.config.get("api.base_url"),
            timeout_s=self.config.get("api.timeout"),
            retries=self.config.get("api.retry_attempts"),
            retry_delay_s=self.config.get("api.retry_delay"),
            offline=bool(self.config.get("api.offline")),
        )

    # ------------------------------------------------------------ health (X5)
    def health_check(self) -> dict:
        """Working health check (the reference's always-errors — SURVEY.md
        §2.11 X5 — because it calls a nonexistent method; this probes for
        real)."""
        checks: dict[str, str] = {}
        try:
            self.spark.range(1).count()
            checks["spark"] = "healthy"
        except Exception:  # noqa: BLE001
            checks["spark"] = "unhealthy"
        checks["api"] = "healthy" if self.api_source().connectivity_ok() else "unhealthy"
        try:
            import os

            os.makedirs(self.warehouse.root, exist_ok=True)
            probe = f"{self.warehouse.root}/.health_probe"
            with open(probe, "w") as fh:
                fh.write("ok")
            os.remove(probe)
            checks["filesystem"] = "healthy"
        except Exception:  # noqa: BLE001
            checks["filesystem"] = "unhealthy"

        n_bad = sum(1 for v in checks.values() if v != "healthy")
        overall = "healthy" if n_bad == 0 else ("degraded" if n_bad == 1 else "unhealthy")
        return {"status": overall, "checks": checks}

    # ------------------------------------------------------------ report (X4)
    def markdown_report(self, result: PipelineResult) -> str:
        lines = [
            "# Pipeline Execution Report",
            "",
            f"- **Run ID**: {result.run_id}",
            f"- **Status**: {'SUCCESS' if result.success else 'FAILED'}",
            f"- **Records processed**: {result.records_processed}",
            f"- **Total time**: {result.total_time:.2f}s",
            f"- **Started**: {result.start_time}",
            f"- **Finished**: {result.end_time}",
            "",
            "## Stages",
            "",
        ]
        for name, sr in result.stage_results.items():
            status = "OK" if sr.success else f"FAILED ({sr.error_message})"
            lines.append(
                f"- **{name}**: {status} — {sr.records} records in {sr.execution_time:.2f}s"
            )
        if result.quality:
            lines += [
                "",
                "## Data quality",
                "",
                f"- Overall: {result.quality.get('overall_score')} "
                f"({result.quality.get('quality_level')})",
                f"- Completeness: {result.quality.get('completeness_score')}",
                f"- Validity: {result.quality.get('validity_score')}",
                f"- Consistency: {result.quality.get('consistency_score')}",
                f"- Accuracy: {result.quality.get('accuracy_score')}",
            ]
        if result.error_message:
            lines += ["", f"**Error**: {result.error_message}"]
        return "\n".join(lines)
