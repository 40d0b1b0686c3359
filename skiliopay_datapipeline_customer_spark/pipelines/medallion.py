"""Medallion pipeline assembly (SURVEY §3.1 / §7.2.6): the engine's
equivalent of ETLPipeline.run_pipeline (src/processing/etl_pipeline.py:37-73)
— bronze ingest → validate/quality → clean → feature transforms → normalize
→ layered parquet writes — recomposed as ONE lazy DataFrame chain per layer,
materialized only at layer boundaries.

Where the reference copies the whole frame ~10× per run
(etl_pipeline.py:91,138,159,191,217,235), the Spark plan fuses every stage
into the minimal set of jobs; the only driver-side values are scalar
statistics (medians/modes/fences) that parameterize later expressions.

Scale notes: layer writes partition by the declared partition column
(date-partitioning at 100 TB, config.yaml:33-36); imputation/clip statistics
are one agg pass each regardless of column count; clean() is shuffle-free
except the keyed dedup.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_written, written_rows
from ..parallel import run_all
from ..plans.quality import QualityReport, run_quality_checks


def ingest_metadata(
    df: DataFrame,
    source_file: str,
    version: str = "1.0.0",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """P1/P2 metadata columns (csv_ingestion.py:108-121). The reference's
    ``range(len(df))`` row id needs a total order to mean anything
    distributed (SURVEY §7.4): row_number over the declared order columns."""
    out = (
        df.withColumn("_ingestion_timestamp", F.current_timestamp())
        .withColumn("_source_file", F.lit(source_file))
        .withColumn("_processing_version", F.lit(version))
    )
    if order_cols:
        # distributed total-order row id — an unpartitioned
        # Window.orderBy funnels the whole table through ONE task
        # (operators/ranks.py: "the first thing that dies at 100 TB")
        from ..operators.ranks import global_rank_distributed

        out = global_rank_distributed(
            out, [F.col(c) for c in order_cols], rank_col="_row_number"
        )
    return out


def clean_frame(
    df: DataFrame,
    key_cols: list[str] | None = None,
    numeric_impute: list[str] | None = None,
    categorical_impute: list[str] | None = None,
    clip_cols: list[str] | None = None,
    casts: dict[str, str] | None = None,
    iqr_k: float = 1.5,
) -> DataFrame:
    """The reference's _clean_data sequence (etl_pipeline.py:137-231):
    dedup → median/mode impute → IQR clip → casts. Statistics are exact
    (oracle-matching A7-A9); swap percentile → approx_percentile at 100 TB.
    """
    out = df.dropDuplicates(key_cols) if key_cols else df.dropDuplicates()

    stats_exprs = []
    for c in numeric_impute or []:
        stats_exprs.append(F.median(c).alias(f"med_{c}"))
    for c in clip_cols or []:
        stats_exprs.append(F.percentile(c, F.lit(0.25)).alias(f"q1_{c}"))
        stats_exprs.append(F.percentile(c, F.lit(0.75)).alias(f"q3_{c}"))
    stats = out.agg(*stats_exprs).first() if stats_exprs else {}

    if numeric_impute:
        # an all-NULL column (or empty frame) has no median — nothing to
        # impute with; None in a fillna dict is rejected by Spark
        fills = {
            c: stats[f"med_{c}"]
            for c in numeric_impute
            if stats[f"med_{c}"] is not None
        }
        if fills:
            out = out.fillna(fills)
    for c in categorical_impute or []:
        # mode with pandas tie semantics: highest count, then smallest value
        mode_row = (
            out.filter(F.col(c).isNotNull())
            .groupBy(c)
            .count()
            .orderBy(F.desc("count"), c)
            .first()
        )
        out = out.fillna({c: mode_row[c] if mode_row else "Unknown"})
    for c in clip_cols or []:
        q1, q3 = stats[f"q1_{c}"], stats[f"q3_{c}"]
        if q1 is None or q3 is None:
            continue  # degenerate column: no fences to clip against
        lo, hi = q1 - iqr_k * (q3 - q1), q3 + iqr_k * (q3 - q1)
        out = out.withColumn(c, F.greatest(F.least(F.col(c), F.lit(hi)), F.lit(lo)))
    for c, t in (casts or {}).items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out


@dataclass
class MedallionPipeline:
    """bronze → silver → gold with quality gates, mirroring the DAG task
    graph (dags/churn_prediction_pipeline.py:296-308)."""

    base_dir: str
    feature_transforms: list[Callable[[DataFrame], DataFrame]] = field(
        default_factory=list
    )
    clean_kwargs: dict = field(default_factory=dict)
    quality_kwargs: dict | None = None
    partition_by: list[str] | None = None
    # batch-stage structured logging (pipelines/runlog.py — the reference's
    # PipelineLogger twin): None disables; a StageLogger records one
    # processing_start/complete JSON pair per layer with rows in/out, wall
    # seconds, and the quality score on the layer the gate ran against
    stage_logger: "object | None" = None

    def _write(self, df: DataFrame, layer: str) -> tuple[str, int]:
        """Write one layer and count its rows from the written files'
        parquet footers (``io.written_rows``) instead of a count-back scan
        — one job per layer, not two. This is the engine form of the
        reference's per-stage row logging (etl_pipeline.py:62-69)."""
        path = os.path.join(self.base_dir, layer)
        writer = df.write.mode("overwrite").option("compression", "snappy")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(path)
        return path, written_rows(df.sparkSession, path)

    def run(
        self, spark: SparkSession, source: DataFrame, source_name: str = "memory"
    ) -> dict:
        """Returns {layer: path, quality: QualityReport, rows: {layer: n}}.

        Bronze is written, then read back with its written schema. The
        quality gate's jobs and silver's ``clean_frame`` statistics run
        concurrently (``parallel.run_all``): both read only bronze. Silver
        is written only after the gate passes; a failed gate raises its
        ``ValueError`` whatever the statistics did, and leaves no job
        running. Silver is read back with its written schema too, so no
        layer read starts a schema-inference job and a partitioned layer's
        partition column keeps its written type."""
        result: dict = {"rows": {}}
        log = self.stage_logger

        if log:
            log.stage_start("bronze")
        bronze = ingest_metadata(source, source_name)
        result["bronze"], result["rows"]["bronze"] = self._write(bronze, "bronze")
        bronze = read_written(spark, bronze, result["bronze"])
        if log:
            log.stage_complete(
                "bronze",
                result["rows"]["bronze"],
                source=source_name,
                path=result["bronze"],
            )

        report: QualityReport | None = None
        if self.quality_kwargs is not None:
            # silver's statistics jobs (clean_frame's actions) need only
            # bronze, so they overlap the gate's jobs; nothing of silver is
            # written until the gate has passed, and a failed gate raises
            # its own error whatever the statistics jobs did
            def silver_frame():
                try:
                    return clean_frame(bronze, **self.clean_kwargs), None
                except Exception as e:  # noqa: BLE001 — re-raised once the gate passes
                    return None, e

            report, (silver, silver_error) = run_all(
                spark,
                [
                    lambda: run_quality_checks(bronze, **self.quality_kwargs),
                    silver_frame,
                ],
            )
            result["quality"] = report
            if not report.passed:  # V10 gate: fail the run like the DAG does
                if log:
                    log.error(
                        "quality_gate",
                        f"overall {report.overall:.3f} < 0.8",
                        stage="bronze",
                    )
                raise ValueError(
                    f"quality gate failed: {report.overall:.3f} < 0.8"
                )

        if log:
            log.stage_start("silver", input_rows=result["rows"]["bronze"])
        if report is None:
            silver = clean_frame(bronze, **self.clean_kwargs)
        elif silver_error is not None:
            raise silver_error
        result["silver"], result["rows"]["silver"] = self._write(silver, "silver")
        silver = read_written(spark, silver, result["silver"])
        if log:
            log.stage_complete(
                "silver",
                result["rows"]["silver"],
                path=result["silver"],
                quality_score=(
                    round(report.overall, 4) if report is not None else None
                ),
            )

        if log:
            log.stage_start("gold", input_rows=result["rows"]["silver"])
        gold = silver
        for t in self.feature_transforms:
            gold = t(gold)
        result["gold"], result["rows"]["gold"] = self._write(gold, "gold")
        if log:
            log.stage_complete(
                "gold", result["rows"]["gold"], path=result["gold"]
            )
        return result
