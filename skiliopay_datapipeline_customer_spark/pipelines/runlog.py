"""Batch-stage structured logging — the engine twin of the reference's
``PipelineLogger`` / rotating JSON logs
(/root/reference/src/utils/logging_config.py:88-132,273-303).

The reference configures a dictConfig with a JSON formatter feeding stdout
plus a 10 MB × 5-backup ``RotatingFileHandler``, and its ``PipelineLogger``
emits one structured record per stage boundary (``processing_start`` /
``processing_complete`` with stage, input_rows, output_rows,
duration_seconds). This module reproduces those semantics on the engine's
layer row counts: every record is one JSON object per line,
written through the same stdlib rotating handler, so a log shipper pointed
at the reference's files can ingest these unchanged.

Driver-side only by design: stage boundaries are driver events (a layer
write finishing), counts come from the written files' parquet footers
(``io.written_rows``) — no extra Spark action, nothing per-row, so the
logging cost grows with the file count, not the data.
"""

from __future__ import annotations

import json
import logging
import logging.handlers
import time
from dataclasses import dataclass, field


class JsonLineFormatter(logging.Formatter):
    """One JSON object per line — field layout mirrors the reference's
    json formatter (timestamp, level, logger, message, plus the record's
    structured extras)."""

    def format(self, record: logging.LogRecord) -> str:
        out = {
            "timestamp": self.formatTime(record, "%Y-%m-%dT%H:%M:%S"),
            "level": record.levelname,
            "logger": record.name,
            "message": record.getMessage(),
        }
        out.update(getattr(record, "fields", {}))
        return json.dumps(out)


def make_stage_logger(
    name: str,
    log_path: str | None = None,
    max_bytes: int = 10 * 1024 * 1024,
    backup_count: int = 5,
) -> logging.Logger:
    """Logger with the reference's handler config: JSON lines, rotating
    file (10 MB × 5 backups, logging_config.py:278-283). ``log_path=None``
    keeps it in-process only (tests attach their own handler)."""
    logger = logging.getLogger(name)
    logger.setLevel(logging.INFO)
    logger.propagate = False
    if log_path is not None and not any(
        isinstance(h, logging.handlers.RotatingFileHandler)
        and getattr(h, "baseFilename", None) == log_path
        for h in logger.handlers
    ):
        handler = logging.handlers.RotatingFileHandler(
            log_path, maxBytes=max_bytes, backupCount=backup_count
        )
        handler.setFormatter(JsonLineFormatter())
        logger.addHandler(handler)
    return logger


@dataclass
class StageLogger:
    """Per-stage structured records over a batch run — the
    ``PipelineLogger.log_processing_start/complete`` twin. Collects every
    record in memory too (``records``) so callers and tests can assert on
    the run without re-parsing the log file."""

    name: str = "pipeline"
    log_path: str | None = None
    records: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._logger = make_stage_logger(self.name, self.log_path)
        self._starts: dict[str, tuple[float, int | None]] = {}

    def _emit(self, message: str, **fields) -> dict:
        rec = dict(fields)
        self._logger.info(message, extra={"fields": rec})
        self.records.append({"message": message, **rec})
        return rec

    def stage_start(self, stage: str, input_rows: int | None = None) -> None:
        """reference: log_processing_start(stage, rows). input_rows may be
        unknown up front (lazy frame) — the complete record carries it."""
        self._starts[stage] = (time.monotonic(), input_rows)
        self._emit(
            "Data processing started",
            stage=stage,
            input_rows=input_rows,
            operation="processing_start",
        )

    def stage_complete(
        self,
        stage: str,
        output_rows: int,
        input_rows: int | None = None,
        **extra,
    ) -> dict:
        """reference: log_processing_complete(stage, input_rows,
        output_rows, duration). Extra keyword fields (e.g. quality_score,
        path) ride the same record."""
        t0, start_rows = self._starts.pop(stage, (time.monotonic(), None))
        return self._emit(
            "Data processing completed",
            stage=stage,
            input_rows=input_rows if input_rows is not None else start_rows,
            output_rows=output_rows,
            duration_seconds=round(time.monotonic() - t0, 3),
            operation="processing_complete",
            **extra,
        )

    def error(self, operation: str, error: str, **context) -> dict:
        """reference: log_error(operation, error, context)."""
        rec = self._emit(
            "Operation failed",
            operation=operation,
            error=error,
            **context,
        )
        return rec
