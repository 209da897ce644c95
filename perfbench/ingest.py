"""The ingest phase: landed dump files → marts committed, quality passed.

Timed: ``schema.inference.infer_from_tsv`` on each table's newest day →
``io.sources.load_with_pattern_routing`` over every landed file →
``pipeline.run_transform_dag(base_path=…)`` with its quality suite.
Functions are looked up on their modules at call time, so the traced
run's wrappers see these calls.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

from blockchair_etl_spark import pipeline
from blockchair_etl_spark.io import sources
from blockchair_etl_spark.schema import inference
from blockchair_etl_spark.schema.registry import RAW_SCHEMAS, TABLE_FILE_PATTERNS

TABLE_MODELS = (
    "int_transaction_flows",
    "int_address_balances_with_history",
    "fct_transaction_traces",
    "dim_addresses",
    "dim_blocks",
)


@dataclass
class IngestResult:
    wall_s: float
    marts: dict
    skipped: list
    files_written: dict
    violations: int
    errors: list = field(default_factory=list)


def run_ingest(spark, files: list[str], sample_day: str, base_path: str) -> IngestResult:
    """Ingest ``files``; infer each table's schema from its ``sample_day`` file."""
    t0 = time.perf_counter()
    inferred = {
        table: inference.infer_from_tsv(
            spark, next(f for f in files if f"_{table}_{sample_day}." in f)
        )
        for table in RAW_SCHEMAS
    }
    raw, report = sources.load_with_pattern_routing(
        spark, files, TABLE_FILE_PATTERNS, RAW_SCHEMAS
    )
    marts, checks = pipeline.run_transform_dag(raw, base_path=base_path)
    wall = time.perf_counter() - t0

    errors = [f"quality check failed: {c.name} ({c.violations} rows)" for c in checks if not c.passed]
    if not checks:
        errors.append("quality suite did not run")
    for table, schema in inferred.items():
        want = [f.name.upper() for f in RAW_SCHEMAS[table].fields]
        if [name for name, _ in schema] != want:
            errors.append(f"inferred columns of {table} differ from the registry")
    written = {
        m: len(glob.glob(os.path.join(base_path, m, "**", "part-*.parquet"), recursive=True))
        for m in TABLE_MODELS
    }
    violations = sum(c.violations for c in checks)
    return IngestResult(wall, marts, [f for f, _ in report.skipped], written, violations, errors)


def check_ingest(res: IngestResult, bad_file: str, flow_rows: int) -> list[str]:
    """Untimed output checks beyond the quality suite: exactly the
    malformed file skipped, and the flow fan-out row count."""
    errors = list(res.errors)
    if res.skipped != [bad_file]:
        errors.append(f"skipped files {res.skipped} != [{bad_file}]")
    n = res.marts["fct_transaction_traces"].count()
    if n != flow_rows:
        errors.append(f"fct_transaction_traces has {n} rows, generator implies {flow_rows}")
    return errors
