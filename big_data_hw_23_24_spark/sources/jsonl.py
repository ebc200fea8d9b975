"""Schema-on-read JSON-lines ingestion with corrupt-record tolerance.

Real crawls deliver JSONL with a malformed tail: truncated flushes,
encoding accidents, half-written records. The ingestion contract that
scales is PERMISSIVE parsing — malformed lines yield nulls and an
explicit ok flag instead of failing the batch — so triage is a filter,
not a re-run. ``from_json`` is a narrow JVM expression: parsing runs
at scan speed, no Python, no shuffle.

The reference reads positional CSV only (``G019HW1.java:58-66``);
declared new source surface, SURVEY.md E91.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_json_lines(df: DataFrame, json_col: str, schema_ddl: str,
                     ok_probe: str) -> DataFrame:
    """Parse a JSON-string column against ``schema_ddl`` (DDL text,
    e.g. ``"doc_id BIGINT, lang STRING"``), adding ``rec`` (the
    parsed struct) and ``parse_ok``.

    PERMISSIVE semantics: a malformed line parses to a struct of
    nulls, never an error. ``ok_probe`` names a field that is
    guaranteed non-null in every WELL-FORMED record (a required key);
    its null-ness is the corrupt-record signal — Spark's struct-level
    result does not distinguish "malformed" from "all fields absent",
    and a required-key probe is the portable way to (any engine can
    state ``json_valid AND key IS NOT NULL``).
    """
    rec = F.from_json(F.col(json_col), schema_ddl)
    return (df.withColumn("rec", rec)
            .withColumn("parse_ok", rec[ok_probe].isNotNull()))


def parse_csv_lines(df: DataFrame, csv_col: str, schema_ddl: str,
                    ok_probe: str) -> DataFrame:
    """The CSV sibling of :func:`parse_json_lines`: parse a
    CSV-formatted string column against ``schema_ddl`` with
    PERMISSIVE semantics — truncated lines yield null trailing
    fields, uncastable fields yield null — plus the same
    required-field ``ok_probe`` corrupt-record flag.

    Log shippers and legacy exports deliver exactly this shape (a
    CSV payload INSIDE a record of another envelope), where the
    file-level CSV reader (``sources.tables``) doesn't apply.
    ``from_csv`` is a narrow JVM expression like ``from_json``:
    scan-speed, no Python, no shuffle.
    """
    rec = F.from_csv(F.col(csv_col), schema_ddl)
    return (df.withColumn("rec", rec)
            .withColumn("parse_ok", rec[ok_probe].isNotNull()))
