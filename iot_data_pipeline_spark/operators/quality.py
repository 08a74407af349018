"""Declarative data-quality expectations: rule-based validate/quarantine.

Generalizes the reference's critical-field validation (README-declared
A20 -- "checks presence and validity of critical data fields", reference
README.md:9,38, and the per-record probes app/app.py:51-58) from two
hard-coded checks into a rule set evaluated in ONE pass:

- every rule is a named boolean Column over the row;
- ``violations`` collects the names of failed rules per row (empty array
  == clean row);
- clean and quarantined rows split from the same cached frame, so the
  rules evaluate once regardless of how many sinks consume the split --
  the same single-pass posture as sources/readers.split_corrupt.

All rule evaluation is column expressions inside whole-stage codegen; a
10-rule set adds zero shuffles and one projection to the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iot_data_pipeline_spark.transient import transient_persist

VIOLATIONS_COL = "violations"


@dataclass(frozen=True)
class Expectation:
    """A named row-level constraint; ``check`` is True for VALID rows."""

    name: str
    check: Column


def with_violations(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Append ``violations: array<string>`` listing each failed rule.

    NULL check results count as violations (a constraint that cannot be
    proven true is false -- matches the reference's treatment of missing
    fields, app/app.py:51).
    """
    names = {r.name for r in rules}
    if len(names) != len(rules):
        raise ValueError("duplicate expectation names")
    failed = F.array_compact(
        F.array(
            *[
                F.when(~r.check.eqNullSafe(F.lit(True)), F.lit(r.name))
                for r in rules
            ]
        )
    )
    return df.withColumn(VIOLATIONS_COL, failed)


def expect_split(
    df: DataFrame, rules: list[Expectation]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined): clean rows drop the violations column;
    quarantined rows keep it for the dead-letter sink. One evaluation
    pass feeds both outputs."""
    # transient (round-15): registered so batch drivers can unpersist
    # after the consuming query's action -- a bare .cache() here pinned
    # one CacheManager entry per expect_split call for the session's
    # lifetime (guide section 5)
    marked = transient_persist(with_violations(df, rules))
    clean = marked.filter(F.size(VIOLATIONS_COL) == 0).drop(VIOLATIONS_COL)
    quarantined = marked.filter(F.size(VIOLATIONS_COL) > 0)
    return clean, quarantined

