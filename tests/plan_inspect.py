"""Plan-shape assertions for scale correctness (test helpers).

At 100 TB a query that *passes* but scans all columns, shuffles a
broadcastable dim, or drops out of whole-stage codegen in the hot path is
wrong even though its rows are right. These helpers read
``df.explain("formatted")`` output so tests can pin the plan shape, not
just the result set (SURVEY.md section 4.2 -- the free Catalyst work we
rely on must actually be happening).

Textual plan parsing is the public, version-stable surface for this
(the JVM plan-node API is not exposed to PySpark); matching is kept to
coarse node names that survive Spark minor versions. The codegen count
is the one exception: it reaches the static plan through Py4J.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filters(df: DataFrame, *needles: str) -> bool:
    """True if the scan reports non-empty PushedFilters (and contains every
    ``needle``, e.g. a column name expected to reach the parquet reader)."""
    plan = formatted_plan(df)
    m = re.search(r"PushedFilters: \[(.+?)\]", plan)
    if not m or not m.group(1).strip():
        return False
    return all(n in m.group(1) for n in needles)


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each scan's ReadSchema -- the pruning check: a scan
    whose ReadSchema is wider than the query's needs is reading dead bytes
    (at 100 TB, dead bytes are the dominant cost)."""
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", plan):
        body = m.group(1)
        cols = [c.split(":")[0].strip() for c in re.split(r",(?=[^<>]*(?:<|$))", body) if c.strip()]
        out.append(cols)
    return out


def broadcast_join_count(df: DataFrame) -> int:
    """Number of BroadcastHashJoin nodes (dim joins must broadcast: a
    shuffled dim join at 1000 executors moves the fact table for nothing)."""
    return len(re.findall(r"BroadcastHashJoin", formatted_plan(df)))


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) nodes, excluding broadcast exchanges.
    Every one is a full network pass over its input at scale."""
    # \bExchange\b cannot match inside "BroadcastExchange" (no word
    # boundary between "t" and "E"), so plain-Exchange nodes are exactly
    # what this counts -- no subtraction.
    return len(re.findall(r"\bExchange\b", formatted_plan(df)))


def wholestage_codegen_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees -- wide spans mean the hot path
    stays in generated JVM code instead of interpreted evaluation.

    Counts on the static plan (same operators, pre-AQE): an unexecuted
    AdaptiveSparkPlan hides its subtrees from both the formatted and
    codegen explain modes. The static plan is the query's own physical
    plan prepared without the adaptive rule, so no session conf changes
    while the count is read.
    """
    jvm = df.sparkSession._jvm
    qe = df._jdf.queryExecution()
    static = jvm.org.apache.spark.sql.execution.QueryExecution.prepareExecutedPlan(
        qe.sparkSession(), qe.sparkPlan()
    )
    return jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(
        static
    ).size()
