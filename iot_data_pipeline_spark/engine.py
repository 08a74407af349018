"""User-facing facade: one object that exposes the whole engine surface.

A user of the reference interacts with it as "point the worker at a
bucket" (reference app/app.py:91-95). The Spark-native equivalent is a
session wired to a data directory, with the catalog registered and every
declared capability reachable by name:

    eng = Engine.local("/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem")        # ad-hoc SQL
    eng.table("orders").groupBy(...)                 # DataFrame API
    eng.run("q05_revenue_per_nation")                # declared queries
    eng.process_jsonl(in_dir, out_dir)               # the reference worker
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iot_data_pipeline_spark.session import build_session
from iot_data_pipeline_spark.sources.readers import TABLES, read_table, register_views


class Engine:
    """Session + data-directory binding with the declared-query registry
    and the reference-parity pipeline attached."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        register_views(spark, sf_dir)

    @classmethod
    def local(cls, sf_dir: str, **session_kwargs) -> "Engine":
        """Engine on a local session with the engine's conf defaults."""
        return cls(build_session(**session_kwargs), sf_dir)

    # -- data access ---------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; have {sorted(TABLES)}")
        return read_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL over the registered testdata views (B5)."""
        return self.spark.sql(query)

    # -- declared queries ---------------------------------------------
    def run(self, query_name: str) -> DataFrame:
        """Run a declared query by registry name (COVERAGE.md lists all)."""
        from iot_data_pipeline_spark.queries import REGISTRY

        if query_name not in REGISTRY:
            raise KeyError(
                f"unknown query {query_name!r}; have {sorted(REGISTRY)}"
            )
        return REGISTRY[query_name].fn(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        from iot_data_pipeline_spark.queries import REGISTRY

        return sorted(REGISTRY)

    # -- reference worker surface --------------------------------------
    def process_jsonl(self, in_path: str, out_path: str, **config_kwargs):
        """The reference pipeline (scan -> validate/split -> transform ->
        enrich -> sink) as one call; see pipeline.run_batch_pipeline."""
        from iot_data_pipeline_spark.pipeline import (
            PipelineConfig,
            run_batch_pipeline,
        )

        return run_batch_pipeline(
            self.spark, in_path, out_path, PipelineConfig(**config_kwargs)
        )

    # -- data quality ---------------------------------------------------
    def validate(self, df: DataFrame, rules):
        """Rule-based validate/quarantine split (operators/quality.py):
        returns (clean, quarantined-with-violations)."""
        from iot_data_pipeline_spark.operators.quality import expect_split

        return expect_split(df, rules)

    # -- custom connectors ----------------------------------------------
    def register_connectors(self) -> None:
        """Register the engine's Python DataSources (sources/custom.py)
        on this session; afterwards ``format("sensor_synthetic")`` works
        in both read and readStream."""
        from iot_data_pipeline_spark.sources.custom import register_sensor_source

        register_sensor_source(self.spark)

    # -- streaming rollup ----------------------------------------------
    def rollup(self, path: str, keys: list[str], values: list[str]) -> DataFrame:
        """Current totals of an incremental rollup zone
        (streaming/rollup.py): folds the mergeable partials."""
        from iot_data_pipeline_spark.streaming.rollup import read_rollup

        return read_rollup(self.spark, path, keys, values)

    # -- materialized views --------------------------------------------
    def refresh_view(self, root: str, name: str, df: DataFrame) -> int:
        """Materialize ``df`` as the next snapshot of ``name`` under
        ``root`` and atomically publish it (sources/matview.py)."""
        from iot_data_pipeline_spark.sources import matview

        return matview.refresh(self.spark, root, name, df)

    def read_view(
        self, root: str, name: str, version: int | None = None
    ) -> DataFrame:
        """Read the published snapshot of a materialized view (or pin an
        older ``version`` for time travel)."""
        from iot_data_pipeline_spark.sources import matview

        return matview.read(self.spark, root, name, version=version)

    # -- incremental backfill ------------------------------------------
    def backfill(self, src_path: str, dst_path: str, partition_col: str, derive, full: bool = False) -> list[str]:
        """Recompute only stale partitions of a derived zone
        (sources/backfill.py); returns the partition values rebuilt."""
        from iot_data_pipeline_spark.sources.backfill import backfill

        return backfill(self.spark, src_path, dst_path, partition_col, derive, full=full)

    def expire_snapshots(
        self,
        zone: str,
        keep_last: int = 2,
        keep_age_s: float | None = None,
    ) -> list[int]:
        """Snapshot retention for an atomically-published zone (round
        14): keep the newest ``keep_last`` versions OR anything younger
        than ``keep_age_s``; delete only outside both. Returns the
        versions removed (``matview.vacuum_snapshots``, the one
        retention call)."""
        from iot_data_pipeline_spark.sources.matview import vacuum_snapshots

        return vacuum_snapshots(
            self.spark, zone, keep=keep_last, keep_age_s=keep_age_s
        )

    def release_claim(self, zone: str, version: int | None = None) -> list[int]:
        """Operator remediation after a publisher CRASHED mid-refresh:
        remove the stale slot claim(s) blocking further refreshes of
        ``zone`` (sources/matview.py; a live publisher cleans up after
        itself -- confirm nothing is in flight first)."""
        from iot_data_pipeline_spark.sources.matview import release_claim

        return release_claim(self.spark, zone, version)
