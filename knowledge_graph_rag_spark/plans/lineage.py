"""Run record of the resumable pipelines: stage outcomes, per-partition
lineage and metrics (north-rule requirement).

:class:`RunResult` is what ``pipeline.run`` / ``run_incremental`` /
``run_full`` and ``datapipe.curate`` return, and
:meth:`RunResult.run_or_skip` is the ONE run-or-skip stage protocol behind
every resumable stage of those plans: a stage whose manifest entry exists is
recorded as skipped; otherwise its commit runs, the manifest marks it done,
and it is recorded as run. A killed job therefore resumes idempotently (S9
semantics, ``auto_processor.py:828-887``).

:func:`partition_lineage` emits explicit per-partition row counts
(``spark_partition_id`` groupBy) as LINEAGE_SCHEMA rows into the metrics
table; this is the audit trail that makes a resumed run provably identical
to an uninterrupted one (compare per-partition counts across runs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ..sources.graph_store import GraphStore


@dataclass
class RunResult:
    run_id: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)

    def run_or_skip(self, store: GraphStore, name: str, unit: str,
                    commit: Callable[[], object], prefix: str = "") -> bool:
        """Run stage ``name`` unless the manifest holds
        ``<prefix><name>::<unit>``: ``commit()`` writes the stage's output,
        then the manifest entry is recorded. The entry is written only after
        the commit returns, so a crash mid-commit re-runs the stage. The
        stage is reported as ``name`` (without ``prefix``). Returns whether
        the stage ran."""
        if store.is_done(prefix + name, unit):
            self.stages_skipped.append(name)
            return False
        commit()
        store.mark_done(prefix + name, unit, run_id=self.run_id)
        self.stages_run.append(name)
        return True


def partition_lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """LINEAGE_SCHEMA rows: one per (stage, partition) with its row count."""
    return (
        df.select(F.spark_partition_id().alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            F.lit("rows").alias("metric"),
            "value",
        )
    )


def totals(metrics_df: DataFrame) -> DataFrame:
    """Stage-level rollup of the per-partition rows."""
    return (
        metrics_df.groupBy("run_id", "stage", "metric")
        .agg(F.sum("value").alias("value"), F.count("*").alias("partitions"))
        .orderBy("run_id", "stage", "metric")
    )
