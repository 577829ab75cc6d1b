"""Declarative batch pipeline (SURVEY.md §3 — the engine's entry point
shape (a), ``Pipeline.run()``).

A reference script (E1-E3) is an eager top-to-bottom pandas program; here
the same pipeline is data: a source loader, a lazy transform, DQ gates,
and sinks. ``run`` composes them so that

- the transform chain stays ONE lazy plan (Catalyst sees scan→sink whole
  and pushes filters/prunes columns into the source scan),
- the transformed frame is persisted once, before the gates, so a gate's
  ``limit(1)`` existence check and every sink (§2.2 K3 multi-sink
  fan-out, `sf_html_data.py:176-185`) read the one computed copy
  instead of re-running the transform, and a remote load such as E2's
  paginated REST ingest is fetched once per run,
- DQ gates run BEFORE any sink work starts (§4: gate short-circuit).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ug_dwh_etl_spark.operators.quality import expect
from ug_dwh_etl_spark.session import pinned
from ug_dwh_etl_spark.sinks.alerts import AlertSink


@dataclass
class Gate:
    """DQ assertion (§2.13 Q1): rows matching ``violation`` trigger an
    alert; ``blocking`` aborts the run (the reference's root-URL-not-200
    check alerts but continues, `sf_html_data.py:95-105`).

    ``violation`` may read a load column that the transform projects
    away, as E1's gate reads ``text``: Spark resolves it below the
    projection, so that gate scans the source (``documents``) rather
    than the persisted frame. It stays correct, and cheap as long as the
    column comes straight from the scan."""

    violation: Column
    title: str
    message: str
    blocking: bool = False


@dataclass
class Pipeline:
    name: str
    load: Callable[[SparkSession], DataFrame]
    transform: Callable[[DataFrame], DataFrame]
    gates: Sequence[Gate] = field(default_factory=tuple)
    sinks: Sequence[Callable[[DataFrame], None]] = field(default_factory=tuple)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        """The pipeline as one lazy plan (no action)."""
        return self.transform(self.load(spark))

    def run(self, spark: SparkSession, alert: AlertSink | None = None) -> bool:
        """Persist → gates → sinks, releasing the persisted frame on
        exit, also when a blocking gate or a sink raises. Returns True
        when every gate passed."""
        with pinned() as pin:
            df = pin(self.dataframe(spark), StorageLevel.MEMORY_AND_DISK)
            ok = True
            for gate in self.gates:
                passed = expect(
                    df,
                    gate.violation,
                    gate.title,
                    gate.message,
                    alert=alert,
                    fail=gate.blocking,
                )
                ok = ok and passed
            for sink in self.sinks:
                sink(df)
            return ok
