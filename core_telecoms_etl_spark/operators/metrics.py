"""Operation metrics via Spark's Observation API (SURVEY.md §2.4 A2).

The reference tallies processed/success/failed/skipped per operation with
driver-side counters (plugins/utilities.py:25-46,
plugins/customerload.py:148-177). On Spark, metrics piggyback on the job
itself: `df.observe(...)` attaches named aggregates that are computed
DURING the action — no second pass over the data, no driver-side loops —
which is the only affordable way to count at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class ObservedFrame:
    """A DataFrame with an attached Observation. Run any action on `df`,
    then read `metrics` (blocks until the action finishes)."""

    df: DataFrame
    observation: Observation

    @property
    def metrics(self) -> dict:
        """The observed values, or {} when the action's final plan lost
        the observed node: once a shuffle stage above it comes back
        empty, AQE replaces the plan over that stage with an empty
        relation, and the metrics computed below it are not reported
        (Spark 4.1)."""
        if self.observation._jo.getRow().length() == 0:
            return {}
        return dict(self.observation.get)

    @property
    def n_rows(self) -> int:
        """The observed row count; when the metrics were lost (see
        `metrics`), one count job over the same plan."""
        m = self.metrics
        return m["n_rows"] if m else self.df.count()


def observe_counts(
    df: DataFrame,
    *,
    name: str = "load_metrics",
) -> ObservedFrame:
    """Attach a row-count metric to a plan. The count comes for free
    with whatever action the caller runs."""
    obs = Observation(name)
    return ObservedFrame(
        df=df.observe(obs, F.count(F.lit(1)).alias("n_rows")),
        observation=obs,
    )
