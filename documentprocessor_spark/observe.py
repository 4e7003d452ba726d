"""Row counts that ride the action a job already runs.

``counted`` attaches an Observation of a DataFrame's row count; the one
action that executes the returned DataFrame fills it, so the count costs
no pass of its own. ``observed_rows`` reads it back, and counts directly
only when the observed node left the executed plan: when a stage comes
out empty, AQE replaces the plan parts it makes moot by empty relations,
and their metrics go with them. The root of a write's plan always stays,
so an observation there is read with ``Observation.get``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def counted(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation of its row count. Run the returned
    DataFrame exactly once: every action over it fills the Observation."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def observed_rows(obs: Observation, recount: Callable[[], int]) -> int:
    """The count ``obs`` observed, or ``recount()`` when no metrics were
    sent."""
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get["rows"]
    except Py4JJavaError:
        return recount()
