"""In-process run metrics that need no Spark UI."""

from __future__ import annotations

from pyspark.sql import Observation


def observed(obs: Observation) -> dict:
    """The metrics ``obs`` collected in its action, or {} if the observed
    operator never ran: adaptive execution replaces the plan above an
    exchange it finds empty with an empty relation, metrics and all, and
    ``Observation.get`` fails on the empty row that leaves."""
    return obs.get if obs._jo.getRow().length() else {}
