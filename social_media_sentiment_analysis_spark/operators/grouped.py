"""Grouped aggregates Spark lacks as built-ins, written as Column
expressions so they stay in whole-stage codegen.

A per-group aggregate that reduces to built-ins (here the geometric mean,
exp∘avg∘ln) never needs a Python crossing: a grouped-agg pandas UDF or an
``applyInPandas`` group map would ship every group to a Python worker —
one whole group per task, so a hot key materializes entirely — for the
same result.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def geomean_column(col):
    """Geometric mean over positive values: exp(avg(ln(x))) — zero Python
    crossings (``type_value_geomean``'s DuckDB oracle pins it)."""
    positive = F.when(F.col(col) > 0, F.log(F.col(col)))
    return F.exp(F.avg(positive))
