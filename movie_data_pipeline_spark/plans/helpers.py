"""Column helpers shared by the plan modules. A leaf module: it imports
nothing from ``plans/``, so every plan module can use it whatever
order the registry imports them in."""

from __future__ import annotations

from pyspark.sql import functions as F


def dec_sum(col: F.Column, scale: int = 6) -> F.Column:
    """Partition-order-independent sum of a double column: each value
    is cast to decimal(30, ``scale``) first, so the total does not
    depend on the order partial sums are combined in."""
    return F.sum(col.cast(f"decimal(30,{scale})"))
