"""Plan inspection helpers — the '.explain and iterate' loop as a
library, used by tests/test_plans.py to freeze plan-shape
expectations (broadcast-not-sort-merge, pushed filters,
WindowGroupLimit, no accidental cartesians)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (mode: simple|extended|formatted|
    codegen|cost)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()
