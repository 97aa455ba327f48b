"""Join-output value construction (SURVEY §2.2 P3).

The reference builds its joined value by string interpolation, NOT a JSON
library: ``s\"\"\"{"display":$value2,"click":$value1}\"\"\"``
(``TimeoutJoinTest.scala:76-78``). We reproduce that byte-exactly with
``concat`` (pure JVM expression, whole-stage-codegen'd) — ``to_json`` would
reorder/re-quote and break golden-output parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def join_payload(display_value: Column, click_value: Column) -> Column:
    """``{"display":<d>,"click":<c>}`` — byte-exact P3 payload."""
    return F.concat(
        F.lit('{"display":'),
        display_value,
        F.lit(',"click":'),
        click_value,
        F.lit("}"),
    )
