"""Scalar function surface (SURVEY §2.8 F1–F16).

Every scalar the reference uses maps to a built-in
pyspark.sql.functions expression — JVM-side, whole-stage-codegen'd.
No Python UDFs here: UDFs are the slow path and nothing in F1–F14
needs one. Each helper documents the reference citation it
re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F3 — if(cond, a, b) (DwdTradeCartAdd.java:34)
def iff(cond: Column, a: Column, b: Column) -> Column:
    return F.when(cond, a).otherwise(b)


# F4/F9 — datetime formatting, fixed session zone (DateFormatUtil.java:19-59)
def fmt_date(ts: Column) -> Column:
    return F.date_format(ts, "yyyy-MM-dd")


def fmt_datetime(ts: Column) -> Column:
    return F.date_format(ts, "yyyy-MM-dd HH:mm:ss")


# F12 — composite key (DwsTrafficVcChArIsNewPageViewWindow.java:103).
# Kept for API parity; grouping keeps separate columns instead of a
# concatenated string key — Spark group-by keys are already composite.
def composite_key(*cols: str, sep: str = ":") -> Column:
    return F.concat_ws(sep, *[F.col(c) for c in cols])


# F14 — snake_case re-serialization (DorisMapFunction.java:8-15):
# snake_case is a column-naming convention in this engine.
def snake_case(name: str) -> str:
    """camelCase → snake_case (JdbcUtil.java:57-59 analogue)."""
    out = []
    for ch in name:
        if ch.isupper():
            out.append("_")
            out.append(ch.lower())
        else:
            out.append(ch)
    return "".join(out)


# F11 — exact money arithmetic: decimal columns (TradeSkuOrderBean.java:49-55)
def money(c: str | Column, precision: int = 18, scale: int = 2) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({precision},{scale})")
