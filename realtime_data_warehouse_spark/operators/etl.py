"""ETL operators: parse / filter / project / split (SURVEY §2.3 P1–P8).

The reference does all of this row-at-a-time in Java flatMaps
(DimApp.java:179-195, DwdBaseLog.java:82-135). Here each step is a
declarative DataFrame transform, so Catalyst pushes the filters into
the scan and prunes columns — the manual "filter early" discipline
the reference hand-codes (SURVEY §4) falls out for free.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# P1 — ETL parse-filter (DimApp.java:179-195 and variants)
# ---------------------------------------------------------------------------

def parse_json_stream(raw: DataFrame, schema: T.StructType,
                      value_col: str = "value") -> DataFrame:
    """try-parse JSON, drop malformed. from_json yields a null struct
    for corrupt input — the declarative twin of the reference's
    try/catch-and-drop."""
    return (
        raw.select(F.from_json(F.col(value_col), schema).alias("j"))
        .filter(F.col("j").isNotNull())
        .select("j.*")
    )


def cdc_etl_filter(df: DataFrame, database: str = "gmall") -> DataFrame:
    """Keep real changes of the target database: drop bootstrap-start/
    bootstrap-complete control records and empty payloads
    (DimApp.java:184-193)."""
    return df.filter(
        (F.col("database") == database)
        & (~F.col("type").isin("bootstrap-start", "bootstrap-complete"))
        & F.col("data").isNotNull()
        & (F.size(F.map_keys(F.col("data"))) > 0)
    )


# ---------------------------------------------------------------------------
# P2/P5 — predicates over the CDC envelope
# ---------------------------------------------------------------------------

def cart_add_predicate() -> Column:
    """`table='cart_info' AND (insert OR (update AND old.sku_num grew))`
    (DwdTradeCartAdd.java:29-49)."""
    old_num = F.element_at(F.col("old"), "sku_num")
    new_num = F.element_at(F.col("data"), "sku_num")
    return (F.col("table") == "cart_info") & (
        (F.col("type") == "insert")
        | (
            (F.col("type") == "update")
            & old_num.isNotNull()
            & (new_num.cast("long") > old_num.cast("long"))
        )
    )


def status_transition_predicate(col_name: str, from_code: str, to_code: str) -> Column:
    """P5 — e.g. order cancel: old.order_status=1001 →
    data.order_status=1003 (DwdTradeOrderCancelDetail.java:48-57)."""
    return (
        (F.col("type") == "update")
        & (F.element_at(F.col("old"), col_name) == from_code)
        & (F.element_at(F.col("data"), col_name) == to_code)
    )


# ---------------------------------------------------------------------------
# P3 — flatten the CDC `data` map into typed columns
# ---------------------------------------------------------------------------

def flatten_data_map(df: DataFrame, fields: Mapping[str, str],
                     map_col: str = "data", keep: list[str] | None = None) -> DataFrame:
    """`data['id'] AS id, ...` (DwdTradeCartAdd.java:30-43). `fields`
    maps output name → Spark type string; values come out of the map
    and are cast. `keep` carries envelope columns (ts, type, ...)."""
    cols = [
        F.element_at(F.col(map_col), k).cast(t).alias(k) for k, t in fields.items()
    ]
    cols += [F.col(c) for c in (keep or [])]
    return df.select(*cols)


# ---------------------------------------------------------------------------
# P4 — cart-quantity delta (DwdTradeCartAdd.java:34, T12)
# ---------------------------------------------------------------------------

def cart_delta_num() -> Column:
    """insert → sku_num; update → new − old (net addition)."""
    new_num = F.element_at(F.col("data"), "sku_num").cast("long")
    old_num = F.element_at(F.col("old"), "sku_num").cast("long")
    return F.when(F.col("type") == "insert", new_num).otherwise(new_num - old_num)


# ---------------------------------------------------------------------------
# P6 — config-driven column pruning (DimApp.java:75-88, DwdBaseDb.java:131-142)
# ---------------------------------------------------------------------------

def prune_map_by_config(df: DataFrame, sink_columns_col: str = "sink_columns",
                        map_col: str = "data") -> DataFrame:
    """Keep only the JSON-map keys named in the row's sink_columns CSV.
    The column list is *data* (arrives joined from the config table),
    so this must stay a runtime expression: map_filter over the split
    CSV — still codegen'd, no UDF."""
    allowed = F.split(F.col(sink_columns_col), ",")
    return df.withColumn(
        map_col,
        F.map_filter(F.col(map_col), lambda k, _v: F.array_contains(allowed, k)),
    )


# ---------------------------------------------------------------------------
# P8 — stream split (DwdBaseLog.java:82-135): one parsed log stream
# routed to err / start / display / action / page outputs.
# ---------------------------------------------------------------------------

def split_log_stream(log: DataFrame) -> dict[str, DataFrame]:
    """Five filtered projections of one pass over the parsed log.

    Side outputs become independent DataFrames off the same parent —
    Spark caches nothing here by itself; in streaming these are
    written by a single foreachBatch (sinks.multi_sink) so the
    source is read once per micro-batch, mirroring Flink's one-pass
    side-output routing. `displays`/`actions` arrays explode to one
    row per element enriched with common/page/ts
    (DwdBaseLog.java:103-125; we emit the *element*, not the whole
    array — reference quirk SURVEY §7.5.2 fixed)."""
    err = log.filter(F.col("err").isNotNull()).drop("displays", "actions")
    start = (
        log.filter(F.col("err").isNull() & F.col("start").isNotNull())
        .drop("displays", "actions", "err")
    )
    page_side = log.filter(F.col("err").isNull() & F.col("start").isNull())
    display = (
        page_side.filter(F.size("displays") > 0)
        .select("common", "page", "ts", F.explode("displays").alias("display"))
    )
    action = (
        page_side.filter(F.size("actions") > 0)
        .select("common", "page", "ts", F.explode("actions").alias("action"))
    )
    page = page_side.drop("displays", "actions", "err", "start")
    return {"err": err, "start": start, "display": display,
            "action": action, "page": page}
