"""CDC change-row model (SURVEY §2.1 S2).

Spark has no native MySQL-CDC source; the idiomatic model is a
DataFrame of change rows carrying the Maxwell-style envelope the
reference consumes from `topic_db` (type: insert/update/delete/
bootstrap-*, data, old — FIXTURES.md §1.1, DimApp.java:126-151).
Downstream operators apply them with MERGE-style upsert semantics
(streaming/sinks.upsert_batch / dim_upsert_batch). This module
synthesizes deterministic change streams from the driver's batch
tables so the upsert / retraction / delete paths (SURVEY J1, A6, K5,
K6) are exercised without a database.

Determinism contract: row selection is pure key arithmetic
(`key % 10000 < 500` for updates, `key % 1000 == 7` for deletes) and
the synthetic version clock is type-ranked (bootstrap=0 < update=1 <
delete=2, offset from the row ts when one exists) — both trivially
re-expressible in the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELETE_MOD = 1_000
DELETE_RESIDUE = 7


def changelog(snapshot: DataFrame, table: str, key_col: str, ts_col: str | None,
              update_col: str, with_deletes: bool = False,
              database: str = "gmall") -> DataFrame:
    """bootstrap snapshot + deterministic updates (+ optional deletes)
    — a full StartupOptions.initial()-style changelog
    (FlinkSourceUtil.java:46-62).

    Single-scan synthesis: instead of union'ing three branches that
    each re-scan the snapshot (3 scans + 3× the plan nodes), one pass
    emits per row an array of candidate change structs — bootstrap
    always, update/delete only when the key arithmetic selects the
    row (NULL otherwise) — then explodes and drops the NULLs. Same
    rows, same values as the three-branch union; at 100 TB this turns
    three fact-table scans into one.

    Dimension tables carry no event time (HBase dims are pure KV,
    HBaseUtil.java:80-103): with `ts_col=None` the clock starts at 0."""
    # The whole variant array is ONE parsed SQL expression (a few
    # hundred F.lit/F.struct/F.when Column round trips otherwise —
    # measurable driver latency when several tables synthesize per
    # query).
    cols = snapshot.columns
    base_sql = f"unix_timestamp({ts_col})" if ts_col else "CAST(0 AS BIGINT)"
    key_sql = f"CAST({key_col} AS BIGINT)"
    null_old_sql = "CAST(NULL AS MAP<STRING,STRING>)"

    def data_sql(double_col: str | None = None) -> str:
        kv = ", ".join(
            f"'{c}', CAST({c} * 2 AS STRING)" if c == double_col
            else f"'{c}', CAST({c} AS STRING)"
            for c in cols
        )
        return f"map({kv})"

    def chg_sql(typ: str, ts_off: int, data: str, old: str) -> str:
        return (f"named_struct('type', '{typ}', "
                f"'ts', CAST({base_sql} + {ts_off} AS BIGINT), "
                f"'data', {data}, 'old', {old})")

    variants = [
        chg_sql("bootstrap-insert", 0, data_sql(), null_old_sql),
        (f"CASE WHEN pmod({key_sql}, 10000) < 500 THEN "
         + chg_sql("update", 1, data_sql(double_col=update_col),
                   f"map('{update_col}', CAST({update_col} AS STRING))")
         + " END"),
    ]
    if with_deletes:
        variants.append(
            f"CASE WHEN pmod({key_sql}, {DELETE_MOD}) = {DELETE_RESIDUE} THEN "
            + chg_sql("delete", 2, data_sql(), null_old_sql)
            + " END"
        )
    arr = ", ".join(variants)
    return (
        snapshot.select(F.explode(F.expr(f"array({arr})")).alias("chg"))
        .filter(F.col("chg").isNotNull())
        .selectExpr(
            f"'{database}' AS database",
            f"'{table}' AS table",
            "chg.type AS type",
            "chg.ts AS ts",
            "chg.data AS data",
            "chg.old AS old",
        )
    )
