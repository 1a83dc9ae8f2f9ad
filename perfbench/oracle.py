"""DuckDB oracles and order-insensitive result digests.

A digest is (row count, sha1) over rows with columns sorted by name, cells
normalized type-sensitively (int 5 and float 5.0 differ, as in the
package's own oracle gate) and rows sorted. Spark results and DuckDB
results over the same generated files must digest equal.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v)
    return v


def digest(columns: list[str], rows) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha1("\n".join([",".join(sorted(columns))] + norm).encode())
    return len(norm), h.hexdigest()


def duck_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def query_digests(data_dir: str, specs: dict, names: list[str]) -> dict:
    """Evaluate each registered query's DuckDB oracle over the generated
    tables."""
    tables = sorted({t for n in names for t in specs[n].tables})
    con = connect(data_dir, tables)
    try:
        return {n: duck_digest(con, specs[n].oracle) for n in names}
    finally:
        con.close()


# --- lake day expectations --------------------------------------------------

CLEAN = """l_shipdate IS NOT NULL AND l_returnflag IS NOT NULL
  AND l_quantity > 0 AND l_extendedprice > 0 AND l_discount BETWEEN 0 AND 0.1"""

# Per-month fingerprint of the fact table: any dropped, duplicated or altered
# row moves a count or an exact sum.
FACTS_FINGERPRINT = """
SELECT ship_year, ship_month, COUNT(*) AS n,
       SUM(order_key) AS s_order, SUM(part_key) AS s_part, SUM(l_suppkey) AS s_supp,
       SUM(CAST(l_quantity AS BIGINT)) AS s_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS s_price,
       SUM(CAST(l_discount AS DECIMAL(10,2))) AS s_disc,
       SUM(CAST(l_tax AS DECIMAL(10,2))) AS s_tax,
       COUNT(DISTINCT l_shipdate) AS n_days,
       SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned,
       SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS n_final
FROM facts GROUP BY ship_year, ship_month
"""


def lake_expectations(increments: list[str], envelopes: list[str]) -> dict:
    """Expected digests of the lake day's final tables, from the same input
    files the day lands."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    files = ", ".join(f"'{p}'" for p in increments)
    con.execute(f"""
CREATE VIEW facts AS
SELECT l_orderkey AS order_key, l_partkey AS part_key, l_suppkey, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(month(l_shipdate) AS INT) AS ship_month
FROM read_parquet([{files}]) WHERE {CLEAN}""")
    env = ", ".join(f"'{p}'" for p in envelopes)
    con.execute(f"""
CREATE VIEW ops AS
SELECT op, ts_ms, CAST(COALESCE(after, before) AS JSON) AS rec
FROM read_json([{env}], format = 'newline_delimited',
               columns = {{op: 'VARCHAR', ts_ms: 'BIGINT', before: 'VARCHAR', after: 'VARCHAR'}})""")
    try:
        return {
            "facts": duck_digest(con, FACTS_FINGERPRINT),
            "mart": duck_digest(con, """
SELECT ship_year, ship_month, l_returnflag, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM facts GROUP BY ALL"""),
            "summary": duck_digest(con, """
SELECT CAST(l_shipdate AS VARCHAR) AS ship_date, COUNT(*) AS line_count,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price,
       MAX(l_quantity) AS max_qty
FROM facts GROUP BY ALL"""),
            # last write wins per key by source ts_ms; a final 'd' removes it
            "cdc": duck_digest(con, """
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY CAST(rec->>'event_id' AS BIGINT)
                               ORDER BY ts_ms DESC) AS rn
  FROM ops)
SELECT CAST(rec->>'event_id' AS BIGINT) AS event_id, rec->>'ts' AS ts,
       CAST(rec->>'user_id' AS BIGINT) AS user_id, rec->>'event_type' AS event_type,
       CAST(rec->>'value' AS DOUBLE) AS value, ts_ms AS cdc_ts_ms
FROM ranked WHERE rn = 1 AND op <> 'd'"""),
            # 5-minute tumbling windows over c/u payloads, closed by the final
            # watermark (max event time - 10 min), as in q_cdc_windowed
            "window": duck_digest(con, """
WITH src AS (
  SELECT CAST(rec->>'ts' AS TIMESTAMP) AS et, rec->>'event_type' AS event_type,
         CAST(rec->>'value' AS DOUBLE) AS value
  FROM ops
  WHERE op IN ('c', 'u') AND (rec->>'event_id') IS NOT NULL
    AND CAST(rec->>'value' AS DOUBLE) > 0),
b AS (SELECT (epoch_us(et) // 300000000) * 300000000 AS w_us, event_type, value FROM src),
wm AS (SELECT MAX(epoch_us(et)) - 600000000 AS wm_us FROM src)
SELECT make_timestamp(w_us) AS window_start,
       make_timestamp(w_us + 300000000) AS window_end, event_type,
       COUNT(*) AS event_count,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM b, wm GROUP BY w_us, event_type, wm_us
HAVING w_us + 300000000 <= wm_us"""),
        }
    finally:
        con.close()
