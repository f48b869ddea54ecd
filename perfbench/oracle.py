"""DuckDB-side checks of the engine's outputs. All of them run outside the
timed region."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from datagen import TABLES

SEGMENT_COLUMNS = ["user_id", "total_transactions", "total_spent", "transaction_types"]


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    from audience_manager_platform_spark.sources.transactions import EVENTS_AS_TRANSACTIONS_SQL

    con.execute(f"CREATE VIEW txns AS {EVENTS_AS_TRANSACTIONS_SQL}")
    return con


def value_hash(df: pd.DataFrame) -> str:
    from tools.check_oracle import value_hash as vh

    return vh(df)


# ------------------------------------------------------------- segments
def segment_sql(catalog, rule_id: int) -> tuple[str, bool]:
    """DuckDB SQL for a rule's segment, built from the catalog's rule tree
    with the engine's user_id-keyed set semantics. The flag says whether
    the rows are determined; a keyed UNION keeps an arbitrary parent's row
    per user, so only its user set is."""
    rule = catalog.get_rule(rule_id)
    if not (rule.depends_on and rule.operation):
        return segment_sql_base(rule.conditions)
    parts = [segment_sql(catalog, p) for p in rule.depends_on]
    if rule.conditions:
        parts.append(segment_sql_base(rule.conditions))
    op = rule.operation.upper()
    first, exact = parts[0]
    if len(parts) == 1:
        return first, exact
    if op == "UNION":
        union = " UNION ALL ".join(f"SELECT user_id FROM ({sql})" for sql, _ in parts)
        return f"SELECT DISTINCT user_id FROM ({union})", False
    keyword = "IN" if op == "INTERSECTION" else "NOT IN"
    join = " AND ".join(f"user_id {keyword} (SELECT user_id FROM ({sql}))" for sql, _ in parts[1:])
    return f"SELECT * FROM ({first}) WHERE {join}", exact


def segment_sql_base(conditions) -> tuple[str, bool]:
    from audience_manager_platform_spark.plans.rule_compiler import RuleCompiler

    return RuleCompiler().compile(conditions).to_sql("SELECT * FROM txns", dialect="duckdb"), True


def _rounded(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    if "total_spent" in df:
        df["total_spent"] = df["total_spent"].astype(float).round(2)
    return df


def check_segment(con, catalog, rule_id: int, path: str) -> str | None:
    """None when the materialized segment at ``path`` matches DuckDB."""
    sql, exact = segment_sql(catalog, rule_id)
    got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    want = con.execute(sql).df()
    if len(got) != len(want):
        return f"rule {rule_id}: {len(got)} rows, oracle {len(want)}"
    if exact:
        if sorted(got.columns) != sorted(SEGMENT_COLUMNS):
            return f"rule {rule_id}: columns {sorted(got.columns)}"
        same = value_hash(_rounded(got)) == value_hash(_rounded(want))
    else:
        same = value_hash(got[["user_id"]]) == value_hash(want[["user_id"]])
    return None if same else f"rule {rule_id}: value hash differs"


def segment_oracle_rows(con, catalog, rule_id: int) -> tuple[int, set]:
    """(row count, user ids) of a segment per DuckDB."""
    sql, _ = segment_sql(catalog, rule_id)
    users = con.execute(f"SELECT user_id FROM ({sql})").fetchall()
    return len(users), {u for (u,) in users}


# ------------------------------------------------------------- api reads
def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, abs_tol=0.011)
    return a == b


def same_rows(got: list[dict], want: list[dict]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if set(g) != set(w) or not all(_close(g[k], w[k]) for k in w):
            return False
    return True


def _records(con, sql: str) -> list[dict]:
    df = con.execute(sql).df()
    out = []
    for rec in df.to_dict("records"):
        for k, v in rec.items():
            if hasattr(v, "isoformat"):
                rec[k] = v.date().isoformat() if k == "day" else v.isoformat()
            elif hasattr(v, "item"):
                rec[k] = v.item()
        out.append(rec)
    return out


def category_totals(con, start: str, end: str) -> list[dict]:
    return _records(
        con,
        f"""SELECT category, COUNT(*) AS transaction_count,
                   ROUND(SUM(amount), 2) AS total_amount
            FROM txns WHERE category IS NOT NULL
              AND transaction_date >= TIMESTAMP '{start}'
              AND transaction_date <= TIMESTAMP '{end}'
            GROUP BY category ORDER BY category""",
    )


def _days_filter(source: str, days: int) -> str:
    return f"""SELECT * FROM ({source})
               WHERE CAST(transaction_date AS DATE) >=
                     (SELECT MAX(CAST(transaction_date AS DATE)) FROM ({source}))
                     - INTERVAL {days - 1} DAY"""


def daily_totals(con, days: int) -> list[dict]:
    f = _days_filter("SELECT * FROM txns", days)
    return _records(
        con,
        f"""WITH f AS ({f}),
            spine AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
                      FROM (SELECT CAST(MIN(CAST(transaction_date AS DATE)) AS TIMESTAMP) AS lo,
                                   CAST(MAX(CAST(transaction_date AS DATE)) AS TIMESTAMP) AS hi
                            FROM f)),
            daily AS (SELECT CAST(transaction_date AS DATE) AS day, COUNT(*) AS n,
                             ROUND(SUM(amount), 2) AS amt FROM f
                      WHERE transaction_date IS NOT NULL GROUP BY 1)
            SELECT spine.day, COALESCE(n, 0) AS transaction_count,
                   COALESCE(amt, 0.0) AS total_amount
            FROM spine LEFT JOIN daily USING (day) ORDER BY spine.day""",
    )


def summary(con) -> dict:
    return _records(
        con,
        """SELECT COUNT(*) AS total_transactions, ROUND(SUM(amount), 2) AS total_amount,
                  ROUND(AVG(amount), 2) AS avg_amount,
                  COUNT(DISTINCT user_id) AS unique_users FROM txns""",
    )[0]


def user_search(con, filters: dict, page: int, per_page: int) -> tuple[list[dict], int]:
    """(page items, total matching users) for the users route."""
    where = ["TRUE"]
    if filters.get("min_amount") is not None:
        where.append(f"amount >= {float(filters['min_amount'])}")
    if filters.get("city_tier") is not None:
        where.append(f"city_tier = {int(filters['city_tier'])}")
    if filters.get("category") is not None:
        where.append(f"category = '{filters['category']}'")
    if filters.get("transaction_type") is not None:
        where.append(f"transaction_type = '{filters['transaction_type']}'")
    source = f"SELECT * FROM txns WHERE {' AND '.join(where)}"
    if filters.get("days") is not None:
        source = _days_filter(source, int(filters["days"]))
    agg = f"""SELECT user_id, COUNT(*) AS transaction_count,
                     ROUND(SUM(amount), 2) AS total_amount
              FROM ({source}) GROUP BY user_id
              HAVING COUNT(*) >= {int(filters.get('min_transactions', 1))}"""
    items = _records(
        con, f"{agg} ORDER BY user_id LIMIT {per_page} OFFSET {(page - 1) * per_page}"
    )
    total = con.execute(f"SELECT COUNT(*) FROM ({agg})").fetchone()[0]
    return items, total


# ------------------------------------------------------------- registry
def check_query(con, name: str, oracle_sql: str, got: pd.DataFrame) -> str | None:
    want = con.execute(oracle_sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, oracle {len(want)}"
    if value_hash(got) != value_hash(want):
        return f"{name}: value hash differs"
    return None
