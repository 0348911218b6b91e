"""DuckDB oracle for the environment views.

Each model's expected rows come from an independent DuckDB query over the
same generated inputs. Spark and DuckDB are compared on a fingerprint per
view: row count, column names, and MIN/MAX/SUM of every column
(timestamps as epoch seconds, strings by length). One UNION ALL query per
environment keeps the check to a single Spark job list.
"""

from __future__ import annotations

import duckdb

from workloads import Workload


def _spark_expr(col: str, dtype: str) -> str:
    if dtype.startswith("timestamp"):
        return f"unix_seconds({col})"
    if dtype == "string":
        return f"length({col})"
    return f"CAST({col} AS BIGINT)"


def _duck_expr(col: str, dtype: str) -> str:
    if dtype.startswith("timestamp"):
        return f"CAST(epoch({col}) AS BIGINT)"
    if dtype == "string":
        return f"length({col})"
    return f"CAST({col} AS BIGINT)"


def _fingerprint_sql(rels: dict[str, tuple[str, list[tuple[str, str]]]], expr) -> str:
    width = max(3 * len(cols) for _, cols in rels.values())
    parts = []
    for name, (rel, cols) in rels.items():
        aggs = ["CAST(COUNT(*) AS BIGINT)"]
        for c, t in cols:
            e = expr(c, t)
            aggs += [f"CAST(MIN({e}) AS BIGINT)", f"CAST(MAX({e}) AS BIGINT)",
                     f"CAST(SUM({e}) AS BIGINT)"]
        aggs += ["CAST(NULL AS BIGINT)"] * (width + 1 - len(aggs))
        parts.append(f"SELECT '{name}' AS m, {', '.join(aggs)} FROM ({rel}) t")
    return "\nUNION ALL\n".join(parts)


def env_view(env: str, model: str) -> str:
    return f"{env}_views.{model.rsplit('.', 1)[-1]}"


def spark_relations(spark, wl: Workload, env: str, models) -> dict:
    """model -> (relation SQL over the env view, [(column, type)])."""
    out = {}
    for m in models:
        rel = wl.checked.get(m, "SELECT * FROM {view}").format(view=env_view(env, m))
        out[m] = (rel, [(f.name, f.dataType.simpleString()) for f in spark.sql(rel).schema])
    return out


def spark_counts(spark, wl: Workload, views: list[tuple[str, str]]) -> dict[str, int]:
    """Row counts of (env, model) views, in one query."""
    sql = "\nUNION ALL\n".join(
        f"SELECT '{env}:{m}' AS m, COUNT(*) AS n FROM {env_view(env, m)}" for env, m in views
    )
    return {r[0]: r[1] for r in spark.sql(sql).collect()}


def check(spark, wl: Workload, env: str, expected: dict[str, str], only: set[str]) -> list[str]:
    """Compare the env views of the models in ``only`` with the oracle
    queries ``expected``; returns mismatch messages."""
    rels = spark_relations(spark, wl, env, [m for m in expected if m in only])
    got = {r[0]: tuple(r[1:]) for r in spark.sql(_fingerprint_sql(rels, _spark_expr)).collect()}

    con = duckdb.connect()
    try:
        for name, tbl in wl.sources.items():
            schema = name.split(".")[0]
            con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
            con.register("_src", tbl)
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM _src")
            con.unregister("_src")
        for name, sql in expected.items():
            con.execute(f"CREATE SCHEMA IF NOT EXISTS {name.split('.')[0]}")
            con.execute(f"CREATE VIEW {name} AS {sql}")
        problems = []
        duck_rels = {}
        for m, (_, cols) in rels.items():
            duck_cols = [d[0].lower() for d in con.execute(f"SELECT * FROM {m} LIMIT 0").description]
            if sorted(duck_cols) != sorted(c.lower() for c, _ in cols):
                problems.append(f"{env}:{m}: columns {sorted(c for c, _ in cols)} != oracle {sorted(duck_cols)}")
            duck_rels[m] = (f"SELECT * FROM {m}", cols)
        if problems:
            return problems
        want = {r[0]: tuple(r[1:]) for r in con.execute(_fingerprint_sql(duck_rels, _duck_expr)).fetchall()}
    finally:
        con.close()
    for m in rels:
        if got.get(m) != want.get(m):
            problems.append(f"{env}:{m}: spark {got.get(m)} != oracle {want.get(m)}")
    return problems
