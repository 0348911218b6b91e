"""Seeded workload generators.

A workload is a SQLMesh-style project (model files and seed CSVs), the
source tables it reads, the time window the loop deploys and ticks over,
one breaking edit, and a DuckDB oracle for every model. Everything is
derived from ``--seed``; nothing is read from outside the checkout.

Why these three:

- ``view_dag``: 27 models in 5 layers, almost no data. Context load, plan,
  state reads, catalog DDL and Spark analysis of nested views do the work.
- ``pipeline``: one model per write path over generated rows; Spark
  execution, adapter writes and file commit do the work.
- ``interval_backfill``: hourly ``batch_size 1`` models; the fixed cost
  per batch (render, partition lookup, job launch, one ``add_interval``
  state rewrite) does the work. It is not in BENCHMARK.json: the run
  budget holds two workloads, each with its JIT warm-up.

Sizes are set by that budget too: one run, set-up included, has about a
minute on a 4-core host.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa

BASE = dt.datetime(2024, 1, 1)
HOUR = dt.timedelta(hours=1)


def fmt(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Workload:
    name: str
    #: model schemas; each has a physical schema ``sqlmesh__<schema>``
    schemas: tuple[str, ...]
    #: model name -> model file text, in dependency order
    models: dict[str, str]
    #: seed name -> CSV text (loaded as model ``seed.<name>``)
    seeds: dict[str, str]
    #: "schema.table" -> naive-UTC arrow table
    sources: dict[str, pa.Table]
    start: str
    #: end of the deploy window; a tick moves it forward one hour
    end: str
    tick_end: str
    #: (model name, edited text) — a breaking edit of a mid-DAG model
    edit: tuple[str, str]
    #: models the edit re-versions: the edited one and its descendants
    changed: frozenset[str]
    #: env ("prod" or "dev") -> {model: DuckDB query of its expected rows}
    #: after deploy + tick, in dependency order
    oracle: Callable[[str], dict[str, str]]
    #: model -> query over the env view ``{view}`` that the oracle row set
    #: describes, when it is not the whole view (SCD2 current rows)
    checked: dict[str, str]

    def materialized(self) -> list[str]:
        """Models the framework writes rows for: every kind but VIEW."""
        out = [n for n, text in self.models.items() if "kind VIEW" not in text.split(";", 1)[0]]
        return out + [f"seed.{s}" for s in self.seeds]

    def sinks(self) -> list[str]:
        """Models no other model reads."""
        bodies = [t.split(";", 1)[1] for t in self.models.values()]
        return [n for n in self.models if not any(_refers(b, n) for b in bodies)]

    def oracle_checked(self) -> set[str]:
        """Models whose env view the oracle compares: every table and every
        DAG sink. A view's rows flow into each sink below it, so a wrong
        view shows there; Spark analyses a nested view tree per compared
        view, so comparing each view would cost about a second per view."""
        return set(self.materialized()) | set(self.sinks())

    def external_models_yaml(self) -> str:
        """Declares the sources, as a project does for tables it reads but
        does not build."""
        types = {"int64": "BIGINT", "string": "STRING"}
        lines = []
        for name, tbl in self.sources.items():
            lines.append(f"- name: {name}\n  columns:")
            for f in tbl.schema:
                t = "TIMESTAMP" if pa.types.is_timestamp(f.type) else types[str(f.type)]
                lines.append(f"    {f.name}: {t}")
        return "\n".join(lines) + "\n"


def _descendants(models: dict[str, str], root: str) -> frozenset[str]:
    """``root`` and every model that reads it, directly or not."""
    out = {root}
    for name, text in models.items():  # dependency order
        body = text.split(";", 1)[1]
        if any(_refers(body, p) for p in out):
            out.add(name)
    return frozenset(out)


def _refers(body: str, name: str) -> bool:
    return re.search(rf"(?<![\w.]){re.escape(name)}(?![\w.])", body) is not None


def _ts_array(seconds: np.ndarray) -> pa.Array:
    base = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    return pa.array((seconds + base) * 1_000_000, type=pa.timestamp("us"))


def _time_window(hours: int) -> tuple[str, str, str]:
    return fmt(BASE), fmt(BASE + hours * HOUR), fmt(BASE + (hours + 1) * HOUR)


def _bind(sql: str, start: str, end: str) -> str:
    return sql.replace("@start_ts", f"TIMESTAMP '{start}'").replace(
        "@end_ts", f"TIMESTAMP '{end}'"
    )


# -- view_dag ---------------------------------------------------------------

_VD_UNION = {
    "spark": "SELECT grp, ts, v + {c} AS v FROM {p1}\nUNION ALL\nSELECT grp, ts, v * 2 AS v FROM {p2}",
    "duckdb": "SELECT grp, ts, (v + {c})::BIGINT AS v FROM {p1}\nUNION ALL\nSELECT grp, ts, (v * 2)::BIGINT AS v FROM {p2}",
    "postgres": "SELECT grp, ts, COALESCE(v, 0)::bigint + {c} AS v FROM {p1}\nUNION ALL\nSELECT grp, ts, v * 2 AS v FROM {p2}",
}
_VD_AGG = {
    "spark": "SELECT grp, MAX(ts) AS ts, SUM(v) + {c} AS v\nFROM (SELECT grp, ts, v FROM {p1} UNION ALL SELECT grp, ts, v FROM {p2}) u\nGROUP BY grp",
    "duckdb": "SELECT grp, max(ts) AS ts, (sum(v) + {c})::BIGINT AS v\nFROM (SELECT grp, ts, v FROM {p1} UNION ALL SELECT grp, ts, v FROM {p2}) AS u\nGROUP BY grp",
    "postgres": "SELECT grp, MAX(ts) AS ts, (SUM(v) + {c})::bigint AS v\nFROM (SELECT grp, ts, v FROM {p1} UNION ALL SELECT grp, ts, v FROM {p2}) AS u\nGROUP BY grp",
}
_VD_DIALECTS = ("spark", "duckdb", "postgres")


def view_dag(seed: int, width: int = 6, layers: int = 5, hours: int = 24,
             rows_per_hour: int = 6) -> Workload:
    """Layered DAG, fan-in 2: ``width`` models per layer and ``width // 2``
    on top (27 models by default). Layer 0: hourly
    INCREMENTAL_BY_TIME_RANGE roots over a tiny source; upper layers:
    VIEWs, a third each in the spark, duckdb and postgres dialects. Middle
    layers union their parents and the top layer aggregates; every model
    below the top feeds one above it, so the top layer holds all the
    sinks."""
    rng = np.random.default_rng(seed)
    start, end, tick_end = _time_window(hours)
    n_rows = (hours + 1) * rows_per_hour
    secs = np.sort(rng.integers(0, (hours + 1) * 3600, n_rows))
    events = pa.table({
        "id": pa.array(np.arange(n_rows), type=pa.int64()),
        "grp": pa.array(rng.integers(0, 12, n_rows), type=pa.int64()),
        "amount": pa.array(rng.integers(0, 1000, n_rows), type=pa.int64()),
        "ts": _ts_array(secs),
    })
    models: dict[str, str] = {}
    bodies: dict[str, str] = {}
    templates: dict[str, tuple[str, dict]] = {}
    prev: list[str] = []
    for layer in range(layers):
        top = layer == layers - 1
        cur = []
        for j in range(width // 2 if top else width):
            name = f"vd.m{layer}_{j:02d}"
            if layer == 0:
                a, b = int(rng.integers(1, 9)), int(rng.integers(0, 100))
                body = (
                    f"SELECT ts, grp, amount * {a} + {b} AS v FROM src_vd.events\n"
                    f"WHERE grp % 3 = {j % 3} AND ts >= @start_ts AND ts < @end_ts"
                )
                header = (
                    f"MODEL (name {name}, kind INCREMENTAL_BY_TIME_RANGE (time_column ts), "
                    f"cron '@hourly', start '{start}')"
                )
            else:
                dialect = _VD_DIALECTS[j % 3]
                # The shape is fixed, so every seed asks the same work of the
                # framework; the seed varies constants and data. The top layer
                # reads disjoint pairs, so every lower model feeds it.
                if top:
                    p1, p2 = prev[2 * j], prev[2 * j + 1]
                else:
                    p1, p2 = prev[j], prev[(j + 1) % width]
                tmpl = (_VD_AGG if top else _VD_UNION)[dialect]
                args = {"p1": p1, "p2": p2}
                body = tmpl.format(c=int(rng.integers(1, 50)), **args)
                templates[name] = (tmpl, args)
                header = f"MODEL (name {name}, kind VIEW, dialect {dialect})"
            models[name] = f"{header};\n{body}\n"
            bodies[name] = body
            cur.append(name)
        prev = cur
    # The edited model: first of layer 2 (mid-DAG: it has parents and, with
    # 5 layers, two layers of descendants). The seed picks the new constant.
    target = next(n for n in models if n.startswith("vd.m2_"))
    tmpl, args = templates[target]
    new_body = tmpl.format(c=int(rng.integers(50, 99)), **args)
    edited = models[target].replace(bodies[target], new_body)

    def oracle(env: str) -> dict[str, str]:
        out = {}
        for name in models:
            body = new_body if (env == "dev" and name == target) else bodies[name]
            out[name] = _bind(body, start, tick_end)
        return out

    return Workload(
        name="view_dag", schemas=("vd",), models=models, seeds={},
        sources={"src_vd.events": events}, start=start, end=end,
        tick_end=tick_end, edit=(target, edited),
        changed=_descendants(models, target), oracle=oracle, checked={},
    )


# -- pipeline ---------------------------------------------------------------

def pipeline(seed: int, n_orders: int = 200_000, n_customers: int = 5_000,
             hours: int = 24) -> Workload:
    """One model per write path: SEED, INCREMENTAL_BY_TIME_RANGE,
    INCREMENTAL_BY_UNIQUE_KEY, INCREMENTAL_UNMANAGED, both SCD2 kinds,
    FULL and VIEW. A heavy branch (orders_inc and its three consumers)
    sits beside a light independent chain (seed -> region_dim ->
    region_view)."""
    rng = np.random.default_rng(seed)
    start, end, tick_end = _time_window(hours)
    window = (hours + 1) * 3600
    orders = pa.table({
        "order_id": pa.array(np.arange(n_orders), type=pa.int64()),
        "customer_id": pa.array(rng.integers(0, n_customers, n_orders), type=pa.int64()),
        "amount": pa.array(rng.integers(-50, 1000, n_orders), type=pa.int64()),
        "ts": _ts_array(rng.integers(0, window, n_orders)),
    })
    # Three updates per customer at distinct times, so "latest per key" has
    # no ties.
    upd = 3
    cust = np.repeat(np.arange(n_customers), upd)
    slot = np.tile(np.arange(upd), n_customers)
    secs = slot * (window // upd) + rng.integers(0, window // upd, n_customers * upd)
    updates = pa.table({
        "customer_id": pa.array(cust, type=pa.int64()),
        "tier": pa.array(rng.integers(0, 4, n_customers * upd), type=pa.int64()),
        "updated_at": _ts_array(secs),
    })
    regions = "region_id,region_name\n" + "".join(
        f"{i},{name}\n" for i, name in enumerate(("north", "south", "east", "west", "central"))
    )
    m, m2 = int(rng.integers(20, 60)), int(rng.integers(60, 100))
    hourly = f"cron '@hourly', start '{start}'"
    full_body = (
        "SELECT customer_id % {m} AS bucket, COUNT(*) AS n, SUM(amount) AS amount\n"
        "FROM pl.orders_inc GROUP BY customer_id % {m}"
    )
    agg_latest = (
        "SELECT customer_id, MAX(ts) AS last_ts, SUM(amount) AS amount FROM pl.orders_inc\n"
        "WHERE ts >= @start_ts AND ts < @end_ts GROUP BY customer_id"
    )
    agg_status = (
        "SELECT customer_id % 10 AS bucket, COUNT(*) AS n, SUM(amount) AS amount FROM pl.orders_inc\n"
        "WHERE ts >= @start_ts AND ts < @end_ts GROUP BY customer_id % 10"
    )
    scd_time = (
        "SELECT customer_id, tier, updated_at FROM src_pl.customer_updates\n"
        "WHERE updated_at < @end_ts"
    )
    scd_col = (
        "SELECT customer_id, tier FROM (\n"
        "  SELECT customer_id, tier,\n"
        "    ROW_NUMBER() OVER (PARTITION BY customer_id ORDER BY updated_at DESC) AS rn\n"
        "  FROM src_pl.customer_updates WHERE updated_at < @end_ts) s\n"
        "WHERE rn = 1"
    )
    models = {
        "pl.orders_inc": (
            f"MODEL (name pl.orders_inc, kind INCREMENTAL_BY_TIME_RANGE (time_column ts), {hourly});\n"
            "SELECT order_id, customer_id, amount, ts FROM src_pl.orders\n"
            "WHERE amount > 0 AND ts >= @start_ts AND ts < @end_ts\n"
        ),
        "pl.customer_latest": (
            f"MODEL (name pl.customer_latest, kind INCREMENTAL_BY_UNIQUE_KEY (unique_key customer_id), {hourly});\n"
            f"{agg_latest}\n"
        ),
        "pl.status_log": (
            f"MODEL (name pl.status_log, kind INCREMENTAL_UNMANAGED, {hourly});\n{agg_status}\n"
        ),
        "pl.revenue_full": (
            f"MODEL (name pl.revenue_full, kind FULL);\n{full_body.format(m=m)}\n"
        ),
        "pl.revenue_view": (
            "MODEL (name pl.revenue_view, kind VIEW);\n"
            "SELECT f.bucket, f.n, f.amount, s.region_name FROM pl.revenue_full f\n"
            "JOIN seed.regions s ON CAST(s.region_id AS BIGINT) = f.bucket % 5\n"
        ),
        "pl.customer_scd_time": (
            "MODEL (name pl.customer_scd_time, kind SCD_TYPE_2_BY_TIME "
            f"(unique_key customer_id, updated_at_name updated_at), {hourly});\n{scd_time}\n"
        ),
        "pl.customer_scd_col": (
            "MODEL (name pl.customer_scd_col, kind SCD_TYPE_2_BY_COLUMN "
            f"(unique_key customer_id, columns tier), {hourly});\n{scd_col}\n"
        ),
        "pl.region_dim": (
            "MODEL (name pl.region_dim, kind FULL);\n"
            "SELECT CAST(region_id AS BIGINT) AS region_id, UPPER(region_name) AS region_name\n"
            "FROM seed.regions\n"
        ),
        "pl.region_view": (
            "MODEL (name pl.region_view, kind VIEW);\n"
            "SELECT region_id, region_name, LENGTH(region_name) AS name_len FROM pl.region_dim\n"
        ),
    }
    target = "pl.revenue_full"
    edited = models[target].replace(full_body.format(m=m), full_body.format(m=m2))

    def per_batch(sql: str) -> tuple[str, str]:
        return _bind(sql, start, end), _bind(sql, end, tick_end)

    def oracle(env: str) -> dict[str, str]:
        d_latest, t_latest = per_batch(agg_latest)
        d_status, t_status = per_batch(agg_status)
        return {
            # Seeds load every column as STRING.
            "seed.regions": "SELECT * FROM (VALUES " + ", ".join(
                f"('{i}', '{r}')" for i, r in (line.split(",") for line in regions.split()[1:])
            ) + ") AS t(region_id, region_name)",
            "pl.orders_inc": _bind(
                "SELECT order_id, customer_id, amount, ts FROM src_pl.orders\n"
                "WHERE amount > 0 AND ts >= @start_ts AND ts < @end_ts", start, tick_end),
            # Deploy merges one batch [start, end), the tick merges [end, tick_end).
            "pl.customer_latest": (
                f"WITH d AS ({d_latest}), t AS ({t_latest})\n"
                "SELECT * FROM t UNION ALL\n"
                "SELECT * FROM d WHERE customer_id NOT IN (SELECT customer_id FROM t)"
            ),
            # Unmanaged: one appended aggregate per batch.
            "pl.status_log": f"{d_status}\nUNION ALL\n{t_status}",
            "pl.revenue_full": full_body.format(m=m2 if env == "dev" else m),
            "pl.revenue_view": (
                "SELECT f.bucket, f.n, f.amount, s.region_name FROM pl.revenue_full f\n"
                "JOIN seed.regions s ON CAST(s.region_id AS BIGINT) = f.bucket % 5"
            ),
            "pl.customer_scd_time": _bind(
                "SELECT customer_id, tier, updated_at FROM (\n"
                "  SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id ORDER BY updated_at DESC) AS rn\n"
                "  FROM src_pl.customer_updates WHERE updated_at < @end_ts) s WHERE rn = 1",
                start, tick_end),
            "pl.customer_scd_col": _bind(scd_col, start, tick_end),
            "pl.region_dim": (
                "SELECT CAST(region_id AS BIGINT) AS region_id, UPPER(region_name) AS region_name\n"
                "FROM seed.regions"
            ),
            "pl.region_view": (
                "SELECT region_id, region_name, LENGTH(region_name) AS name_len FROM pl.region_dim"
            ),
        }

    return Workload(
        name="pipeline", schemas=("pl", "seed"), models=models,
        seeds={"regions": regions},
        sources={"src_pl.orders": orders, "src_pl.customer_updates": updates},
        start=start, end=end, tick_end=tick_end, edit=(target, edited),
        changed=_descendants(models, target), oracle=oracle,
        checked={
            "pl.customer_scd_time": "SELECT customer_id, tier, updated_at FROM {view} WHERE valid_to IS NULL",
            "pl.customer_scd_col": "SELECT customer_id, tier FROM {view} WHERE valid_to IS NULL",
        },
    )


# -- interval_backfill ------------------------------------------------------

def interval_backfill(seed: int, hours: int = 8, rows_per_hour: int = 20) -> Workload:
    """A chain of three hourly INCREMENTAL_BY_TIME_RANGE models with
    ``batch_size 1``: every hour is its own batch, so fixed per-batch cost
    dominates. ``batch_size`` is the top-level MODEL property the model
    parser reads."""
    rng = np.random.default_rng(seed)
    start, end, tick_end = _time_window(hours)
    n = (hours + 1) * rows_per_hour
    readings = pa.table({
        "id": pa.array(np.arange(n), type=pa.int64()),
        "sensor": pa.array(rng.integers(0, 8, n), type=pa.int64()),
        "value": pa.array(rng.integers(0, 500, n), type=pa.int64()),
        "ts": _ts_array(np.sort(rng.integers(0, (hours + 1) * 3600, n))),
    })
    header = (
        "MODEL (name {name}, kind INCREMENTAL_BY_TIME_RANGE (time_column ts), "
        f"cron '@hourly', start '{start}', batch_size 1, "
        "audits (not_null(columns = ({col}))))"
    )
    lo, k, k2 = int(rng.integers(0, 100)), int(rng.integers(2, 5)), int(rng.integers(5, 9))
    clean_body = (
        "SELECT id, sensor, value * {k} AS value, ts FROM ib.raw\n"
        f"WHERE value >= {lo} AND ts >= @start_ts AND ts < @end_ts"
    )
    bodies = {
        "ib.raw": (
            "SELECT id, sensor, value, ts FROM src_ib.readings\n"
            "WHERE ts >= @start_ts AND ts < @end_ts", "id"),
        "ib.clean": (clean_body.format(k=k), "id"),
        "ib.hourly": (
            "SELECT sensor, date_trunc('HOUR', ts) AS ts, COUNT(*) AS n, SUM(value) AS value\n"
            "FROM ib.clean WHERE ts >= @start_ts AND ts < @end_ts\n"
            "GROUP BY sensor, date_trunc('HOUR', ts)", "sensor"),
    }
    models = {
        name: f"{header.format(name=name, col=col)};\n{body}\n"
        for name, (body, col) in bodies.items()
    }
    target = "ib.clean"
    edited = models[target].replace(clean_body.format(k=k), clean_body.format(k=k2))

    def oracle(env: str) -> dict[str, str]:
        out = {name: _bind(body, start, tick_end) for name, (body, _) in bodies.items()}
        if env == "dev":
            out[target] = _bind(clean_body.format(k=k2), start, tick_end)
        return out

    return Workload(
        name="interval_backfill", schemas=("ib",), models=models, seeds={},
        sources={"src_ib.readings": readings}, start=start, end=end,
        tick_end=tick_end, edit=(target, edited),
        changed=_descendants(models, target), oracle=oracle, checked={},
    )


WORKLOADS = {
    "view_dag": (view_dag, {}, {"width": 4, "layers": 3, "hours": 3}),
    "pipeline": (pipeline, {}, {"n_orders": 4000, "n_customers": 200, "hours": 3}),
    "interval_backfill": (interval_backfill, {}, {"hours": 2, "rows_per_hour": 5}),
}


def build(name: str, seed: int, tiny: bool = False) -> Workload:
    fn, full, small = WORKLOADS[name]
    return fn(seed, **(small if tiny else full))
