"""The closed loop: one client drives the public ``Context`` API.

Each iteration starts from fresh, identical state (no state store, no
physical or environment schemas, the unedited project) and runs four
operations, each as a CLI invocation would: a new ``Context`` loaded from
the project directory and cold framework caches. Only the JVM stays warm.

- deploy: load + plan + apply the whole project into a fresh ``prod``
- tick: a cron ``run`` whose end moved forward exactly one interval
- noop_tick: a cron ``run`` with no new interval
- change: a breaking edit of one mid-DAG model, then load + plan + apply
  into a new ``dev`` environment

Restoring state, the oracle check and the row-count checks run outside
the timed regions.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

import hoststat
import oracle
from sqlmesh_spark.core.context import Context
from sqlmesh_spark.core.state import StateStore
from spans import Tracer, layer_metrics
from workloads import Workload

OPS = ("deploy", "tick", "noop_tick", "change")
ENVS = ("prod", "dev")


@dataclass
class Sample:
    iteration: int
    op: str
    seconds: float
    traced: bool
    py_cpu_s: float
    jvm_cpu_s: float
    steal_share: float
    loadavg: float
    epoch: tuple[float, float]
    layers: dict = field(default_factory=dict)


class Loop:
    def __init__(self, spark, wl: Workload, work_dir: str, jvm_pid: int) -> None:
        self.spark, self.wl, self.jvm_pid = spark, wl, jvm_pid
        self.project = os.path.join(work_dir, "project")
        self.state_dir = os.path.join(work_dir, "state")
        self.source_dir = os.path.join(work_dir, "sources")
        self.samples: list[Sample] = []
        self.failed = 0
        self.problems: list[str] = []
        #: per-iteration equal-work record; every iteration must match the first
        self.reference: Optional[dict] = None
        self.iterations = 0
        #: untimed seconds per iteration: restore, and the equal-work checks
        self.overhead: list[dict[str, float]] = []

    # -- inputs -------------------------------------------------------------

    def write_inputs(self) -> None:
        """Source parquet files and catalog tables, and the project files."""
        for name, tbl in self.wl.sources.items():
            schema, table = name.split(".")
            path = os.path.join(self.source_dir, schema, table)
            os.makedirs(path, exist_ok=True)
            # Stored as UTC instants so Spark reads TIMESTAMP, not TIMESTAMP_NTZ.
            utc = pa.schema([
                pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
                for f in tbl.schema
            ])
            pq.write_table(tbl.cast(utc), os.path.join(path, "part-0.parquet"))
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            self.spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")
        for name, text in self.wl.models.items():
            self._write_model(name, text)
        with open(os.path.join(self.project, "external_models.yaml"), "w") as f:
            f.write(self.wl.external_models_yaml())
        os.makedirs(os.path.join(self.project, "seeds"), exist_ok=True)
        for name, csv in self.wl.seeds.items():
            with open(os.path.join(self.project, "seeds", f"{name}.csv"), "w") as f:
                f.write(csv)

    def _write_model(self, name: str, text: str) -> None:
        schema, model = name.split(".")
        path = os.path.join(self.project, "models", schema, f"{model}.sql")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def all_models(self) -> set[str]:
        return set(self.wl.models) | set(self.wl.sources) | {f"seed.{s}" for s in self.wl.seeds}

    # -- state --------------------------------------------------------------

    def restore(self) -> None:
        """Fresh, identical state: no state store, no physical or env schemas,
        the unedited project."""
        for schema in self.wl.schemas:
            self.spark.sql(f"DROP DATABASE IF EXISTS sqlmesh__{schema} CASCADE")
        for env in ENVS:
            self.spark.sql(f"DROP DATABASE IF EXISTS {env}_views CASCADE")
        shutil.rmtree(self.state_dir, ignore_errors=True)
        target = self.wl.edit[0]
        self._write_model(target, self.wl.models[target])

    def _context(self) -> Context:
        return Context(self.spark, self.project, state_dir=self.state_dir)

    # -- operations ---------------------------------------------------------

    def _deploy(self):
        ctx = self._context()
        plan = ctx.plan("prod", start=self.wl.start, end=self.wl.end)
        return ctx.apply(plan), plan

    def _tick(self):
        return self._context().run("prod", start=self.wl.start, end=self.wl.tick_end), None

    def _change(self):
        ctx = self._context()
        plan = ctx.plan("dev", start=self.wl.start, end=self.wl.tick_end)
        return ctx.apply(plan), plan

    def _timed(self, op: str, fn, tracer: Optional[Tracer]) -> tuple[Sample, object]:
        # A CLI invocation starts with cold framework caches.
        Context(self.spark, state_dir=self.state_dir).clear_caches()
        cpu0 = hoststat.proc_cpu_s(), hoststat.proc_cpu_s(self.jvm_pid)
        ticks0 = hoststat.cpu_ticks()
        e0 = time.time()
        t0 = time.perf_counter()
        if tracer is not None:
            with tracer.op(op) as root:
                result = fn()
        else:
            root = None
            result = fn()
        elapsed = time.perf_counter() - t0
        e1 = time.time()
        ticks1 = hoststat.cpu_ticks()
        sample = Sample(
            iteration=self.iterations - 1, op=op, seconds=elapsed, traced=tracer is not None,
            py_cpu_s=hoststat.proc_cpu_s() - cpu0[0],
            jvm_cpu_s=hoststat.proc_cpu_s(self.jvm_pid) - cpu0[1],
            steal_share=hoststat.steal_share(ticks0, ticks1),
            loadavg=hoststat.loadavg(), epoch=(e0, e1),
        )
        if root is not None:
            sample.layers = layer_metrics(root)
        return sample, result

    def iteration(self, tracer: Optional[Tracer] = None) -> None:
        """restore, then deploy -> tick -> noop_tick -> change. Operations
        that raise or do unequal work count as failed."""
        t0 = time.perf_counter()
        self.restore()
        t_restore = time.perf_counter() - t0
        self.iterations += 1
        if tracer is not None:
            tracer.install()
        record: dict = {}
        samples = []
        try:
            for op, fn in (("deploy", self._deploy), ("tick", self._tick),
                           ("noop_tick", self._tick), ("change", self._change)):
                if op == "change":
                    self._write_model(*self.wl.edit)
                sample, (executed, plan) = self._timed(op, fn, tracer)
                sample.layers["scheduler.batches"] = sum(executed.values())
                record[op] = {
                    "batches": sorted(executed.items()),
                    "reversioned": sorted(
                        (n, plan.snapshots[n].version) for n in plan.diff.added + plan.diff.modified
                    ) if plan is not None else [],
                }
                samples.append(sample)
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.failed += len(OPS) - len(samples)
            self.problems.append(f"iteration {self.iterations}: {traceback.format_exc(limit=-3)}")
            return
        finally:
            if tracer is not None:
                tracer.uninstall()
        self.samples += samples
        t0 = time.perf_counter()
        # Rows written: every materialized table, read through prod, and
        # through dev where the edit gave it its own table.
        mat = self.wl.materialized()
        record["counts"] = oracle.spark_counts(
            self.spark, self.wl,
            [("prod", m) for m in mat] + [("dev", m) for m in mat if m in self.wl.changed],
        )
        record["dev_models"] = self._dev_check()
        self.overhead.append({"restore_s": t_restore, "checks_s": time.perf_counter() - t0})
        if self.reference is None:
            self.reference = record
            return
        for op in OPS:
            if record[op] != self.reference[op]:
                self.failed += 1
                self.problems.append(f"iteration {self.iterations}: {op} did unequal work")
        if record["counts"] != self.reference["counts"] or record["dev_models"] != self.reference["dev_models"]:
            self.failed += 1
            self.problems.append(f"iteration {self.iterations}: row counts or dev models differ")

    def check_oracle(self) -> None:
        """Compare the env views the last iteration left with the DuckDB
        oracle. Every iteration did the same work as the first (row counts,
        batches, versions), so this covers them all. dev shares prod's
        tables except for the re-versioned models, which ``_dev_check``
        confirms; so dev compares only those."""
        checked = self.wl.oracle_checked()
        self.problems += oracle.check(self.spark, self.wl, "prod", self.wl.oracle("prod"), checked)
        self.problems += oracle.check(
            self.spark, self.wl, "dev", self.wl.oracle("dev"), checked & self.wl.changed
        )

    def _dev_check(self) -> list:
        """dev holds every model; exactly the edited model and its
        descendants point at versions other than prod's."""
        store = StateStore(self.state_dir)
        prod, dev = store.get_environment("prod"), store.get_environment("dev")
        changed = sorted(n for n in dev if prod.get(n) != dev[n])
        if set(dev) != self.all_models():
            self.problems.append(f"dev models {sorted(dev)} != project models")
        if set(changed) != self.wl.changed:
            self.problems.append(f"dev re-versioned {changed} != expected {sorted(self.wl.changed)}")
        return changed
