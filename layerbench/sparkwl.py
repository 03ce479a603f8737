"""Shared set-up and statement runner of the two Spark workloads.

A statement is ``Engine.sql(text)`` plus ``collect()`` of its result,
timed together. In the traced copy it runs in its own job group; its
spans are ``stmt`` > ``engine.sql`` (the front end, plan construction,
the write path and MV refresh) and ``spark.collect`` (planning and
result transfer), with the catalog spans of instrument.py under
``engine.sql`` and the statement's Spark jobs, read back from the status
store, under whichever of the two was running when the job started.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

from layerbench import datagen, host, sparkenv
from layerbench.common import Workload, dir_bytes, result_hash
from layerbench.instrument import (catalog_layer_metrics,
                                  instrument_catalog)
from layerbench.metrics import SPARK_CLASSES
from layerbench.trace import LayerBook


class Target:
    def __init__(self, engine, warehouse: str, sources: dict[str, str]):
        self.engine, self.warehouse, self.sources = engine, warehouse, sources
        self.hashes: list[tuple[str, str | None]] = []   # (sql, hash)


class SparkWorkload(Workload):
    tables: list[str] = []

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.book = LayerBook()
        self.spark = None
        self.probe = None
        self.jvm_pid = None
        self.rss: dict[str, float] | None = None
        self.threads = sparkenv.task_threads()
        self.heap = sparkenv.DRIVER_MEM

    def start(self) -> None:
        sparkenv.configure_env(self.work)
        t0 = time.perf_counter()
        self.spark = sparkenv.start_spark(self.work)
        self.spark.range(1).count()
        self.setup["spark_start_s"] = time.perf_counter() - t0
        self.jvm_pid = sparkenv.jvm_pid(self.spark)

    def prepare(self, rep: int) -> Target:
        from olympia_spark.engine import Engine
        t0 = time.perf_counter()
        src_dir = os.path.join(self.work, f"src{rep}")
        os.makedirs(src_dir)
        sources = datagen.write_sources(datagen.tpch_tables(self.seed),
                                        src_dir, self.tables)
        t1 = time.perf_counter()
        wh = os.path.join(self.work, f"wh{rep}")
        eng = Engine(self.spark, wh)
        eng.sql("CREATE NAMESPACE tpch")
        for name, path in sources.items():
            eng.write_table(self.spark.read.parquet(path), f"tpch.{name}")
        target = Target(eng, wh, sources)
        self.after_load(target)
        self.setup["datagen_s"].append(t1 - t0)
        self.setup["load_s"].append(time.perf_counter() - t1)
        return target

    def after_load(self, target: Target) -> None:
        pass

    def instrument(self, target: Target) -> None:
        instrument_catalog(target.engine.catalog, self.tracer)
        self.probe = sparkenv.SparkProbe(self.spark)

    def statement(self, target: Target, cls: str, kind: str, sql: str,
                  role: str):
        """Run one statement; returns its rows (None if it failed)."""
        traced = role == "traced"
        tr = self.tracer
        if traced:
            group = self.probe.begin()
            tr.reset()
            tr.active = True
        self.attempted += 1
        rows = None
        t0 = time.perf_counter()
        try:
            with tr.span("stmt"):
                with tr.span("engine.sql"):
                    df = target.engine.sql(sql)
                with tr.span("spark.collect"):
                    rows = df.collect()
            self.samples[role].add(kind, cls, time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            self.fail(f"{cls}: {type(e).__name__}: {e}"[:300])
        if traced:
            tr.active = False
            info = self.probe.end(group)
            self._fold(cls, info, rows)
        return rows

    def _fold(self, cls: str, info: dict, rows) -> None:
        spans = self.tracer.spans
        if not spans:
            return
        children = [s for s in spans if s.parent == spans[0].id]
        for s, e in info.pop("intervals"):
            home = next((c for c in children if c.start <= s <= c.end),
                        spans[0])
            s, e = max(s, home.start), min(e, home.end)
            if e > s:
                self.tracer.add("spark.job", s, e, home.id)
        extra = {k: info[k] for k in ("py4j", "jobs", "stages", "tasks",
                                      "shuffle_write_bytes")}
        self.book.fold(self.tracer.spans, cls, extra)
        self.after_fold(cls, rows)

    def after_fold(self, cls: str, rows) -> None:
        pass

    def record(self, target: Target, sql: str, rows) -> None:
        target.hashes.append(
            (sql, result_hash(rows) if rows is not None else None))

    def duck(self) -> duckdb.DuckDBPyConnection:
        """An in-memory DuckDB for the correctness replay."""
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.work}/duck-tmp'")
        con.execute("SET threads = 1")
        con.execute("CREATE SCHEMA tpch")
        return con

    def storage_ratio(self, target: Target) -> float:
        user = sum(os.path.getsize(p) for p in target.sources.values())
        return dir_bytes(target.warehouse) / user

    def peak_rss_mb(self) -> float:
        self.rss = {"python": host.peak_rss_mb(),
                    "jvm": host.peak_rss_mb(self.jvm_pid)}
        return sum(self.rss.values())

    def reset_peak_rss(self) -> None:
        host.reset_peak_rss()
        host.reset_peak_rss(self.jvm_pid)

    def release(self, target: Target) -> None:
        shutil.rmtree(target.warehouse)
        shutil.rmtree(os.path.dirname(next(iter(target.sources.values()))))

    def report_extra(self) -> dict:
        return {"peak_rss_mb_by_process": self.rss}

    def layer_metrics(self, target: Target) -> dict:
        out = catalog_layer_metrics(self.tracer.counters, self.book)
        b = self.book
        for c in SPARK_CLASSES:
            if c not in b.cls:
                continue
            out[f"engine.sql_self_ms.{c}"] = (
                1000.0 * b.mean(c, "engine_s"), "ms")
            out[f"engine.py4j_calls.{c}"] = (b.mean(c, "py4j"), "count")
            out[f"engine.catalog_ms.{c}"] = (
                1000.0 * b.mean(c, "catalog_s"), "ms")
            out[f"spark.jobs.{c}"] = (b.mean(c, "jobs"), "count")
            out[f"spark.job_ms.{c}"] = (1000.0 * b.mean(c, "job_s"), "ms")
        n = sum(a["n"] for a in b.cls.values()) or 1
        for k in ("stages", "tasks", "shuffle_write_bytes"):
            out[f"spark.{k}"] = (sum(a[k] for a in b.cls.values()) / n,
                                 "bytes" if "bytes" in k else "count")
        return out

    def close(self) -> None:
        if self.spark is not None:
            sparkenv.stop_spark(self.spark)
            self.spark = None
