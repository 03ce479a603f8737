"""lakehouse_dml — Engine.sql INSERT, DELETE WHERE, UPDATE and MERGE in
seeded order, each followed by a point read and an MV read; a REFRESH
MATERIALIZED VIEW closes each cycle (datagen.dml_stream).

Correctness: the same statements replay in DuckDB over the same source
files. Every read is hash-compared with the replay's, and at the end both
tables and the MV are; the MV must also equal its full recompute.
"""

from __future__ import annotations

from layerbench import datagen
from layerbench.common import result_hash
from layerbench.metrics import DML_TABLES, WRITE_CLASSES
from layerbench.sparkwl import SparkWorkload, Target

TABLES = ["lineitem", "orders"]


class LakehouseDml(SparkWorkload):
    name = "lakehouse_dml"
    tables = TABLES
    cycles_per_s = 0.2           # cycles of 13 statements, ~5 s each
    warmup_cycles = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.mv = {"refreshes": 0, "incremental": 0, "delta_rows": 0}
        self.files = {}          # table -> {path: size} in the traced copy
        self.traced_target = None

    def after_load(self, target: Target) -> None:
        target.engine.sql(f"CREATE MATERIALIZED VIEW tpch.mv AS "
                          f"{datagen.MV_QUERY}")

    def stream(self, cycles: int) -> list[list]:
        return datagen.dml_stream(self.seed, cycles)

    def instrument(self, target: Target) -> None:
        super().instrument(target)
        self.traced_target = target
        self.files = {t: self._live_files(target, t) for t in DML_TABLES}

    def _live_files(self, target: Target, table: str) -> dict[str, int]:
        cat = target.engine.catalog
        tdef = cat.describe_table(cat.begin(read_only=True), "tpch", table)
        return {f.path: f.size_bytes for f in tdef.data_files}

    def execute(self, target: Target, op: dict, role: str) -> None:
        rows = self.statement(target, op["cls"], op["kind"], op["sql"], role)
        if op["kind"] == "read":
            self.record(target, op["sql"], rows)
        elif op["kind"] == "refresh" and rows and role == "traced":
            self.mv["refreshes"] += 1
            self.mv["incremental"] += rows[0]["mode"] == "incremental"
            self.mv["delta_rows"] += rows[0]["delta_rows"]

    def after_fold(self, cls: str, rows) -> None:
        """Data files a write statement added (traced copy only)."""
        if cls not in WRITE_CLASSES:
            return
        table = {"merge": "orders", "refresh": "mv"}.get(cls, "lineitem")
        now = self._live_files(self.traced_target, table)
        new = {p: b for p, b in now.items() if p not in self.files[table]}
        self.files[table] = now
        acc = self.book.cls[cls]
        acc["files_written"] += len(new)
        acc["bytes_written"] += sum(new.values())

    def verify(self, target: Target) -> None:
        con = self.duck()
        for name, path in target.sources.items():
            con.execute(f"CREATE TABLE tpch.{name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE TABLE tpch.mv AS {datagen.MV_QUERY}")
        reads = iter(target.hashes)
        for cycle in datagen.dml_stream(self.seed, self.warmup_cycles
                                        + self.n_cycles()):
            for op in cycle:
                if op["kind"] == "write":
                    for stmt in op["duck"]:
                        con.execute(stmt)
                elif op["kind"] == "refresh":
                    con.execute("DROP TABLE tpch.mv")
                    con.execute(f"CREATE TABLE tpch.mv AS "
                                f"{datagen.MV_QUERY}")
                else:
                    sql, got = next(reads)
                    want = result_hash(con.execute(sql).fetchall())
                    if got != want:
                        self.fail(f"read differs from DuckDB: {sql[:120]}")
        eng = target.engine
        checks = [(f"SELECT * FROM tpch.{t}", f"SELECT * FROM tpch.{t}")
                  for t in TABLES]
        checks.append((datagen.MV_READ, datagen.MV_READ))
        checks.append((datagen.MV_QUERY, datagen.MV_READ))
        for engine_sql, duck_sql in checks:
            got = result_hash(eng.sql(engine_sql).collect())
            if got != result_hash(con.execute(duck_sql).fetchall()):
                self.fail(f"final state differs: {engine_sql[:80]}")
        con.close()

    def layer_metrics(self, target: Target) -> dict:
        out = super().layer_metrics(target)
        b = self.book
        writes = 0
        total_bytes = 0.0
        for c in WRITE_CLASSES:
            if c in b.cls:
                out[f"data.files_written.{c}"] = (
                    b.mean(c, "files_written"), "count")
                writes += b.cls[c]["n"]
                total_bytes += b.cls[c]["bytes_written"]
        out["data.bytes_written"] = (total_bytes / (writes or 1), "bytes")
        for t in DML_TABLES:
            out[f"data.live_files.{t}"] = (len(self.files[t]), "count")
        n = self.mv["refreshes"] or 1
        out["mv.incremental_ratio"] = (self.mv["incremental"] / n, "ratio")
        out["mv.delta_rows"] = (self.mv["delta_rows"] / n, "count")
        out["mv.refresh_jobs"] = (b.mean("refresh", "jobs"), "count")
        return out
