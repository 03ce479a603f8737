"""analytic_reads — read-only Engine.sql SELECTs in eight seeded shapes
(datagen.read_query): point lookup, filter-scan, Q1-style aggregate,
star join, rank window, top-k, count distinct, EXISTS semi-join. No
commits. Every result is hash-compared with DuckDB over the same parquet
source files.
"""

from __future__ import annotations

from layerbench import datagen
from layerbench.common import result_hash
from layerbench.sparkwl import SparkWorkload, Target


class AnalyticReads(SparkWorkload):
    name = "analytic_reads"
    tables = ["region", "nation", "customer", "orders", "lineitem"]
    cycles_per_s = 1.0           # cycles of 8 statements, ~1.6 s each
    warmup_cycles = 1

    def stream(self, cycles: int) -> list[list]:
        return datagen.read_stream(self.seed, cycles)

    def execute(self, target: Target, op: tuple, role: str) -> None:
        shape, sql = op
        rows = self.statement(target, shape, "read", sql, role)
        self.record(target, sql, rows)

    def verify(self, target: Target) -> None:
        con = self.duck()
        for name, path in target.sources.items():
            con.execute(f"CREATE VIEW tpch.{name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        expected: dict[str, str] = {}
        for sql, got in target.hashes:
            if sql not in expected:
                expected[sql] = result_hash(con.execute(sql).fetchall())
            if got != expected[sql]:
                self.fail(f"result differs from DuckDB: {sql[:120]}")
        con.close()
