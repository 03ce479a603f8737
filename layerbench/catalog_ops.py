"""catalog_ops — the catalog and transaction plane alone, no Spark.

Set-up builds a 10k-table catalog (a 3-level tree at order 128) in one
transaction. The timed mix: skewed point lookups, single-object commits,
heavy-tailed multi-object commits, time-travel reads and contended pairs
(datagen.catalog_stream). Every read is checked against a revision model
of which revision each commit installed at which version.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time

from olympia_spark.catalog import Catalog, LocalStorage, TableDef
from olympia_spark.catalog.errors import CommitConflictError

from layerbench import datagen, host
from layerbench.common import Workload, dir_bytes
from layerbench.instrument import (catalog_layer_metrics,
                                  instrument_catalog)
from layerbench.trace import LayerBook


# Operations are timed on the client thread's CPU clock. The workload is
# one Python thread whose file I/O stays in the page cache (the catalog
# does no fsync), so this is the program's own work; it leaves out
# hypervisor CPU steal and waits on the shared disk, which on a shared
# host doubled wall-clock latencies in some runs (README.md, "Noise").
op_clock = time.thread_time


class RevisionModel:
    """Which revision of each table is visible at which catalog version.
    Every table starts at revision 0 at ``base_version``; each commit
    installs one revision on its tables at the next version."""

    def __init__(self, base_version: int):
        self.version = base_version
        self.base = base_version
        self.next_rev = 1
        self.hist: dict[int, tuple[list[int], list[int]]] = {}

    def take_rev(self) -> int:
        rev, self.next_rev = self.next_rev, self.next_rev + 1
        return rev

    def install(self, version: int, tables: list[int], rev: int) -> None:
        if version != self.version + 1:
            raise ValueError(f"commit landed at v{version}, "
                             f"expected v{self.version + 1}")
        self.version = version
        for t in tables:
            vs, rs = self.hist.setdefault(t, ([], []))
            vs.append(version)
            rs.append(rev)

    def rev_at(self, table: int, version: int | None = None) -> int:
        version = self.version if version is None else version
        vs, rs = self.hist.get(table, ([], []))
        i = bisect.bisect_right(vs, version)
        return rs[i - 1] if i else 0


class Target:
    def __init__(self, catalog: Catalog, root: str, model: RevisionModel,
                 user_bytes: int):
        self.catalog, self.root, self.model = catalog, root, model
        self.user_bytes = user_bytes


def _def(i: int, rev: int) -> tuple[TableDef, int]:
    schema = datagen.catalog_schema_json(i)
    props = {"rev": str(rev), "owner": f"team{i % 7}"}
    return (TableDef(schema_json=schema, properties=props),
            len(schema) + len(json.dumps(props)))


class CatalogOps(Workload):
    name = "catalog_ops"
    cycles_per_s = 13.0          # rounds of 21 ops, ~75 ms each
    warmup_cycles = 5

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.book = LayerBook()

    def prepare(self, rep: int) -> Target:
        t0 = time.perf_counter()
        defs = [_def(i, 0) for i in range(datagen.N_TABLES)]
        t1 = time.perf_counter()
        root = os.path.join(self.work, f"catalog{rep}")
        cat = Catalog.create(LocalStorage(root))
        txn = cat.begin()
        for n in range(datagen.N_NAMESPACES):
            cat.create_namespace(txn, f"ns{n:02d}")
        for i, (tdef, _) in enumerate(defs):
            cat.create_table(txn, *datagen.table_name(i), tdef)
        version = cat.commit(txn).version
        self.setup["datagen_s"].append(t1 - t0)
        self.setup["load_s"].append(time.perf_counter() - t1)
        return Target(cat, root, RevisionModel(version),
                      sum(b for _, b in defs))

    def stream(self, cycles: int) -> list[list]:
        return datagen.catalog_stream(self.seed, cycles)

    def instrument(self, target: Target) -> None:
        instrument_catalog(target.catalog, self.tracer)

    # --- one op ------------------------------------------------------------
    @staticmethod
    def _alter(target: Target, txn, tables: list[int], defs: list) -> None:
        for i, (tdef, nbytes) in zip(tables, defs):
            target.catalog.alter_table(txn, *datagen.table_name(i), tdef)
            target.user_bytes += nbytes

    def _check(self, target: Target, i: int, tdef: TableDef,
               version: int | None = None) -> None:
        want = target.model.rev_at(i, version)
        got = int(tdef.properties.get("rev", -1))
        if got != want:
            self.fail(f"table {i} at v{version}: rev {got}, want {want}")

    def execute(self, target: Target, op: tuple, role: str) -> None:
        traced = role == "traced"
        tr = self.tracer
        if traced:
            tr.reset()
            tr.active = True
        cat, model = target.catalog, target.model
        kind = op[0]
        samples = self.samples[role]
        self.attempted += 2 if kind == "pair" else 1
        try:
            with tr.span("stmt"):
                if kind == "lookup":
                    t0 = op_clock()
                    txn = cat.begin(read_only=True)
                    tdef = cat.describe_table(txn, *datagen.table_name(op[1]))
                    samples.add("read", "lookup", op_clock() - t0)
                    self._check(target, op[1], tdef)
                elif kind == "travel":
                    v = max(model.base, model.version - op[2])
                    t0 = op_clock()
                    txn = cat.at_version(v)
                    tdef = cat.describe_table(txn, *datagen.table_name(op[1]))
                    samples.add("read", "travel", op_clock() - t0)
                    self._check(target, op[1], tdef, v)
                elif kind in ("commit", "multi"):
                    tables = [op[1]] if kind == "commit" else op[1]
                    rev = model.take_rev()
                    defs = [_def(i, rev) for i in tables]
                    t0 = op_clock()
                    txn = cat.begin()
                    self._alter(target, txn, tables, defs)
                    v = cat.commit(txn).version
                    samples.add("write", kind, op_clock() - t0)
                    model.install(v, tables, rev)
                else:
                    self._pair(target, op[1], op[2], samples)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            self.fail(f"{op!r}: {type(e).__name__}: {e}")
        finally:
            if traced:
                tr.active = False
                if tr.spans:
                    self.book.fold(tr.spans, kind)

    def _pair(self, target: Target, i: int, j: int, samples) -> None:
        """Two transactions from one snapshot. The first commits plainly;
        the second loses the CAS. On another table it must replay and land
        at the next version; on the same table it must abort."""
        cat, model = target.catalog, target.model
        rev_a, rev_b = model.take_rev(), model.take_rev()
        def_a, def_b = [_def(i, rev_a)], [_def(j, rev_b)]
        t0 = op_clock()
        a = cat.begin()
        self._alter(target, a, [i], def_a)
        t1 = op_clock()
        b = cat.begin()
        self._alter(target, b, [j], def_b)
        t2 = op_clock()
        va = cat.commit(a).version
        t3 = op_clock()
        samples.add("write", "commit", (t1 - t0) + (t3 - t2))
        model.install(va, [i], rev_a)
        try:
            vb = cat.commit(b).version
        except CommitConflictError:
            samples.add("abort", "conflict", (t2 - t1) + (op_clock() - t3))
            if i == j:
                self.designed_aborts += 1
            else:
                self.fail(f"pair ({i}, {j}) aborted; tables differ")
            return
        samples.add("write", "replayed", (t2 - t1) + (op_clock() - t3))
        if i == j:
            self.fail(f"pair on table {i} committed twice")
        model.install(vb, [j], rev_b)

    # --- end of run --------------------------------------------------------
    def verify(self, target: Target) -> None:
        cat, model = target.catalog, target.model
        latest = cat.tree.find_latest_version()
        if latest != model.version:
            self.fail(f"latest version {latest}, model {model.version}")
        txn = cat.begin(read_only=True)
        for i in sorted(model.hist):
            self._check(target, i,
                        cat.describe_table(txn, *datagen.table_name(i)))

    def storage_ratio(self, target: Target) -> float:
        return dir_bytes(target.root) / target.user_bytes

    def peak_rss_mb(self) -> float:
        return host.peak_rss_mb()

    def reset_peak_rss(self) -> None:
        host.reset_peak_rss()

    def release(self, target: Target) -> None:
        shutil.rmtree(target.root)

    def layer_metrics(self, target: Target) -> dict:
        return catalog_layer_metrics(self.tracer.counters, self.book)

