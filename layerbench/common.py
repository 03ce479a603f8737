"""The run loop shared by the workloads: set-up repetitions, warm-up, the
timed phase, the traced phase, and metric assembly.

Work is fixed per run: ``--seconds`` sets a number of cycles through a
fixed rate per workload (calibrated on a 4-CPU host), never a wall-clock
deadline, so every run with the same arguments executes the same seeded
operations and ends in the same state.
"""

from __future__ import annotations

import datetime as dt
import gc
import hashlib
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from decimal import Decimal

from layerbench import stats
from layerbench.metrics import per_layer
from layerbench.trace import Tracer

# set-ups per run; setup_s takes their median, which spread less from run
# to run than any one set-up did (README.md, "Noise")
SETUP_REPS = 3


def _norm(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def result_hash(rows) -> str:
    """Order-insensitive hash of a result: values normalized (decimals
    by value, not scale), rows sorted."""
    canon = sorted(tuple(_norm(v) for v in row) for row in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Samples:
    """Latencies in ms by kind (read/write/refresh/abort) and class."""

    def __init__(self):
        self.by_kind: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list))

    def add(self, kind: str, cls: str, seconds: float) -> None:
        self.by_kind[kind][cls].append(seconds * 1000.0)

    def count(self) -> int:
        return sum(len(v) for k in self.by_kind.values() for v in k.values())

    def busy_s(self) -> float:
        return sum(sum(v) for k in self.by_kind.values()
                   for v in k.values()) / 1000.0

    def classes(self) -> dict[str, list[float]]:
        out = {}
        for k in self.by_kind.values():
            out.update(k)
        return out


class Workload:
    """Subclasses fill in the hooks below."""

    name = ""
    cycles_per_s = 1.0          # fixed work: cycles = seconds * this
    warmup_cycles = 1
    threads: int | None = None  # Spark task threads, for the host stamp
    heap: str | None = None     # Spark driver heap, for the host stamp

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = (
            seed, seconds, trace, work)
        self.tracer = Tracer()
        self.setup = {"spark_start_s": 0.0, "datagen_s": [], "load_s": [],
                      "warmup_s": 0.0}
        self.attempted = self.failed = self.designed_aborts = 0
        self.errors: list[str] = []
        # roles: main (untraced), traced, warmup (not reported)
        self.samples: dict[str, Samples] = defaultdict(Samples)

    # --- hooks ---------------------------------------------------------
    def start(self) -> None:
        """One-time start (Spark); record setup['spark_start_s']."""

    def prepare(self, rep: int):
        """Build one target; append to setup['datagen_s'/'load_s']."""
        raise NotImplementedError

    def stream(self, cycles: int) -> list[list]:
        raise NotImplementedError

    def execute(self, target, op, role: str) -> None:
        """Run one op, add its latency to self.samples[role], check it."""
        raise NotImplementedError

    def instrument(self, target) -> None:
        raise NotImplementedError

    def verify(self, target) -> None:
        """End-of-run state check; calls self.fail() on a mismatch."""

    def storage_ratio(self, target) -> float:
        raise NotImplementedError

    def peak_rss_mb(self) -> float:
        raise NotImplementedError

    def reset_peak_rss(self) -> None:
        """Restart the peak-memory marks that peak_rss_mb reads."""
        raise NotImplementedError

    def release(self, target) -> None:
        """Delete the files of a set-up that is not run on."""
        raise NotImplementedError

    def layer_metrics(self, target) -> dict:
        raise NotImplementedError

    def report_extra(self) -> dict:
        return {}

    def close(self) -> None:
        pass

    # --- shared --------------------------------------------------------
    def fail(self, what: str) -> None:
        """Count a failed operation; an exception's traceback goes to
        stderr."""
        if sys.exc_info()[0] is not None:
            traceback.print_exc()
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def n_cycles(self) -> int:
        return max(2, math.ceil(self.seconds * self.cycles_per_s))

    def run(self) -> tuple[dict, dict]:
        self.start()
        targets = []
        for rep in range(SETUP_REPS):
            # earlier set-ups stay out of later ones' garbage collections
            gc.collect()
            gc.freeze()
            targets.append(self.prepare(rep))
            # its write-back is done before the next set-up or the timing
            os.sync()
        gc.unfreeze()
        main = targets[-1]
        traced = targets[-2] if self.trace else None
        # the set-ups not run on are released, and the peak-memory marks
        # restart here: peak_rss_mb covers the warm-up and timed phase
        for target in targets:
            if target is not main and target is not traced:
                self.release(target)
        del targets
        os.sync()
        gc.collect()
        self.reset_peak_rss()
        if traced is not None:
            self.instrument(traced)
        cycles = self.stream(self.warmup_cycles + self.n_cycles())
        roles = [(main, "main")] + ([(traced, "traced")] if traced else [])

        t0 = time.perf_counter()
        for cycle in cycles[:self.warmup_cycles]:
            for target, role in roles:
                for op in cycle:
                    self.execute(target, op, "warmup")
        self.setup["warmup_s"] = time.perf_counter() - t0

        gc.collect()
        gc.freeze()
        for i, cycle in enumerate(cycles[self.warmup_cycles:]):
            # traced and untraced copies alternate which goes first
            for target, role in (roles if i % 2 == 0 else roles[::-1]):
                for op in cycle:
                    self.execute(target, op, role)
        gc.unfreeze()
        # peak memory of the program, before the checker loads its replay
        peak_rss = self.peak_rss_mb()
        for target, _ in roles:
            self.verify(target)

        setup_s = (self.setup["spark_start_s"]
                   + statistics.median(self.setup["datagen_s"])
                   + statistics.median(self.setup["load_s"])
                   + self.setup["warmup_s"])
        main_s = self.samples["main"]
        if self.trace:
            metrics = self._per_layer(traced)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "throughput_ops_s": (main_s.count() / main_s.busy_s(),
                                     "1/s"),
                "read_ms_p50": (stats.class_geomean(
                    main_s.by_kind["read"], 50), "ms"),
                "storage_bytes_per_user_byte": (
                    self.storage_ratio(main), "ratio"),
                "peak_rss_mb": (peak_rss, "MiB"),
            }
        return metrics, self._report(main_s)

    def _per_layer(self, traced) -> dict:
        """Every per-layer metric; 0 for a layer or class this workload
        does not exercise. Class latencies come from the untraced copy."""
        out = {name: (0.0, unit) for name, unit in per_layer().items()}
        out.update(self.layer_metrics(traced))
        for c, v in self.samples["main"].classes().items():
            if f"shape.{c}.ms_p50" in out:
                out[f"shape.{c}.ms_p50"] = (stats.percentile(v, 50), "ms")
        for k in ("spark_start_s", "warmup_s"):
            out[f"setup.{k}"] = (self.setup[k], "s")
        for k in ("datagen_s", "load_s"):
            out[f"setup.{k}"] = (statistics.median(self.setup[k]), "s")
        out["trace.overhead_pct"] = (
            100.0 * (self.samples["traced"].busy_s()
                     / self.samples["main"].busy_s() - 1.0), "%")
        return out

    def _report(self, s: Samples) -> dict:
        """Every latency figure by class, with sample counts; the tail
        percentiles only where each class has 10 samples beyond them."""
        rep: dict = {"classes": {
            c: {"n": len(v), "p50_ms": stats.percentile(v, 50)}
            for c, v in sorted(s.classes().items())}}
        for kind in ("read", "write"):
            cls = s.by_kind.get(kind)
            if not cls:
                continue
            rep[f"{kind}_ms_p50"] = stats.class_geomean(cls, 50)
            if stats.class_tail_supported(cls, 90):
                rep[f"{kind}_ms_p90"] = stats.class_geomean(cls, 90)
        if s.by_kind.get("refresh"):
            rep["refresh_ms_p50"] = stats.class_geomean(
                s.by_kind["refresh"], 50)
        rep["designed_aborts"] = self.designed_aborts
        rep["setup"] = {k: (v if not isinstance(v, list) else
                            [round(x, 4) for x in v])
                        for k, v in self.setup.items()}
        rep["errors"] = self.errors
        rep.update(self.report_extra())
        return rep
