"""Spans and counters around the calls into the catalog plane.

The program is not edited: the traced run wraps methods on the *instances*
of one catalog (its ``Catalog``, the ``Tree`` it holds and the
``Storage`` both share), so the untraced run and every other catalog run
the plain code. Span names carry the layer: ``txn.<Catalog method>``,
``tree.<op>``, ``storage.<op>``.
"""

from __future__ import annotations

import functools

from olympia_spark.catalog.errors import (CommitConflictError,
                                          StorageAtomicSealFailureError)

from layerbench.metrics import LAYERS
from layerbench.trace import LayerBook, Tracer

# Catalog methods whose storage and tree traffic counts as a lookup
LOOKUP_OPS = {"begin", "at_version", "before_timestamp", "describe_table",
              "table_exists", "namespace_exists", "describe_namespace",
              "show_tables", "show_namespaces", "history", "view_exists",
              "describe_view", "show_views", "dist_transaction_exists"}
CATALOG_OPS = sorted(LOOKUP_OPS | {
    "commit", "alter_table", "create_table", "update_table_files",
    "drop_table", "rename_table", "create_namespace", "create_view",
    "drop_view", "replace_view", "load_dist_transaction",
    "save_dist_transaction"})
STORAGE_OPS = ("read", "write_atomic", "overwrite", "exists", "list",
               "delete")


def _enclosing_category(tracer: Tracer) -> str:
    """'lookup' or 'commit' from the innermost open txn.* span."""
    sid = tracer.current()
    while sid is not None:
        s = tracer.spans[sid]
        if s.layer == "txn":
            return "lookup" if s.name[4:] in LOOKUP_OPS else "commit"
        sid = s.parent
    return "other"


def _wrap(obj, name: str, around) -> None:
    orig = getattr(obj, name)

    @functools.wraps(orig)
    def wrapped(*a, **kw):
        return around(orig, *a, **kw)
    setattr(obj, name, wrapped)


def instrument_catalog(catalog, tracer: Tracer) -> None:
    storage, tree = catalog.storage, catalog.tree

    def storage_op(op):
        def around(orig, path, *a, **kw):
            cat = _enclosing_category(tracer)
            with tracer.span(f"storage.{op}"):
                out = orig(path, *a, **kw)
            if op == "read":
                tracer.count(f"storage.reads.{cat}")
                tracer.count(f"storage.read_bytes.{cat}", len(out))
            elif op in ("write_atomic", "overwrite"):
                tracer.count(f"storage.writes.{cat}")
                tracer.count(f"storage.write_bytes.{cat}", len(a[0]))
                if op == "write_atomic" and path.startswith(("node/", "vn/")):
                    tracer.count(f"tree.nodes_written.{cat}")
            return out
        return around

    for op in STORAGE_OPS:
        _wrap(storage, op, storage_op(op))

    def read_node(orig, path):
        tracer.count(f"tree.nodes_read.{_enclosing_category(tracer)}")
        with tracer.span("tree.read_node"):
            return orig(path)

    def load_root(orig, path):
        t0 = tracer.clock()
        with tracer.span("tree.load_root"):
            out = orig(path)
        tracer.count(f"tree.root_load_s.{_enclosing_category(tracer)}",
                     tracer.clock() - t0)
        return out

    def write_root(orig, *a, **kw):
        t0 = tracer.clock()
        tracer.count("tree.write_root_calls")
        try:
            with tracer.span("tree.write_root"):
                return orig(*a, **kw)
        except StorageAtomicSealFailureError:
            tracer.count("txn.cas_retries")
            raise
        finally:
            tracer.count("tree.write_root_s", tracer.clock() - t0)

    _wrap(tree, "_read_table", read_node)
    _wrap(tree, "load_root", load_root)
    _wrap(tree, "write_root", write_root)

    def catalog_op(op):
        def around(orig, *a, **kw):
            t0 = tracer.clock()
            try:
                with tracer.span(f"txn.{op}"):
                    out = orig(*a, **kw)
            except CommitConflictError:
                tracer.count("txn.conflict_aborts")
                raise
            finally:
                if op == "commit":
                    tracer.count("txn.commit_s", tracer.clock() - t0)
                    tracer.count("txn.commit_calls")
            if op == "describe_table":
                tracer.count("txn.lookups")
            elif op == "commit" and a and a[0].write_actions:
                tracer.count("txn.commits")
            return out
        return around

    for op in CATALOG_OPS:
        if hasattr(catalog, op):
            _wrap(catalog, op, catalog_op(op))


def catalog_layer_metrics(c: dict, book: LayerBook) -> dict:
    """The storage / tree / txn per-layer figures from the counters the
    instrumented catalog keeps, plus the layer shares."""
    lookups = c.get("txn.lookups", 0) or 1
    commits = c.get("txn.commits", 0) or 1
    roots = c.get("tree.write_root_calls", 0)
    out = {
        "storage.reads_per_lookup": (
            c.get("storage.reads.lookup", 0) / lookups, "count"),
        "storage.read_bytes_per_lookup": (
            c.get("storage.read_bytes.lookup", 0) / lookups, "bytes"),
        "storage.writes_per_commit": (
            c.get("storage.writes.commit", 0) / commits, "count"),
        "storage.write_bytes_per_commit": (
            c.get("storage.write_bytes.commit", 0) / commits, "bytes"),
        "tree.nodes_read_per_lookup": (
            c.get("tree.nodes_read.lookup", 0) / lookups, "count"),
        "tree.root_load_ms": (
            1000.0 * c.get("tree.root_load_s.lookup", 0) / lookups, "ms"),
        "tree.nodes_written_per_commit": (
            c.get("tree.nodes_written.commit", 0) / commits, "count"),
        "tree.write_root_ms": (
            1000.0 * c.get("tree.write_root_s", 0) / (roots or 1), "ms"),
        "txn.commit_ms": (1000.0 * c.get("txn.commit_s", 0)
                          / (c.get("txn.commit_calls", 0) or 1), "ms"),
        "txn.cas_retries": (c.get("txn.cas_retries", 0), "count"),
        "txn.conflict_aborts": (c.get("txn.conflict_aborts", 0), "count"),
        "txn.useful_commit_ratio": (
            (roots - c.get("txn.cas_retries", 0)) / roots if roots else 1.0,
            "ratio"),
    }
    shares = book.shares(LAYERS)
    for layer, pct in shares.items():
        if layer == "unattributed":
            out["trace.unattributed_pct"] = (pct, "%")
        else:
            out[f"layer.{layer}.self_pct"] = (pct, "%")
    return out
