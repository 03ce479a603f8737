"""Tests of the benchmark's own pure code (no Spark, no catalog I/O).

    python3 -m pytest layerbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

import pyarrow as pa
import pytest

from layerbench import datagen, stats
from layerbench.catalog_ops import RevisionModel
from layerbench.common import result_hash
from layerbench.metrics import END_TO_END, per_layer
from layerbench.trace import LayerBook, Span, self_times, union_length


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def table_digest(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


# --- seeded generators and op streams ---------------------------------------

@pytest.mark.parametrize("gen", [
    lambda s: datagen.read_stream(s, 3),
    lambda s: datagen.dml_stream(s, 3),
    lambda s: datagen.catalog_stream(s, 3),
])
def test_op_streams_repeat_for_a_seed_and_differ_across_seeds(gen):
    assert digest(gen(7)) == digest(gen(7))
    assert digest(gen(7)) != digest(gen(8))


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    a, b, c = (datagen.tpch_tables(s) for s in (3, 3, 4))
    for name in a:
        assert table_digest(a[name]) == table_digest(b[name])
    assert table_digest(a["lineitem"]) != \
        table_digest(c["lineitem"])
    files = []
    for name, tables in (("a", a), ("b", b)):
        os.makedirs(tmp_path / name)
        files.append(datagen.write_sources(tables, str(tmp_path / name),
                                           ["orders"])["orders"])
    with open(files[0], "rb") as f1, open(files[1], "rb") as f2:
        assert f1.read() == f2.read()


def test_stream_length_is_the_work_not_the_clock():
    # the op count is a function of (seed, cycles) alone
    assert len(datagen.read_stream(1, 5)) == 5
    assert all(len(c) == len(datagen.READ_SHAPES)
               for c in datagen.read_stream(1, 5))
    assert [len(c) for c in datagen.dml_stream(1, 4)] == [13] * 4


def test_dml_stream_never_touches_a_deleted_key():
    deleted = set()
    for cycle in datagen.dml_stream(5, 40):
        for op in cycle:
            if op["cls"] == "delete":
                deleted.add(int(op["sql"].rsplit("= ", 1)[1]))
            elif op["cls"] == "update":
                assert int(op["sql"].rsplit("= ", 1)[1]) not in deleted


def test_catalog_stream_pairs_and_heavy_tail():
    rounds = datagen.catalog_stream(11, 200)
    pairs = [op for r in rounds for op in r if op[0] == "pair"]
    assert sum(1 for _, i, j in pairs if i == j) == 200
    assert sum(1 for _, i, j in pairs if i != j) == 200
    sizes = [len(op[1]) for r in rounds for op in r if op[0] == "multi"]
    assert min(sizes) >= 2 and max(sizes) <= 64
    assert max(sizes) >= 4 * (sum(sizes) / len(sizes))


def test_catalog_stream_commits_the_same_sizes_for_every_seed():
    def sizes(seed):
        return [len(op[1]) for r in datagen.catalog_stream(seed, 50)
                for op in r if op[0] == "multi"]
    assert sorted(sizes(1)) == sorted(sizes(2))
    assert sizes(1) != sizes(2)


# --- statistics ------------------------------------------------------------

def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5
    assert stats.percentile(list(range(101)), 90) == 90


def test_class_geomean_is_per_class_then_geometric():
    samples = {"a": [10.0, 10.0, 10.0], "b": [1000.0, 1000.0]}
    assert stats.class_geomean(samples, 50) == pytest.approx(100.0)


def test_class_geomean_does_not_jump_when_class_counts_shift():
    # a pooled median of two clusters jumps from one cluster to the other
    # when one sample moves between classes; the per-class figure does not
    fast, slow = [60.0] * 5, [470.0] * 5
    pooled_a = stats.percentile(fast + slow[:-1], 50)
    pooled_b = stats.percentile(fast[:-1] + slow, 50)
    assert pooled_b / pooled_a > 5
    a = stats.class_geomean({"f": fast, "s": slow[:-1]}, 50)
    b = stats.class_geomean({"f": fast[:-1], "s": slow}, 50)
    assert a == pytest.approx(b)
    assert a == pytest.approx(math.sqrt(60 * 470))


def test_tail_rule_needs_ten_samples_beyond():
    assert not stats.tail_supported(99, 90)
    assert stats.tail_supported(100, 90)
    assert stats.tail_supported(20, 50)
    assert not stats.tail_supported(999, 99.9)
    assert stats.class_tail_supported({"a": [1.0] * 100, "b": [1.0] * 150},
                                      90)
    assert not stats.class_tail_supported({"a": [1.0] * 100,
                                           "b": [1.0] * 50}, 90)


def test_spread_is_iqr_over_median():
    sp = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert sp["median"] == 5.5
    assert sp["spread"] == pytest.approx((8.25 - 2.75) / 5.5)


# --- spans -----------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_is_duration_minus_union_of_children():
    spans = [Span(0, "stmt", 0.0, 10.0, None),
             Span(1, "engine.sql", 1.0, 6.0, 0),
             Span(2, "txn.begin", 2.0, 3.0, 1),
             Span(3, "storage.read", 2.5, 4.0, 1),   # overlaps txn.begin
             Span(4, "spark.job", 5.0, 8.0, 1)]      # runs past its parent
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)       # child covers 1..6
    assert st[1] == pytest.approx(5 - 3)        # children cover 2..4, 5..6
    assert st[2] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_layer_book_adds_up_to_wall_time_with_parallel_children():
    spans = [Span(0, "stmt", 0.0, 10.0, None),
             Span(1, "tree.write_root", 1.0, 9.0, 0),
             Span(2, "storage.write_atomic", 2.0, 6.0, 1),
             Span(3, "storage.write_atomic", 2.0, 6.0, 1)]
    book = LayerBook()
    book.fold(spans, "commit")
    shares = book.shares(["tree", "storage"])
    assert sum(shares.values()) == pytest.approx(100.0)
    assert shares["storage"] == pytest.approx(40.0)
    assert shares["unattributed"] == pytest.approx(20.0)


# --- the catalog_ops revision model -----------------------------------------

def test_revision_model_tracks_versions():
    m = RevisionModel(base_version=1)
    assert m.rev_at(5) == 0
    r1 = m.take_rev()
    m.install(2, [5, 6], r1)
    r2 = m.take_rev()
    m.install(3, [5], r2)
    assert (m.rev_at(5), m.rev_at(6)) == (r2, r1)
    assert m.rev_at(5, 2) == r1
    assert m.rev_at(5, 1) == 0
    assert m.rev_at(7, 3) == 0


def test_revision_model_refuses_a_skipped_version():
    m = RevisionModel(base_version=1)
    with pytest.raises(ValueError):
        m.install(3, [1], m.take_rev())


# --- result hashing and the metric list --------------------------------------

def test_result_hash_ignores_row_order_and_decimal_scale():
    assert result_hash([(1, "a"), (2, None)]) == \
        result_hash([(2, None), (1, "a")])
    assert result_hash([(Decimal("1.50"),)]) == \
        result_hash([(Decimal("1.5000"),)])
    assert result_hash([(1, "a")]) != result_hash([(1, "b")])


def test_benchmark_json_matches_the_metric_list():
    path = os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")
    with open(path) as f:
        b = json.load(f)
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == per_layer()
    assert len(b["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])
    assert END_TO_END["setup_s"][2] == max(v[2] for v in END_TO_END.values())
