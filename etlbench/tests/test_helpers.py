"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest etlbench/tests -q
"""

from __future__ import annotations

import duckdb
import pytest

from etlbench import workloads as W
from etlbench import compare
from etlbench.compare import verdict
from etlbench.checks import relation_mismatch
from etlbench.spans import Patcher, Span, Tracer, covered, self_times, traced
from etlbench.sparkprobe import parse_count, parse_size
from etlbench.stats import percentile, tail
from etlbench.sysmon import PeakMemory, tree_memory_bytes


# ------------------------------------------------------------------ stats

def test_tail_is_max_below_a_hundred_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max")
    assert tail([float(i) for i in range(99)]) == (98.0, "max")


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert tail([float(i) for i in range(1, 101)]) == (90.0, "p90")
    assert tail([float(i) for i in range(1, 1001)]) == (990.0, "p99")
    assert tail([float(i) for i in range(1, 10001)]) == (9990.0, "p99.9")


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 500) == 3.0
    assert percentile(xs, 1000) == 5.0
    assert percentile(xs, 1) == 1.0


# ------------------------------------------------------------------ spans

def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(4.0)


def test_self_time_subtracts_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "construct", 1.0, 4.0, 0, "a"),
        Span(2, "operators.graph", 2.0, 3.0, 1, "a"),
        Span(3, "exec", 5.0, 9.0, 0, "a"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})


def test_tracer_nests_and_is_free_when_inactive():
    tr = Tracer()
    with tr.span("op", op="x"):
        pass
    assert tr.spans == []
    tr.active = True
    with tr.span("op", op="x"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.op == "x" and outer.parent is None


def test_patcher_patches_every_namespace_and_restores():
    import types
    import sys

    def f():
        return 1

    home = types.ModuleType("pkgx.home")
    user = types.ModuleType("pkgx.user")
    home.f = user.f = f
    sys.modules.update({"pkgx.home": home, "pkgx.user": user})
    try:
        tr = Tracer()
        tr.active = True
        p = Patcher("pkgx")
        assert p.patch_functions({id(f): (f, traced(tr, "operators.home", f))}) == 2
        assert user.f() == 1 and home.f() == 1
        assert [s.name for s in tr.spans] == ["operators.home"] * 2
        p.restore()
        assert home.f is f and user.f is f
    finally:
        del sys.modules["pkgx.home"], sys.modules["pkgx.user"]


# ------------------------------------------------------------ op generation

@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_same_ops(name):
    wl = W.WORKLOADS[name]
    a = W.pass_ops(wl, 7, 3, n_orders=150_000)
    b = W.pass_ops(wl, 7, 3, n_orders=150_000)
    assert a == b
    other = [W.pass_ops(wl, s, 3, n_orders=150_000) for s in (8, 9, 10)]
    assert any(o != a for o in other)


def test_query_passes_run_each_query_once():
    wl = W.WORKLOADS["relational"]
    ops = W.pass_ops(wl, 1, 0)
    assert sorted(o.label for o in ops) == sorted(wl.queries)


def test_pipeline_pass_shape_and_ranges():
    ops = W.pass_ops(W.WORKLOADS["etl_pipelines"], 5, 2, n_orders=150_000)
    kinds = [o.kind for o in ops]
    assert kinds[-1] == "compact"
    assert kinds.count("extract_load") == len(W.EXTRACT_TABLES)
    assert kinds.count("slice") == W.SLICES_PER_PASS
    assert kinds.count("merge") == W.MERGES_PER_PASS
    for o in ops:
        if o.kind == "merge":
            assert 0 <= o.params["lo"] <= o.params["hi"] < 150_000
            assert o.params["suffix"].startswith("~2.")


# ------------------------------------------------------------------ checks

def test_relation_mismatch_exact_multiset():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) v(k, s)")
    same = "SELECT s, k FROM t"
    assert relation_mismatch(con, "SELECT * FROM t", same) is None
    assert "1 unexpected and 1 missing" in relation_mismatch(
        con, "SELECT * FROM t", "SELECT k, CASE WHEN k = 1 THEN 'z' ELSE s END AS s FROM t")
    assert "missing" in relation_mismatch(con, "SELECT DISTINCT * FROM t", same)
    assert relation_mismatch(con, "SELECT k FROM t", same).startswith("columns")
    assert relation_mismatch(con, "SELECT * FROM t WHERE false", "SELECT * FROM t WHERE false")


def test_snapshot_sql_applies_last_merge():
    con = duckdb.connect()
    con.execute("""CREATE TABLE orders AS SELECT range AS o_orderkey, range AS o_custkey,
                   1.5 AS o_totalprice, '1-URGENT' AS o_orderpriority FROM range(10)""")
    merges = [W.Op("merge", "merge.0", {"lo": 2, "hi": 5, "suffix": "~a"}),
              W.Op("merge", "merge.1", {"lo": 4, "hi": 8, "suffix": "~b"})]
    got = dict(con.sql(f"SELECT o_orderkey, o_orderpriority FROM ({W.snapshot_sql(merges)})").fetchall())
    assert got[1] == "1-URGENT" and got[3] == "1-URGENT~a" and got[5] == "1-URGENT~b"
    assert got[9] == "1-URGENT"


# --------------------------------------------------------------- metrics

def test_parse_status_store_metrics():
    assert parse_count("103,327") == 103327
    assert parse_size("4.6 MiB") == pytest.approx(4.6 * 2**20)
    assert parse_size("total (min, med, max (stageId: taskId))\n6.9 KiB (1674.0 B, 1808.0 B, 1938.0 B (stage 24.0: task 33))") == pytest.approx(6.9 * 1024)
    assert parse_size("0.0 B") == 0.0


def test_peak_memory_counts_the_heap_by_its_use():
    import os

    committed = 2**20
    mem = PeakMemory(os.getpid(), lambda: (committed, 5 * 2**20))
    mem.stop()  # one sample, taken on the calling thread
    outside = tree_memory_bytes(os.getpid()) - committed
    assert mem.heap_peak == 5 * 2**20
    assert abs(mem.outside_heap_peak - outside) < 64 * 2**20
    assert mem.peak == mem.outside_heap_peak + 5 * 2**20


# ---------------------------------------------------------------- compare

def test_verdict_improved_needs_nine_in_ten_wins_and_a_gap():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    assert verdict(parent, [x * 0.8 for x in parent], "lower", 0.1)[0] == "improved"
    assert verdict(parent, [x * 1.25 for x in parent], "higher", 0.1)[0] == "improved"


def test_verdict_worse_beyond_bound():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    assert verdict(parent, [x * 1.2 for x in parent], "lower", 0.1)[0] == "worse"
    assert verdict(parent, [x * 1.05 for x in parent], "lower", 0.1)[0] == "no worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    parent = [8.0, 12.0, 9.0, 11.0, 10.0, 13.0, 7.0, 12.0, 8.0, 11.0]
    change = [9.0, 11.0, 10.0, 12.0, 9.0, 12.0, 8.0, 13.0, 9.0, 10.0]
    v, share = verdict(parent, change, "lower", 0.1)
    assert v == "unresolved" and 0 <= share <= 1
    assert verdict(parent, [x / 10 for x in parent], "lower", 0.1)[0] == "improved"
    assert verdict(parent, [5.0] * 10, "lower", 0.1)[0] in ("improved", "no worse")


def test_compare_gives_a_copied_metric_no_verdict(tmp_path, capsys):
    import json

    spec = {"end_to_end": [
        {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "pass_tail_s", "unit": "s", "better": "lower", "bound": 0.1},
    ]}
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(spec))
    for side, scale in (("parent", 1.0), ("change", 1.5)):
        (tmp_path / side).mkdir()
        for seed in range(5):
            v = scale * (10.0 + seed / 10)
            metrics = {n: {"value": v, "unit": "s"} for n in ("pass_s", "pass_tail_s")}
            line = {"correct": True, "attempted": 5, "failed": 0, "metrics": metrics}
            (tmp_path / side / f"wl.{seed}.json").write_text(json.dumps(line) + "\n")
    rc = compare.main(["--parent", str(tmp_path / "parent"), "--change", str(tmp_path / "change"),
                       "--benchmark", str(tmp_path / "BENCHMARK.json")])
    out = capsys.readouterr().out
    assert rc == 1
    rows = {ln.split()[1]: ln for ln in out.splitlines() if ln.startswith("wl ") and "n=" not in ln}
    assert rows["pass_s"].split()[-1] == "worse"
    assert rows["pass_tail_s"].endswith("equals pass_s in every run")
