"""streaming.frontier — the span control plane both changefeeds share —
driven directly on plain dicts. No SparkSession: the module must not even
import pyspark."""

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from ticdc_spark.streaming.frontier import (
    SpanMap,
    barriers,
    batch_meta,
    check_contracts,
    late_reason,
    release_frontier,
    slices,
)


def _stat(part, max_ts, data_max_ts=None):
    return {"part": part, "max_ts": max_ts,
            "data_max_ts": max_ts if data_max_ts is None else data_max_ts}


def _topo(op, part, spec, ts=100, seq=0):
    return {"op": op, "part": part, "doc_id": ",".join(map(str, spec)),
            "commit_ts": ts, "seq": seq}


def test_module_imports_no_pyspark():
    code = (
        "import sys; import ticdc_spark.streaming.frontier; "
        "sys.exit(any(m.split('.')[0] == 'pyspark' for m in sys.modules))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert subprocess.run([sys.executable, "-c", code], cwd=root).returncode == 0


def test_fold_is_monotone_and_seeds_the_universe():
    s = SpanMap({"0": 50}, {}, n_parts=3)
    assert s.pos == {0: 50, 1: -1, 2: -1} and s.resolved() == -1
    s.fold([_stat(0, 40), _stat(1, 70), _stat(2, 60)], [])
    assert s.pos == {0: 50, 1: 70, 2: 60} and s.resolved() == 50
    assert SpanMap({}, {}).resolved() == -1 and SpanMap({}, {}).resolved(None) is None


def test_split_children_inherit_parent_checkpoint():
    s = SpanMap({"0": 80, "1": 90}, {})
    s.fold([_stat(1, 120)], [_topo("S", 1, [2, 3])])
    assert s.pos == {0: 80, 2: 120, 3: 120}
    assert s.retired_new == {1: 120} and s.retired == {1: 120}
    assert s.watermarks() == {"0": 80, "2": 120, "3": 120, "1": {"retired_at": 120}}


def test_merge_seeds_at_min_of_parents():
    s = SpanMap({"0": 200, "1": 150}, {})
    s.fold([], [_topo("M", 5, [0, 1])])
    assert s.pos == {5: 150}
    assert s.retired_new == {0: 200, 1: 150}


def test_chained_topology_applies_in_order():
    s = SpanMap({"0": 10, "1": 30}, {})
    s.fold([], [_topo("S", 1, [2, 3], seq=0), _topo("S", 3, [4, 5], seq=1)])
    assert s.pos == {0: 10, 2: 30, 4: 30, 5: 30}
    assert s.retired_new == {1: 30, 3: 30}


def test_retired_span_ids_are_never_reused():
    s = SpanMap({"2": 5}, {"1": 7}, table="ta")
    with pytest.raises(RuntimeError, match="split child span 1 of table 'ta' is retired"):
        s.fold([], [_topo("S", 2, [1, 9])])
    s = SpanMap({"2": 5, "3": 6}, {"1": 7})
    with pytest.raises(RuntimeError, match="merge target span 1 is retired"):
        s.fold([], [_topo("M", 1, [2, 3])])
    # an id retired earlier in the SAME batch is just as taken
    s = SpanMap({"0": 1, "1": 2}, {})
    with pytest.raises(RuntimeError, match="never reused"):
        s.fold([], [_topo("S", 0, [4], seq=0), _topo("M", 0, [1], seq=1)])


def test_retired_span_data_above_its_checkpoint_is_fatal():
    s = SpanMap({"2": 100}, {"1": 100})
    with pytest.raises(RuntimeError, match=r"retired span\(s\) \[1\]"):
        s.fold([_stat(1, 130)], [])
    # at or below the checkpoint it is the carried tail re-delivering:
    # legal, and it never resurrects the span
    s = SpanMap({"2": 100}, {"1": 100})
    s.fold([_stat(1, 90)], [])
    assert s.pos == {2: 100}
    # a crash replay of the topology batch re-offers the parent's data
    # above an already-committed retirement: legal, absorbed
    s = SpanMap({"2": 120, "3": 120}, {"1": 120})
    s.fold([_stat(1, 120)], [_topo("S", 1, [2, 3])])
    assert s.pos == {2: 120, 3: 120} and s.retired_new == {1: 120}


def test_stale_heartbeat_on_retired_span_is_ignored():
    s = SpanMap({"0": 10, "2": 20}, {"1": 20})
    # a resolved-ts row (no data) far above the retirement checkpoint
    s.fold([{"part": 1, "max_ts": 500, "data_max_ts": None}], [])
    assert s.pos == {0: 10, 2: 20} and not s.retired_new


def test_stop_cap_bounds_positions_and_persisted_map():
    s = SpanMap({"0": 300}, {}, cap=200)
    assert s.pos == {0: 200}
    s.fold([_stat(0, 900), _stat(1, 150)], [])
    assert s.pos == {0: 200, 1: 150}
    assert s.watermarks() == {"0": 200, "1": 150}


def test_release_frontier_union_skips_stopped_and_fully_retired_parts():
    a = SpanMap({"0": 50, "1": 90}, {})
    b = SpanMap({"0": 70}, {})
    assert release_frontier({"a": a, "b": b}, {}, None) == 70
    # a stopped table contributes nothing
    lag = SpanMap({"0": 5, "1": 5}, {})
    assert release_frontier({"a": a, "lag": lag}, {"lag": 5}, None) == 50
    # universe part 1 retired by every live table does not re-pin at -1
    c = SpanMap({"0": 40, "2": 40}, {"1": 40})
    assert release_frontier({"c": c}, {}, 2) == 40
    assert release_frontier({}, {}, 2) == -1


def test_barriers_defer_data_ddl_until_table_frontier_passes():
    reg = SimpleNamespace(
        ddl_ts=[100, 200, 300],
        ddl_kinds=["add_column", "truncate_table", "add_column"],
    )
    assert barriers(reg, 250, 250) == [(1, 100), (2, 200)]
    # the table's own frontier still lags the wipe: it, and every barrier
    # after it, waits — though the release frontier passed them all
    assert barriers(reg, 350, 150) == [(1, 100)]
    assert barriers(reg, 350, 350) == [(1, 100), (2, 200), (3, 300)]
    # a single-table feed passes its own resolved: nothing defers
    assert barriers(reg, 99, 99) == []


def test_slices_split_at_barriers_and_skip_provably_empty():
    bars = [(1, 100), (2, 200)]
    assert slices(bars, 50, 300) == [
        (None, 100, 1, True), (100, 200, 2, True), (200, None, None, True),
    ]
    # barriers below the batch's min event ts were executed earlier: their
    # slices commit nothing, but keep their index (stable epoch ids)
    assert [s[3] for s in slices(bars, 150, 300)] == [False, True, True]
    assert [s[3] for s in slices(bars, None, 300)] == [False, False, False]
    assert [s[3] for s in slices([], 400, 300)] == [False]


def test_contract_checks_and_late_reasons():
    row = {"sv_viol": 0, "topo": 0, "late": 0}
    assert check_contracts([row], False, "x", "") == 0
    with pytest.raises(RuntimeError, match="schema_version contract"):
        check_contracts([{**row, "sv_viol": 2}], False, "x", None)
    with pytest.raises(RuntimeError, match="dynamic_spans"):
        check_contracts([{**row, "topo": 1}], False, "x", None)
    assert check_contracts([{**row, "topo": 1}], True, "x", None) == 1
    # late events: tolerated unless something requires the contract
    assert late_reason(False, False, False) is None
    assert check_contracts([{**row, "late": 3}], False, "x", None) == 0
    with pytest.raises(RuntimeError, match=r"3 events at or below x \(puller.go:163-168\)$"):
        check_contracts([{**row, "late": 3}], False, "x", late_reason(True, False, False))
    with pytest.raises(RuntimeError, match="required by enable-old-value"):
        check_contracts([{**row, "late": 1}], False, "x", late_reason(False, True, True))
    with pytest.raises(RuntimeError, match="required by barrier-ordered data DDL"):
        check_contracts([{**row, "late": 1}], False, "x", late_reason(False, False, True))


def test_batch_meta_is_write_once_and_replays(tmp_path):
    ck = str(tmp_path)
    first = {"prev_resolved": 10, "prev_spans": {"ta": {0: 10, 1: 12}}}
    assert batch_meta(ck, 3, first) is first
    # the replayed batch gets the recorded pre-state, not the live one
    rec = batch_meta(ck, 3, {"prev_resolved": 99, "prev_spans": {}})
    assert rec == {"prev_resolved": 10, "prev_spans": {"ta": {"0": 10, "1": 12}}}
    with open(os.path.join(ck, "batchmeta", f"{3:010d}.json")) as f:
        assert f.read() == json.dumps(first)
    # the next batch prunes the older record
    batch_meta(ck, 4, {"prev_resolved": 12})
    assert os.listdir(os.path.join(ck, "batchmeta")) == [f"{4:010d}.json"]
