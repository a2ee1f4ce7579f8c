"""Read-only HTTP status server (jobs/status_server.py) — the
cdc/http_status.go:50-56 route table over file-backed state. Spark-free."""

import json
import urllib.request

import pytest

from jobs.status_server import serve_background
from ticdc_spark.streaming.admin import FeedRegistry


@pytest.fixture()
def server(tmp_path):
    admin = str(tmp_path / "admin")
    reg = FeedRegistry(admin)
    reg.create("feed-a", start_ts=100, check_gc_safe_point=False,
               sink_uri="lake:///tmp/a")
    reg.create("feed-b", check_gc_safe_point=False)
    reg.pause("feed-b", error="operator pause")
    state = str(tmp_path / "sched.json")
    with open(state, "w") as f:
        json.dump({"jobs": [], "captures": {"c1": {}}}, f)
    srv, port = serve_background(admin, state)
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=5) as r:
        return r.status, r.read().decode(), r.headers.get("Content-Type")


def test_status_and_health(server):
    code, body, ct = _get(server + "/status")
    assert code == 200 and ct == "application/json"
    st = json.loads(body)
    assert st["is_owner"] is True and st["pid"] > 0 and "version" in st
    code, body, _ = _get(server + "/health")
    assert code == 200 and json.loads(body) == {"ok": True}


def test_changefeed_list_and_query(server):
    code, body, _ = _get(server + "/changefeeds")
    assert code == 200
    feeds = {f["feed"]: f for f in json.loads(body)}
    assert set(feeds) == {"feed-a", "feed-b"}
    assert feeds["feed-b"]["state"] == "stopped"
    code, body, _ = _get(server + "/capture/owner/changefeed/query?id=feed-a")
    assert code == 200
    assert json.loads(body)["config"]["start_ts"] == 100 or json.loads(body).get("start_ts") == 100


def test_query_errors(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/capture/owner/changefeed/query?id=nope")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/capture/owner/changefeed/query")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/no/such/route")
    assert e.value.code == 404


def test_captures_and_debug_info(server):
    code, body, _ = _get(server + "/captures")
    assert code == 200
    assert [c["id"] for c in json.loads(body)] == ["c1"]
    code, body, ct = _get(server + "/debug/info")
    assert code == 200 and ct == "text/plain"
    assert "feed-a" in body and "sched.json" in body


def test_unconfigured_state_is_404(tmp_path):
    srv, port = serve_background(None, None)
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"http://127.0.0.1:{port}/changefeeds")
        assert e.value.code == 404
        code, _, _ = _get(f"http://127.0.0.1:{port}/health")
        assert code == 200
    finally:
        srv.shutdown()


# -- round-5 additions: admin POST routes + /metrics exposition -----------


def _post(url, data: dict):
    from urllib.parse import urlencode

    req = urllib.request.Request(
        url,
        data=urlencode(data).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=5) as r:
        return r.status, r.read().decode()


def test_admin_post_lifecycle(tmp_path):
    """POST /capture/owner/admin drives pause(1)/resume(2)/remove(3)
    through the same FeedRegistry path as the CLI."""
    admin = str(tmp_path / "admin")
    reg = FeedRegistry(admin)
    reg.create("feed-x", check_gc_safe_point=False)
    srv, port = serve_background(admin, None)
    base = f"http://127.0.0.1:{port}"
    try:
        code, body = _post(
            base + "/capture/owner/admin", {"cf-id": "feed-x", "admin-job": "1"}
        )
        assert code == 200 and json.loads(body)["status"] is True
        assert reg.state("feed-x") == "stopped"
        code, _ = _post(
            base + "/capture/owner/admin", {"cf-id": "feed-x", "admin-job": "2"}
        )
        assert code == 200 and reg.state("feed-x") == "normal"
        code, _ = _post(
            base + "/capture/owner/admin",
            {"cf-id": "feed-x", "admin-job": "3", "force-remove": "true"},
        )
        assert code == 200 and reg.query("feed-x") is None
    finally:
        srv.shutdown()


def test_admin_post_invalid_params(server):
    # unknown job type, non-numeric job type, missing cf-id, unknown feed
    for data in [
        {"cf-id": "feed-a", "admin-job": "9"},
        {"cf-id": "feed-a", "admin-job": "zap"},
        {"admin-job": "1"},
        {"cf-id": "ghost", "admin-job": "1"},
        {"cf-id": "feed-a", "admin-job": "3", "force-remove": "maybe"},
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(server + "/capture/owner/admin", data)
        assert e.value.code == 400, data


def test_post_only_routes_reject_get(server):
    for path in [
        "/capture/owner/admin",
        "/capture/owner/rebalance_trigger",
        "/capture/owner/move_table",
        "/capture/owner/resign",
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + path)
        assert e.value.code == 400
        assert "POST" in json.loads(e.value.read().decode())["error"]


def test_owner_routes_refuse_without_live_scheduler(server):
    # a detached state-file server is not the owner of the scheduler —
    # handleOwnerResp's ErrElectionNotLeader → 400
    for path, data in [
        ("/capture/owner/rebalance_trigger", {"cf-id": "feed-a"}),
        (
            "/capture/owner/move_table",
            {"cf-id": "feed-a", "target-cp-id": "c1", "table-id": "t"},
        ),
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(server + path, data)
        assert e.value.code == 400
        assert "not leader" in json.loads(e.value.read().decode())["error"]


def test_resign_then_owner_routes_refuse(tmp_path):
    admin = str(tmp_path / "admin")
    reg = FeedRegistry(admin)
    reg.create("feed-r", check_gc_safe_point=False)
    srv, port = serve_background(admin, None)
    base = f"http://127.0.0.1:{port}"
    try:
        code, body = _post(base + "/capture/owner/resign", {})
        assert code == 200 and json.loads(body)["status"] is True
        _, body, _ = _get(base + "/status")
        assert json.loads(body)["is_owner"] is False
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(
                base + "/capture/owner/admin",
                {"cf-id": "feed-r", "admin-job": "1"},
            )
        assert e.value.code == 400
        # feed untouched by the refused admin job
        assert reg.state("feed-r") == "normal"
    finally:
        srv.shutdown()


class _FakeCapture:
    def __init__(self, tables, stopped=()):
        self.tables = {t: None for t in tables}
        self.stop_ts = {t: 0 for t in stopped}


class _FakeScheduler:
    """Interface double for the transport test — the real move/rebalance
    semantics are covered by tests/test_scheduler.py; here we assert the
    HTTP layer resolves the source capture and delegates verbatim."""

    def __init__(self):
        self.captures = {
            "c1": _FakeCapture(["ta", "tb"]),
            "c2": _FakeCapture([], ()),
        }
        self.calls = []

    def move_table(self, table, src, dst):
        self.calls.append(("move", table, src, dst))

    def rebalance(self):
        self.calls.append(("rebalance",))
        return [{"table": "ta"}]


def test_move_and_rebalance_with_live_scheduler(tmp_path):
    sched = _FakeScheduler()
    srv, port = serve_background(None, None, scheduler=sched)
    base = f"http://127.0.0.1:{port}"
    try:
        code, body = _post(
            base + "/capture/owner/move_table",
            {"cf-id": "f", "target-cp-id": "c2", "table-id": "ta"},
        )
        assert code == 200 and json.loads(body)["status"] is True
        assert sched.calls[-1] == ("move", "ta", "c1", "c2")
        code, body = _post(
            base + "/capture/owner/rebalance_trigger", {"cf-id": "f"}
        )
        assert code == 200 and "1 moves" in json.loads(body)["message"]
        # invalid params: unknown target, unknown/missing table
        for data in [
            {"cf-id": "f", "target-cp-id": "nope", "table-id": "ta"},
            {"cf-id": "f", "target-cp-id": "c2", "table-id": "ghost"},
            {"cf-id": "f", "target-cp-id": "c2"},
            {"target-cp-id": "c2", "table-id": "ta"},
        ]:
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(base + "/capture/owner/move_table", data)
            assert e.value.code == 400, data
    finally:
        srv.shutdown()


def _parse_exposition(text):
    """10-line Prometheus text-format parser: {(name, labels): value}."""
    out, types = {}, {}
    for line in text.splitlines():
        if line.startswith("# TYPE "):
            _, _, name, typ = line.split(" ")
            types[name] = typ
        elif line and not line.startswith("#"):
            metric, val = line.rsplit(" ", 1)
            name, _, labels = metric.partition("{")
            out[(name, labels.rstrip("}"))] = float(val)
    return out, types


def test_metrics_exposition(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    admin = str(tmp_path / "admin")
    reg = FeedRegistry(admin)
    reg.create("feed-m", check_gc_safe_point=False)
    reg.update_checkpoint("feed-m", 1_000)
    lineage_root = tmp_path / "lineage"
    bdir = lineage_root / "feed-m" / "batch-00000"
    bdir.mkdir(parents=True)
    pq.write_table(
        pa.table({"event_count": [40, 2], "resolved_ts": [1_200, 1_150]}),
        str(bdir / "part-0.parquet"),
    )
    # scheduler state + a manifest for one table position
    root = tmp_path / "tblroot"
    (root / "_manifests").mkdir(parents=True)
    (root / "_manifests" / "CURRENT").write_text("1")
    (root / "_manifests" / "v00000001.json").write_text(
        json.dumps(
            {
                "version": 1,
                "part_watermarks": {"0": 900, "1": 950},
                "schema_version": 0,
                "committed_epochs": ["e1"],
                "buckets": {},
            }
        )
    )
    state = tmp_path / "sched.json"
    state.write_text(
        json.dumps(
            {
                "jobs": [],
                "captures": {
                    "c1": {
                        "t1": {
                            "stopped": False,
                            "stop_ts": None,
                            "root": str(root),
                        }
                    }
                },
            }
        )
    )
    srv, port = serve_background(
        admin, str(state), lineage_root=str(lineage_root)
    )
    try:
        code, body, ct = _get(f"http://127.0.0.1:{port}/metrics")
        assert code == 200 and ct.startswith("text/plain")
        vals, types = _parse_exposition(body)
        assert vals[("ticdc_spark_owner_ownership_counter", "")] == 1
        assert (
            vals[("ticdc_spark_owner_checkpoint_ts", 'changefeed="feed-m"')]
            == 1_000
        )
        assert (
            vals[("ticdc_spark_changefeed_events_total", 'changefeed="feed-m"')]
            == 42
        )
        assert (
            vals[("ticdc_spark_changefeed_resolved_ts", 'changefeed="feed-m"')]
            == 1_200
        )
        assert (
            vals[("ticdc_spark_changefeed_sink_gap", 'changefeed="feed-m"')]
            == 200
        )
        assert (
            vals[("ticdc_spark_changefeed_state", 'changefeed="feed-m",state="normal"')]
            == 1
        )
        assert vals[("ticdc_spark_owner_maintain_table_num", 'capture="c1"')] == 1
        assert (
            vals[("ticdc_spark_processor_checkpoint_ts", 'capture="c1",table="t1"')]
            == 900  # min over span watermarks
        )
        assert (
            vals[("ticdc_spark_processor_table_spans", 'capture="c1",table="t1"')]
            == 2
        )
        assert types["ticdc_spark_changefeed_events_total"] == "counter"
        assert types["ticdc_spark_owner_checkpoint_ts"] == "gauge"
    finally:
        srv.shutdown()


def test_metrics_survive_corrupt_table_manifest(tmp_path):
    """A corrupt per-table manifest fails closed: /metrics still answers
    200, and the other captures' table series are still exported."""
    admin = str(tmp_path / "admin")
    FeedRegistry(admin)
    roots = {}
    for name, body in (("good", json.dumps({"part_watermarks": {"0": 700}})),
                       ("bad", "{not json")):
        root = tmp_path / name
        (root / "_manifests").mkdir(parents=True)
        (root / "_manifests" / "CURRENT").write_text("1")
        (root / "_manifests" / "v00000001.json").write_text(body)
        roots[name] = str(root)
    state = tmp_path / "sched.json"
    state.write_text(json.dumps({"jobs": [], "captures": {
        "c1": {"tb": {"stopped": False, "stop_ts": None, "root": roots["bad"]}},
        "c2": {"tg": {"stopped": False, "stop_ts": None, "root": roots["good"]}},
    }}))
    srv, port = serve_background(admin, str(state))
    try:
        code, body, _ = _get(f"http://127.0.0.1:{port}/metrics")
        assert code == 200
        vals, _ = _parse_exposition(body)
        assert vals[("ticdc_spark_processor_checkpoint_ts", 'capture="c2",table="tg"')] == 700
        assert vals[("ticdc_spark_processor_num_of_tables", 'capture="c2"')] == 1
        assert not any(lbl.startswith('capture="c1",') for _, lbl in vals)
    finally:
        srv.shutdown()
