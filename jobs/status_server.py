"""HTTP status + admin API — the cdc server's HTTP surface over the
engine's file-backed state (cdc/http_status.go:50-56 route table and
cdc/http_handler.go:70-210 owner admin handlers, re-expressed).

Read routes (GET, JSON unless noted):

  /status                          — server identity {version, id, pid,
                                     is_owner} (http_status.go:94-100
                                     `status` struct)
  /capture/owner/changefeed/query?id=<feed>
                                   — one changefeed's registry info
                                     (http_status.go:56 handleChangefeedQuery)
  /changefeeds                     — `changefeed list` analog
  /captures                        — capture list from the scheduler state
                                     (cmd/client_capture.go:34-57)
  /processors                      — processor list (capture, table) pairs
  /processors/<capture>            — per-table replication positions
                                     (processor query; reads each lake
                                     table's own manifest)
  /debug/info                      — plain-text dump of every stored
                                     (key, value) pair (handleDebugInfo +
                                     writeEtcdInfo, http_status.go:114-134)
  /health                          — 200 {"ok": true} liveness probe
  /metrics                         — Prometheus text exposition
                                     (http_status.go:66 promhttp mount;
                                     gauge names mirror cdc/metrics_owner.go
                                     and cdc/metrics_processor.go families)

Admin routes (POST, form-encoded, cdc/http_handler.go parity — same
parameter names, same commonResp {"status": true} success shape, same
"POST only" / not-owner / invalid-param refusals):

  /capture/owner/admin             — cf-id + admin-job (0 none, 1 stop,
                                     2 resume, 3 remove, 4 finish;
                                     model/owner.go:43-47) [+ force-remove]
                                     → FeedRegistry via admin.apply_admin_job
                                     (the SAME code path the CLI verbs use)
  /capture/owner/rebalance_trigger — cf-id → live TableScheduler.rebalance()
  /capture/owner/move_table        — cf-id + target-cp-id + table-id
                                     → TableScheduler.move_table()
  /capture/owner/resign            — this server stops being the owner:
                                     subsequent owner routes refuse with
                                     the not-leader error and /status
                                     reports is_owner=false
                                     (http_handler.go:70-99)

State sources: --admin-dir (FeedRegistry json files), --scheduler-state
(TableScheduler state file), --lineage-root (per-feed lineage dirs named
<root>/<feed> — enables event-count/resolved/sink-gap metrics). All
optional — endpoints over absent state return 404 with a reason. The
rebalance/move routes additionally need a LIVE TableScheduler handle
(serve_background(..., scheduler=)) — they mutate the in-memory owner, so
a detached state-file-only server refuses them exactly like a non-owner
capture (handleOwnerResp → 400). No Spark session is ever created.

    python jobs/status_server.py --admin-dir /state/admin \
        --scheduler-state /state/sched.json --port 8300
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VERSION = "ticdc-spark-0.5"

# handleOwnerResp maps concurrency.ErrElectionNotLeader to 400
_NOT_OWNER = (400, {"error": "election: not leader"})


def _esc(v: str) -> str:
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def render_metrics(
    admin_dir: str | None,
    scheduler_state: str | None,
    lineage_root: str | None,
    is_owner: bool,
) -> str:
    """Prometheus text exposition of every gauge the file-backed state can
    answer without Spark. Family names mirror the reference's registrations
    (cdc/metrics_owner.go:20-50, cdc/metrics_processor.go:22-66) with the
    ticdc_spark namespace:

      ticdc_spark_owner_ownership_counter          1 while this server owns
      ticdc_spark_owner_checkpoint_ts{changefeed}  registry applied frontier
      ticdc_spark_owner_maintain_table_num{capture}
      ticdc_spark_processor_checkpoint_ts{capture,table}   manifest fold
      ticdc_spark_processor_num_of_tables{capture}
      ticdc_spark_processor_table_spans{capture,table}     live span count
      ticdc_spark_changefeed_state{changefeed,state}       1 for current
      ticdc_spark_changefeed_events_total{changefeed}      lineage fold
      ticdc_spark_changefeed_resolved_ts{changefeed}
      ticdc_spark_changefeed_sink_gap{changefeed}          resolved − ckpt
    """
    from ticdc_spark.streaming.admin import FeedRegistry, feed_stats
    from ticdc_spark.streaming.scheduler import capture_list, processor_query

    lines: list[str] = [
        "# TYPE ticdc_spark_owner_ownership_counter gauge",
        f"ticdc_spark_owner_ownership_counter {int(is_owner)}",
    ]
    if admin_dir and os.path.isdir(admin_dir):
        reg = FeedRegistry(admin_dir)
        feeds = reg.list()
        ckpt, state, events, resolved, gap = [], [], [], [], []
        for info in feeds:
            feed = info["feed"]
            lin = (
                os.path.join(lineage_root, feed)
                if lineage_root and os.path.isdir(os.path.join(lineage_root, feed))
                else None
            )
            st = feed_stats(reg, feed, lineage_dir=lin)
            lbl = f'{{changefeed="{_esc(feed)}"}}'
            if st.get("checkpoint_ts") is not None:
                ckpt.append(
                    f"ticdc_spark_owner_checkpoint_ts{lbl} {st['checkpoint_ts']}"
                )
            state.append(
                "ticdc_spark_changefeed_state"
                f'{{changefeed="{_esc(feed)}",state="{_esc(st["state"])}"}} 1'
            )
            if "count" in st:
                events.append(
                    f"ticdc_spark_changefeed_events_total{lbl} {st['count']}"
                )
            if st.get("resolved_ts") is not None:
                resolved.append(
                    f"ticdc_spark_changefeed_resolved_ts{lbl} {st['resolved_ts']}"
                )
            if st.get("sink_gap") is not None:
                gap.append(f"ticdc_spark_changefeed_sink_gap{lbl} {st['sink_gap']}")
        for typ, kind, rows in [
            ("ticdc_spark_owner_checkpoint_ts", "gauge", ckpt),
            ("ticdc_spark_changefeed_state", "gauge", state),
            ("ticdc_spark_changefeed_events_total", "counter", events),
            ("ticdc_spark_changefeed_resolved_ts", "gauge", resolved),
            ("ticdc_spark_changefeed_sink_gap", "gauge", gap),
        ]:
            if rows:
                lines.append(f"# TYPE {typ} {kind}")
                lines.extend(rows)
    if scheduler_state and os.path.exists(scheduler_state):
        try:
            caps = capture_list(scheduler_state)
        except (OSError, KeyError, json.JSONDecodeError):
            caps = []
        if caps:
            lines.append("# TYPE ticdc_spark_owner_maintain_table_num gauge")
            for c in caps:
                lines.append(
                    "ticdc_spark_owner_maintain_table_num"
                    f'{{capture="{_esc(c["id"])}"}} {c["n_tables"]}'
                )
            tbl_rows, span_rows, num_rows = [], [], []
            for c in caps:
                try:
                    pq = processor_query(scheduler_state, c["id"])
                except (OSError, KeyError, ValueError):
                    # fail closed per capture: a corrupt manifest (JSON
                    # ValueError) drops this capture's series, not the page
                    continue
                live = 0
                for t, pos in sorted(pq["tables"].items()):
                    if pos.get("stopped"):
                        continue
                    live += 1
                    plbl = f'{{capture="{_esc(c["id"])}",table="{_esc(t)}"}}'
                    if pos.get("checkpoint_ts") is not None:
                        tbl_rows.append(
                            f"ticdc_spark_processor_checkpoint_ts{plbl} "
                            f"{pos['checkpoint_ts']}"
                        )
                    if pos.get("n_spans") is not None:
                        span_rows.append(
                            f"ticdc_spark_processor_table_spans{plbl} "
                            f"{pos['n_spans']}"
                        )
                num_rows.append(
                    "ticdc_spark_processor_num_of_tables"
                    f'{{capture="{_esc(c["id"])}"}} {live}'
                )
            for typ, rows in [
                ("ticdc_spark_processor_checkpoint_ts", tbl_rows),
                ("ticdc_spark_processor_table_spans", span_rows),
                ("ticdc_spark_processor_num_of_tables", num_rows),
            ]:
                if rows:
                    lines.append(f"# TYPE {typ} gauge")
                    lines.extend(rows)
    return "\n".join(lines) + "\n"


def _routes(
    admin_dir: str | None,
    scheduler_state: str | None,
    lineage_root: str | None = None,
    scheduler=None,
    owner_state: dict | None = None,
):
    """Build the route tables: GET path → fn(query) → (code, payload) and
    POST path → fn(form) → (code, payload)."""
    from ticdc_spark.streaming.admin import (
        FeedLifecycleError,
        FeedRegistry,
        apply_admin_job,
    )
    from ticdc_spark.streaming.scheduler import (
        capture_list,
        processor_list,
        processor_query,
    )

    owner = owner_state if owner_state is not None else {"is_owner": True}

    def need(what: str):
        return 404, {"error": f"{what} not configured on this server"}

    def status(_q):
        return 200, {
            "version": VERSION,
            "git_hash": "",
            "id": "status-server",
            "pid": os.getpid(),
            # single-owner deployment: whoever serves status IS the owner's
            # state reader (etcd election is out of scope, SURVEY §2.11) —
            # until a POST /capture/owner/resign flips it
            "is_owner": bool(owner["is_owner"]),
        }

    def health(_q):
        return 200, {"ok": True}

    def changefeeds(_q):
        if not admin_dir:
            return need("--admin-dir")
        return 200, FeedRegistry(admin_dir).list()

    def changefeed_query(q):
        if not admin_dir:
            return need("--admin-dir")
        feed = (q.get("id") or [None])[0]
        if not feed:
            return 400, {"error": "missing ?id=<changefeed>"}
        info = FeedRegistry(admin_dir).query(feed)
        if info is None:
            return 404, {"error": f"changefeed {feed!r} not found"}
        return 200, info

    def captures(_q):
        if not scheduler_state:
            return need("--scheduler-state")
        try:
            return 200, capture_list(scheduler_state)
        except (OSError, KeyError) as e:
            return 404, {"error": str(e)}

    def processors(_q):
        if not scheduler_state:
            return need("--scheduler-state")
        try:
            return 200, processor_list(scheduler_state)
        except (OSError, KeyError) as e:
            return 404, {"error": str(e)}

    def processor_one(capture_id):
        def run(q):
            if not scheduler_state:
                return need("--scheduler-state")
            table = (q.get("table") or [None])[0]
            try:
                return 200, processor_query(scheduler_state, capture_id, table=table)
            except (OSError, KeyError) as e:
                return 404, {"error": str(e)}

        return run

    def debug_info(_q):
        # plain-text (key, value) dump like writeEtcdInfo
        lines = []
        if admin_dir and os.path.isdir(admin_dir):
            for path, info in FeedRegistry(admin_dir).dump_metadata():
                lines.append(f"{path}\n\t{json.dumps(info, sort_keys=True)}\n")
        if scheduler_state and os.path.exists(scheduler_state):
            with open(scheduler_state) as f:
                lines.append(
                    f"{scheduler_state}\n\t{json.dumps(json.load(f), sort_keys=True)}\n"
                )
        return 200, "\n".join(lines) or "no state configured\n"

    def metrics(_q):
        return 200, render_metrics(
            admin_dir, scheduler_state, lineage_root, bool(owner["is_owner"])
        )

    # -- POST handlers (cdc/http_handler.go parity) ------------------------

    def _form1(form, key):
        v = (form.get(key) or [""])[0]
        return v

    def admin_post(form):
        if not owner["is_owner"]:
            return _NOT_OWNER
        if not admin_dir:
            return _NOT_OWNER  # a server without the registry is not the owner
        typ_s = _form1(form, "admin-job")
        try:
            typ = int(typ_s)
        except ValueError:
            return 400, {"error": f"invalid admin job type: {typ_s!r}"}
        force_s = _form1(form, "force-remove")
        force = False
        if force_s:
            if force_s.lower() not in ("true", "false", "1", "0"):
                return 400, {"error": f"invalid force remove option: {force_s!r}"}
            force = force_s.lower() in ("true", "1")
        feed = _form1(form, "cf-id")
        if not feed:
            return 400, {"error": "invalid changefeed id: ''"}
        try:
            apply_admin_job(FeedRegistry(admin_dir), feed, typ, force=force)
        except ValueError as e:
            return 400, {"error": str(e)}
        except FeedLifecycleError as e:
            return 400, {"error": str(e)}
        return 200, {"status": True, "message": ""}

    def rebalance_post(form):
        if not owner["is_owner"] or scheduler is None:
            return _NOT_OWNER
        feed = _form1(form, "cf-id")
        if not feed:
            return 400, {"error": "invalid changefeed id: ''"}
        jobs = scheduler.rebalance()
        return 200, {"status": True, "message": f"{len(jobs)} moves enqueued"}

    def move_table_post(form):
        if not owner["is_owner"] or scheduler is None:
            return _NOT_OWNER
        feed = _form1(form, "cf-id")
        if not feed:
            return 400, {"error": "invalid changefeed id: ''"}
        to = _form1(form, "target-cp-id")
        if not to or to not in scheduler.captures:
            return 400, {"error": f"invalid target capture id: {to!r}"}
        table = _form1(form, "table-id")
        if not table:
            return 400, {"error": f"invalid tableID: {table!r}"}
        # ManualSchedule resolves the source capture internally
        # (cdc/http_handler.go:210 s.owner.ManualSchedule) — so do we
        src = next(
            (
                cid
                for cid, cf in scheduler.captures.items()
                if table in cf.tables and table not in cf.stop_ts
            ),
            None,
        )
        if src is None:
            return 400, {"error": f"invalid tableID: {table!r} (not live anywhere)"}
        try:
            scheduler.move_table(table, src, to)
        except (ValueError, KeyError) as e:
            return 400, {"error": str(e)}
        return 200, {"status": True, "message": ""}

    def resign_post(_form):
        if not owner["is_owner"]:
            return _NOT_OWNER
        owner["is_owner"] = False
        return 200, {"status": True, "message": ""}

    get_routes = {
        "/status": status,
        "/health": health,
        "/changefeeds": changefeeds,
        "/capture/owner/changefeed/query": changefeed_query,
        "/captures": captures,
        "/processors": processors,
        "/debug/info": debug_info,
        "/metrics": metrics,
    }
    post_routes = {
        "/capture/owner/admin": admin_post,
        "/capture/owner/rebalance_trigger": rebalance_post,
        "/capture/owner/move_table": move_table_post,
        "/capture/owner/resign": resign_post,
    }
    return get_routes, post_routes, processor_one


def make_server(
    admin_dir: str | None,
    scheduler_state: str | None,
    port: int = 0,
    lineage_root: str | None = None,
    scheduler=None,
) -> ThreadingHTTPServer:
    owner_state = {"is_owner": True}
    get_routes, post_routes, processor_one = _routes(
        admin_dir,
        scheduler_state,
        lineage_root=lineage_root,
        scheduler=scheduler,
        owner_state=owner_state,
    )

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet by default
            pass

        def do_GET(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            if u.path in post_routes:
                # ErrSupportPostOnly (http_handler.go:72-75)
                self._send(400, {"error": "this api supports POST method only"})
                return
            fn = get_routes.get(u.path)
            if fn is None and u.path.startswith("/processors/"):
                fn = processor_one(u.path.split("/processors/", 1)[1])
            if fn is None:
                self._send(404, {"error": f"no route {u.path!r}"})
                return
            try:
                code, payload = fn(q)
            except Exception as e:  # pragma: no cover - defensive
                code, payload = 500, {"error": f"{type(e).__name__}: {e}"}
            ctype = (
                "text/plain; version=0.0.4" if u.path == "/metrics" else None
            )
            self._send(code, payload, ctype)

        def do_POST(self):
            u = urlparse(self.path)
            fn = post_routes.get(u.path)
            if fn is None:
                if u.path in get_routes:
                    self._send(400, {"error": "this api supports GET method only"})
                else:
                    self._send(404, {"error": f"no route {u.path!r}"})
                return
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode() if n else ""
            form = parse_qs(body, keep_blank_values=True)
            # the reference's ParseForm also folds in the URL query
            for k, v in parse_qs(u.query, keep_blank_values=True).items():
                form.setdefault(k, v)
            try:
                code, payload = fn(form)
            except Exception as e:  # pragma: no cover - defensive
                code, payload = 500, {"error": f"{type(e).__name__}: {e}"}
            self._send(code, payload)

        def _send(self, code, payload, ctype: str | None = None):
            text = isinstance(payload, str)
            body = (payload if text else json.dumps(payload, sort_keys=True)).encode()
            self.send_response(code)
            self.send_header(
                "Content-Type",
                ctype or ("text/plain" if text else "application/json"),
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def serve_background(
    admin_dir: str | None,
    scheduler_state: str | None,
    port: int = 0,
    lineage_root: str | None = None,
    scheduler=None,
):
    """Start in a daemon thread; returns (server, bound_port) — the test/
    embedding surface. Pass a live TableScheduler as `scheduler` to enable
    the rebalance/move_table admin routes (the embedded-owner deployment)."""
    srv = make_server(
        admin_dir,
        scheduler_state,
        port,
        lineage_root=lineage_root,
        scheduler=scheduler,
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--admin-dir", default=None)
    p.add_argument("--scheduler-state", default=None)
    p.add_argument(
        "--lineage-root",
        default=None,
        help="dir holding per-feed lineage dirs (<root>/<feed>/batch-*) — "
        "enables event-count/resolved-ts/sink-gap families on /metrics",
    )
    p.add_argument("--port", type=int, default=8300)
    args = p.parse_args()
    srv = make_server(
        args.admin_dir,
        args.scheduler_state,
        args.port,
        lineage_root=args.lineage_root,
    )
    print(
        json.dumps(
            {"listening": srv.server_address[1], "pid": os.getpid()},
            sort_keys=True,
        ),
        flush=True,
    )
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
