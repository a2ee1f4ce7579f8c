"""Restore a lake table from an archived cdclog (the BR-restore analog —
the reference's cdclog sink exists to feed exactly this recovery flow;
layout cdc/sink/cdclog/utils.go:220-251):

    spark-submit --py-files ticdc_spark.zip jobs/run_restore.py \
        --cdclog /archive/cdclog --table seq --dest /lake/seq_restored \
        --base-schema base_schema.json [--upto-ts 457000123] [--buckets 256]

base-schema: JSON list of {"id", "name", "type"} — the table's schema at the
start of the log (a restore begins from a backup whose meta carries it);
the archived ddls/ stream replays forward from there. --upto-ts gives
point-in-time recovery. Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--cdclog", required=True, help="cdclog archive root")
    p.add_argument("--table", required=True, help="table name (from log.meta)")
    p.add_argument("--dest", required=True, help="destination lake table root")
    p.add_argument(
        "--base-schema", required=True,
        help='JSON file: [{"id":1,"name":"doc_id","type":"string"}, ...]',
    )
    p.add_argument("--upto-ts", type=int, default=None)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--key-col", default="doc_id")
    p.add_argument(
        "--collapse", default="bucket_window",
        choices=["bucket_window", "agg"],
    )
    args = p.parse_args()

    from ticdc_spark.session import build_session
    from ticdc_spark.streaming.cdclog import read_cdclog_ddls, restore_cdclog

    with open(args.base_schema) as f:
        base_fields = json.load(f)

    spark = build_session(app_name=f"cdclog-restore-{args.table}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        t = restore_cdclog(
            spark, args.cdclog, args.dest, args.table, base_fields,
            n_buckets=args.buckets, upto_ts=args.upto_ts,
            key_col=args.key_col, collapse=args.collapse,
        )
        summary = {
            "table": args.table,
            "dest": args.dest,
            "rows": t.read().count(),
            "schema_version": t.schema_version,
            "ddls_applied": len(
                read_cdclog_ddls(args.cdclog, table=args.table, upto_ts=args.upto_ts)
            ),
            "upto_ts": args.upto_ts,
        }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
