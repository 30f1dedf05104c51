"""spark-submit entry point.

Cluster usage (north_star packaging requirement):

    zip -r rsyslog_spark.zip rsyslog_spark
    spark-submit --py-files rsyslog_spark.zip -m rsyslog_spark.cli \\
        --sf-dir s3://bucket/logtokens --out s3://bucket/sinks \\
        --script rules.conf

Local smoke:

    python -m rsyslog_spark.cli --sf-dir /root/testdata/sf0.001 \\
        --out /tmp/cli_sinks
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="rsyslog_spark")
    ap.add_argument("--sf-dir", required=True, help="input table directory")
    ap.add_argument("--out", required=True, help="sink base path")
    ap.add_argument(
        "--script", default=None,
        help="RainerScript routing program file (default: flagship script)",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--repartition", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from rsyslog_spark import flagship
    from rsyslog_spark.lineage import run_with_lineage
    from rsyslog_spark.rules import Router
    from rsyslog_spark.session import get_spark

    # getOrCreate may return a pre-existing session (spark-submit,
    # tests) — only stop what we actually created
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("rsyslog_spark.cli", master=args.master)
    if args.script:
        with open(args.script) as fh:
            router = Router(fh.read(), flagship.make_env())
    else:
        router = flagship.make_router()
    parsed = flagship.build_parsed(
        spark, args.sf_dir, repartition=args.repartition
    )
    snap = run_with_lineage(router, parsed, args.out)
    print(json.dumps({k: str(v) for k, v in snap.items()}))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
