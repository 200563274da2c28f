"""CLI: run registered operator queries against a fixture directory.

    python -m dataflow_pubsub_message_encryption_spark list
    python -m dataflow_pubsub_message_encryption_spark run <query> [sf_dir] [-n ROWS]
    python -m dataflow_pubsub_message_encryption_spark explain <query> [sf_dir]

The reference's entry points are a publisher script and a Beam pipeline
main [U/H, SURVEY §3]; this is the batch-query face of the engine — the
streaming face lives in `streaming/` (see
`perfbench/run.py --workload envelope_stream` for the end-to-end
encrypted-stream run).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dataflow_pubsub_message_encryption_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered queries")
    for c in ("run", "explain"):
        p = sub.add_parser(c)
        p.add_argument("query")
        p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
        if c == "run":
            p.add_argument("-n", "--rows", type=int, default=20)
    args = ap.parse_args(argv)

    from . import list_queries, run_query

    if args.cmd == "list":
        print("\n".join(list_queries()))
        return 0

    from .session import get_session

    spark = get_session("cli")
    try:
        df = run_query(args.query, spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.rows, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
