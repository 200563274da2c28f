"""Publisher entry point: encrypt the events table onto a wire topic.

Mirrors the reference's two-binary structure [U/H, SURVEY §3 entry point 1]:
this is the standalone encrypt-and-publish side; the pipeline side consumes
the topic with ``sources.wire.read_topic_stream`` + ``decode_wire`` (see
``perfbench/run.py --workload envelope_stream`` for the streaming consumer).

Usage: python tools/publish.py OUT_DIR [SF_DIR] [--tamper] [--hmac]
       [--files N]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    flags = {a for a in args if a.startswith("--")}
    pos = [a for a in args if not a.startswith("--")]
    if not pos:
        print(__doc__)
        return 2
    out_dir = pos[0]
    sf_dir = pos[1] if len(pos) > 1 else "/root/testdata/sf0.001"
    n_files = 8
    for a in flags:
        if a.startswith("--files="):
            n_files = int(a.split("=", 1)[1])

    from dataflow_pubsub_message_encryption_spark.session import get_session
    from dataflow_pubsub_message_encryption_spark.sources.wire import publish_topic

    spark = get_session("publisher")
    n = publish_topic(
        spark,
        sf_dir,
        out_dir,
        tamper="--tamper" in flags,
        mac_mode="hmac" if "--hmac" in flags else "sha2",
        n_files=n_files,
    )
    print(f"published {n} encrypted messages to {out_dir}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
