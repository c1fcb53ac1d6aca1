"""CDC pipeline benchmark: one command per workload.

    python3 perfbench/run.py --workload upsert_stream --seed 1 --seconds 6 --trace 0

Prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything else Spark prints goes to standard error.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("upsert_stream", "publish_stream")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="phase-1 (open loop) length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    # Spark's Python workers import the engine package (cdc_commitlog's
    # reader lives in it) from whatever cwd they start in: put the repo
    # root on PYTHONPATH before the JVM starts so they inherit it.
    parts = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(parts))
    sys.path.insert(0, ROOT)
    try:
        from cdc_apache_cassandra_spark.streaming.protoshim import ensure_protobuf
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    ensure_protobuf()  # transformWithState workers need google.protobuf
    # the JVM and the Python workers inherit fd 1: point it at stderr so
    # the result line is the last line of standard output
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    import workloads

    result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
