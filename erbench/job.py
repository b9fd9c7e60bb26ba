"""One benchmark run of the dedupe job, in a fresh process.

Started by ``run.py`` with the wall-clock time it launched this process,
so that ``setup_s`` runs from process start to a Spark session that has
finished one trivial job. Then it calls ``pgdedupe_spark.cli.main`` in
process, as ``python -m pgdedupe_spark`` would, and times the call.

With ``--mode trace`` it runs the CLI under the tracer (``layers.py``),
which wraps each layer call in a span, and writes the spans next to the
result. With ``--mode setup`` it stops after the set-up.

Writes one JSON object to ``--result``; prints nothing of its own.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--mode", choices=("cli", "trace", "setup"), default="cli")
    args = ap.parse_args()

    from pgdedupe_spark import cli
    from pgdedupe_spark.session import get_spark

    spark = get_spark()
    spark.range(1).count()
    result = {"setup_s": time.time() - args.launched}
    result["jvm_pid"] = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    if args.mode == "setup":
        with open(args.result, "w") as f:
            json.dump(result, f)
        spark.stop()
        return 0

    argv = [
        "--config", os.path.join(args.inputs, "config.yaml"),
        "--input", os.path.join(args.inputs, "entries.parquet"),
        "--output", os.path.join(args.out, "output"),
        "--training", os.path.join(args.inputs, "training.json"),
        "--learn-rules",
    ]
    t0 = time.time()
    with contextlib.redirect_stdout(sys.stderr):  # the CLI's own report
        if args.mode == "trace":
            from layers import Tracer, traced_main
            from probes import SparkStatus

            tracer = Tracer(SparkStatus(spark))
            result["rc"], result["stats"] = traced_main(tracer, argv)
            result["layers"] = tracer.layer_metrics()
            result["engine"] = tracer.totals()
            result["status_evicted"] = tracer.status.evicted
            tracer.write(os.path.join(args.out, "spans.json"))
        else:
            result["rc"] = cli.main(argv)
    result["wall_s"] = time.time() - t0

    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
