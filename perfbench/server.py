"""The serving node for ``serve_mixed``, run as its own process.

    python3 perfbench/server.py OPENS TRACE_OUT|-

Starts its Spark session at once and warms it with a small parquet write,
read and collect (a fresh JVM's first ``ServingContext`` open is mostly
that: about 6.6 s against 1.3 s for the next ones on a 4-core host), then
prints ``{"warm": true}``. This overlaps the benchmark's own start-up; the
benchmark waits for the line before it times its index build. It then
reads the index directory as one line from standard input, opens
``ServingContext`` over the index OPENS times (the node's set-up,
timed), serves the last one with ``make_server`` on a free port, prints
``{"port", "open_s"}`` as one JSON line and serves until its standard
input closes. With a TRACE_OUT path the query and serving layers
are traced and the spans are written there on exit.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    opens, trace_out = int(sys.argv[1]), sys.argv[2]
    sys.path.insert(0, os.getcwd())
    from baram_spark.serving import ServingContext, make_server
    from baram_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(app_name="perfbench-node", master="local[4]",
                      extra_conf={"spark.local.dir": tmp,
                                  "spark.sql.warehouse.dir": tmp})
    tracer = None
    if trace_out != "-":
        from spans import Tracer, install_query, install_serving

        tracer = Tracer()
        install_query(tracer)
        install_serving(tracer)
    warm = os.path.join(tmp, "node-warm")
    spark.range(1000).selectExpr("id", "cast(id AS string) AS s") \
        .write.mode("overwrite").parquet(warm)
    spark.read.parquet(warm).collect()
    print(json.dumps({"warm": True}), flush=True)
    index_dir = sys.stdin.readline().strip()
    open_s = []
    for _ in range(opens):
        t0 = time.perf_counter()
        ctx = ServingContext(spark, index_dir)
        open_s.append(time.perf_counter() - t0)
    server = make_server(ctx)
    th = threading.Thread(target=server.serve_forever, daemon=True)
    th.start()
    print(json.dumps({"port": server.server_address[1], "open_s": open_s}),
          flush=True)
    sys.stdin.read()  # the benchmark closes our stdin when it is done
    server.shutdown()
    server.server_close()
    th.join(timeout=10)
    if tracer is not None:
        tracer.write(trace_out)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
