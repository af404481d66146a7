"""The interactive workload's server process.

Usage: ``python3 perfbench/server.py <data_dir> <trace 0|1>`` from the
checkout root. Starts the engine, serves ``serving.make_server`` on an
ephemeral port and prints ``READY <json>``; then answers control lines on
stdin, one JSON reply line each: ``trace on``, ``trace off``,
``dump <path>``, ``stats`` and ``quit`` (also on end of input).
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path[0:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__))]

import program  # noqa: E402
import spans  # noqa: E402


def main() -> None:
    data_dir, traced = sys.argv[1], sys.argv[2] == "1"
    tracer = spans.Tracer()
    if traced:
        spans.install(tracer)
    spark, timing = program.start_engine(data_dir)
    from mimranalytics_core_spark import serving

    srv = serving.make_server(spark, data_dir)
    if traced:
        spans.wrap_handler(tracer, srv)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    ready = {"port": srv.server_address[1], "config": program.engine_config(spark), **timing}
    print("READY " + json.dumps(ready), flush=True)

    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        reply: dict = {"ok": True}
        if cmd == "trace":
            tracer.active = arg == "on"
        elif cmd == "dump":
            tracer.dump(arg)
        elif cmd == "stats":
            reply["peak_rss_mb"] = program.peak_rss_mb(spark)
        elif cmd == "quit":
            break
        print(json.dumps(reply), flush=True)
    srv.shutdown()
    srv.server_close()
    program.stop_engine(spark)
    print(json.dumps({"ok": True}), flush=True)


if __name__ == "__main__":
    main()
