"""The pot HTTP server the KV workloads drive, run as its own process.

    python3 potbench/kv_server.py --root DIR [--trace] [--fault KIND]

Serves ``pot_spark.kv.http_server`` over a store on DIR and prints
``port N`` once listening. With ``--trace`` the store is built from the
benchmark's wrappers and every request is a span around the server's
``finish_request``. Commands arrive one per line on stdin and are
answered with ``ok``:

    reset        drop the spans recorded so far
    dump PATH    write the spans and the phase totals to PATH (JSON lines)

End of stdin stops the server.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pot_spark.kv.http_server import serve  # noqa: E402
from pot_spark.kv.store import PotStore  # noqa: E402

from spans import Tracer  # noqa: E402
from traced import FAULTS, TracedStore  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--fault", choices=FAULTS)
    args = ap.parse_args()

    tracer = Tracer() if args.trace else None
    if tracer is None and args.fault is None:
        store = PotStore(None, args.root)
    else:
        store = TracedStore(None, args.root, tracer, fault=args.fault)
    srv = serve(store, port=0)
    if tracer is not None:
        finish_request = srv.finish_request

        def traced_finish_request(request, client_address) -> None:
            with tracer.span("http_server.request"):
                finish_request(request, client_address)

        srv.finish_request = traced_finish_request

    print(f"port {srv.server_address[1]}", flush=True)
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "reset" and tracer is not None:
                tracer.clear()
            elif cmd == "dump" and tracer is not None:
                phases = store.phases.snapshot()
                tracer.dump(arg)
                with open(arg, "a") as f:
                    f.write(json.dumps({"phases": phases}) + "\n")
            else:
                raise SystemExit(f"unknown command {line!r}")
            print("ok", flush=True)
    finally:
        srv.shutdown()
        srv.server_close()


if __name__ == "__main__":
    main()
