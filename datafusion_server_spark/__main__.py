"""``python -m datafusion_server_spark`` — start the REST (+ optional
Flight) server."""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser(description="datafusion-server-spark")
    p.add_argument("-f", "--config", default=None, help="TOML/JSON config file "
                   "(reference settings.rs shape: [server]/[session] + "
                   "[[databases]]/[[storages]])")
    p.add_argument("--host", default=None)
    p.add_argument("--port", type=int, default=None)
    p.add_argument("--flight-port", type=int, default=None, help="0 disables Flight")
    args = p.parse_args()

    from datafusion_server_spark.server.api import Engine
    from datafusion_server_spark.server.http import serve
    from datafusion_server_spark.settings import Settings

    settings = Settings.load(args.config)
    host = args.host or settings.server.address
    port = args.port if args.port is not None else settings.server.port
    flight_port = (
        args.flight_port if args.flight_port is not None else settings.server.flight_grpc_port
    )
    engine = Engine(settings=settings)
    if settings.server.prewarm:
        # a latency optimization must never become a boot blocker
        try:
            print(f"prewarmed in {engine.prewarm():.2f}s", flush=True)
        except Exception as e:  # noqa: BLE001 — availability over warmth
            print(f"prewarm failed (serving anyway): {e}", flush=True)
    httpd = serve(engine, host, port)
    print(f"REST:   http://{host}:{httpd.server_address[1]}", flush=True)
    flight_server = None
    if flight_port:
        from datafusion_server_spark.server import flight

        flight_server = flight.serve(
            engine, f"grpc://{settings.server.flight_address}:{flight_port}"
        )
        print(f"Flight: grpc://{settings.server.flight_address}:{flight_port}", flush=True)
    from datafusion_server_spark.server.http import run_until_signalled

    run_until_signalled(engine, httpd, flight_server)


if __name__ == "__main__":
    main()
