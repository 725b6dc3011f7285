"""Application bootstrap — the ``CoreApplication.java`` /
``ServingApplication.java`` analog.

The reference boots each module as a Spring Boot app wired from
configuration (registry store, online store, ports). This module is
that runner for the Python engine: build the SparkSession, load the
file registry, bind the core and serving HTTP servers
(``transport.http``), and serve until interrupted.

Usage (the two-service deployment on one host)::

    python -m feast_java_old_spark.transport \
        --registry /path/registry.json --store /path/online_store \
        --core-port 8080 --serving-port 8081

Ports default to 0 (ephemeral, printed at startup). Everything served
is the already-tested controllers — this file is wiring only.
"""

from __future__ import annotations

import argparse
from typing import Optional

from .http import CoreRestHttpServer, ServingRestHttpServer


def run_servers(
    spark,
    registry,
    store_path: Optional[str] = None,
    core_port: int = 0,
    serving_port: int = 0,
    host: str = "127.0.0.1",
    odfvs: Optional[dict] = None,
    transform_port: Optional[int] = None,
    core_grpc_port: Optional[int] = None,
    serving_grpc_port: Optional[int] = None,
):
    """Start the HTTP servers over one registry; returns
    ``(core_server, serving_server)`` or, when ``odfvs`` is given with
    ``transform_port``, ``(core_server, serving_server,
    transform_server)`` — caller owns ``.stop()`` on each.

    ``core_grpc_port`` / ``serving_grpc_port`` (0 = ephemeral) also
    bind each module's gRPC RPC surface — the reference's PRIMARY ports
    (core 6565 / serving 6566, each module a gRPC server first and a
    REST facade second) — via the gRPC-over-HTTP binding
    (``transport.grpc_http``): the core socket serves the 13
    ``feast.core.CoreService`` RPCs, the serving socket serves
    ``feast.serving.ServingService`` (info + GetOnlineFeaturesV2 with
    statuses — what :class:`~feast_java_old_spark.sdk.FeastClient`
    speaks) plus ``grpc.health.v1.Health`` (the reference registers the
    health controller on the serving server). The bound servers are
    APPENDED to the returned tuple in that order.

    ``odfvs`` + ``transform_port`` stand up the reference's THREE-process
    topology: core, serving, and the external ODFV transformation
    service (``OnlineTransformationService.java:62-66`` — the serving
    process is constructed with the FTS endpoint string); the serving
    controller routes on-demand transforms through the transform
    server's socket. ``odfvs`` without ``transform_port`` keeps the
    transforms in-process (the engine's default, strictly fewer hops).
    The toggle is transparent: a view's transform sees BARE input
    column names (``trip_cost``, never ``rides:trip_cost``) in BOTH
    topologies — the reference's wire contract
    (``OnlineTransformationService.java:320-321``), enforced by
    ``apply_odfv`` in-process too.

    Metrics parity: the core server exposes the ``feast_core_*``
    resource gauges at ``/metrics`` (``MonitoringConfig.java``); the
    serving server exposes the serving instruments observed so far
    (``InstrumentationConfig.java``) — fresh instances start empty,
    exactly like a freshly booted reference server."""
    from feast_java_old_spark.plans.metrics import (
        ServingMetrics,
        core_exposition,
    )
    from feast_java_old_spark.plans.serving_rest import (
        ServingServiceRestController,
    )
    from feast_java_old_spark.registry.core_service import CoreService
    from feast_java_old_spark.registry.rest import CoreServiceRestController

    core_ctl = CoreServiceRestController(CoreService(registry))
    core = CoreRestHttpServer(
        core_ctl,
        metrics_exposition=lambda: core_exposition(registry),
        host=host,
        port=core_port,
    ).start()
    transform = None
    transform_endpoint = None
    if odfvs and transform_port is not None:
        from .transform_service import TransformServer

        transform = TransformServer(odfvs, host=host, port=transform_port).start()
        transform_endpoint = f"{transform.host}:{transform.port}"
    serving_ctl = ServingServiceRestController(
        spark,
        registry,
        store_path,
        odfvs=odfvs,
        transform_endpoint=transform_endpoint,
    )
    serving = ServingRestHttpServer(
        serving_ctl,
        metrics_exposition=ServingMetrics().exposition,
        host=host,
        port=serving_port,
    ).start()
    out = [core, serving]
    if transform is not None:
        out.append(transform)
    if core_grpc_port is not None or serving_grpc_port is not None:
        from .grpc_adapter import (
            CoreServiceServicer,
            HealthServicer,
            ServingServiceServicer,
        )
        from .grpc_http import GrpcHttpServer

        if core_grpc_port is not None:
            out.append(
                GrpcHttpServer(
                    [CoreServiceServicer(CoreService(registry))],
                    host=host,
                    port=core_grpc_port,
                ).start()
            )
        if serving_grpc_port is not None:
            out.append(
                GrpcHttpServer(
                    [
                        ServingServiceServicer(serving_ctl),
                        HealthServicer(registry),
                    ],
                    host=host,
                    port=serving_grpc_port,
                ).start()
            )
    return tuple(out)


def main(argv: Optional[list[str]] = None) -> int:
    parser = argparse.ArgumentParser(
        prog="feast_java_old_spark.transport",
        description="Serve the core + serving REST APIs over HTTP",
    )
    parser.add_argument("--registry", help="registry JSON file path")
    parser.add_argument("--store", help="online store root path")
    parser.add_argument("--core-port", type=int, default=0)
    parser.add_argument("--serving-port", type=int, default=0)
    parser.add_argument(
        "--core-grpc-port",
        type=int,
        default=None,
        help="also bind the core gRPC surface (0 = ephemeral)",
    )
    parser.add_argument(
        "--serving-grpc-port",
        type=int,
        default=None,
        help="also bind the serving gRPC surface + health (0 = ephemeral)",
    )
    parser.add_argument("--host", default="127.0.0.1")
    parser.add_argument(
        "--master", default=None, help="Spark master URL (default: sized from the host)"
    )
    args = parser.parse_args(argv)

    from feast_java_old_spark.registry.registry import Registry
    from feast_java_old_spark.sources.tables import session_builder

    spark = session_builder("feast-serve", master=args.master).getOrCreate()
    registry = Registry(path=args.registry) if args.registry else Registry()
    servers = run_servers(
        spark,
        registry,
        store_path=args.store,
        core_port=args.core_port,
        serving_port=args.serving_port,
        host=args.host,
        core_grpc_port=args.core_grpc_port,
        serving_grpc_port=args.serving_grpc_port,
    )
    core, serving = servers[0], servers[1]
    print(f"core REST listening on {core.base_url}", flush=True)
    print(f"serving REST listening on {serving.base_url}", flush=True)
    for extra in servers[2:]:
        print(f"gRPC surface listening on {extra.base_url}", flush=True)
    try:
        import threading

        threading.Event().wait()  # serve until interrupted
    except KeyboardInterrupt:
        pass
    finally:
        for srv in servers:
            srv.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
