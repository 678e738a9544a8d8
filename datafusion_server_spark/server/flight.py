"""Arrow Flight server (reference A22: lib/src/server/flight.rs).

Ticket grammar (flight.rs:340-366): ``{session_id}/{table-name or SQL}``
— a bare identifier means ``SELECT * FROM {table}``; anything else is
executed as SQL in that session.

- get_flight_info / get_schema: plan the query, return schema
  (flight.rs:169-212)
- do_get: execute + stream record batches (flight.rs:216-260)
- do_put: register the uploaded stream as a table in the target session
  (flight.rs:264-310)

do_exchange is BEYOND-reference surface (the reference leaves it
unimplemented, flight.rs:322-328): the client streams a table up, the
server registers it as ``exchange_input`` in the ticket's session, runs
the ticket SQL against it, and streams the result back partition-
incrementally — a one-round-trip push-transform-pull.
handshake/list_flights/actions stay unimplemented, matching the
reference (flight.rs:153-167, 312-337).
"""

from __future__ import annotations

import re
import threading

try:
    import pyarrow.flight as fl
except ImportError:  # pragma: no cover
    fl = None

from datafusion_server_spark.server import encoders
from datafusion_server_spark.server.api import Engine
from datafusion_server_spark.sources.registry import DataSource

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def parse_ticket(ticket: str) -> tuple[str, str]:
    """-> (session_id, sql). Reference flight.rs:340-366."""
    if "/" not in ticket:
        raise ValueError(f"ticket must be 'session/{{table|SQL}}': {ticket!r}")
    session_id, rest = ticket.split("/", 1)
    rest = rest.strip()
    if _IDENT.fullmatch(rest):
        rest = f"SELECT * FROM {rest}"
    return session_id, rest


if fl is not None:

    class FlightServer(fl.FlightServerBase):
        def __init__(self, engine: Engine, location: str = "grpc://127.0.0.1:50051"):
            super().__init__(location)
            self.engine = engine
            self.location = location

        def _plan(self, ticket: str):
            session_id, sql = parse_ticket(ticket)
            return self.engine._query(self.engine.sessions.get(session_id), sql)

        def _tracked(self, method: str, fn):
            """Per-RPC telemetry mirroring the reference's track_flight
            wrapper (metrics.rs:101-128): counter + latency histogram
            labeled (method, ok|error)."""
            import time

            t0 = time.time()
            try:
                out = fn()
            except Exception:
                self.engine.metrics.track_flight(method, "error", time.time() - t0)
                raise
            self.engine.metrics.track_flight(method, "ok", time.time() - t0)
            return out

        def get_flight_info(self, context, descriptor):
            return self._tracked(
                "get_flight_info", lambda: self._get_flight_info(context, descriptor)
            )

        def _get_flight_info(self, context, descriptor):
            if descriptor.descriptor_type == fl.DescriptorType.PATH:
                ticket = "/".join(p.decode() for p in descriptor.path)
            else:
                ticket = descriptor.command.decode()
            schema = encoders.spark_to_arrow_schema(self._plan(ticket))
            endpoint = fl.FlightEndpoint(ticket.encode(), [self.location])
            return fl.FlightInfo(schema, descriptor, [endpoint], -1, -1)

        def get_schema(self, context, descriptor):
            def impl():
                info = self._get_flight_info(context, descriptor)
                return fl.SchemaResult(info.schema)

            return self._tracked("get_schema", impl)

        def do_get(self, context, ticket):
            return self._tracked("do_get", lambda: self._do_get(context, ticket))

        def _do_get(self, context, ticket):
            # stream batches as partitions land — never the full result on
            # the driver (reference flight.rs:96-144 execute_sql_stream ->
            # mpsc(32) -> gRPC)
            return fl.GeneratorStream(
                *encoders.arrow_stream(self._plan(ticket.ticket.decode()))
            )

        def do_exchange(self, context, descriptor, reader, writer):
            return self._tracked(
                "do_exchange",
                lambda: self._do_exchange(context, descriptor, reader, writer),
            )

        def _do_exchange(self, context, descriptor, reader, writer):
            """Push-transform-pull: upload stream -> temp view
            ``exchange_input`` -> ticket SQL -> incremental result stream.
            Descriptor command: ``{session_id}/{SQL}`` (same grammar as
            do_get tickets; the SQL references ``exchange_input``)."""
            if descriptor.descriptor_type == fl.DescriptorType.PATH:
                ticket = "/".join(p.decode() for p in descriptor.path)
            else:
                ticket = descriptor.command.decode()
            session_id, sql = parse_ticket(ticket)
            sess = self.engine.sessions.get(session_id)
            table = reader.read_all()
            # Flight serves on a thread pool: a shared view name would let
            # two concurrent exchanges on one session clobber each other's
            # input. Register per-call under a unique name and rewrite the
            # documented ``exchange_input`` alias in the ticket SQL.
            import uuid

            view = f"exchange_input_{uuid.uuid4().hex}"
            sess.spark.createDataFrame(table).createOrReplaceTempView(view)
            try:
                sql = re.sub(
                    r"(?<![A-Za-z0-9_])exchange_input(?![A-Za-z0-9_])", view, sql
                )
                schema, batches = encoders.arrow_stream(self.engine._query(sess, sql))
                writer.begin(schema)
                for batch in batches:
                    writer.write_batch(batch)
            finally:
                sess.spark.catalog.dropTempView(view)

        def do_put(self, context, descriptor, reader, writer):
            return self._tracked(
                "do_put", lambda: self._do_put(context, descriptor, reader, writer)
            )

        def _do_put(self, context, descriptor, reader, writer):
            path = "/".join(p.decode() for p in descriptor.path)
            if "/" not in path:
                raise ValueError("do_put descriptor must be session/table")
            session_id, table_name = path.split("/", 1)
            sess = self.engine.sessions.get(session_id)
            df = sess.spark.createDataFrame(reader.read_all())
            source = DataSource.from_json({"format": "flight", "name": table_name})
            sess.register(table_name, df, cache=True, source=source)


    def serve(engine: Engine, location: str = "grpc://127.0.0.1:50051") -> "FlightServer":
        server = FlightServer(engine, location)
        thread = threading.Thread(target=server.serve, name="flight-server", daemon=True)
        thread.start()
        return server
