"""Arrow Flight server/client (S15): the REAL gRPC Flight framing.

Parity target: the reference's Flight service
(zikeiretsu/src/tsdb/query/executor/interface/arrow_flight_server/mod.rs:28-106,
do_get_handler.rs:16-55). Exactly like the reference:

- only `do_get` is implemented; every other Flight RPC stays at the
  base class's UNIMPLEMENTED status (mod.rs implements do_get and
  returns `Status::unimplemented` for handshake/list_flights/
  get_flight_info/get_schema/do_put/do_action/list_actions/
  do_exchange);
- the Ticket payload IS the dialect query string (do_get_handler.rs:21
  `String::from_utf8(ticket.ticket)`);
- the response stream is the schema message followed by ONE record
  batch whose `app_metadata` carries the JSON-serialized
  OutputCondition (do_get_handler.rs:36-47);
- a query error maps to INVALID_ARGUMENT (`Status::invalid_argument`,
  do_get_handler.rs:24) and an empty result to NOT_FOUND
  (`Status::not_found("no data found")`, do_get_handler.rs:49).

Errors say whose fault they are: a query error is any
`ZikeiretsuError` (parse, analysis, output, storage) and is the
client's; any other exception while executing is the server's and
maps to INTERNAL (`FlightInternalError`). Both messages keep the
exception class name.

The transport is pyarrow.flight, which bundles the gRPC C++ stack —
no grpcio wheel required. This is the engine's one remote boundary:
the wire-compatible Flight endpoint any Flight client can dial.

Extension beyond the reference ticket format: a ticket that parses as
a JSON object `{"query": ..., "now_nanos": ...}` pins the query's
plan-time clock (the determinism hook tests use); a raw UTF-8 ticket
behaves exactly like the reference.
"""

from __future__ import annotations

import json

import pyarrow as pa

try:  # pragma: no cover - import guard exercised at module import
    import pyarrow.flight as flight

    FLIGHT_AVAILABLE = True
except ImportError:  # pragma: no cover
    flight = None  # type: ignore[assignment]
    FLIGHT_AVAILABLE = False

from .engine import Engine
from .errors import ZikeiretsuError


def _output_condition_json(oc) -> bytes:
    """serde-style serialization of the OutputCondition riding in the
    batch's app_metadata (do_get_handler.rs:28-33)."""
    return json.dumps(
        {
            "output_format": oc.output_format.value,
            "output_to_memory": oc.output_to_memory,
            "output_file_path": oc.output_file_path,
        }
    ).encode()


if FLIGHT_AVAILABLE:

    class ZikeiretsuFlightServer(flight.FlightServerBase):
        """One Flight server per driver process; tickets execute on the
        engine's SparkSession (mod.rs:28-57 executes on the single
        Zikeiretsu DBContext)."""

        def __init__(self, engine: Engine, location: str = "grpc://127.0.0.1:0"):
            super().__init__(location)
            self.engine = engine
            # Spark work is serialized on the engine's lock: a
            # SparkSession is driver-side shared state. A small answer
            # is read from the blocks with pyarrow and never waits on it
            self._lock = engine.spark_lock

        def do_get(self, context, ticket):
            raw = ticket.ticket
            now_nanos = None
            try:
                doc = json.loads(raw.decode("utf-8"))
                if isinstance(doc, dict) and "query" in doc:
                    query = doc["query"]
                    now_nanos = doc.get("now_nanos")
                else:
                    query = raw.decode("utf-8")
            except (ValueError, UnicodeDecodeError):
                query = raw.decode("utf-8", errors="replace")
            try:
                table, iq = self.engine.execute_to_arrow(query, now_nanos)
            except ZikeiretsuError as e:  # the client's query
                # pyarrow maps ArrowInvalid raised in a handler to the
                # gRPC INVALID_ARGUMENT status (Status::invalid_argument
                # parity, do_get_handler.rs:24) — a status-checking
                # client sees the typed code, not a generic server error
                raise pa.ArrowInvalid(
                    f"invalid argument :{type(e).__name__}: {e}"
                )
            except Exception as e:  # the server's fault -> INTERNAL
                raise flight.FlightInternalError(
                    f"internal error :{type(e).__name__}: {e}"
                )
            if table.num_rows == 0:
                # reference: Status::not_found("no data found");
                # ArrowKeyError carries the key-not-found status code
                raise pa.ArrowKeyError("no data found")
            meta = _output_condition_json(iq.output_condition)
            batches = table.combine_chunks().to_batches()

            def gen():
                # schema message is emitted by the stream itself;
                # the reference sends exactly one data batch with the
                # OutputCondition in app_metadata
                for b in batches:
                    yield b, pa.py_buffer(meta)

            return flight.GeneratorStream(table.schema, gen())

        @property
        def location(self) -> str:
            return f"grpc://127.0.0.1:{self.port}"


def execute_flight(
    location: str, query: str, now_nanos: int | None = None
) -> tuple[pa.Table, dict]:
    """Client side: dial any Flight endpoint, submit the dialect query
    as the ticket, read back (table, output_condition). Raises
    RuntimeError on server-reported errors."""
    if not FLIGHT_AVAILABLE:  # pragma: no cover
        raise RuntimeError("pyarrow.flight is unavailable in this build")
    ticket_payload: bytes
    if now_nanos is not None:
        ticket_payload = json.dumps(
            {"query": query, "now_nanos": now_nanos}
        ).encode()
    else:
        ticket_payload = query.encode()
    client = flight.FlightClient(location)
    try:
        reader = client.do_get(flight.Ticket(ticket_payload))
        batches = []
        meta: dict = {}
        while True:
            try:
                chunk = reader.read_chunk()
            except StopIteration:
                break
            if chunk.data is None:
                break
            batches.append(chunk.data)
            if chunk.app_metadata is not None:
                meta = json.loads(chunk.app_metadata.to_pybytes())
        table = (
            pa.Table.from_batches(batches)
            if batches
            else reader.schema.empty_table()
        )
        return table, meta
    except (flight.FlightError, pa.ArrowException) as e:
        # server-raised ArrowInvalid/ArrowKeyError arrive as typed
        # pyarrow exceptions (status-mapped), not FlightError subclasses
        raise RuntimeError(f"remote query failed: {e}") from e
    finally:
        client.close()
