"""S15 real Arrow Flight boundary (gRPC framing via pyarrow.flight —
no grpcio wheel needed), the engine's one remote boundary, matching
the reference Flight service (arrow_flight_server/mod.rs:28-106,
do_get_handler.rs:16-55): a client with no Spark session sends
ticket = dialect query string and gets stream = schema + one batch
with the OutputCondition JSON in app_metadata; errors ->
INVALID_ARGUMENT-style failures; other RPCs unimplemented."""

import json

import pytest

pytest.importorskip("pyarrow.flight")

import pyarrow.flight as fl

from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import Engine
from zikeiretsu_rs_spark.flight_server import (
    ZikeiretsuFlightServer,
    execute_flight,
)

from test_datetime_util import nanos


@pytest.fixture
def flight_engine(spark, tmp_ctx):
    engine = Engine(spark, tmp_ctx)
    store = engine.writable_store(
        "trades", [FieldType.FLOAT64, FieldType.FLOAT64]
    )
    base = nanos(2024, 1, 1)
    store.push_multi(
        [
            DataPoint.new(base + i * 1800 * NANOS_PER_SEC, 100.0 + i, 0.5)
            for i in range(48)
        ]
    )
    store.persist()
    server = ZikeiretsuFlightServer(engine)
    yield engine, server, base
    server.shutdown()


class TestFlightBoundary:
    def test_do_get_roundtrip_matches_local(self, flight_engine):
        engine, server, base = flight_engine
        q = (
            "with cols = [price, size], format_datetime = false "
            "select price, size from trades where ts = '2024-01-01 06:00'"
        )
        table, meta = execute_flight(server.location, q, now_nanos=base)
        local = engine.execute_to_df(q, now_nanos=base).toPandas()
        remote = table.to_pandas()
        assert list(remote.columns) == list(local.columns)
        assert remote.equals(local)
        assert len(remote) == 2

    def test_rfc3339_rendering_crosses_the_wire(self, flight_engine):
        _, server, base = flight_engine
        q = (
            "with cols = [price, size], tz = +09:00 "
            "select price from trades where ts = '2024-01-01 09:00'"
        )
        table, _ = execute_flight(server.location, q, now_nanos=base)
        ts = table.column("ts").to_pylist()
        assert len(ts) == 2
        assert all(t.endswith("+09:00") for t in ts), ts

    def test_output_condition_rides_app_metadata(self, flight_engine):
        _, server, base = flight_engine
        q = (
            "with format_datetime = false "
            "select * from trades where ts >= '2024-01-01'"
        )
        table, meta = execute_flight(server.location, q, now_nanos=base)
        assert table.num_rows == 48
        # do_get_handler.rs:28-33: the serialized OutputCondition
        assert meta == {
            "output_format": "table",
            "output_to_memory": False,
            "output_file_path": None,
        }

    def test_raw_utf8_ticket_reference_parity(self, flight_engine):
        """A plain query-string ticket (the reference's exact format,
        do_get_handler.rs:21) works without the JSON envelope."""
        _, server, base = flight_engine
        client = fl.FlightClient(server.location)
        try:
            q = (
                "with format_datetime = false "
                "select * from trades where ts in ('2024-01-01', '2024-01-02')"
            )
            reader = client.do_get(fl.Ticket(q.encode()))
            table = reader.read_all()
            assert table.num_rows == 48
        finally:
            client.close()

    def test_parse_error_maps_to_invalid_argument(self, flight_engine):
        _, server, base = flight_engine
        with pytest.raises(RuntimeError, match="invalid argument"):
            execute_flight(
                server.location, "select from nothing where", now_nanos=base
            )

    def test_empty_result_maps_to_not_found(self, flight_engine):
        _, server, base = flight_engine
        q = (
            "with format_datetime = false "
            "select * from trades where ts in ('1999-01-01', '1999-01-02')"
        )
        with pytest.raises(RuntimeError, match="no data found"):
            execute_flight(server.location, q, now_nanos=base)

    def test_error_statuses_are_typed_on_the_wire(
        self, flight_engine, monkeypatch
    ):
        """A status-code-checking Flight client (raw pyarrow, no
        wrapper) distinguishes the statuses by TYPE: query error ->
        INVALID_ARGUMENT (pyarrow surfaces ArrowInvalid) and empty
        result -> key-not-found (ArrowKeyError), matching
        Status::invalid_argument / Status::not_found in
        do_get_handler.rs:24,49 — not a generic FlightServerError.
        A failure that is not a query error is the server's:
        INTERNAL (FlightInternalError), naming the exception class."""
        import pyarrow as pa

        from zikeiretsu_rs_spark.engine import Engine

        _, server, base = flight_engine
        client = fl.FlightClient(server.location)
        try:
            with pytest.raises(pa.ArrowInvalid, match="invalid argument"):
                client.do_get(
                    fl.Ticket(b"select from nothing where")
                ).read_all()
            empty_q = (
                "with format_datetime = false "
                "select * from trades where ts in ('1999-01-01', '1999-01-02')"
            )
            with pytest.raises(pa.ArrowKeyError, match="no data found"):
                client.do_get(fl.Ticket(empty_q.encode())).read_all()

            def disk_gone(self, query, now_nanos=None):
                raise OSError("disk gone")

            monkeypatch.setattr(Engine, "execute_to_arrow", disk_gone)
            with pytest.raises(fl.FlightInternalError, match="OSError"):
                client.do_get(fl.Ticket(empty_q.encode())).read_all()
        finally:
            client.close()

    def test_other_rpcs_unimplemented(self, flight_engine):
        """mod.rs:34-106: every RPC except do_get answers
        UNIMPLEMENTED."""
        _, server, _ = flight_engine
        import pyarrow as pa

        client = fl.FlightClient(server.location)
        try:
            with pytest.raises((fl.FlightError, pa.ArrowNotImplementedError)):
                list(client.list_flights())
            with pytest.raises((fl.FlightError, pa.ArrowNotImplementedError)):
                client.get_flight_info(
                    fl.FlightDescriptor.for_command(b"select")
                )
        finally:
            client.close()

    def test_concurrent_clients(self, flight_engine):
        """Concurrent do_get calls share the engine (the reference's
        single DB handle behind its service) and every client gets a
        complete stream."""
        from concurrent.futures import ThreadPoolExecutor

        _, server, base = flight_engine
        q = (
            "with format_datetime = false "
            "select * from trades where ts >= '2024-01-01'"
        )
        with ThreadPoolExecutor(4) as ex:
            results = list(
                ex.map(
                    lambda _: execute_flight(
                        server.location, q, now_nanos=base
                    ),
                    range(4),
                )
            )
        assert all(t.num_rows == 48 for t, _ in results)


    def test_small_query_does_not_queue_behind_spark_work(self, flight_engine):
        """The server's lock guards Spark work only: while it is held, a
        small range (read from the blocks with pyarrow) still answers."""
        from concurrent.futures import ThreadPoolExecutor

        _, server, base = flight_engine
        q = (
            "with format_datetime = false "
            "select * from trades where ts = '2024-01-01 06:00'"
        )
        ex = ThreadPoolExecutor(1)
        server._lock.acquire()
        try:
            fut = ex.submit(execute_flight, server.location, q, base)
            table, _ = fut.result(timeout=60)
        finally:
            server._lock.release()
            ex.shutdown()
        assert table.num_rows == 2


class TestRemoteBoundary:
    """The remote-boundary checks that first ran against the
    Arrow-over-HTTP twin, now over Flight, each pinning what the
    Flight-specific tests above do not."""

    def test_query_roundtrip_matches_local(self, flight_engine):
        """The streamed table equals the local Arrow answer it is
        served from, schema types included (no pandas hop on either
        side)."""
        engine, server, base = flight_engine
        q = (
            "with cols = [price, size], format_datetime = false "
            "select price, size from trades where ts = '2024-01-01 06:00'"
        )
        remote, _ = execute_flight(server.location, q, now_nanos=base)
        local, _ = engine.execute_to_arrow(q, now_nanos=base)
        assert remote.schema.equals(local.schema), (remote.schema, local.schema)
        assert remote.equals(local)
        assert remote.num_rows == 2  # hour-accuracy '=' widens to one hour

    def test_parse_error_propagates(self, flight_engine):
        """The client learns which error the server's parser raised,
        not only that the call failed."""
        engine, server, base = flight_engine
        bad = "select from nothing where"
        with pytest.raises(Exception) as local:
            engine.execute_to_arrow(bad, now_nanos=base)
        with pytest.raises(RuntimeError, match="remote query failed") as remote:
            execute_flight(server.location, bad, now_nanos=base)
        assert type(local.value).__name__ in str(remote.value)

    def test_concurrent_clients(self, flight_engine):
        """Four clients asking four different ranges at once each get
        their own answer: streams are not crossed."""
        from concurrent.futures import ThreadPoolExecutor

        engine, server, base = flight_engine
        queries = [
            "with cols = [price, size], format_datetime = false "
            f"select price from trades where ts = '2024-01-01 0{h}:00'"
            for h in (6, 7, 8, 9)
        ]
        with ThreadPoolExecutor(4) as ex:
            results = list(
                ex.map(
                    lambda q: execute_flight(
                        server.location, q, now_nanos=base
                    ),
                    queries,
                )
            )
        for q, (remote, _) in zip(queries, results):
            local, _ = engine.execute_to_arrow(q, now_nanos=base)
            assert remote.equals(local), q
        prices = [t.column("price").to_pylist() for t, _ in results]
        assert prices == [[100.0 + 2 * h, 101.0 + 2 * h] for h in (6, 7, 8, 9)]
