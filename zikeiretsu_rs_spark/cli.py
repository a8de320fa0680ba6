"""CLI entry point: adhoc query mode + a minimal REPL.

Reference parity: bin/main.rs adhoc/REPL modes (§3.1, §3.4 — rustyline
multiline-until-';' loop, repl/mod.rs:28-67) and the config file merge
(config/mod.rs:35-109). The Arrow Flight server/client mode (§3.2) is
served by `--serve-flight`: REAL gRPC Flight framing via
pyarrow.flight (flight_server.py, wire-compatible with any Flight
client; parity spelled out in tests/test_flight_server.py). On a
production Spark deployment the idiomatic equivalent is Spark Connect
(`spark.remote("sc://host")`).

Usage:
    python -m zikeiretsu_rs_spark --data-dir /tmp/zdb "select * from .metrics"
    python -m zikeiretsu_rs_spark --data-dir /tmp/zdb        # REPL
    python -m zikeiretsu_rs_spark --config ctx.toml "..."
    python -m zikeiretsu_rs_spark --data-dir /tmp/zdb --serve-flight --port 51033
"""

from __future__ import annotations

import argparse
import os
import sys

from .catalog.context import DBContext
from .engine import Engine
from .errors import ZikeiretsuError
from .session import get_spark


def build_engine(args: argparse.Namespace) -> Engine:
    if args.config:
        ctx = DBContext.from_config_file(args.config)
    else:
        ctx = DBContext(data_dir=args.data_dir, default_database=args.database)
    spark = get_spark(app_name="zikeiretsu-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return Engine(spark, ctx)


def run_query(engine: Engine, query: str) -> int:
    try:
        out = engine.execute(query)
    except ZikeiretsuError as e:
        print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    if isinstance(out, str):
        print(out)
    elif out is not None and hasattr(out, "show"):
        out.show(truncate=False)
    return 0


def default_history_path() -> str:
    """`~/.local/share/zikeiretsu_rs_spark/query_history` — the same
    XDG layout as the reference's default_history_path
    (repl/mod.rs:100-104), created on demand like
    create_history_dir_if_not_exists (repl/mod.rs:86-97)."""
    d = os.path.join(
        os.path.expanduser("~"), ".local", "share", "zikeiretsu_rs_spark"
    )
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, "query_history")


def repl(engine: Engine, history_file: str | None = None) -> int:
    """Multiline REPL with reference-parity editing behaviors
    (repl/mod.rs:28-67 + repl/validator.rs):

    - statements accumulate until a line ends with ';' (optionally
      followed by spaces/tabs — the validator's
      `.*[ \\t]*;[ \\t]*$` rule);
    - persistent history: loaded at start, saved on exit (EOF,
      Ctrl-C, 'exit'/'quit'), ONE entry per submitted statement (the
      per-line fragments GNU readline auto-records are collapsed);
      multiline statements are flattened to one line in history — a
      documented divergence from rustyline, which can store embedded
      newlines (README);
    - `history_ignore_space`: a statement whose first line starts
      with whitespace is not recorded;
    - Emacs editing with Ctrl-P/Ctrl-N history navigation comes from
      GNU readline's defaults (the reference binds these explicitly
      on rustyline);
    - EOF/interrupt prints 'bye' and exits 0, like the reference.
    """
    try:
        import readline
    except ImportError:  # non-GNU platforms: plain input(), no history
        readline = None
    hist = history_file or default_history_path()
    if readline is not None:
        try:
            readline.read_history_file(hist)
        except OSError:
            pass

    def save_history() -> None:
        """Persist ONLY collapsed per-statement entries: anything
        readline auto-recorded above the h0 watermark — unfinished
        multiline fragments at EOF/Ctrl-C, or the 'exit'/'quit' line
        itself — is trimmed first (ADVICE r07: those fragments
        contradicted the one-entry-per-submitted-statement
        contract)."""
        if readline is None:
            return
        while readline.get_current_history_length() > h0:
            readline.remove_history_item(
                readline.get_current_history_length() - 1
            )
        try:
            readline.write_history_file(hist)
        except OSError:
            pass

    def record_statement(first_raw_line: str, query: str, h0: int) -> None:
        """Collapse the auto-added per-line history entries into one
        per-statement entry (rustyline's unit of history), honoring
        history_ignore_space on the statement's first line."""
        if readline is None:
            return
        while readline.get_current_history_length() > h0:
            readline.remove_history_item(
                readline.get_current_history_length() - 1
            )
        if not first_raw_line[:1].isspace():
            readline.add_history(
                " ".join(ln.strip() for ln in query.splitlines())
            )

    print("zikeiretsu_rs_spark repl — end statements with ';', 'exit' to quit")
    buf: list[str] = []
    h0 = readline.get_current_history_length() if readline else 0
    while True:
        try:
            prompt = "... " if buf else ">> "
            line = input(prompt)
        except (EOFError, KeyboardInterrupt):
            save_history()
            print("\nbye")
            return 0
        stripped = line.strip()
        if not buf and stripped.lower() in ("exit", "quit"):
            save_history()
            print("bye")
            return 0
        if not stripped:
            continue
        buf.append(line)
        if stripped.endswith(";"):
            query = "\n".join(buf)
            buf = []
            record_statement(query.splitlines()[0], query, h0)
            h0 = readline.get_current_history_length() if readline else 0
            run_query(engine, query)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="zikeiretsu_rs_spark")
    p.add_argument("--data-dir", default="./zdb", help="warehouse root directory")
    p.add_argument("--database", default="default", help="default database name")
    p.add_argument("--config", default=None, help="TOML/JSON context config file")
    p.add_argument(
        "--serve-flight", action="store_true",
        help="run the Arrow Flight gRPC server (S15 boundary; "
        "reference default port 51033)",
    )
    p.add_argument("--host", default="127.0.0.1", help="--serve-flight bind host")
    p.add_argument("--port", type=int, default=8815, help="--serve-flight bind port")
    p.add_argument("query", nargs="?", default=None, help="adhoc query (REPL if omitted)")
    args = p.parse_args(argv)
    engine = build_engine(args)
    if args.serve_flight:
        from .flight_server import ZikeiretsuFlightServer

        server = ZikeiretsuFlightServer(
            engine, f"grpc://{args.host}:{args.port}"
        )
        print(
            f"zikeiretsu arrow flight server listening at "
            f"[{args.host}:{server.port}] (Ctrl-C to stop)"
        )
        try:
            server.serve()
        except KeyboardInterrupt:
            server.shutdown()
        return 0
    if args.query is not None:
        return run_query(engine, args.query)
    return repl(engine)


if __name__ == "__main__":
    raise SystemExit(main())
