"""Binary RPC transport — the Spark analog of the reference's rpc package
(rpc/rpc.go:26–80, rpc/rpc_client.go, rpc/server).

The reference exposes two RPC surfaces a client actually uses (the other
two, Follow and ProcessRemoteQuery, are cluster-internal distribution
plumbing delegated to Spark's own exchange/shuffle per SURVEY §2.12):

- **Inserter** (rpc/rpc.go:26–37, rpc_client.go:66–110): a client opens a
  per-stream inserter, sends a stream of Insert messages — only the first
  carries the stream name; each has (TS, Dims, Vals) — terminated by an
  ``EndOfInserts`` marker, and receives ONE ``InsertReport {Received,
  Succeeded, Errors}``.
- **Query** (rpc/rpc.go:39–47, rpc_client.go:112–148): a client sends a
  Query message and receives a stream of result messages — first the field
  list, then one message per row, then an ``EndOfResults`` marker.

Wire format: the reference uses gRPC with a MsgPack codec over
snappy-compressed conns (rpc/msgpack_codec.go, rpc/snappyconn.go). grpcio
and msgpack are not available in this environment, so the same message
shapes travel as length-prefixed JSON frames over a plain TCP socket:
``4-byte big-endian length + UTF-8 JSON``. Every message is a JSON object
with the reference's field names in snake_case. The framing layer is
isolated in ``_send``/``_recv`` so a gRPC transport can replace it without
touching message semantics.

Batching note (scale): the server accumulates one inserter's points and
lands them with a single ``DB.insert_rows`` per ``end_of_inserts`` — one
Spark job per batch, not per point, matching the reference's WAL-append
batching.
"""

from __future__ import annotations

import datetime as dt
import hmac
import json
import socket
import socketserver
import struct
import threading
from contextlib import closing

from zenodb_spark.engine import DB, collect_rows, json_value, memory_guard

_LEN = struct.Struct(">I")
MAX_FRAME = 64 * 1024 * 1024


def _send(sock: socket.socket, msg: dict) -> None:
    raw = json.dumps(msg).encode()
    sock.sendall(_LEN.pack(len(raw)) + raw)


def _recv(sock: socket.socket) -> dict | None:
    hdr = _recv_exact(sock, _LEN.size)
    if hdr is None:
        return None
    (n,) = _LEN.unpack(hdr)
    if n > MAX_FRAME:
        raise ValueError(f"frame of {n} bytes exceeds {MAX_FRAME}")
    raw = _recv_exact(sock, n)
    if raw is None:
        return None
    return json.loads(raw)


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


# --------------------------------------------------------------------------
# server
# --------------------------------------------------------------------------


class _RPCHandler(socketserver.BaseRequestHandler):
    db: DB  # bound by serve_rpc
    password: str | None = None

    def handle(self) -> None:
        sock = self.request
        first = _recv(sock)
        if first is None:
            return
        # password auth: the opening frame carries "pwd" (the reference
        # sends PasswordKey="pwd" in gRPC metadata and checks it per
        # stream — rpc/rpc.go:17, rpc/server/rpc_server.go:262–279; empty
        # server password = world-readable, same as the reference)
        if self.password and not hmac.compare_digest(
            str(first.get("pwd") or ""), self.password
        ):
            _send(sock, {"error": "not authorized", "end_of_results": True})
            return
        kind = first.get("type")
        try:
            if kind == "insert":
                self._handle_insert(sock, first)
            elif kind == "query":
                self._handle_query(sock, first)
            else:
                _send(sock, {"error": f"unknown rpc type {kind!r}"})
        except (BrokenPipeError, ConnectionResetError):
            pass

    # -- inserter (rpc_client.go:66–110 semantics) --------------------------
    def _handle_insert(self, sock, first: dict) -> None:
        stream = first.get("stream")
        if not stream:
            _send(sock, {"received": 0, "succeeded": 0,
                         "errors": {0: "first Insert must carry the stream"}})
            return
        rows, errors, received = [], {}, 0
        msg = first
        while True:
            if msg.get("end_of_inserts"):
                break
            if "ts" in msg or "dims" in msg:  # a point (the open frame may be bare)
                received += 1
                dims, vals = msg.get("dims") or {}, msg.get("vals") or {}
                if not dims:
                    errors[received - 1] = "need at least one dim"
                elif not vals:
                    errors[received - 1] = "need at least one val"
                else:
                    ts = msg.get("ts")
                    t = (
                        dt.datetime.fromtimestamp(float(ts), dt.timezone.utc)
                        if ts is not None
                        else dt.datetime.now(dt.timezone.utc)
                    )
                    rows.append({"ts": t, **dims, **vals})
            msg = _recv(sock)
            if msg is None:
                return  # client vanished mid-stream: no report, nothing landed
        if rows:
            self.db.insert_rows(stream, rows)
        _send(
            sock,
            {"received": received, "succeeded": len(rows),
             "errors": {str(k): v for k, v in errors.items()}},
        )

    # -- query stream (rpc_client.go:112–148 semantics) ---------------------
    def _handle_query(self, sock, msg: dict) -> None:
        sql = msg.get("sql", "")
        try:
            with memory_guard(f"rpc query {sql[:80]!r}"):
                df = self.db.query(sql)
                cols = df.columns
                _send(sock, {"fields": cols})
                # at most one Spark job (none when the plan-cache entry
                # holds its rows); rows are unpickled and sent one at a time
                # (the JVM holds the result, bounded by
                # spark.driver.maxResultSize). No size cap, as in the
                # reference; a client that disconnects closes the result,
                # and a closed read keeps no rows.
                with closing(collect_rows(df)) as result:
                    for row in result:
                        _send(sock, {"row": [json_value(row[c]) for c in cols]})
                _send(sock, {"end_of_results": True})
        except Exception as e:
            _send(sock, {"error": str(e), "end_of_results": True})


class _ThreadingTCP(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


def serve_rpc(
    db: DB, host: str = "127.0.0.1", port: int = 0, password: str | None = None
) -> _ThreadingTCP:
    """Start the RPC listener on a daemon thread; returns the server
    (``.server_address`` carries the bound port; ``.shutdown()`` stops).
    With ``password`` set, every stream's opening frame must present it."""
    handler = type("BoundRPCHandler", (_RPCHandler,), {"db": db, "password": password})
    srv = _ThreadingTCP((host, port), handler)
    threading.Thread(target=srv.serve_forever, name="zenodb-rpc", daemon=True).start()
    return srv


# --------------------------------------------------------------------------
# client (rpc/rpc_client.go)
# --------------------------------------------------------------------------


class Inserter:
    """Streaming inserter: ``insert(ts, dims, vals)`` per point, ``close()``
    returns the InsertReport dict (rpc_client.go:78–110)."""

    def __init__(self, sock: socket.socket, stream: str, password: str | None = None):
        self._sock = sock
        self._first = True
        self._stream = stream
        self._password = password

    def _open_fields(self) -> dict:
        fields = {"type": "insert", "stream": self._stream}
        if self._password:
            fields["pwd"] = self._password
        return fields

    def insert(self, ts: float | None, dims: dict, vals: dict) -> None:
        msg = {"ts": ts, "dims": dims, "vals": vals}
        if self._first:
            msg.update(self._open_fields())
            self._first = False
        _send(self._sock, msg)

    def close(self) -> dict:
        if self._first:  # no points sent: still open the stream
            _send(self._sock, self._open_fields())
            self._first = False
        _send(self._sock, {"end_of_inserts": True})
        report = _recv(self._sock)
        self._sock.close()
        return report or {}


class Client:
    """RPC client mirroring the reference Client interface's user surface
    (rpc/rpc.go:71–78): ``new_inserter(stream)`` and ``query(sql)``."""

    def __init__(
        self, host: str, port: int, timeout: float = 60.0,
        password: str | None = None,
    ):
        self._addr = (host, port)
        self._timeout = timeout
        self._password = password

    def _connect(self) -> socket.socket:
        sock = socket.create_connection(self._addr, timeout=self._timeout)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return sock

    def new_inserter(self, stream: str) -> Inserter:
        return Inserter(self._connect(), stream, password=self._password)

    def query(self, sql: str):
        """Returns (fields, row_iterator); raises on a server-side error."""
        sock = self._connect()
        open_msg = {"type": "query", "sql": sql}
        if self._password:
            open_msg["pwd"] = self._password
        _send(sock, open_msg)
        head = _recv(sock)
        if head is None:
            raise ConnectionError("server closed the connection")
        if head.get("error"):
            sock.close()
            raise RuntimeError(head["error"])
        fields = head["fields"]

        def rows():
            try:
                while True:
                    msg = _recv(sock)
                    if msg is None or msg.get("end_of_results"):
                        if msg and msg.get("error"):
                            raise RuntimeError(msg["error"])
                        return
                    yield msg["row"]
            finally:
                sock.close()

        return fields, rows()
