"""Loopback PostgreSQL v3 COPY server, run as its own process, and the
psycopg-shaped client the COPY sink connects through.

Server (``python3 pgserver.py``): prints its port on stdout, exits when
its stdin closes. Every connection gets its own thread and speaks real
length-prefixed v3 framing: StartupMessage -> AuthenticationOk +
ReadyForQuery; ``COPY ... FROM STDIN`` -> CopyInResponse, CopyData* ,
CopyDone -> CommandComplete. While a load runs the server only frames
and stores bytes; parsing and hashing happen when the benchmark asks for
stats, after the timed call has returned, so the server's CPU stays off
the timed path.

Two control queries, answered in the CommandComplete tag:

- ``BENCH RESET``: forget stored payloads and counters.
- ``BENCH STATS {"columns": [[name, pg_type], ...]}``: parse every
  stored COPY stream (copycsv.read_copy_table) and return JSON with
  rows, digest, bytes, copy connections, first/last CopyData time
  (``time.monotonic``, comparable across processes on Linux) and the
  seconds the server spent handling COPY traffic.
"""

from __future__ import annotations

import json
import socket
import struct
import subprocess
import sys
import threading
import time

PROTOCOL_V3 = 196608


def _recv_exact(sock: socket.socket, n: int) -> bytearray:
    buf = bytearray(n)
    view = memoryview(buf)
    got = 0
    while got < n:
        k = sock.recv_into(view[got:], n - got)
        if not k:
            raise ConnectionError(f"peer closed after {got}/{n} bytes")
        got += k
    return buf


def _typed(tag: bytes, payload: bytes = b"") -> bytes:
    return tag + struct.pack("!I", 4 + len(payload)) + payload


def _read_msg(sock: socket.socket) -> tuple[bytes, bytearray]:
    head = _recv_exact(sock, 5)
    (length,) = struct.unpack("!I", head[1:])
    return bytes(head[:1]), _recv_exact(sock, length - 4)


# ------------------------------------------------------------------ server


class CopyServer:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._reset()

    def _reset(self) -> None:
        self.payloads: list[bytes] = []  # one COPY stream per entry
        self.bytes = 0
        self.copy_conns = 0
        self.first_byte: float | None = None
        self.last_byte: float | None = None
        self.busy_s = 0.0

    def serve_forever(self, listener: socket.socket) -> None:
        while True:
            conn, _ = listener.accept()
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    def _handle(self, conn: socket.socket) -> None:
        with conn:
            try:
                (length,) = struct.unpack("!I", _recv_exact(conn, 4))
                body = _recv_exact(conn, length - 4)
                if struct.unpack("!I", body[:4])[0] != PROTOCOL_V3:
                    raise ConnectionError("not a v3 startup message")
                conn.sendall(_typed(b"R", struct.pack("!I", 0)) + _typed(b"Z", b"I"))
                while True:
                    tag, payload = _read_msg(conn)
                    if tag == b"X":
                        return
                    if tag != b"Q":
                        raise ConnectionError(f"unexpected message {tag!r}")
                    sql = bytes(payload).rstrip(b"\x00").decode()
                    if sql.startswith("BENCH "):
                        reply = self._control(sql[6:])
                        conn.sendall(_typed(b"C", reply.encode() + b"\x00") + _typed(b"Z", b"I"))
                    elif "FROM STDIN" in sql.upper():
                        self._copy_in(conn, sql)
                    else:  # COMMIT / BEGIN: empty success
                        tag_txt = sql.split()[0].upper().encode() if sql.split() else b"EMPTY"
                        conn.sendall(_typed(b"C", tag_txt + b"\x00") + _typed(b"Z", b"I"))
            except ConnectionError:
                return  # client vanished; nothing stored for an unfinished COPY

    def _copy_in(self, conn: socket.socket, sql: str) -> None:
        ncols = sql.split("(", 1)[1].split(")", 1)[0].count(",") + 1
        conn.sendall(_typed(b"G", struct.pack("!bH", 0, ncols) + struct.pack(f"!{ncols}H", *[0] * ncols)))
        chunks: list[bytes] = []
        busy = 0.0
        first = None
        while True:
            tag, payload = _read_msg(conn)
            t0 = time.monotonic()
            if tag == b"d":
                if first is None:
                    first = t0
                chunks.append(bytes(payload))
            elif tag == b"c":
                data = b"".join(chunks)
                with self._lock:
                    self.payloads.append(data)
                    self.bytes += len(data)
                    self.copy_conns += 1
                    if self.first_byte is None or (first is not None and first < self.first_byte):
                        self.first_byte = first
                    self.last_byte = max(self.last_byte or 0.0, t0)
                    self.busy_s += busy + (time.monotonic() - t0)
                # the row count in the tag is not needed by the sink
                conn.sendall(_typed(b"C", b"COPY 0\x00") + _typed(b"Z", b"I"))
                return
            elif tag == b"f":
                conn.sendall(_typed(b"E", b"SERROR\x00MCOPY aborted by client\x00\x00") + _typed(b"Z", b"I"))
                return
            else:
                raise ConnectionError(f"unexpected message during COPY: {tag!r}")
            busy += time.monotonic() - t0

    def _control(self, cmd: str) -> str:
        if cmd == "RESET":
            with self._lock:
                self._reset()
            return "RESET"
        if cmd.startswith("STATS "):
            from copycsv import digest_table, read_copy_table
            import pyarrow as pa

            columns = [tuple(c) for c in json.loads(cmd[6:])["columns"]]
            with self._lock:
                payloads = list(self.payloads)
                out = {
                    "bytes": self.bytes,
                    "copy_conns": self.copy_conns,
                    "first_byte": self.first_byte,
                    "last_byte": self.last_byte,
                    "busy_s": self.busy_s,
                }
            tables = [read_copy_table(p, columns) for p in payloads]
            if tables:
                rows, digest = digest_table(pa.concat_tables(tables))
            else:
                rows, digest = 0, "0"
            out.update(rows=rows, digest=digest)
            return json.dumps(out)
        raise ValueError(f"unknown control command {cmd!r}")


def _serve_main() -> None:
    listener = socket.create_server(("127.0.0.1", 0), backlog=64)
    print(listener.getsockname()[1], flush=True)
    threading.Thread(target=CopyServer().serve_forever, args=(listener,), daemon=True).start()
    sys.stdin.read()  # parent closed our stdin (or died): shut down


# ------------------------------------------------------------------ client


def _expect(sock: socket.socket, stop: bytes) -> bytes:
    """Read messages until ``stop``; return the last CommandComplete tag."""
    last = b""
    while True:
        tag, payload = _read_msg(sock)
        if tag == b"E":
            raise RuntimeError(f"server error: {bytes(payload)!r}")
        if tag == b"C":
            last = bytes(payload).rstrip(b"\x00")
        if tag == stop:
            return last


class _Copy:
    def __init__(self, sock: socket.socket):
        self._sock = sock

    def __enter__(self):
        return self

    def write(self, data) -> None:
        b = data.encode("utf-8") if isinstance(data, str) else bytes(data)
        self._sock.sendall(_typed(b"d", b))

    def __exit__(self, exc_type, *a):
        if exc_type is not None:
            self._sock.sendall(_typed(b"f", b"aborted\x00"))
            _expect(self._sock, b"Z")
            return False
        self._sock.sendall(_typed(b"c"))
        _expect(self._sock, b"Z")
        return False


class _Cursor:
    def __init__(self, sock: socket.socket):
        self._sock = sock

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def copy(self, stmt: str) -> _Copy:
        self._sock.sendall(_typed(b"Q", stmt.encode() + b"\x00"))
        _expect(self._sock, b"G")
        return _Copy(self._sock)


class Connection:
    """The slice of a psycopg connection that ``make_copy_partition`` uses,
    plus ``query`` for the control commands."""

    def __init__(self, host: str, port: int):
        self._sock = socket.create_connection((host, port))
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        body = struct.pack("!I", PROTOCOL_V3) + b"user\x00bench\x00database\x00bench\x00\x00"
        self._sock.sendall(struct.pack("!I", 4 + len(body)) + body)
        _expect(self._sock, b"Z")

    def __enter__(self):
        return self

    def cursor(self) -> _Cursor:
        return _Cursor(self._sock)

    def query(self, sql: str) -> str:
        self._sock.sendall(_typed(b"Q", sql.encode() + b"\x00"))
        return _expect(self._sock, b"Z").decode()

    def commit(self) -> None:
        pass  # COPY completes its implicit transaction on CopyDone

    def close(self) -> None:
        try:
            self._sock.sendall(_typed(b"X"))
        finally:
            self._sock.close()

    def __exit__(self, *a):
        self.close()
        return False


def connect(dsn: str) -> Connection:
    """``psycopg.connect``-shaped factory for ``host=H port=P`` DSNs."""
    kv = dict(part.split("=", 1) for part in dsn.split() if "=" in part)
    return Connection(kv.get("host", "127.0.0.1"), int(kv["port"]))


class ServerProcess:
    """Start the server as a child process; ``close`` ends and reaps it."""

    def __init__(self, cwd: str):
        self.proc = subprocess.Popen(
            [sys.executable, __file__],
            cwd=cwd,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.port = int(self.proc.stdout.readline())
        self.dsn = f"host=127.0.0.1 port={self.port}"

    def control(self, cmd: str) -> str:
        with connect(self.dsn) as c:
            return c.query("BENCH " + cmd)

    def reset(self) -> None:
        self.control("RESET")

    def stats(self, columns: list[tuple[str, str]]) -> dict:
        return json.loads(self.control("STATS " + json.dumps({"columns": columns})))

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


if __name__ == "__main__":
    _serve_main()
