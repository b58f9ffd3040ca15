"""Socket allreduce for barrier-mode training.

``BarrierTaskContext.allGather`` costs a measured ~1.0 s PER CALL (a
constant in the Python barrier RPC, even with all tasks already
waiting), which rules it out for per-tree-level histogram reduction —
and is worth avoiding even for the one-off rendezvous. The reference
amortizes the same cost by using allGather ONCE to broadcast the Rabit
tracker's host:port (utils.py:81-126) and running the actual allreduce
over direct worker sockets. We go one step further: the rendezvous
itself needs no barrier RPC. Every rank derives the same candidate
port list and handshake cookie from barrier-visible facts (stage id,
attempt number, the task-address roster), rank 0 binds the first free
candidate, and clients probe the list until the cookie matches — see
``candidate_ports`` / ``connect_rendezvous``. Rank 0 hosts a tiny
reduction server (star topology) and the other workers hold one
persistent TCP connection each.

Protocol (client → server, per round):
    1 byte op ('S' sum | 'G' gather | 'Q' quit), 8-byte big-endian
    length, payload (``np.save`` bytes for S, raw bytes for G).
Server responds with one length-prefixed payload: the summed array
(S) or the length-prefixed concatenation of every worker's payload in
rank order (G). Every worker issues the same rounds in the same order
(the kernel's control flow is identical on all workers), and each
blocks on its response before the next round, so the server can read
exactly one message per client per round.

One fit task, one star topology: rank 0 moves O(workers × payload) per
round. Histogram payloads are O(nodes × features × bins), independent
of data scale; the traced ``gbt`` benchmark moves about 16 KB per
allreduce call (1.15 MB in 73 calls per benchmark operation), so the
hub is nowhere near its limit at the gang sizes a fit runs. One-worker
fits use ``booster.LocalComm`` behind the same interface.
"""

from __future__ import annotations

import errno
import hashlib
import io
import socket
import struct
import threading
import time

import numpy as np

_LEN = struct.Struct(">Q")
_MAGIC_LEN = 16


def cookie_magic(cookie: str) -> bytes:
    """16-byte handshake token; the server sends it on accept and the
    client validates before identifying itself, so a probe that lands on
    an unrelated service (or a zombie server from a previous stage
    attempt, whose cookie differs) is rejected instead of corrupting the
    reduction group."""
    return hashlib.md5(b"gbt-rendezvous-" + cookie.encode()).digest()


def echo_token(magic: bytes) -> bytes:
    """The client's half of the mutual handshake: a keyed digest of the
    magic it just received. The server requires this before the rank
    header, so a stray TCP peer that merely connects (port scanner,
    health checker, wrong app) can't occupy a rank slot or wedge the
    accept loop — only a peer that derived the same barrier-stage cookie
    is admitted to the reduction group."""
    return hashlib.md5(b"gbt-echo-" + magic).digest()


def candidate_ports(cookie: str, n: int = 16) -> list[int]:
    """Deterministic port walk in [20000, 50000) seeded by the cookie.
    Every rank computes the same list with zero communication; rank 0
    binds the first free one, clients probe in the same order."""
    h = int.from_bytes(hashlib.md5(cookie.encode()).digest()[:4], "big")
    return [20000 + (h + i * 941) % 30000 for i in range(n)]


def connect_rendezvous(
    host: str, ports: list[int], magic: bytes, rank: int, deadline_s: float = 120.0
) -> socket.socket:
    """Client side of the no-RPC rendezvous: walk the candidate ports
    until one answers with the right magic (the server may not have
    bound yet — keep cycling until the deadline)."""
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        for p in ports:
            s = None
            try:
                s = socket.create_connection((host, p), timeout=2)
                s.settimeout(5)
                if _recv_exact(s, _MAGIC_LEN) != magic:
                    s.close()
                    continue
                s.settimeout(None)
                s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                s.sendall(echo_token(magic) + struct.pack(">I", rank))
                return s
            except OSError:
                if s is not None:
                    try:
                        s.close()
                    except OSError:
                        pass
        time.sleep(0.05)
    raise TimeoutError(f"rendezvous: no server answered on {host} ports {ports}")


def _send_msg(sock: socket.socket, op: bytes, payload: bytes) -> None:
    sock.sendall(op + _LEN.pack(len(payload)) + payload)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed during reduction")
        buf.extend(chunk)
    return bytes(buf)


def _recv_msg(sock: socket.socket) -> tuple[bytes, bytes]:
    op = _recv_exact(sock, 1)
    (ln,) = _LEN.unpack(_recv_exact(sock, 8))
    return op, _recv_exact(sock, ln)


def _np_dumps(arr: np.ndarray) -> bytes:
    buf = io.BytesIO()
    np.save(buf, np.ascontiguousarray(arr), allow_pickle=False)
    return buf.getvalue()


def _np_loads(b: bytes) -> np.ndarray:
    return np.load(io.BytesIO(b), allow_pickle=False)


def _pack_list(items: list[bytes]) -> bytes:
    out = bytearray()
    for it in items:
        out.extend(_LEN.pack(len(it)))
        out.extend(it)
    return bytes(out)


def _unpack_list(b: bytes) -> list[bytes]:
    items, off = [], 0
    while off < len(b):
        (ln,) = _LEN.unpack(b[off : off + 8])
        off += 8
        items.append(b[off : off + ln])
        off += ln
    return items


class _ReduceServer:
    """Reduction hub, rank 0 of the star. One thread; one blocking read
    per client per round (clients are lock-stepped by design). It binds
    the first free port of ``ports`` and admits only clients that
    complete the ``magic`` handshake."""

    def __init__(self, n_clients: int, magic: bytes, ports: list[int], host: str = ""):
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        # bind the specific address clients will dial; the wildcard is
        # tried ONLY when that address isn't a local interface (NAT /
        # container port-mapping → EADDRNOTAVAIL). Busy candidate ports
        # on a local address raise instead of widening the bind scope —
        # the handshake gates entry either way, but a scoped bind keeps
        # the endpoint off unrelated interfaces.
        bind_hosts = [host] if host else ["0.0.0.0"]
        bound = False
        for bh in bind_hosts:
            addr_not_local = False
            for p in ports:
                try:
                    self._srv.bind((bh, p))
                    bound = True
                    break
                except OSError as e:
                    if e.errno == errno.EADDRNOTAVAIL:
                        addr_not_local = True
                        break
                    continue
            if bound:
                break
            if addr_not_local and bh != "0.0.0.0":
                bind_hosts.append("0.0.0.0")
                continue
        if not bound:
            raise OSError(
                f"rendezvous: all {len(ports)} candidate ports in use; "
                "the barrier stage will retry with a fresh port walk"
            )
        self._srv.listen(n_clients + 4)
        self.port = self._srv.getsockname()[1]
        self._magic = magic
        self._n = n_clients
        self._conns: list[socket.socket] = []
        # rank-0's own per-round contribution / result mailboxes
        self._own_in: "threading.Event" = threading.Event()
        self._own_payload: tuple[bytes, bytes] | None = None
        self._own_result: bytes | None = None
        self._own_done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    # rank 0 calls this instead of a socket round-trip
    def local_round(self, op: bytes, payload: bytes) -> bytes:
        self._own_payload = (op, payload)
        self._own_done.clear()
        self._own_in.set()
        self._own_done.wait()
        res = self._own_result
        assert res is not None
        return res

    def _run(self) -> None:
        # accept clients until all ranks are registered (they connect in
        # any order; after validating our magic they must echo the keyed
        # token back before the 4-byte rank header — see echo_token). A
        # probe that disconnects mid-handshake, fails the echo, or claims
        # a duplicate/out-of-range rank is dropped and ignored.
        expected_echo = echo_token(self._magic)
        by_rank: dict[int, socket.socket] = {}
        while len(by_rank) < self._n:
            conn, _ = self._srv.accept()
            try:
                conn.settimeout(10)
                conn.sendall(self._magic)
                if _recv_exact(conn, _MAGIC_LEN) != expected_echo:
                    raise ConnectionError("bad echo")
                (rank_b,) = struct.unpack(">I", _recv_exact(conn, 4))
                if not (1 <= rank_b <= self._n) or rank_b in by_rank:
                    raise ConnectionError(f"invalid or duplicate rank {rank_b}")
                conn.settimeout(None)
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                by_rank[rank_b] = conn
            except (OSError, ConnectionError, struct.error):
                try:
                    conn.close()
                except OSError:
                    pass
        self._conns = [by_rank[r] for r in sorted(by_rank)]

        quit_count = 0
        while quit_count == 0:
            # wait for rank-0's contribution first — it defines the round
            self._own_in.wait()
            self._own_in.clear()
            op0, payload0 = self._own_payload  # type: ignore[misc]
            if op0 == b"Q":
                for c in self._conns:
                    try:
                        _, _ = _recv_msg(c)  # their quit
                        _send_msg(c, b"Q", b"")
                        c.close()
                    except OSError:
                        pass
                self._own_result = b""
                self._own_done.set()
                break
            payloads = [payload0]
            for c in self._conns:
                op, pl = _recv_msg(c)
                payloads.append(pl)
            if op0 == b"S":
                total = _np_loads(payloads[0])
                for pl in payloads[1:]:
                    total = total + _np_loads(pl)
                result = _np_dumps(total)
            else:  # b"G"
                result = _pack_list(payloads)
            for c in self._conns:
                _send_msg(c, op0, result)
            self._own_result = result
            self._own_done.set()
        self._srv.close()


class SocketComm:
    """Comm implementation backed by the rank-0 reduce server.

    rank 0: pass server=_ReduceServer(...); others: pass a socket from
    ``connect_rendezvous`` (which already completed the handshake).
    """

    def __init__(self, rank: int, n_workers: int, server: _ReduceServer | None = None,
                 sock: socket.socket | None = None):
        self.rank = rank
        self.n_workers = n_workers
        self._server = server
        self._sock = sock
        assert (server is None) != (sock is None)

    def _round(self, op: bytes, payload: bytes) -> bytes:
        if self._server is not None:
            return self._server.local_round(op, payload)
        assert self._sock is not None
        _send_msg(self._sock, op, payload)
        _, result = _recv_msg(self._sock)
        return result

    def allreduce_sum(self, arr: np.ndarray) -> np.ndarray:
        return _np_loads(self._round(b"S", _np_dumps(arr)))

    def allgather_rows(self, arr: np.ndarray) -> np.ndarray:
        mats = [_np_loads(b) for b in _unpack_list(self._round(b"G", _np_dumps(arr)))]
        widths = {m.shape[1] for m in mats if m.size}
        if not widths:
            return mats[0]
        (w,) = widths
        return np.concatenate([m.reshape(-1, w) for m in mats if m.size], axis=0)

    def allgather_bytes(self, b: bytes) -> list[bytes]:
        return _unpack_list(self._round(b"G", b))

    def close(self) -> None:
        if self._server is not None:
            self._server.local_round(b"Q", b"")
        elif self._sock is not None:
            try:
                _send_msg(self._sock, b"Q", b"")
                _recv_msg(self._sock)
            except OSError:
                pass
            self._sock.close()
