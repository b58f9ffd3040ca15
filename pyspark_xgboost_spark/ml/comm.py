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

Protocol: every message is one frame, 1 byte op ('S' sum | 'G' gather
| 'Q' quit), 8-byte big-endian length, payload. An S payload is the
array's raw bytes (``tobytes()``) with no header: every worker issues
the same rounds in the same order on arrays of the same dtype and shape
(the kernel's control flow is identical on all workers), so each
receiver decodes a frame against its own array, and a frame of another
length raises instead of being decoded. A G payload is raw bytes. Rank
0 runs the hub in its own thread, with no handoff to another: per round
it reads exactly one frame from each client in rank order, and answers
each with one frame — the sum, a left fold in rank order (rank 0's
array, then rank 1's, rank 2's, ...), or the length-prefixed
concatenation of every worker's payload in rank order. The kernel's
histograms are fixed point (``booster._fixed_point``), so their sum is
exact in any order and the fold decides no bit of a model; the fixed
order still gives every rank the same bits of a float sum such as an
eval metric. Each client blocks on its response before its next round.

One fit task, one star topology: rank 0 moves O(workers × payload) per
round. Histogram payloads are O(nodes × features × bins), independent
of data scale. A boosting round grows its class trees together, so each
tree level is one allreduce for all of them, and below the root a level
sends only the smaller child of each split (the sibling is parent minus
child): the traced ``gbt`` benchmark moves 0.60 MB per benchmark
operation in 47 calls (about 13 KB each; 1.15 MB when every child was
sent), and the hub is nowhere near its limit at the gang sizes a fit
runs. One-worker fits use ``booster.LocalComm`` behind the same
interface.
"""

from __future__ import annotations

import errno
import hashlib
import math
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


def _recv_exact(sock: socket.socket, n: int) -> bytearray:
    buf = bytearray(n)
    view = memoryview(buf)
    got = 0
    while got < n:
        k = sock.recv_into(view[got:])
        if not k:
            raise ConnectionError("peer closed during reduction")
        got += k
    return buf


def _recv_msg(sock: socket.socket) -> tuple[bytes, bytearray]:
    head = _recv_exact(sock, 1 + _LEN.size)
    (ln,) = _LEN.unpack_from(head, 1)
    return bytes(head[:1]), _recv_exact(sock, ln)


def _decode(frame: bytearray, like: np.ndarray) -> np.ndarray:
    """A sum frame read as ``like``'s dtype and shape. Every rank runs
    the same rounds on arrays of the same dtype and shape, so a frame of
    any other length means the ranks left lockstep."""
    if len(frame) != like.nbytes:
        raise ValueError(
            f"allreduce frame of {len(frame)} bytes, expected {like.nbytes} "
            f"for {like.dtype} {like.shape}"
        )
    return np.frombuffer(frame, dtype=like.dtype).reshape(like.shape)


def _decode_rows(frame: bytes, like: np.ndarray) -> np.ndarray:
    """A gathered frame read as rows of ``like``'s dtype and row shape
    (ranks agree on the row width, not on the row count)."""
    row = like.dtype.itemsize * math.prod(like.shape[1:])
    if row == 0 or len(frame) % row:
        raise ValueError(f"gathered frame of {len(frame)} bytes is not whole rows of {row} bytes")
    return np.frombuffer(frame, dtype=like.dtype).reshape(-1, *like.shape[1:])


def _pack_list(items: list[bytes]) -> bytes:
    out = bytearray()
    for it in items:
        out.extend(_LEN.pack(len(it)))
        out.extend(it)
    return bytes(out)


def _unpack_list(b: bytes) -> list[bytes]:
    items, off = [], 0
    while off < len(b):
        (ln,) = _LEN.unpack_from(b, off)
        off += _LEN.size
        items.append(bytes(b[off : off + ln]))
        off += ln
    return items


class _ReduceServer:
    """Reduction hub, rank 0 of the star. Rank 0 runs every round in its
    own thread: it reads one frame from each client in rank order
    (clients are lock-stepped by design), combines, and sends the result
    back, so a round costs no thread handoff. The constructor binds the
    first free port of ``ports`` and returns at once; one short-lived
    thread admits the clients that complete the ``magic`` handshake
    (and drops every other peer) and ends when all ranks are in; rank
    0's first round joins it. A round that fails closes every client
    connection, so no client waits on a hub that gave up."""

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
        self._acceptor: threading.Thread | None = threading.Thread(target=self._accept, daemon=True)
        self._acceptor.start()

    def _clients(self) -> list[socket.socket]:
        if self._acceptor is not None:
            self._acceptor.join()
            self._acceptor = None
        return self._conns

    def _accept(self) -> None:
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
        self._srv.close()
        self._conns = [by_rank[r] for r in sorted(by_rank)]

    def _read(self, op: bytes) -> list[bytearray]:
        """One ``op`` frame from each client, in rank order."""
        frames = []
        for rank, c in enumerate(self._clients(), start=1):
            got, frame = _recv_msg(c)
            if got != op:
                raise ConnectionError(f"rank {rank} sent op {got!r} in a {op!r} round")
            frames.append(frame)
        return frames

    def _reply(self, op: bytes, payload: bytes) -> None:
        for c in self._clients():
            _send_msg(c, op, payload)

    def _abort(self) -> None:
        for c in self._conns:
            c.close()

    def allreduce_sum(self, arr: np.ndarray) -> np.ndarray:
        # a left fold in rank order: rank 0's array, then rank 1, ... —
        # float addition is not associative, so one fixed order gives
        # every rank the same bits of a sum that is not exact
        try:
            total = arr
            for frame in self._read(b"S"):
                total = total + _decode(frame, arr)
            self._reply(b"S", total.tobytes())
            return total
        except BaseException:
            self._abort()
            raise

    def allgather(self, payload: bytes) -> bytes:
        try:
            packed = _pack_list([payload, *self._read(b"G")])
            self._reply(b"G", packed)
            return packed
        except BaseException:
            self._abort()
            raise

    def close(self) -> None:
        for c in self._clients():
            try:
                _recv_msg(c)  # their quit
                _send_msg(c, b"Q", b"")
                c.close()
            except OSError:
                pass


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

    def _client_round(self, op: bytes, payload: bytes) -> bytearray:
        assert self._sock is not None
        _send_msg(self._sock, op, payload)
        _, result = _recv_msg(self._sock)
        return result

    def allreduce_sum(self, arr: np.ndarray) -> np.ndarray:
        arr = np.ascontiguousarray(arr)
        if self._server is not None:
            return self._server.allreduce_sum(arr)
        return _decode(self._client_round(b"S", arr.tobytes()), arr)

    def allgather_rows(self, arr: np.ndarray) -> np.ndarray:
        arr = np.ascontiguousarray(arr)
        return np.concatenate([_decode_rows(f, arr) for f in self._gather(arr.tobytes())])

    def allgather_bytes(self, b: bytes) -> list[bytes]:
        return self._gather(b)

    # one round behind both gathers: each public method is one round,
    # which is how perfbench's worker hook counts them
    def _gather(self, b: bytes) -> list[bytes]:
        if self._server is not None:
            return _unpack_list(self._server.allgather(b))
        return _unpack_list(self._client_round(b"G", b))

    def close(self) -> None:
        if self._server is not None:
            self._server.close()
        elif self._sock is not None:
            try:
                _send_msg(self._sock, b"Q", b"")
                _recv_msg(self._sock)
            except OSError:
                pass
            self._sock.close()
