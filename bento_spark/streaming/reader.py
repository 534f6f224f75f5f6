"""The one buffered socket reader every hand-written wire client and test
server reads through: `exact(n)` bytes, or one `line()`.

A protocol reads its frames in pieces (a fixed header, then a body of the
length the header names), and one `recv` may return part of a frame. A
line-framed protocol cannot know where a line ends before it reads it, so
`line()` reads ahead and the reader keeps what it read beyond the line for
the next read. So every read of a socket must go through its reader: a raw
`sock.recv` next to a buffered reader skips the bytes the reader holds.
`exact(n)` never asks the socket for more than it still needs, so a
reader that only ever reads `exact` holds nothing between reads.

EOF in the middle of a read raises `ConnectionError("<name>: connection
closed")`, which a bridge treats as a transport fault and reconnects on.
"""

from __future__ import annotations

import socket

CHUNK = 65536


class SocketReader:
    """Buffered reads of one socket; `data` is what was read before."""

    def __init__(self, sock: socket.socket, name: str, data: bytes = b""):
        self.sock = sock
        self.name = name
        self.buf = bytearray(data)

    def fill(self, limit: int = CHUNK) -> None:
        """One `recv` of at most `limit` bytes into the buffer (a poll
        loop calls it under a socket timeout); EOF raises."""
        chunk = self.sock.recv(limit)
        if not chunk:
            raise ConnectionError(f"{self.name}: connection closed")
        self.buf += chunk

    def exact(self, n: int) -> bytes:
        """The next `n` bytes."""
        while len(self.buf) < n:
            self.fill(n - len(self.buf))
        out = bytes(self.buf[:n])
        del self.buf[:n]
        return out

    def line(self, sep: bytes = b"\n") -> bytes:
        """The bytes up to the next `sep`, which is consumed and not
        returned."""
        start = 0
        while (i := self.buf.find(sep, start)) < 0:
            start = max(0, len(self.buf) - len(sep) + 1)
            self.fill()
        out = bytes(self.buf[:i])
        del self.buf[:i + len(sep)]
        return out


def reader_of(src: SocketReader | socket.socket, name: str, data: bytes = b"") -> SocketReader:
    """`src` if it is a reader, else a new reader of the socket `src`
    (holding `data`, bytes already read from it). A frame function that
    takes either reads with `exact` only, so a reader made per call leaves
    nothing behind in its buffer."""
    return src if isinstance(src, SocketReader) else SocketReader(src, name, data)


def hang_up(sock: socket.socket) -> None:
    """Shut a socket down, then close it. Closing alone neither wakes a
    thread blocked in `recv` or `accept` on it nor tells the peer."""
    try:
        sock.shutdown(socket.SHUT_RDWR)
    except OSError:
        pass
    try:
        sock.close()
    except OSError:
        pass
