"""Socket setup shared by the four listeners (HTTP, native TCP,
PostgreSQL, MySQL)."""

from __future__ import annotations

import socket


class NoDelayMixin:
    """Mix into a ``socketserver.TCPServer``: every accepted socket
    gets ``TCP_NODELAY``. Responses go out as several small sends (the
    HTTP headers, then chunks; one send per PG message). With Nagle's
    algorithm on, a small send waits for the ACK of the one before,
    and the client's delayed-ACK timer holds that ACK back for tens of
    milliseconds."""

    def get_request(self):
        sock, addr = super().get_request()
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return sock, addr
