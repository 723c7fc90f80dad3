"""Loopback S3-style object-store server: the minimal HTTP surface an
object-store filesystem client needs — HEAD (size probe), ranged GET
(positioned read), and a trivial listing — served from a local directory,
with per-request accounting.

This is the sandbox stand-in for the MinIO endpoint the reference runs
against (/root/reference/README.md:44-53: `s3.us-east-1.lanl.gov`-style
loopback MinIO with path-style URLs over http). The reference's product
is parquet-over-object-store with ranged-read accounting
(runner.cc:56-172 MonitoredFileSystem); this server is the other half of
that contract: it COUNTS the ranged GETs the engine issues, so a fan-out
run over s3a:// URIs produces byte/read-op evidence from both sides
(client-side Hadoop FS statistics AND server-side request log).

Path model (path-style addressing, s3_url_style='path', runner.cc:209):
    GET /bucket/key         → <root>/<key>   (single-bucket; name ignored)
    HEAD /bucket/key        → size + Last-Modified; directories answer X-Ocs-Dir
    GET /bucket/dir?list    → "name\\tsize\\t{d|f}" lines
    GET /__stats__          → JSON request counters

No auth: the reference's loopback MinIO runs with static credentials on
127.0.0.1 (README.md:98); the client sends credentials, the server is
indifferent — what is under test is the read path, not IAM.

TCP_NODELAY: the handler sets ``disable_nagle_algorithm``, as Go-based
stores such as MinIO do by default. With Nagle on, a small response on a
keep-alive connection (a parquet footer read, a HEAD) is written as a
header segment plus a body segment, and the body waits for the client's
delayed ACK of the header: ~44 ms per small ranged GET, against ~0.4 ms
with the switch (tests/test_s3_loopback.py pins it).
"""

from __future__ import annotations

import json
import threading
from email.utils import formatdate
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path


class _Stats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.head = 0
        self.get = 0
        self.ranged_get = 0
        self.list = 0
        self.bytes_served = 0

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "head_requests": self.head,
                "get_requests": self.get,
                "ranged_get_requests": self.ranged_get,
                "list_requests": self.list,
                "bytes_served": self.bytes_served,
            }


class S3LoopbackServer:
    """Threaded loopback object-store over `root`. Use as a context
    manager; `.port` after start; `.stats.snapshot()` for accounting."""

    def __init__(self, root: str, host: str = "127.0.0.1", port: int = 0):
        self.root = Path(root).resolve()
        self.stats = _Stats()
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True  # TCP_NODELAY, see module doc

            def log_message(self, *a):  # quiet
                pass

            def _target(self):
                # strip query + leading /bucket component
                path = self.path.split("?", 1)[0]
                parts = [p for p in path.split("/") if p]
                if not parts:
                    return None
                key = "/".join(parts[1:])  # parts[0] = bucket name
                p = (server.root / key).resolve() if key else server.root
                if not str(p).startswith(str(server.root)):
                    return None  # traversal guard
                return p

            def _head_common(self, p: Path):
                if p is None or not p.exists():
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return None
                return p

            def _last_modified(self, st) -> None:
                # whole seconds, as S3 sends it: the client's FileStatus
                # mtime, so a same-length rewrite changes file_version
                self.send_header(
                    "Last-Modified", formatdate(st.st_mtime, usegmt=True)
                )

            def do_HEAD(self):
                with server.stats.lock:
                    server.stats.head += 1
                p = self._head_common(self._target())
                if p is None:
                    return
                self.send_response(200)
                if p.is_dir():
                    self.send_header("X-Ocs-Dir", "true")
                    self.send_header("Content-Length", "0")
                else:
                    st = p.stat()
                    self.send_header("Content-Length", str(st.st_size))
                    self._last_modified(st)
                self.end_headers()

            def do_GET(self):
                if self.path.startswith("/__stats__"):
                    body = json.dumps(server.stats.snapshot()).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                p = self._head_common(self._target())
                if p is None:
                    return
                if p.is_dir():
                    with server.stats.lock:
                        server.stats.list += 1
                    lines = []
                    for child in sorted(p.iterdir()):
                        kind = "d" if child.is_dir() else "f"
                        size = 0 if child.is_dir() else child.stat().st_size
                        lines.append(f"{child.name}\t{size}\t{kind}")
                    body = ("\n".join(lines) + "\n").encode()
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                st = p.stat()
                size = st.st_size
                rng = self.headers.get("Range")
                start, end = 0, size - 1
                status = 200
                if rng and rng.startswith("bytes="):
                    spec = rng[len("bytes=") :]
                    s, _, e = spec.partition("-")
                    if s:
                        start = int(s)
                        end = int(e) if e else size - 1
                    else:  # suffix range: last N bytes
                        start = max(0, size - int(e))
                    end = min(end, size - 1)
                    status = 206
                n = max(0, end - start + 1)
                with server.stats.lock:
                    server.stats.get += 1
                    if status == 206:
                        server.stats.ranged_get += 1
                    server.stats.bytes_served += n
                self.send_response(status)
                if status == 206:
                    self.send_header(
                        "Content-Range", f"bytes {start}-{end}/{size}"
                    )
                self.send_header("Content-Length", str(n))
                self._last_modified(st)
                self.end_headers()
                with open(p, "rb") as f:
                    f.seek(start)
                    remaining = n
                    while remaining > 0:
                        chunk = f.read(min(1 << 20, remaining))
                        if not chunk:
                            break
                        self.wfile.write(chunk)
                        remaining -= len(chunk)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host = host
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def start(self) -> "S3LoopbackServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> "S3LoopbackServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
