"""A stdlib S3 PutObject recorder: the benchmark's stand-in for S3.

Runs as its own process so that its CPU is not charged to the program.
It keeps every object's body and ``x-amz-meta-*`` metadata in memory and
answers just enough of the S3 REST API for boto3's ``put_object`` and
``get_object`` (path-style addressing), plus three control routes:

- ``GET /__stats``   JSON counters: puts, put bytes, repeat PUTs of a key,
  peak concurrent PUTs and the process's own CPU seconds;
- ``GET /__keys``    JSON list of stored keys as ``bucket/key``;
- ``POST /__clear``  drop every stored object (counters are kept).

Run: ``python3 perfbench/s3stub.py`` — it prints its port on the first
line of stdout and serves until terminated.
"""

from __future__ import annotations

import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlsplit

META = "x-amz-meta-"


class Store:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.objects: dict[str, tuple[bytes, dict[str, str]]] = {}
        self.seen: set[str] = set()
        self.puts = 0
        self.put_bytes = 0
        self.retries = 0
        self.active = 0
        self.max_active = 0

    def begin(self) -> None:
        with self.lock:
            self.active += 1
            self.max_active = max(self.max_active, self.active)

    def put(self, key: str, body: bytes, meta: dict[str, str]) -> None:
        with self.lock:
            self.active -= 1
            self.puts += 1
            self.put_bytes += len(body)
            if key in self.seen:
                self.retries += 1
            self.seen.add(key)
            self.objects[key] = (body, meta)

    def stats(self) -> dict:
        with self.lock:
            return {
                "puts": self.puts,
                "put_bytes": self.put_bytes,
                "retries": self.retries,
                "max_concurrency": self.max_active,
                "cpu_s": time.process_time(),
            }


def _read_body(h: BaseHTTPRequestHandler) -> bytes:
    if h.headers.get("Transfer-Encoding", "").lower() == "chunked":
        raw = bytearray()
        while True:
            size = int(h.rfile.readline().split(b";")[0].strip(), 16)
            if size == 0:
                while h.rfile.readline() not in (b"\r\n", b"\n", b""):
                    pass  # trailers
                break
            raw += h.rfile.read(size)
            h.rfile.readline()
        body = bytes(raw)
    else:
        body = h.rfile.read(int(h.headers.get("Content-Length", "0")))
    if "aws-chunked" in h.headers.get("Content-Encoding", ""):
        body = _decode_aws_chunked(body)
    return body


def _decode_aws_chunked(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while True:
        eol = data.index(b"\r\n", pos)
        size = int(data[pos:eol].split(b";")[0], 16)
        pos = eol + 2
        if size == 0:
            return bytes(out)
        out += data[pos : pos + size]
        pos += size + 2


def make_handler(store: Store):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args) -> None:  # silence per-request logs
            pass

        def _reply(self, code: int, body: bytes = b"", headers=None) -> None:
            self.send_response(code)
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _key(self) -> str:
            return unquote(urlsplit(self.path).path.lstrip("/"))

        def do_PUT(self) -> None:
            store.begin()
            body = _read_body(self)
            meta = {
                k[len(META) :]: v
                for k, v in self.headers.items()
                if k.lower().startswith(META)
            }
            store.put(self._key(), body, {k.lower(): v for k, v in meta.items()})
            etag = '"%s"' % hashlib.md5(body).hexdigest()
            self._reply(200, headers={"ETag": etag})

        def do_GET(self) -> None:
            key = self._key()
            if key == "__stats":
                self._reply(200, json.dumps(store.stats()).encode())
                return
            if key == "__keys":
                with store.lock:
                    keys = sorted(store.objects)
                self._reply(200, json.dumps(keys).encode())
                return
            with store.lock:
                obj = store.objects.get(key)
            if obj is None:
                self._reply(404, b"<Error><Code>NoSuchKey</Code></Error>")
                return
            body, meta = obj
            headers = {META + k: v for k, v in meta.items()}
            headers["ETag"] = '"%s"' % hashlib.md5(body).hexdigest()
            headers["Content-Type"] = "binary/octet-stream"
            self._reply(200, body, headers)

        def do_POST(self) -> None:
            self.rfile.read(int(self.headers.get("Content-Length", "0")))
            if self._key() == "__clear":
                with store.lock:
                    store.objects.clear()
                self._reply(200)
            else:
                self._reply(404)

    return Handler


def main() -> None:
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(Store()))
    server.daemon_threads = True
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    sys.exit(0)


if __name__ == "__main__":
    main()
