"""In-process counting bulk-document server for the graph-service sink.

Accepts the ArangoDB-shaped bulk upserts ``HttpJsonTransport`` sends
(``POST /_api/document/{collection}``, a JSON array of documents) and keeps
the identity of every document it holds, so a load can be checked against
the store: vertices are keyed by (collection, key), edges by their two
endpoints.  Counts requests, body bytes and documents received.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 64


class BulkServer:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.docs: set[tuple] = set()
        self.requests = self.bytes = self.received = 0
        owner = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self) -> None:
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n)
                collection = urllib.parse.unquote(
                    urllib.parse.urlsplit(self.path).path.rsplit("/", 1)[-1]
                )
                owner._receive(collection, json.loads(body), n)
                self.send_response(202)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"{}")

            def log_message(self, *args) -> None:
                pass

        self._server = _Server(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    def _receive(self, collection: str, batch: list[dict], nbytes: int) -> None:
        if collection == "edges":
            ids = [
                ("edges", d["from_collection"], d["from_key"], d["to_collection"], d["to_key"])
                for d in batch
            ]
        else:
            ids = [(collection, d["key"]) for d in batch]
        with self.lock:
            self.docs.update(ids)
            self.requests += 1
            self.bytes += nbytes
            self.received += len(batch)

    def restore(self, docs: set[tuple]) -> None:
        """Reset the held documents to ``docs`` and zero the counters."""
        with self.lock:
            self.docs = set(docs)
            self.requests = self.bytes = self.received = 0

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
