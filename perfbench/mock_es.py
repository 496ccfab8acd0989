"""Mock Elasticsearch for the sync workload's es_http jobs, run in its own
process.

It keeps the protocol subset the package's own tests enforce on their
in-process mock: NDJSON action/doc pairs on ``/_bulk``, an ``index``
action is create-or-replace by ``_id`` (a missing ``_id`` gets an auto
id), a source document holding a metadata field is refused, and
``DELETE``/``PUT`` of an index and ``/_refresh`` work as on ES.

It is lean on purpose: its cost is inside every timed sync pass. Only
action lines are parsed (by a regex, with ``json.loads`` as the
fallback for unusual shapes); document lines are stored as the bytes
received, and ``json.loads`` runs on a document only when a cheap scan
finds a metadata-looking key in it.

Benchmark-only endpoints (never called inside a timed pass):

- ``GET /_bench/stats`` returns the counters since the last reset,
  ``POST /_bench/reset`` zeroes them.
- ``GET /_bench/digest/<index>`` returns the document count and an
  order-independent digest of the stored ``(_id, source)`` pairs.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

METADATA_FIELDS = frozenset(
    {"_id", "_index", "_type", "_routing", "_version", "_version_type", "_source"}
)
_ACTION = re.compile(rb'\{"index":\{"_index":"([^"\\]+)"(?:,"_id":"([^"\\]*)")?\}\}')
_META_KEY = re.compile(rb'"_(?:id|index|type|routing|version|version_type|source)":')


def doc_digest(pairs) -> tuple[int, str]:
    """(count, digest) of an iterable of ``(_id: str, source: bytes)``.

    The digest is the sum of the first 60 bits of md5(_id TAB source)
    over all documents, so it does not depend on storage order. The
    expected side (digests.py) computes the same function over the
    documents the sink should have produced."""
    n, total = 0, 0
    for _id, src in pairs:
        h = hashlib.md5(_id.encode() + b"\t" + src).hexdigest()
        total += int(h[:15], 16)
        n += 1
    return n, str(total)


class BulkError(ValueError):
    """A bulk body this mock refuses (the request gets HTTP 400)."""


class Store:
    """Index state plus the counters the benchmark reports."""

    def __init__(self):
        self.lock = threading.Lock()
        self.indices: dict[str, dict[str, bytes]] = {}
        self.auto_id = 0
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.bulk_requests = 0
            self.docs = 0
            self.bulk_bytes = 0
            self.inflight = 0
            self.max_inflight = 0
            self.retried_requests = 0
            self.busy_s = 0.0
            self.seen_bodies: set[int] = set()

    def stats(self) -> dict:
        with self.lock:
            return {
                "bulk_requests": self.bulk_requests,
                "docs": self.docs,
                "bulk_bytes": self.bulk_bytes,
                "max_inflight": self.max_inflight,
                "retried_requests": self.retried_requests,
                "server_busy_s": self.busy_s,
            }

    def bulk(self, body: bytes) -> int:
        """Apply one /_bulk body; returns the number of documents."""
        lines = body.split(b"\n")
        if lines and lines[-1] == b"":
            lines.pop()
        if len(lines) % 2:
            raise BulkError("bulk body must be action/doc pairs")
        parsed = []
        for i in range(0, len(lines), 2):
            index, _id = self._action(lines[i])
            doc = lines[i + 1]
            if not doc.startswith(b"{"):
                raise BulkError("document line is not a JSON object")
            if _META_KEY.search(doc):
                clash = METADATA_FIELDS & set(json.loads(doc))
                if clash:
                    raise BulkError(f"metadata fields in source: {sorted(clash)}")
            parsed.append((index, _id, doc))
        with self.lock:
            for index, _id, doc in parsed:
                if _id is None:
                    self.auto_id += 1
                    _id = f"auto{self.auto_id}"
                self.indices.setdefault(index, {})[_id] = doc
            self.docs += len(parsed)
            self.bulk_requests += 1
            self.bulk_bytes += len(body)
            key = hash(body)
            if key in self.seen_bodies:
                self.retried_requests += 1
            self.seen_bodies.add(key)
        return len(parsed)

    @staticmethod
    def _action(line: bytes) -> tuple[str, str | None]:
        m = _ACTION.fullmatch(line)
        if m:
            _id = m.group(2)
            return m.group(1).decode(), None if _id is None else _id.decode()
        try:
            action = json.loads(line)
        except ValueError as e:
            raise BulkError(f"action line is not JSON: {line[:80]!r}") from e
        if not isinstance(action, dict) or list(action) != ["index"]:
            raise BulkError(f"unsupported bulk action: {line[:80]!r}")
        meta = action["index"]
        _id = meta.get("_id")
        return meta["_index"], None if _id is None else str(_id)


def make_server(port: int = 0, max_connections: int = 4) -> tuple[ThreadingHTTPServer, Store]:
    """An HTTP server on 127.0.0.1 that serves at most
    ``max_connections`` requests at a time (the accept loop waits for a
    free slot)."""
    store = Store()
    slots = threading.BoundedSemaphore(max_connections)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> bytes:
            return self.rfile.read(int(self.headers.get("Content-Length", 0)))

        def do_GET(self):
            if self.path == "/_bench/stats":
                return self._reply(200, store.stats())
            if self.path.startswith("/_bench/digest/"):
                index = self.path.rsplit("/", 1)[1]
                with store.lock:
                    docs = list(store.indices.get(index, {}).items())
                n, digest = doc_digest(docs)
                return self._reply(200, {"docs": n, "digest": digest})
            self._reply(400, {"error": f"unsupported GET {self.path}"})

        def do_DELETE(self):
            index = self.path.strip("/")
            with store.lock:
                existed = store.indices.pop(index, None) is not None
            if existed:
                self._reply(200, {"acknowledged": True})
            else:
                self._reply(404, {"error": "index_not_found_exception"})

        def do_PUT(self):
            self._body()
            with store.lock:
                store.indices.setdefault(self.path.strip("/"), {})
            self._reply(200, {"acknowledged": True})

        def do_POST(self):
            body = self._body()
            if self.path == "/_bench/reset":
                store.reset()
                return self._reply(200, {})
            if self.path.endswith("/_refresh"):
                index = self.path.strip("/").split("/")[0]
                with store.lock:
                    known = index in store.indices
                return self._reply(200 if known else 404, {"_shards": {"failed": 0}})
            if not self.path.endswith("/_bulk"):
                return self._reply(400, {"error": f"unsupported POST {self.path}"})
            t0 = time.perf_counter()
            with store.lock:
                store.inflight += 1
                store.max_inflight = max(store.max_inflight, store.inflight)
            try:
                store.bulk(body)
                code, payload = 200, {"errors": False, "items": []}
            except BulkError as e:
                code, payload = 400, {"error": str(e)}
            finally:
                with store.lock:
                    store.inflight -= 1
                    store.busy_s += time.perf_counter() - t0
            self._reply(code, payload)

    class Server(ThreadingHTTPServer):
        daemon_threads = True

        def process_request(self, request, client_address):
            slots.acquire()
            try:
                super().process_request(request, client_address)
            except BaseException:
                slots.release()
                raise

        def process_request_thread(self, request, client_address):
            try:
                super().process_request_thread(request, client_address)
            finally:
                slots.release()

    return Server(("127.0.0.1", port), Handler), store


def main(argv: list[str]) -> int:
    """Process entry point: ``mock_es.py <max_connections>``. Prints the
    bound port as one line on stdout, serves until stdin reaches EOF
    (the parent closed it or ended), then closes the socket."""
    server, _ = make_server(0, int(argv[0]))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(server.server_address[1], flush=True)
    sys.stdin.buffer.read()
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
