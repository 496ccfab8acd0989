"""The benchmark's mock ES: replace-by-_id semantics, protocol checks
and counters, over real HTTP."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

import mock_es


@pytest.fixture()
def server():
    srv, store = mock_es.make_server(0, max_connections=4)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", store
    srv.shutdown()
    srv.server_close()
    thread.join(timeout=10)
    assert not thread.is_alive()


def call(url: str, method: str = "GET", body: bytes | None = None) -> tuple[int, dict]:
    req = urllib.request.Request(url, data=body, method=method)
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def bulk(url: str, pairs) -> tuple[int, dict]:
    lines = []
    for action, doc in pairs:
        lines += [json.dumps(action, separators=(",", ":")), json.dumps(doc, sort_keys=True, separators=(",", ":"))]
    return call(f"{url}/_bulk", "POST", ("\n".join(lines) + "\n").encode())


def test_index_action_replaces_by_id_and_auto_ids(server):
    url, store = server
    assert call(f"{url}/idx", "DELETE")[0] == 404
    assert call(f"{url}/idx", "PUT", b"{}")[0] == 200
    code, _ = bulk(url, [({"index": {"_index": "idx", "_id": "1"}}, {"v": 1}), ({"index": {"_index": "idx", "_id": "2"}}, {"v": 2})])
    assert code == 200
    bulk(url, [({"index": {"_index": "idx", "_id": "1"}}, {"v": 10}), ({"index": {"_index": "idx"}}, {"v": 3})])
    assert store.indices["idx"]["1"] == b'{"v":10}'
    assert store.indices["idx"]["2"] == b'{"v":2}'
    assert sorted(store.indices["idx"]) == ["1", "2", "auto1"]
    assert call(f"{url}/idx/_refresh", "POST", b"")[0] == 200
    assert call(f"{url}/idx", "DELETE")[0] == 200
    assert call(f"{url}/idx/_refresh", "POST", b"")[0] == 404


def test_action_with_extra_metadata_takes_the_json_path(server):
    url, store = server
    code, _ = bulk(url, [({"index": {"_id": 7, "_index": "idx"}}, {"v": 1})])
    assert code == 200 and store.indices["idx"] == {"7": b'{"v":1}'}


@pytest.mark.parametrize(
    "body",
    [
        b'{"index":{"_index":"idx","_id":"1"}}\n',  # action without a doc
        b'{"delete":{"_index":"idx","_id":"1"}}\n{}\n',  # unsupported action
        b'{"index":{"_index":"idx","_id":"1"}}\n{"_source":1}\n',  # metadata field
    ],
)
def test_refuses_bodies_outside_the_protocol(server, body):
    url, store = server
    code, _ = call(f"{url}/_bulk", "POST", body)
    assert code == 400
    assert store.stats()["docs"] == 0


def test_metadata_lookalike_in_a_value_is_accepted(server):
    url, store = server
    code, _ = bulk(url, [({"index": {"_index": "idx", "_id": "1"}}, {"note": '"_id":'})])
    assert code == 200 and len(store.indices["idx"]) == 1


def test_counters_and_reset(server):
    url, _ = server
    pairs = [({"index": {"_index": "idx", "_id": str(i)}}, {"v": i}) for i in range(3)]
    bulk(url, pairs)
    bulk(url, pairs)  # the same body again counts as a retried request
    _, stats = call(f"{url}/_bench/stats")
    assert stats["bulk_requests"] == 2
    assert stats["docs"] == 6
    assert stats["retried_requests"] == 1
    assert stats["max_inflight"] == 1
    assert stats["bulk_bytes"] > 0 and stats["server_busy_s"] > 0
    call(f"{url}/_bench/reset", "POST", b"")
    _, stats = call(f"{url}/_bench/stats")
    assert stats["docs"] == 0 and stats["bulk_requests"] == 0


def test_max_inflight_counts_concurrent_bulks(server):
    url, store = server
    body = b'{"index":{"_index":"idx","_id":"1"}}\n{"v":1}\n'
    start = threading.Barrier(4)

    def send():
        start.wait(timeout=10)
        for _ in range(20):
            call(f"{url}/_bulk", "POST", body)

    threads = [threading.Thread(target=send) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    stats = store.stats()
    assert stats["bulk_requests"] == 80
    assert 1 <= stats["max_inflight"] <= 4


def test_digest_endpoint_matches_doc_digest(server):
    url, store = server
    bulk(url, [({"index": {"_index": "idx", "_id": "a"}}, {"v": 1}), ({"index": {"_index": "idx", "_id": "b"}}, {"v": 2})])
    _, got = call(f"{url}/_bench/digest/idx")
    n, digest = mock_es.doc_digest([("b", b'{"v":2}'), ("a", b'{"v":1}')])
    assert got == {"docs": n, "digest": digest} and n == 2
