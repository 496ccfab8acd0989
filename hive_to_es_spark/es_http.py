"""Pure-HTTP Elasticsearch bulk sink — the connector-free write path.

The `es` sink branch (pipeline.write_sink) builds the production
elasticsearch-hadoop writer, which cannot execute here (no connector
jar, no cluster). This module speaks the public ES REST bulk protocol
directly — NDJSON ``{"index": {...}}`` action lines POSTed to
``/_bulk`` — so the semantics the reference tool actually lives on
(document identity via the id column, full sync = delete + recreate
index vs incremental append, chunked bulk batches) are EXECUTABLE and
verified against a real HTTP round-trip in tests/test_es_sink.py.

Scale posture: the driver issues only O(1) index-lifecycle calls
(DELETE / PUT / _refresh); every document flows executor-side through
``foreachPartition``, one POST per ``batch_entries`` chunk per task.
Every source is hash-repartitioned to the session's
``defaultParallelism`` tasks on the id column (round-robin when there
is none), so encoding and POSTs use every core even when the input is
one file. All rows of one ``_id`` then meet in one task, which POSTs
them in the order their source split produced them, so a one-split
source keeps last-writer order per ``_id`` (duplicates from different
splits never had an order). The rows sent are counted by an
accumulator inside the tasks (applied once per successful task) and
returned, so the caller's row count is the written count, not a
second execution of the source.

Transient back-pressure (HTTP 429 bulk-queue rejection, 503) retries
the same chunk in place with exponential backoff (the es-hadoop
``es.batch.write.retry.count``/``.wait`` analogue); a permanent
failure or exhausted retries raises, failing the Spark task. Task/job
retry then gives at-least-once delivery, which the ``_id`` mapping
upgrades to effectively-once (same ``_id`` re-index = replace — the
es-hadoop "upsert" analogue): re-delivered chunks overwrite their own
documents, proven by tests/test_es_sink.py's mid-stream-failure
replay. When one task fails the job, ``bulk_index`` waits until Spark
has ended every sibling task of that job before it re-raises, so no
chunk of the failed run can land after the caller sees the failure
(and, say, retries with a DELETE + PUT); that wait is bounded, so a
failed run always raises. Rows never touch the driver.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

_NDJSON = "application/x-ndjson"
_JSON = "application/json"

# Fields ES (>=6.x) treats as document metadata: none may appear in a
# bulk source body ("Field [...] is a metadata field and cannot be
# added inside a document").
_ES_METADATA_FIELDS = frozenset(
    {"_id", "_index", "_type", "_routing", "_version", "_version_type", "_source"}
)


def _jsonable(v):
    """JSON encoder default for Spark row values: ISO dates, float
    decimals, base64 binary — the same surface the connector maps."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    raise TypeError(f"not JSON-serializable: {type(v).__name__}")


def _http(
    method: str,
    url: str,
    body: bytes | None = None,
    *,
    content_type: str = _JSON,
    timeout: float = 30.0,
    ignore: tuple[int, ...] = (),
) -> tuple[int, bytes]:
    """One stdlib HTTP call. Raises on HTTP errors except `ignore`d
    status codes (DELETE of a missing index is a normal first run)."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=body, method=method, headers={"Content-Type": content_type}
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        if e.code in ignore:
            return e.code, e.read()
        raise


# HTTP statuses ES sends for TRANSIENT pressure: 429 = bulk queue
# rejection (the back-pressure signal), 503 = shard/cluster not ready.
# Both mean "same request, later" — the es-hadoop writer retries them
# (es.batch.write.retry.count / .wait); anything else is permanent.
_RETRYABLE_STATUSES = (429, 503)


def _post_bulk(
    es_url: str,
    lines: list[str],
    timeout: float,
    max_retries: int = 4,
    retry_backoff_s: float = 0.5,
) -> None:
    """POST one chunk (a flat [action, doc, action, doc, ...] line
    list) to /_bulk and fail LOUDLY on per-item errors: ES returns 200
    with {"errors": true} when individual actions fail, and a sink
    that swallows that ships silent data loss.

    Back-pressure comes in TWO shapes, and both back off exponentially
    (retry_backoff_s * 2^k) up to max_retries times:

    - whole-request HTTP 429/503 (coordinating node refused the bulk
      before indexing anything) — re-POST the SAME chunk;
    - HTTP 200 with ``errors: true`` where EVERY failed item carries
      status 429 — the per-item ``es_rejected_execution_exception``
      form real ES uses when the bulk queue overflows MID-request:
      some actions were indexed, the rejected ones were not. Here the
      retry body is rebuilt from the REJECTED positions only (the
      response ``items`` array is one entry per action, in request
      order — the public bulk-API contract). Re-sending accepted items
      would duplicate them whenever no ``_id`` mapping exists (ES
      auto-generates a fresh _id per index action), so partial retry
      is the only shape that is safe for keyless sinks; with _ids it
      is also strictly less write amplification.

    Any non-retryable item error raises immediately; retries exhausted
    -> raise -> the Spark task fails, same as any permanent error."""
    import time

    def _sleep_or_raise(attempt: int, what: str) -> None:
        if attempt >= max_retries:
            raise RuntimeError(
                f"bulk rejected with {what} after {attempt + 1} attempts "
                "(back-pressure did not clear)"
            )
        time.sleep(retry_backoff_s * (2**attempt))

    attempt = 0
    while True:
        status, resp = _http(
            "POST",
            f"{es_url}/_bulk",
            ("\n".join(lines) + "\n").encode(),
            content_type=_NDJSON,
            timeout=timeout,
            ignore=_RETRYABLE_STATUSES,
        )
        if status in _RETRYABLE_STATUSES:
            _sleep_or_raise(attempt, f"HTTP {status}")
            attempt += 1
            continue
        parsed = json.loads(resp) if resp else {}
        if not parsed.get("errors"):
            return
        items = parsed.get("items", [])
        failed = [
            (i, item[op])
            for i, item in enumerate(items)
            for op in item
            if item[op].get("error")
        ]
        if failed and all(item.get("status") == 429 for _, item in failed):
            # Partial retry needs the positional alignment to be
            # trustworthy; a response with a different action count is
            # a protocol violation we must not guess around.
            if len(items) != len(lines) // 2:
                raise RuntimeError(
                    f"bulk response has {len(items)} items for "
                    f"{len(lines) // 2} actions; cannot align 429 retry"
                )
            _sleep_or_raise(attempt, "per-item HTTP 429 (bulk queue rejection)")
            lines = [ln for i, _ in failed for ln in lines[2 * i : 2 * i + 2]]
            attempt += 1
            continue
        first = failed[0][1] if failed else None
        raise RuntimeError(f"bulk indexing reported errors: first={first}")


# How long a failed bulk_index may wait for its tasks past Spark's
# kill timeout. The bound is there so a failed run can never hang: if
# the status store misses a job or task end (its listener queue drops
# events when full), bulk_index re-raises at the deadline anyway.
_AWAIT_MARGIN_S = 10.0


def _kill_timeout_s(sc) -> float:
    """spark.python.task.killTimeout in seconds: how long a cancelled
    Python task may keep running before Spark kills its worker. Read
    with Spark's own time-string parser (a bare number is
    milliseconds)."""
    return sc._jsc.sc().conf().getTimeAsMs("spark.python.task.killTimeout", "2s") / 1000


def _await_job_tasks(sc, group: str | None, known: set[int]) -> None:
    """Block until every task of the jobs started in job group `group`
    since `known` was listed has ended, or until the kill timeout plus
    _AWAIT_MARGIN_S has passed. Spark raises a failed job to the
    caller while it is still cancelling the job's other tasks, and a
    cancelled Python task keeps running (and POSTing) until its worker
    finishes or is killed (spark.python.task.killTimeout)."""
    deadline = time.monotonic() + _kill_timeout_s(sc) + _AWAIT_MARGIN_S
    tracker = sc.statusTracker()

    def new_jobs():
        ids = set(tracker.getJobIdsForGroup(group)) - known
        return [j for j in map(tracker.getJobInfo, ids) if j is not None]

    # The status store is fed asynchronously: a job that failed fast
    # may not be listed yet, and the store learns of a job's end only
    # after every event before it (task starts, stage completion).
    # Wait for both first, so no stage's active-task count is read
    # before its tasks are.
    jobs = new_jobs()
    while (not jobs or any(j.status == "RUNNING" for j in jobs)) and (
        time.monotonic() < deadline
    ):
        time.sleep(0.05)
        jobs = new_jobs()
    stages = {s for j in jobs for s in j.stageIds}
    while time.monotonic() < deadline and any(
        (info := tracker.getStageInfo(s)) is not None and info.numActiveTasks > 0
        for s in stages
    ):
        time.sleep(0.05)


def bulk_index(
    df: DataFrame,
    es_url: str,
    index: str,
    *,
    id_column: str | None = None,
    batch_entries: int = 1000,
    mode: str = "overwrite",
    timeout: float = 30.0,
    max_retries: int = 4,
    retry_backoff_s: float = 0.5,
) -> int:
    """Bulk-index `df` into `index` at `es_url` (scheme-qualified,
    e.g. ``http://localhost:9200``); returns the number of documents
    sent.

    mode="overwrite" is the reference's FULL sync: delete the index
    (404 on first run is fine) and recreate it, then load; "append"
    is the incremental sync — existing documents survive, and rows
    whose `id_column` collides with a stored document REPLACE it
    (the index action is create-or-replace), which is what makes
    incremental replays idempotent.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown es_http mode {mode!r}")
    # Real ES rejects ANY metadata field inside a source document, not
    # just _id. _id has designed handling (popped below, value travels
    # in the action line); every other collision is a config error the
    # DRIVER should refuse up front — failing here beats a per-item
    # bulk error storm on the first chunk.
    meta_clash = sorted(set(df.columns) & _ES_METADATA_FIELDS - {"_id"})
    if meta_clash:
        raise ValueError(
            f"column(s) {meta_clash} collide with Elasticsearch metadata "
            "fields; rename them before sinking"
        )
    if mode == "overwrite":
        _http("DELETE", f"{es_url}/{index}", ignore=(404,), timeout=timeout)
        _http("PUT", f"{es_url}/{index}", body=b"{}", timeout=timeout)

    sc = df.sparkSession.sparkContext
    # Spread encoding and POSTs over every core whatever the source's
    # split count (one file is one split). Hashing on the id keeps each
    # _id's rows in one task, in their source order.
    cols = [id_column] if id_column in df.columns else []
    rdd = df.repartition(sc.defaultParallelism, *cols).rdd

    url, idx, idc = es_url, index, id_column
    n, to = int(batch_entries), float(timeout)
    retries, backoff = int(max_retries), float(retry_backoff_s)
    sent = sc.accumulator(0)

    def send_partition(rows) -> None:
        # Executor-side: chunk rows into NDJSON bulk bodies. Only
        # stdlib + this module's helpers are touched (pickled by
        # reference; workers import the repo package).
        buf: list[str] = []
        pending = total = 0

        def flush() -> None:
            nonlocal buf, pending
            if not buf:
                return
            _post_bulk(url, buf, to, retries, backoff)
            buf, pending = [], 0

        for row in rows:
            doc = row.asDict(recursive=True)
            action: dict = {"index": {"_index": idx}}
            if idc is not None and doc.get(idc) is not None:
                action["index"]["_id"] = str(doc[idc])
            # `_id` is an ES METADATA field: real ES (>=6.x) rejects a
            # source document containing it ("Field [_id] is a metadata
            # field..."). The id travels in the action line only; a
            # NORMALLY-named id column stays in the source, matching
            # es-hadoop's es.mapping.id behavior.
            doc.pop("_id", None)
            buf.append(json.dumps(action, separators=(",", ":")))
            buf.append(
                json.dumps(
                    doc, default=_jsonable, sort_keys=True, separators=(",", ":")
                )
            )
            pending += 1
            total += 1
            if pending >= n:
                flush()
        flush()
        sent.add(total)

    group = sc.getLocalProperty("spark.jobGroup.id")
    known = set(sc.statusTracker().getJobIdsForGroup(group))
    try:
        rdd.foreachPartition(send_partition)
    except Py4JJavaError:
        # Only a JVM-side error can come from a submitted job; a
        # Python-side one (say, pickling send_partition) started none.
        _await_job_tasks(sc, group, known)
        raise
    # Make the write visible to immediate readers (the connector does
    # the same when es.batch.write.refresh is on, its default). 404 is
    # normal for a first-run append that delivered zero rows: no bulk
    # request ever auto-created the index, and an empty incremental
    # batch must be a no-op, not a crash.
    _http(
        "POST", f"{es_url}/{index}/_refresh", body=b"", timeout=timeout, ignore=(404,)
    )
    return sent.value
