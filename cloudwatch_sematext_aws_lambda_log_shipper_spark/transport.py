"""Injectable bulk-delivery transport for the ``_bulk`` sink.

The reference buffers parsed logs and POSTs them to Elasticsearch in
bulks of LOGS_BULK_SIZE=100 every 2000 ms via logsene-js, which keeps
failed bulks buffered and resends them (shipper.js:29 xhr transport,
shipper.js:143-148 shipLogs/clearLogBuffer; serverless.yml:36-37 bulk
knobs). The engine mirrors that delivery contract behind a SEAM:

- :class:`BulkTransport` — ``send(key, payload)`` for one bulk, where
  ``key`` = (batch_id, partition_id, chunk_idx) is the bulk's
  IDEMPOTENCY key: a transport may receive the same (key, payload)
  again after a failure or a Spark task/micro-batch retry, and must
  make redelivery a safe overwrite/no-op.
- :class:`FileBulkTransport` — today's concrete transport: one NDJSON
  file per bulk named by the key, atomic tmp+rename publish, so
  re-sends are byte-identical overwrites (exactly-once on disk). An
  HTTP transport drops in here with a session/connection per PARTITION
  (the factory runs executor-side) and the ES ``_bulk`` endpoint —
  nothing above the seam changes.
- :func:`ship_bulks` — the distributed send path: each executor
  partition chunks its docs into <= bulk_size payloads and pushes them
  through its own transport instance with bounded retry + exponential
  backoff (the logsene-js resend loop, made explicit). A bulk that
  still fails after ``max_retries`` raises, failing the Spark task —
  task retry / foreachBatch redelivery then re-sends THE SAME keys,
  which the idempotency contract absorbs.

Scale: no driver collect anywhere — chunking and sending run inside
mapInPandas per partition; the returned frame is one stats row per
partition (bulk/doc counts), tiny at any corpus size.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame


class TransportError(Exception):
    """A bulk send failed; the caller may retry with the same key."""


class BulkTransport:
    """One `send` per bulk. Implementations must be constructible
    executor-side (use a zero-arg factory) and treat ``key`` as an
    idempotency key: redelivery of the same key must not duplicate."""

    def send(self, key: tuple[int, int, int], payload: bytes) -> None:
        raise NotImplementedError

    def close(self) -> None:  # pragma: no cover - optional hook
        pass


class FileBulkTransport(BulkTransport):
    """NDJSON-file transport: bulk (b, p, i) lands atomically at
    ``dir/bulk-{b:06d}-{p:05d}-{i:05d}.ndjson``. Deterministic names
    make retries overwrites, never duplicates."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)

    def _path(self, key: tuple[int, int, int]) -> str:
        b, p, i = key
        return os.path.join(
            self.out_dir, f"bulk-{b:06d}-{p:05d}-{i:05d}.ndjson"
        )

    def send(self, key: tuple[int, int, int], payload: bytes) -> None:
        final = self._path(key)
        tmp = f"{final}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, final)


class FlakyFileTransport(BulkTransport):
    """Fault-injection transport for delivery testing: each key's first
    ``fail_times`` sends raise TransportError, then it delegates to
    :class:`FileBulkTransport`. Attempt counts live on disk so the
    counts are shared across executor worker processes — use it to
    prove a pipeline's retry/idempotency story end-to-end (the
    transport analog of the DLQ's corrupt-record fixtures)."""

    def __init__(self, out_dir: str, fail_times: int):
        self.inner = FileBulkTransport(out_dir)
        self.fail_dir = os.path.join(out_dir, "_attempts")
        os.makedirs(self.fail_dir, exist_ok=True)
        self.fail_times = fail_times

    def send(self, key: tuple[int, int, int], payload: bytes) -> None:
        marker = os.path.join(self.fail_dir, f"{key[0]}-{key[1]}-{key[2]}")
        try:
            with open(marker) as f:
                n = int(f.read() or 0)
        except FileNotFoundError:
            n = 0
        with open(marker, "w") as f:
            f.write(str(n + 1))
        if n < self.fail_times:
            raise TransportError(f"injected failure #{n + 1} for {key}")
        self.inner.send(key, payload)


class HttpBulkTransport(BulkTransport):
    """HTTP transport for an Elasticsearch-style ``_bulk`` endpoint —
    the logsene-js xhr path (shipper.js:29) made concrete with stdlib
    urllib (no dependencies). Each bulk POSTs as
    ``application/x-ndjson``; the idempotency key travels as an
    ``X-Bulk-Key: {batch}-{partition}-{chunk}`` header so a receiver
    can treat redeliveries (task retries, backoff resends) as
    overwrites. Any non-2xx response or socket-level failure raises
    :class:`TransportError`, engaging the seam's bounded
    retry/backoff.

    A stock ES ``_bulk`` endpoint ignores that header, so every
    redelivery indexes the docs again. That includes a foreachBatch
    retry after a log-table or DLQ write failed: ``LogSink.ship`` does
    not hold the bulk back until the table writes land, so the retry
    resends bulks that were already delivered. The docs need a
    deterministic ``_id`` to close this (ROADMAP item 1).

    Construct executor-side via a zero-arg factory (one connection
    context per partition); ``extra_headers`` carries auth tokens the
    way logsene-js sends the app token."""

    def __init__(
        self,
        url: str,
        timeout_s: float = 10.0,
        extra_headers: dict[str, str] | None = None,
    ):
        self.url = url if url.endswith("/_bulk") else url.rstrip("/") + "/_bulk"
        self.timeout_s = timeout_s
        self.extra_headers = dict(extra_headers or {})

    def send(self, key: tuple[int, int, int], payload: bytes) -> None:
        import urllib.error
        import urllib.request

        b, p, i = key
        headers = {
            "Content-Type": "application/x-ndjson",
            "X-Bulk-Key": f"{b}-{p}-{i}",
            **self.extra_headers,
        }
        req = urllib.request.Request(
            self.url, data=payload, method="POST", headers=headers
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                status = getattr(resp, "status", 200)
                if not 200 <= status < 300:
                    raise TransportError(f"bulk {key}: HTTP {status}")
        except urllib.error.HTTPError as e:
            raise TransportError(f"bulk {key}: HTTP {e.code}") from e
        except (urllib.error.URLError, OSError) as e:
            raise TransportError(f"bulk {key}: {e}") from e


def _send_with_retry(
    transport: BulkTransport,
    key: tuple[int, int, int],
    payload: bytes,
    max_retries: int,
    backoff_s: float,
) -> int:
    """Bounded retry with exponential backoff (logsene-js keeps failed
    bulks and resends; here the resend is immediate-with-backoff and
    bounded — beyond the bound the task fails and Spark's retry
    redelivers the same idempotent keys). Returns attempts used."""
    attempt = 0
    while True:
        try:
            transport.send(key, payload)
            return attempt + 1
        except TransportError:
            attempt += 1
            if attempt > max_retries:
                raise
            time.sleep(backoff_s * (2 ** (attempt - 1)))


def ship_bulks(
    df: DataFrame,
    transport_factory,
    bulk_size: int = 100,
    batch_id: int = 0,
    max_retries: int = 3,
    backoff_s: float = 0.05,
) -> dict:
    """Chunk the parsed-log frame into ``_bulk`` payloads (bulk_size
    docs per POST — LOGS_BULK_SIZE parity) and deliver every bulk
    through ``transport_factory()`` with retry/backoff, entirely
    executor-side. Returns {"n_bulks", "n_docs", "n_partitions",
    "attempts"} aggregated from the per-partition stats rows.

    Determinism of keys: (batch_id, spark partition id, running chunk
    index within the partition) — a task retry re-walks the same
    partition in the same order, so every re-sent bulk carries the key
    it had before, and idempotent transports dedupe by construction."""
    from pyspark.sql import functions as F

    from .sink import to_bulk_ndjson

    docs = to_bulk_ndjson(df).withColumn("_pid", F.spark_partition_id())

    def run(batches):
        import pandas as pd

        transport = transport_factory()
        buf: list[str] = []
        pid = -1
        idx = 0
        n_docs = 0
        attempts = 0

        def flush():
            nonlocal idx, attempts
            if not buf:
                return
            payload = ("\n".join(buf) + "\n").encode("utf-8")
            attempts += _send_with_retry(
                transport, (batch_id, pid, idx), payload,
                max_retries, backoff_s,
            )
            idx += 1
            buf.clear()

        for pdf in batches:
            for v, p in zip(pdf["value"], pdf["_pid"]):
                pid = int(p)
                buf.append(v)
                n_docs += 1
                if len(buf) >= bulk_size:
                    flush()
        flush()
        transport.close()
        yield pd.DataFrame(
            {
                "pid": [pid],
                "n_bulks": [idx],
                "n_docs": [n_docs],
                "attempts": [attempts],
            }
        )

    stats = docs.mapInPandas(
        run, "pid int, n_bulks long, n_docs long, attempts long"
    ).collect()
    return {
        "n_bulks": sum(r["n_bulks"] for r in stats),
        "n_docs": sum(r["n_docs"] for r in stats),
        "n_partitions": sum(1 for r in stats if r["n_docs"] > 0),
        "attempts": sum(r["attempts"] for r in stats),
    }
