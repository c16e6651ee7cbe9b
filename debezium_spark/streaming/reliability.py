"""P5 heartbeats, P10 guardrails, P11 retriable-error loop.

References:
* ``HeartbeatImpl`` (debezium-connector-common/src/main/java/io/debezium/
  heartbeat/HeartbeatImpl.java:33,84-92): periodic records on a heartbeat
  topic so offsets advance on quiet tables.
* ``GuardrailValidator`` (.../pipeline/GuardrailValidator.java:30,83-124):
  cap the number of captured collections, warn-or-fail.
* ``BaseSourceTask`` retriable restart (.../connector/common/
  BaseSourceTask.java:486) + ``ErrorHandler``: retriable exceptions restart
  the connector with backoff; fatal ones stop it.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable


class Heartbeat:
    """P5: emit a heartbeat record when an interval elapses without data.

    In the Spark pipeline the sink's checkpoint only advances when a batch
    commits; heartbeats give quiet pipelines a liveness record — appended to
    a JSON-lines log (the heartbeat "topic") from ``foreachBatch``.
    """

    def __init__(self, path: str, interval_ms: int = 1000):
        self.path = path
        self.interval_ms = interval_ms
        self._last_emit_ms = 0
        os.makedirs(os.path.dirname(path), exist_ok=True)

    def due(self) -> bool:
        """Whether the interval has elapsed, so the next ``maybe_emit``
        writes a record; a caller skips gathering a record's fields
        otherwise."""
        return int(time.time() * 1000) - self._last_emit_ms >= self.interval_ms

    def maybe_emit(self, *, pos: int | None, rows_in_batch: int) -> bool:
        """Called once per micro-batch (HeartbeatImpl.heartbeat :84-92):
        emits when the interval has elapsed, recording the current offset
        so downstream consumers see progress even with zero data rows."""
        if not self.due():
            return False
        now = int(time.time() * 1000)
        self._last_emit_ms = now
        with open(self.path, "a") as f:
            f.write(json.dumps({
                "ts_ms": now, "pos": pos, "rows": rows_in_batch,
            }) + "\n")
        return True

    def read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(x) for x in f if x.strip()]


class GuardrailViolation(Exception):
    pass


def validate_guardrails(
    captured_collections: list[str],
    *,
    max_collections: int | None = None,
    mode: str = "fail",  # fail | warn
    warn: Callable[[str], None] = lambda m: None,
) -> list[str]:
    """P10 (GuardrailValidator.java:83-124): enforce the collection cap."""
    if max_collections is not None and len(captured_collections) > max_collections:
        msg = (
            f"guardrail: {len(captured_collections)} captured collections "
            f"exceeds limit {max_collections}"
        )
        if mode == "fail":
            raise GuardrailViolation(msg)
        warn(msg)
    return captured_collections


class RetriableError(Exception):
    """An error the runtime should retry (connection loss, transient I/O)."""


def run_with_retries(
    fn: Callable[[], None],
    *,
    max_retries: int = 3,
    backoff_initial_ms: int = 50,
    backoff_multiplier: float = 2.0,
    retriable: tuple[type[Exception], ...] = (RetriableError,),
    on_retry: Callable[[int, Exception], None] = lambda n, e: None,
) -> int:
    """P11 (BaseSourceTask.java:486): restart on retriable errors with
    exponential backoff; fatal errors propagate immediately. Returns the
    number of retries used."""
    delay = backoff_initial_ms / 1000.0
    for attempt in range(max_retries + 1):
        try:
            fn()
            return attempt
        except retriable as e:  # noqa: PERF203
            if attempt == max_retries:
                raise
            on_retry(attempt + 1, e)
            time.sleep(delay)
            delay *= backoff_multiplier
    raise AssertionError("unreachable")


def effectively_once(
    events,
    id_cols: tuple[str, ...] = ("source.pos",),
    *,
    event_time_col: str = "ts",
    delay: str = "10 minutes",
):
    """At-least-once → effectively-once: drop redelivered events by source
    position with BOUNDED state.

    The reference's delivery contract is at-least-once — after a connector
    restart, events between the last committed offset and the crash point
    are re-emitted and consumers are told to deduplicate by source position
    (the documented duplicate-handling guidance; offsets commit after
    delivery in BaseSourceTask/OffsetStorageWriter). This operator is that
    consumer-side dedup as a stream transform:
    ``dropDuplicatesWithinWatermark`` keyed on the source position, so a
    redelivery inside the watermark ``delay`` is suppressed while the state
    store only retains positions within the watermark — redeliveries can
    only reach back to the last committed offset, which a restart always
    replays promptly, so a delay covering restart-replay lag gives
    exactly-once OUTPUT with O(events-per-delay) state, not O(stream).

    (The MERGE sinks don't need this — an idempotent upsert absorbs
    replays; it's for append-mode consumers: DLQs, event logs, analytics
    appends.)
    """
    from pyspark.sql import functions as F

    added: list[str] = []
    keys: list[str] = []
    for c in id_cols:
        if "." in c:  # nested (e.g. source.pos): dedup needs a top-level col
            alias = "__dedup_" + c.replace(".", "_")
            events = events.withColumn(alias, F.col(c))
            added.append(alias)
            keys.append(alias)
        else:
            keys.append(c)
    out = events.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        keys
    )
    return out.drop(*added)
