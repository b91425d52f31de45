"""Streaming kept-relative debounce: the stateful twin of the batch
lag-form debounce (plans/event_queries.q100_event_debounce).

Semantics difference, and why this op exists: the batch lag-form drops an
event when its gap to the previous RAW event is small — expressible as
one window function, fully parallel. The KEPT-relative form (drop when
within the window of the last SURVIVOR) is a per-key state machine: each
decision depends on the previous decision, so no fixed number of window
passes can express it. That is exactly the arbitrary-stateful-processing
case — ``applyInPandasWithState`` with one `last_kept_us` long per key.

Ordering contract: events are processed in (ts, event_id) order WITHIN a
micro-batch, and batches in arrival order — the standard at-ingest
debouncing assumption. Late (out-of-order) events across batches would
need watermark-held reordering upstream.

State growth at scale (the round-5 finding): with ``NoTimeout`` the
state store holds one entry per user id EVER SEEN, forever — at 100 TB
event volume that store grows without bound and the per-batch
maintenance cost with it (measured: 12.6x wall for 10x rows at 10M
events / 150K keys). The fix is ``expire_state=True``, which bounds the
store with an event-time timeout that is EXACTLY correct for this
operator, not an approximation: debounce state only influences decisions
for events with ``ts <= last_kept + gap``. Once the watermark passes
``last_kept + gap``, every event that can still arrive (watermark
filtering drops older ones before the stateful operator runs) has
``ts > last_kept + gap`` and is kept regardless of state — so dropping
the key's state changes nothing. Expiry therefore yields the identical
survivor set while keeping the live state proportional to users active
within one debounce window of the watermark, not users ever seen.
Pair with the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider``)
so even the bounded working set lives off-heap with incremental
checkpoints (commit effc0e0's streaming bench wired it with --rocksdb).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "event_id long, user_id long, ts_us long"
STATE_SCHEMA = "last_kept_us long"

DEBOUNCE_SECONDS = 600
# Watermark delay for the expire_state form: how much cross-batch event-
# time disorder is tolerated before a row counts as late. The bench's
# time-ordered slices need ~0; real ingest pipelines pick their lateness
# SLA. State lifetime = debounce window + this delay past the newest
# event seen.
EXPIRE_WATERMARK = "2 hours"


def debounce_events(
    events: DataFrame,
    debounce_seconds: int = DEBOUNCE_SECONDS,
    expire_state: bool = False,
    watermark_delay: str = EXPIRE_WATERMARK,
) -> DataFrame:
    """Keep an event only if it is > ``debounce_seconds`` after the last
    KEPT event of the same user; survivors emitted in append mode.

    ``expire_state=True`` watermarks ``ts`` by ``watermark_delay`` and
    expires each key's state once the watermark passes
    ``last_kept + gap`` — identical survivors (see module doc for the
    proof sketch), bounded state store.
    """
    gap_us = int(debounce_seconds) * 1_000_000
    gap_ms = int(debounce_seconds) * 1_000
    expire = bool(expire_state)
    if expire:
        events = events.withWatermark("ts", watermark_delay)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if expire and state.hasTimedOut:
            # watermark passed last_kept + gap: state can no longer
            # change any decision (every non-late future event clears
            # the gap on its own) — drop it.
            state.remove()
            yield pd.DataFrame(
                {"event_id": [], "user_id": [], "ts_us": []}
            ).astype({"event_id": "int64", "user_id": "int64",
                      "ts_us": "int64"})
            return

        last = int(state.get[0]) if state.exists else None
        parts = [p for p in pdfs if len(p)]
        rows: list[tuple[int, int, int]] = []
        if parts:
            pdf = pd.concat(parts, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            us = (pdf["ts"].astype("int64") // 1000).to_numpy()
            ids = pdf["event_id"].to_numpy()
            for i in range(len(pdf)):
                if last is None or us[i] - last > gap_us:
                    rows.append((int(ids[i]), int(key[0]), int(us[i])))
                    last = int(us[i])
        if last is not None:
            state.update((last,))
            if expire:
                # Expire when the watermark passes last_kept + gap, but
                # never arm below the CURRENT watermark: when every row
                # of a key's batch was late-filtered, `last` is the old
                # state value and last + gap may sit below the advanced
                # watermark — setTimeoutTimestamp then throws
                # INVALID_TIMEOUT_TIMESTAMP (caught by the round-7 100M-
                # row run, where multi-hour batch spans advanced the
                # watermark past idle keys). Clamping to watermark + 1 is
                # exactly right semantically: if the watermark already
                # passed last + gap the state is dead by the module-doc
                # proof (every future non-late event clears the gap on
                # its own), so it expires at the earliest legal moment.
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max(last // 1000 + gap_ms + 1, wm_ms + 1)
                )
        yield pd.DataFrame(rows, columns=["event_id", "user_id", "ts_us"])

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if expire
            else GroupStateTimeout.NoTimeout
        ),
    )
