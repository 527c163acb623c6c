"""Custom stateful streaming operator: session-gap aggregation via
applyInPandasWithState.

The batch twin is queries.events_sessionize (30-min-gap sessions); this is
the continuous form with explicit per-key state — the engine pattern for
any custom stateful operator the built-in windowed aggregations can't
express (reference has no streaming surface, SURVEY.md §2.10).

Correctness under out-of-order arrival (file sources order microbatches by
modification time, not event time): events are BUFFERED in state, and a
session is finalized only when the event-time watermark passes
session_end + gap — at that point no on-time event can extend it, and
later events are late-by-contract and ignored. State per key is bounded:
only events belonging to not-yet-finalizable sessions are retained
(everything older is emitted and evicted), so memory is O(events within
gap + watermark delay of the key's max timestamp).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

OUT_SCHEMA = ("user_id long, session_start double, session_end double, "
              "n_events long, sum_value double")
STATE_SCHEMA = "ts array<double>, vs array<double>"


def sessionize_stream(events: DataFrame, gap_minutes: int = 30,
                      watermark: str = "1 hour") -> DataFrame:
    """events(user_id, ts timestamp, value double) stream → closed-session
    rows (user_id, session_start, session_end, n_events, sum_value)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = gap_minutes * 60.0

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        user_id = key[0]
        buf_ts: list[float] = []
        buf_vs: list[float] = []
        if state.exists:
            ts0, vs0 = state.get
            buf_ts, buf_vs = list(ts0), list(vs0)
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf):
                    buf_ts.extend(t.timestamp() for t in pdf["ts"])
                    buf_vs.extend(float(v) for v in pdf["value"])
        wm = state.getCurrentWatermarkMs() / 1000.0
        closed = []
        if buf_ts:
            order = sorted(range(len(buf_ts)), key=lambda i: buf_ts[i])
            ts = [buf_ts[i] for i in order]
            vs = [buf_vs[i] for i in order]
            # split into gap-sessions, finalize those sealed by the watermark
            keep_ts: list[float] = []
            keep_vs: list[float] = []
            i = 0
            n_ev = len(ts)
            while i < n_ev:
                j = i
                while j + 1 < n_ev and ts[j + 1] - ts[j] <= gap:
                    j += 1
                if ts[j] + gap < wm:
                    closed.append(
                        (user_id, ts[i], ts[j], j - i + 1, float(sum(vs[i:j + 1])))
                    )
                else:
                    keep_ts.extend(ts[i:j + 1])
                    keep_vs.extend(vs[i:j + 1])
                i = j + 1
            if keep_ts:
                state.update((keep_ts, keep_vs))
                # wake up when the watermark can seal the open session
                timeout_ms = int((keep_ts[-1] + gap) * 1000) + 1
                state.setTimeoutTimestamp(
                    max(timeout_ms, int(state.getCurrentWatermarkMs()) + 1)
                )
            else:
                state.remove()
        else:
            state.remove()
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end",
                     "n_events", "sum_value"],
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def revisit_stream(pages: DataFrame, url_col: str = "url",
                   ts_col: str = "warc_ts", content_col: str = "text",
                   watermark: str = "1 hour") -> DataFrame:
    """Streaming revisit detection: classify each arriving fetch as
    (is_first, changed) against the url's PREVIOUS fetch — the
    continuous twin of spark.crawl.version_changes, i.e. the
    classification a crawler stamps into CDX/WARC revisit records at
    fetch time.

    State per url is (last_ts, last_digest) — two numbers, independent
    of payload size (digest = md5/64-bit-truncated of the content, the
    same equality contract as the batch digest lag). Within a microbatch
    fetches are ordered by event time; across microbatches
    classification follows arrival order, which equals event-time order
    whenever the source delivers fetches in crawl order (the WARC/CDX
    convention) — a fetch arriving with ts older than the url's state is
    classified against the newest-seen fetch and flagged out_of_order
    instead of silently misclassified.

    Output: (url, ts, is_first, changed, out_of_order)."""
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"{url_col} string, ts double, is_first boolean, "
                  "changed boolean, out_of_order boolean")
    state_schema = "last_ts double, last_fp long"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        url = key[0]
        last_ts, last_fp = state.get if state.exists else (None, None)
        urls, tss, firsts, changeds, oods = [], [], [], [], []
        batch = [pdf for pdf in pdfs if len(pdf)]
        rows = []
        for pdf in batch:
            for t, c in zip(pdf["ts"], pdf[content_col]):
                rows.append((t.timestamp(), c))
        rows.sort(key=lambda r: r[0])
        for t, c in rows:
            fp = int.from_bytes(
                hashlib.md5(str(c).encode()).digest()[:8], "little",
                signed=True)
            urls.append(url)
            tss.append(t)
            firsts.append(last_fp is None)
            changeds.append(last_fp is not None and fp != last_fp)
            oods.append(last_ts is not None and t < last_ts)
            if last_ts is None or t >= last_ts:
                last_ts, last_fp = t, fp
        if last_ts is not None:
            state.update((float(last_ts), int(last_fp)))
        yield pd.DataFrame({url_col: pd.Series(urls, dtype="object"),
                            "ts": pd.Series(tss, dtype="float64"),
                            "is_first": pd.Series(firsts, dtype="bool"),
                            "changed": pd.Series(changeds, dtype="bool"),
                            "out_of_order": pd.Series(oods, dtype="bool")})

    keyed = (pages.withColumnRenamed(ts_col, "ts")
             .withWatermark("ts", watermark)
             .groupBy(url_col))
    return keyed.applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout,
    )
