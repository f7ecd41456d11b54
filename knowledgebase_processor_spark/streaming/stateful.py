"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no stateful streaming at all (SURVEY.md §2.8); a
web-scale crawl feed needs at least one: tracking per-document mutation
across re-crawls.  ``track_document_versions`` keeps, per url, a running
(version_count, last_fingerprint, first_seen_ts) state and emits one row
per incoming batch telling whether the page content CHANGED since the
last crawl — the streaming primitive behind incremental re-extraction
(only changed pages re-enter the KG pipeline).

Batch-testable: the same transition function is exposed as
``apply_version_state`` for deterministic unit tests, and the streaming
wiring (GroupState, timeouts) is exercised with a memory-sink query.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, LongType, StringType, StructField, StructType,
)

VERSION_OUT = StructType([
    StructField("url", StringType()),
    StructField("version", LongType()),
    StructField("changed", BooleanType()),
    StructField("fingerprint", StringType()),
])

# state: (version_count long, last_fingerprint string)
VERSION_STATE = StructType([
    StructField("version", LongType()),
    StructField("last_fingerprint", StringType()),
])


def _fingerprint(text: str) -> str:
    import hashlib
    norm = " ".join((text or "").lower().split())
    return hashlib.sha256(norm.encode("utf-8")).hexdigest()


def apply_version_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Transition function: one output row per (url, batch)."""
    url = key[0]
    version, last_fp = state.get if state.exists else (0, None)
    rows = []
    batch = pd.concat(list(pdfs), ignore_index=True)
    # process crawls in timestamp order within the batch
    if "warc_ts" in batch.columns:
        batch = batch.sort_values("warc_ts")
    for rec in batch.itertuples(index=False):
        fp = _fingerprint(rec.text)
        changed = fp != last_fp
        if changed:
            version += 1
            last_fp = fp
        rows.append({"url": url, "version": version,
                     "changed": changed, "fingerprint": fp})
    state.update((version, last_fp))
    yield pd.DataFrame(rows, columns=[f.name for f in VERSION_OUT.fields])


def track_document_versions(pages_stream):
    """streaming web_pages -> per-crawl change rows (stateful)."""
    return (pages_stream
            .groupBy("url")
            .applyInPandasWithState(
                apply_version_state,
                outputStructType=VERSION_OUT,
                stateStructType=VERSION_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


# --- streaming politeness dispatch ----------------------------------------

POLITE_OUT = StructType([
    StructField("host", StringType()),
    StructField("url", StringType()),
    StructField("slot", LongType()),
    StructField("fetch_at_ms", LongType()),
])

# state: next free per-host slot
POLITE_STATE = StructType([StructField("next_slot", LongType())])


def apply_politeness_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Transition function for the STREAMING frontier scheduler: the
    batch twin is ``operators/frontier.politeness_schedule`` — here the
    per-host slot counter lives in GroupState, so urls arriving in
    later micro-batches continue the host's fetch sequence instead of
    restarting at slot 0 (the property a long-running crawl needs).
    Within a batch the order is (priority desc, url), matching the
    batch operator; rows must carry a ``delay_ms`` column (join the
    robots Crawl-delay policy upstream)."""
    host = key[0]
    nxt = state.get[0] if state.exists else 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["priority", "url"],
                              ascending=[False, True])
    rows = []
    for rec in batch.itertuples(index=False):
        rows.append({"host": host, "url": rec.url, "slot": nxt,
                     "fetch_at_ms": nxt * int(rec.delay_ms)})
        nxt += 1
    state.update((nxt,))
    yield pd.DataFrame(rows, columns=[f.name for f in POLITE_OUT.fields])


def schedule_frontier_stream(frontier_stream):
    """streaming frontier (host, url, priority, delay_ms) -> per-url
    (host, url, slot, fetch_at_ms) with per-host slots persisting
    across micro-batches (stateful)."""
    return (frontier_stream
            .groupBy("host")
            .applyInPandasWithState(
                apply_politeness_state,
                outputStructType=POLITE_OUT,
                stateStructType=POLITE_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ------------------------------------------------------------- EWMA drift ----
# GroupState transition for a streaming twin of
# operators/ewma.ewma_drift_report: the SAME integer transition
# (operators/ewma.ewma_step — exact, replayable) with the running
# (ewma_micro, n, n_flags) carried in GroupState, so a host's metric
# stream continues its average across micro-batches.  Emits one row per
# micro-batch per key with the post-batch state — the monitoring view a
# drift dashboard tails.

EWMA_ALPHA_PPM = 200000
EWMA_THRESHOLD_PPM = 500000


def apply_ewma_state(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState,
) -> Iterator[pd.DataFrame]:
    from ..operators.ewma import MICRO, ewma_step

    if state.exists:
        ewma, n, flags = state.get
    else:
        ewma, n, flags = None, 0, 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["o", "t"])
    for rec in batch.itertuples(index=False):
        x = int(rec.x)
        if ewma is None:
            ewma = x * MICRO
        else:
            if abs(x * MICRO - ewma) * MICRO > EWMA_THRESHOLD_PPM * ewma:
                flags += 1
            ewma = ewma_step(ewma, x, EWMA_ALPHA_PPM)
        n += 1
    state.update((ewma, n, flags))
    yield pd.DataFrame([{"k": key[0], "n": n, "n_flags": flags,
                         "last_ewma_micro": ewma}])
