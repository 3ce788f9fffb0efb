"""Arbitrary stateful streaming via the Spark 4 ``transformWithState``
API (StatefulProcessor + typed state handles) — the successor surface to
``applyInPandasWithState`` (streaming/stateful.py): instead of one opaque
state tuple per key, a processor composes NAMED typed states (value /
list / map) with independent lifetimes, plus processor-managed timers.

Operator here: **running top-k leaderboard** per group (top spenders per
event type).  MapState keyed by user holds exact integer micro-unit
running totals — the contract's fixed-point discipline, so totals are
bit-identical under any partitioning/replay — and each micro-batch
emits the refreshed top-k rows for the groups that changed (Update
semantics).  A MapState-per-user is exactly what applyInPandasWithState
could NOT express without serializing the whole user map into one tuple
on every trigger.

Scale: state is O(active users per group) per group key, partitioned by
group across executors; the per-batch cost is the batch rows plus one
map scan per UPDATED group for the top-k (k tiny).  Requires the
RocksDB state store provider (state larger than heap spills to disk) —
tests set ``spark.sql.streaming.stateStore.providerClass``.

Runtime note: transformWithState's Python driver worker needs
``google.protobuf`` (its state-server protocol), which this container
lacks — the end-to-end test skips there with that reason, while plan
construction and the processor's accumulation/tie-break logic stay
covered by always-on tests.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

TOPK_OUTPUT = (
    "event_type STRING, rank INT, user_id BIGINT, total_v DOUBLE"
)

# the contract's fixed-point discipline — IMPORT the constants, never
# re-declare them, so a tuning in ops/windows.py cannot silently
# diverge this stream from every batch key using fixed_micros
from snowav_spark.ops.windows import (  # noqa: E402
    FIXED_POINT_DOMAIN as _DOMAIN,
    FIXED_POINT_SCALE as _SCALE,
)


class TopSpendersProcessor(StatefulProcessor):
    """Per-group running top-k by cumulative value (exact micro-units)."""

    def __init__(self, k: int = 3):
        self.k = k

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.totals = handle.getMapState(
            "totals",
            StructType([StructField("user_id", LongType(), True)]),
            StructType([StructField("micros", LongType(), True)]),
        )
        # the current board as ENGINE-MANAGED keyed state (k tiny rows),
        # not a processor attribute: processor instances are pickled into
        # the plan and deserialized fresh per task, so an in-object cache
        # is cold every batch in production (inert), and under any
        # instance reuse it could serve STALE totals after a partition
        # migrates between executors.  ListState is transactional with
        # the MapState it accelerates.  Without the board, every batch
        # re-sorted the ENTIRE map per group, so per-batch latency grew
        # linearly with lifetime distinct users (SCALE.md, round-7
        # stateful-streaming probe: 0.22 s → 0.72 s per batch as state
        # grew 90k → 432k rows at 1M events; flat 0.26–0.33 s with the
        # board; the script was removed, see
        # `git show 7d3674f:tools/probe_tws.py`).
        self.board = handle.getListState(
            "board",
            StructType(
                [
                    StructField("micros", LongType(), True),
                    StructField("user_id", LongType(), True),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        # accumulate the batch per user in pandas, then fold into MapState
        delta: dict[int, int] = {}
        for pdf in rows:
            for uid, val in zip(pdf["user_id"], pdf["value"]):
                if pd.isna(uid) or pd.isna(val):
                    continue
                v = float(val)
                if not (abs(v) < _DOMAIN):
                    continue  # fixed-point domain clamp (NaN fails the <)
                delta[int(uid)] = delta.get(int(uid), 0) + int(
                    math.floor(v * _SCALE)
                )
        # empty board state means COLD (never computed / cleared), which
        # safely degrades to a full rescan — rescan is always correct
        board = [tuple(r) for r in self.board.get()] if self.board.exists() else []
        board_users = {u for _, u in board}
        updated: dict[int, int] = {}
        rescan = not board
        for uid, d in delta.items():
            prev = (
                self.totals.getValue((uid,))[0]
                if self.totals.containsKey((uid,))
                else 0
            )
            total = prev + d  # exact Python int
            if not (-(2**63) <= total < 2**63):
                # the RUNNING total (unlike each clamped row) can pass
                # Long.MAX on a hot enough key — same threshold
                # contract.py's fixed-point note warns about.  Refuse
                # loudly: a LongType state write would wrap silently.
                raise OverflowError(
                    f"top_spenders running total for user {uid} exceeds "
                    "int64 micro-units; rescale FIXED_POINT_SCALE or "
                    "shard the key"
                )
            self.totals.updateValue((uid,), (total,))
            updated[uid] = total
            if d < 0 and uid in board_users:
                # a board member DROPPED: its replacement may be any user
                # in the map, which only a full scan can find
                rescan = True
        # refreshed top-k: exact ints, pinned (-total, uid) tie-break.
        # Incremental merge is EXACT while totals are non-decreasing for
        # non-candidates: a user neither on the old board nor updated has
        # an unchanged total ≤ the old k-th, and the new k-th only grew —
        # so top-k(old board ∪ updated) ≡ top-k(whole map).
        if rescan:
            board = sorted(
                ((v[0], k_[0]) for k_, v in self.totals.iterator()),
                key=lambda t: (-t[0], t[1]),
            )[: self.k]
        else:
            cand = {u: t for t, u in board}
            cand.update(updated)
            board = sorted(
                ((t, u) for u, t in cand.items()),
                key=lambda t: (-t[0], t[1]),
            )[: self.k]
        self.board.put(board)
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(board),
                "rank": list(range(1, len(board) + 1)),
                "user_id": [u for _, u in board],
                "total_v": [m / _SCALE for m, _ in board],
            }
        )

    def close(self) -> None:
        pass


def top_spenders_stream(events: DataFrame, k: int = 3) -> DataFrame:
    """Streaming leaderboard: top-``k`` users by cumulative value per
    event_type, refreshed each micro-batch.  Input columns: event_type,
    user_id, value.  Use outputMode('update') on the sink; the latest
    batch's rows per (event_type, rank) are the current board."""
    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=TopSpendersProcessor(k),
        outputStructType=TOPK_OUTPUT,
        outputMode="Update",
        timeMode="None",
    )
