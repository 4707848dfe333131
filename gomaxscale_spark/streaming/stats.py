"""Throughput/latency instrumentation — parity with the reference's
`WithStats(period, fn)` hook (/root/reference/gomaxscale.go:120-135,
types.go:200-213): per period, number of events + processing time.

Spark already meters every micro-batch; this listener adapts
`StreamingQueryProgress` into the reference's Stats shape and invokes a
user callback, so a consumer migrating from the reference keeps its
dashboards. It also passes through the trigger's phase breakdown
(``durationMs``), so a reader can tell where a batch's time went."""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: the trigger phases of ``StreamingQueryProgress.durationMs`` carried on
#: Stats; a phase Spark did not run in a trigger reads 0
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


@dataclass(frozen=True)
class Stats:
    """The reference's Stats struct (types.go:200-213), plus the
    trigger's per-phase milliseconds (one entry per name in PHASES)."""

    number_of_events: int
    processing_time_ms: float
    durations_ms: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(PHASES, 0.0), hash=False
    )

    @property
    def events_per_second(self) -> float:
        if self.processing_time_ms <= 0:
            return 0.0
        return self.number_of_events / (self.processing_time_ms / 1000.0)


def _pos(offset: str) -> int | None:
    """The ``pos`` event counter of a source offset, if it has one."""
    try:
        parsed = json.loads(offset)
    except ValueError:
        return None
    pos = parsed.get("pos") if isinstance(parsed, dict) else None
    return pos if isinstance(pos, int) else None


def _events_in(progress) -> int:
    """Events a trigger consumed. A source whose offsets carry a ``pos``
    counter (``maxscale_cdc``) reports ``end.pos − start.pos``: Spark's
    ``numInputRows`` counts rows scanned, which double-counts a batch a
    ``foreachBatch`` sink reads twice. Other sources report
    ``numInputRows``."""
    total = 0
    for src in progress.sources:
        end = _pos(src.endOffset) if src.endOffset else None
        if end is None:
            total += int(src.numInputRows)
            continue
        # a query's first batch has no start offset: it starts at pos 0
        start = _pos(src.startOffset) if src.startOffset else None
        total += end - (start or 0)
    return total


class StatsListener(StreamingQueryListener):
    """StreamingQueryListener → WithStats callback adapter."""

    def __init__(self, callback: Callable[[Stats], None]) -> None:
        self._callback = callback
        self.totals = Stats(0, 0.0)

    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        p = event.progress
        durations = p.durationMs or {}
        stats = Stats(
            _events_in(p),
            float(durations.get("triggerExecution", 0)),
            {k: float(durations.get(k, 0)) for k in PHASES},
        )
        self.totals = Stats(
            self.totals.number_of_events + stats.number_of_events,
            self.totals.processing_time_ms + stats.processing_time_ms,
            {k: self.totals.durations_ms[k] + stats.durations_ms[k] for k in PHASES},
        )
        self._callback(stats)

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass
