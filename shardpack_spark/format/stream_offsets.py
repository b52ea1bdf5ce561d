"""Offset / floor / admission-control discipline for listing-backed
stream sources: ``format("warc")`` over crawl files and the shardpack
stream reader over manifest-visible shards both delegate to
:class:`CappedListingOffsets`.

The Python DataSourceStreamReader API gives ``latestOffset()`` no start
hint (unlike Kafka's ``latestOffset(start, limit)``), which makes capped
admission control subtle across restarts:

- **In-session**, a capped offset only ever moves forward: ``_last`` is
  the high-watermark of offsets handed out, raised further by every
  ``partitions()``/``commit()`` call.
- **On restart**, the engine does NOT call ``initialOffset()`` and the
  fresh reader has no idea where the checkpoint sits.  A capped
  ``latestOffset`` computed from empty state can sort BELOW the
  committed watermark; the floor rule (``partitions`` keeps the engine's
  own start offset as a consumed floor) makes that batch EMPTY rather
  than a duplicate — but the engine still logs the regressed offset as
  the newest batch end, and if the process dies before a later batch
  moves past the old watermark, the NEXT restart resumes from the
  regressed offset and re-delivers everything between them.

The fix: the first ``latestOffset`` of a reader that never saw
``initialOffset`` returns the UNCAPPED latest — monotone by
construction, since listings only grow — and capping resumes from the
second trigger, when ``partitions()`` has taught us the true floor.

**Which batches are therefore uncapped** (``latest()`` cannot tell these
apart — both reach it unprimed):

- the first batch after a RESTART (the engine skips ``initialOffset``);
- the FIRST pass of a fresh ``availableNow`` query: availableNow
  snapshots ``latestOffset()`` BEFORE calling ``initialOffset()``, so
  the initial backlog lands in one unbounded batch and
  ``max_*_per_batch`` takes effect from the second pass on.  A caller
  doing a bulk first ingest who needs bounded batches should run the
  backfill with a micro-batch trigger (capped from batch one, since
  that path calls ``initialOffset`` first) and switch to availableNow
  for steady state.

Cost: one unbounded catch-up batch in those two cases; correctness over
admission, because this API offers no third option.
"""

from __future__ import annotations


class CappedListingOffsets:
    """State machine behind initialOffset/latestOffset/partitions/commit
    for a source whose offsets are lexicographically ordered names."""

    def __init__(self, list_all, max_per_batch: int, starting_position: str):
        self._list_all = list_all  # () -> sorted list of names/paths
        self.max_per_batch = max_per_batch
        self.starting_position = starting_position
        self._last = ""
        self._floor = ""
        self._primed = False  # True once a safe floor is knowable

    def initial(self) -> dict:
        # only fresh queries reach here — capping from "" cannot regress.
        # NOTE: availableNow snapshots via latestOffset() BEFORE calling
        # this, so never derive the start from _last (a prior unprimed
        # latest() may already have raised it); earliest is literally ""
        self._primed = True
        if self.starting_position == "latest":
            names = self._list_all()
            self._last = names[-1] if names else ""
            return {"last": self._last}
        return {"last": ""}

    def latest(self) -> dict:
        names = self._list_all()
        if not self.max_per_batch:
            return {"last": names[-1] if names else ""}
        if not self._primed:
            # restarted query (engine skipped initialOffset): see module
            # doc — one uncapped offset, never a regression
            self._primed = True
            if names:
                self._last = max(self._last, names[-1])
            return {"last": self._last}
        pending = [n for n in names if n > self._last]
        if pending:
            self._last = pending[: self.max_per_batch][-1]
        return {"last": self._last}

    def advance(self, start: dict, end: dict) -> tuple[str, str]:
        """Call from partitions(); returns (lo, hi) with the floor rule
        applied — emit only names n with lo < n <= hi."""
        self._primed = True
        lo, hi = start.get("last", ""), end.get("last", "")
        self._floor = max(self._floor, lo)
        self._last = max(self._last, self._floor, hi)
        return max(lo, self._floor), hi

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, end.get("last", ""))
        self._last = max(self._last, self._floor)
