"""Bounded per-task memo for the Arrow-batched UDF bodies.

The MinHash shingle digests, the SimHash token digests and the BPE word
folds are memoized per task: on Zipfian text (the synthetic corpora) a few
distinct keys carry almost every lookup. On high-cardinality text (every
shingle distinct) an unbounded memo grows with the task's input and can
exhaust the Python worker. :class:`CappedMemo` holds at most ``MEMO_CAP``
entries and drops them all when a miss finds it full: the hot keys come
straight back, and the values never change (each is a pure function of its
key).
"""

from __future__ import annotations

MEMO_CAP = 1 << 16  # entries per memo; a full SimHash memo measures about 22 MB


class CappedMemo(dict):
    """``memo[key]`` is ``fn(key)``, computed on a miss and kept while the
    memo holds fewer than :data:`MEMO_CAP` entries; a miss on a full memo
    clears it first. Hits are plain dict lookups."""

    __slots__ = ("fn",)

    def __init__(self, fn) -> None:
        super().__init__()
        self.fn = fn

    def __missing__(self, key):
        if len(self) >= MEMO_CAP:
            self.clear()
        value = self[key] = self.fn(key)
        return value
