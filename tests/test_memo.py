"""The per-task memos of the Arrow UDF bodies stay bounded on
high-cardinality (non-Zipfian) input, and capping them changes no output."""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from engine import bpe, memo

N_DOCS, N_TOKS, CAP = 300, 50, 100  # ~14k distinct shingles, words, tokens


class _Capture:
    """Stands in for a DataFrame and keeps the mapInPandas body."""

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _unique_docs() -> pd.DataFrame:
    # every token distinct: no shingle, token or word repeats
    return pd.DataFrame({
        "doc_id": list(range(N_DOCS)),
        "text": [
            " ".join(f"t{d}x{i}ab" for i in range(N_TOKS)) for d in range(N_DOCS)
        ],
    })


def _body(name: str, monkeypatch):
    monkeypatch.setattr(entry_mod, "_par_docs_text", lambda spark, sf: _Capture())
    if name == "bpe":
        return bpe.encode_arrow(_Capture(), [(1, "a", "b", 9), (2, "ab", "x", 5)]).fn
    query = {"minhash": entry_mod._q_minhash_fast, "simhash": entry_mod._q_simhash_fast}
    return query[name](None, "").fn


def _run(fn) -> pd.DataFrame:
    docs = _unique_docs()
    batches = [docs.iloc[i : i + 64] for i in range(0, N_DOCS, 64)]
    return pd.concat(list(fn(iter(batches))), ignore_index=True)


def test_capped_memo_clears_when_full(monkeypatch):
    monkeypatch.setattr(memo, "MEMO_CAP", 3)
    m = memo.CappedMemo(str.upper)
    assert [m[k] for k in "abcdab"] == list("ABCDAB")
    assert len(m) <= 3


@pytest.mark.parametrize("name", ["minhash", "simhash", "bpe"])
def test_udf_memo_is_capped_on_high_cardinality_input(name, monkeypatch):
    want = _run(_body(name, monkeypatch))  # default cap: never reached here

    peaks: list[list[int]] = []

    class Recording(memo.CappedMemo):
        def __init__(self, fn):
            super().__init__(fn)
            self.peak = [0]
            peaks.append(self.peak)

        def __missing__(self, key):
            value = super().__missing__(key)
            self.peak[0] = max(self.peak[0], len(self))
            return value

    monkeypatch.setattr(memo, "CappedMemo", Recording)
    monkeypatch.setattr(memo, "MEMO_CAP", CAP)
    got = _run(_body(name, monkeypatch))

    assert peaks == [[CAP]]  # one memo per task, filled to the cap, no further
    pd.testing.assert_frame_equal(got, want)
