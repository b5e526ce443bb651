"""BPE-merge vocabulary training as DataFrame rounds (r5, VERDICT r4 #8)
— the iterative byte-pair-encoding merge loop (Sennrich et al. 2016;
GPT-2-style greedy left-to-right application) extending the ``vocab_df``
token-frequency table.

Spark shape — the same rounds-are-the-scarce-resource discipline as the
connected-components ``_cc_min_label``:

- word counts: ONE corpus shuffle, up front; everything after iterates
  over the (distinct-word, count) table, which is vocabulary-sized, never
  corpus-sized.
- per round: pair counts are an in-row transform + explode + ONE
  partial-aggregated groupBy; the winning pair is a driver-side argmax of
  one row (constant-size collect, like the k×dim k-means state); the
  merge application is a per-row left fold — ZERO shuffle.
- lineage is cut per round (localCheckpoint) so round k's plan does not
  re-execute rounds 1..k-1.

Determinism: the winning pair maximizes count with ties broken by the
lexicographically SMALLEST (left, right). All three implementations
(this, the DuckDB round-1 oracle, the pure-Python pytest twin) compare
strings in code-point order — UTF-8 byte order (Spark UTF8String, DuckDB
binary collation) equals code-point order by UTF-8's design, and Python
str comparison is code-point order.

Symbols: a word (split on single spaces) starts as its characters via
``regexp_extract_all(word, '.')`` — identical in Spark, DuckDB, and the
Python twin (``re.findall('.', w)``); '.' excludes newlines in all three,
a documented tokenizer rule, and no word-end marker is used.

Reference analog: the load-once trained-model pattern M9
(urdu_recognition_utrnet.py:53-96) — train the merge table once, apply it
corpus-wide ever after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# pair candidates from a symbol array: struct(l, r) for each adjacent pair
# (Spark [] indexing is 0-based; transform's i indexes the slice)
PAIRS_EXPR = (
    "transform(slice(syms, 1, size(syms) - 1), "
    "(x, i) -> struct(x AS l, syms[i + 1] AS r))"
)


def word_counts(docs: DataFrame) -> DataFrame:
    """(syms array<string>, cnt bigint): one corpus shuffle, then the
    training loop never touches the corpus again."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where("w != ''")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(F.expr("regexp_extract_all(w, '.', 0)").alias("syms"), "cnt")
        .where(F.size("syms") > 0)
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """(sym_a, sym_b, pair_count) over the weighted word table — in-row
    pair transform, one partial-aggregated groupBy."""
    return (
        words.select(F.explode(F.expr(PAIRS_EXPR)).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("sym_a"), F.col("p.r").alias("sym_b"))
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
    )


def apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right merge of adjacent (a, b) -> a||b inside each
    symbol array — a per-row fold, zero shuffle. Column lambdas (not SQL
    text) so arbitrary symbols need no literal escaping. The fold itself
    is _fold_merge, shared with the encoder so trainer and tokenizer can
    never diverge."""
    return words.select(
        _fold_merge(F.col("syms"), a, b).alias("syms"), "cnt"
    )


def train_bpe(docs: DataFrame, k: int) -> list[tuple[int, str, str, int]]:
    """k BPE merges over the corpus. Returns
    ``[(merge_rank, sym_a, sym_b, pair_count), ...]`` (rank 1-based, the
    order a tokenizer applies them). Stops early when no pair remains."""
    from engine.session import local_checkpoint_tracked, release_local_checkpoint

    spark = docs.sparkSession
    words, held = local_checkpoint_tracked(word_counts(docs))
    merges: list[tuple[int, str, str, int]] = []
    try:
        for r in range(1, int(k) + 1):
            top = (
                pair_counts(words)
                .orderBy(F.desc("pair_count"), "sym_a", "sym_b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, c = top[0]["sym_a"], top[0]["sym_b"], int(top[0]["pair_count"])
            merges.append((r, a, b, c))
            # Eager local checkpoint materializes round r's word table
            # fully BEFORE round r-1's blocks are released — local
            # checkpoints are RDD-level persists that Dataset.unpersist()
            # cannot free, so without the explicit release every round's
            # table stays pinned in executor memory until JVM GC (k tables
            # held in a long-lived session; the flake test_invariance
            # caught in r6).
            words, new_held = local_checkpoint_tracked(apply_merge(words, a, b))
            release_local_checkpoint(spark, held)
            held = new_held
    finally:
        release_local_checkpoint(spark, held)
    return merges


def _fold_merge(arr, a: str, b: str):
    """The greedy left-to-right (a, b) -> a||b fold on an arbitrary
    array<string> column (shared by apply_merge and encode_fold)."""
    return F.aggregate(
        arr,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def encode_fold(docs: DataFrame, merges) -> DataFrame:
    """Tokenize the corpus with a trained merge list, fully JVM-side:
    per word, chars -> the k merge folds applied in rank order — zero
    shuffle, zero Python. The expression nests k folds, so this is the
    small-k path (demo vocabularies); codegen depth grows with k, which is
    why the Arrow twin below is the production shape for real (30k+)
    vocabularies. Returns (doc_id, tokens array<string>)."""

    def enc_word(w):
        arr = F.regexp_extract_all(w, F.lit("."), F.lit(0))
        for _, a, b, _ in sorted(merges):
            arr = _fold_merge(arr, a, b)
        return arr

    toks = F.flatten(
        F.transform(
            F.filter(F.split("text", " "), lambda w: w != F.lit("")),
            enc_word,
        )
    )
    return docs.select("doc_id", toks.alias("tokens"))


def encode_arrow(docs: DataFrame, merges) -> DataFrame:
    """Arrow-batched tokenizer twin (the scale path for large merge
    tables, where a k-deep fold expression would blow codegen): the merge
    list ships once in the task closure; application is the same greedy
    rank-order fold per word. Differentially pinned equal to
    :func:`encode_fold` (tests/test_bpe.py)."""
    ms = [(a, b) for _, a, b, _ in sorted(merges)]

    def run(batches):
        import re

        import pandas as pd

        from engine.memo import CappedMemo

        # distinct-word memo (r7): corpus words repeat heavily (Zipf), and
        # merges never cross word boundaries, so each distinct word folds
        # ONCE per task (while the capped memo holds it) — the standard
        # tokenizer word-cache (GPT-2's encoder does the same). Semantics
        # unchanged: the fold below is byte-identical per word, pinned
        # fold==arrow differentially.
        def enc_word(w):
            syms = re.findall(".", w)
            for a, b in ms:
                out: list = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                syms = out
            return syms

        memo = CappedMemo(enc_word)

        for pdf in batches:
            toks_col = []
            for text in pdf["text"]:
                if text is None or (isinstance(text, float)):
                    # NULL text (None, or NaN through pandas): the fold
                    # twin's split(NULL) yields NULL tokens — match it
                    toks_col.append(None)
                    continue
                toks: list[str] = []
                for w in str(text).split(" "):
                    if w:
                        toks.extend(memo[w])
                toks_col.append(toks)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tokens": toks_col})

    return docs.select("doc_id", "text").mapInPandas(
        run, "doc_id long, tokens array<string>"
    )


def python_bpe(texts: list[str], k: int) -> list[tuple[int, str, str, int]]:
    """Pure-Python reference twin (pytest oracle for the iterated rounds):
    same tokenizer rule, same tie-break, same greedy fold."""
    import re
    from collections import Counter

    wc: Counter = Counter(w for t in texts for w in t.split(" ") if w)
    syms: Counter = Counter()
    for w, c in wc.items():
        t = tuple(re.findall(".", w))
        if t:
            syms[t] += c
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, int(k) + 1):
        pc: Counter = Counter()
        for t, c in syms.items():
            for i in range(len(t) - 1):
                pc[(t[i], t[i + 1])] += c
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, c))
        nxt: Counter = Counter()
        for t, cnt in syms.items():
            out: list[str] = []
            for s in t:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            nxt[tuple(out)] += cnt
        syms = nxt
    return merges
