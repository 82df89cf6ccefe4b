"""Byte-pair-encoding merge training AND encoding over a distributed corpus.

The reference pipeline has no tokenizer surface at all; this is the
missing trainer+encoder pair of the §2.13 token-counting story (the
BPE-ish regex pre-tokenizer in operators/textops.py is the
pre-tokenization half).

Scale shape — the standard BPE factorization:

- The corpus reduces to the WORD-FREQUENCY table in one scan + one
  shuffle. Everything after runs on that sufficient statistic: pair
  statistics are weighted by word counts, never by re-reading text.
- The merge loop then runs in ONE executor task over that statistic
  (see ``bpe_train_merges``): one Spark job for any n_merges, no
  per-round collect.
- Pair counts are maintained incrementally across merge rounds: merging
  (l, r) only changes the adjacency multiset of words that CONTAIN the
  adjacent pair, so each round subtracts the old pair contributions of
  those words, rewrites them greedily left-to-right, and adds their new
  ones; unaffected words are never touched. Per-round cost tracks the
  merged pair's support, not the vocabulary size, which is what makes
  production merge counts (32k) feasible.

Encoding (``bpe_encode_words``) applies a trained merge table to a
word column: merges applied in rank order, each greedily
left-to-right — provably equivalent to the iterate-lowest-rank-pair
formulation because a merge can only create adjacencies involving its
own (new) symbol, so no earlier-rank pair occurrence can appear after
its rank has been processed. The per-batch encode is cached per
distinct word; the intended scale pattern is encode-the-vocabulary,
broadcast-join back onto the corpus (see queries/text.py
bpe_encode_token_counts).

Determinism: argmax ties break on (count desc, left asc, right asc);
greedy application consumes overlapping occurrences left-to-right
("aaaa" with merge (a,a) -> ["aa","aa"]), matching the de-facto
standard (Sennrich et al., ACL'16) reference implementation. The
iterative rewrite is not SQL-expressible, so the trainer registry
entry is rows-only; tests pin trainer and encoder against an
independent pure-Python implementation on adversarial fixtures, and
the encoder's fixed-merge-table query IS fully oracled via the
sequential-replace formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _greedy_rewrite(syms: list, left: str, right: str) -> list:
    """Greedy left-to-right single-merge rewrite (shared helper)."""
    out = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_local(wordcounts: dict, n_merges: int) -> list:
    """In-memory BPE trainer over a word-frequency dict with indexed
    incremental pair counts: per merge, only words CONTAINING the
    merged pair are rewritten (pair -> words inverted index, kept as a
    superset — stale entries are corrected by the exact subtract/add
    of each rewritten word's adjacency multiset). Per-round cost is
    argmax over live pairs + rewrite of the pair's support — the
    update structure production trainers use for 32k-merge runs.
    Determinism: (count desc, left asc, right asc) argmax; greedy
    left-to-right application."""
    state = {w: list(w) for w in wordcounts}
    pc: dict = {}
    index: dict = {}
    for w, syms in state.items():
        c = wordcounts[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pc[p] = pc.get(p, 0) + c
            index.setdefault(p, set()).add(w)

    merges = []
    for rank in range(1, n_merges + 1):
        best = None
        for p, c in pc.items():
            if c <= 0:
                continue
            key = (-c, p)
            if best is None or key < best:
                best = key
        if best is None:
            break
        cnt, (left, right) = -best[0], best[1]
        merges.append((rank, left, right, left + right, cnt))
        for w in list(index.get((left, right), ())):
            syms = state[w]
            c = wordcounts[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] -= c
            new = _greedy_rewrite(syms, left, right)
            state[w] = new
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pc[p] = pc.get(p, 0) + c
                index.setdefault(p, set()).add(w)
    return merges


def bpe_train_merges(words: DataFrame, n_merges: int) -> DataFrame:
    """Train ``n_merges`` BPE merges from a (word, cnt) frequency table.

    Returns one row per learned merge:
    (merge_rank, left_sym, right_sym, merged_sym, pair_count) — the
    trained artifact ``bpe_encode_words`` loads, in learned order.
    Stops early if the vocabulary runs out of adjacent pairs.

    The distributed work is reducing the corpus to the word-frequency
    table; that sufficient statistic (even web-scale: ~10M words ≈
    hundreds of MB) then flows into ONE executor task where the whole
    merge loop runs as a single Arrow-batched pass with indexed
    incremental pair counts (:func:`_train_local`) — one Spark job for
    ANY n_merges, no per-round collect. This is how
    production tokenizer trainers are built; tests pin it against an
    independent reference trainer.
    """
    import pandas as pd

    def run(batches):
        wc: dict = {}
        for pdf in batches:
            for w, c in zip(pdf["word"], pdf["cnt"]):
                wc[w] = wc.get(w, 0) + int(c)
        merges = _train_local(wc, n_merges)
        yield pd.DataFrame(
            {
                "merge_rank": [m[0] for m in merges],
                "left_sym": [m[1] for m in merges],
                "right_sym": [m[2] for m in merges],
                "merged_sym": [m[3] for m in merges],
                "pair_count": [m[4] for m in merges],
            }
        )

    return words.select("word", F.col("cnt").cast("long").alias("cnt")).coalesce(
        1
    ).mapInPandas(
        run,
        schema="merge_rank int, left_sym string, right_sym string, merged_sym string, pair_count long",
    )


def encode_word(word: str, merges: list) -> list:
    """Pure-Python single-word BPE encode: split to characters, apply
    ``merges`` — a list of (left, right) in rank order — each greedily
    left-to-right. Shared by the Arrow batch encoder below and by
    driver-side callers that need to tokenize a handful of strings."""
    syms = list(word)
    for left, right in merges:
        if len(syms) < 2:
            break
        out = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode_words(words: DataFrame, merges: list) -> DataFrame:
    """Encode a column of words with a trained merge table.

    ``merges``: list of (left, right) pairs in rank order (e.g.
    ``[(r.left_sym, r.right_sym) for r in merges_df.orderBy("merge_rank").collect()]``
    — a tokenizer artifact is vocabulary-sized metadata, so collecting
    it to the driver and closing over it is the broadcast pattern, not
    a scale smell).

    Adds ``tokens array<string>`` and ``n_tokens int``. Arrow-batched;
    each batch encodes every DISTINCT word once (dict cache) — callers
    should feed the distinct vocabulary and join back onto the corpus
    so Python cost is bounded by vocabulary size (see
    queries/text.py bpe_encode_token_counts for the canonical shape).
    """
    import pandas as pd

    merge_list = list(merges)
    cols = words.columns

    def run(batches):
        cache: dict = {}
        for pdf in batches:
            toks = []
            for w in pdf["word"]:
                t = cache.get(w)
                if t is None:
                    t = encode_word(w, merge_list)
                    cache[w] = t
                toks.append(t)
            out = pdf.copy()
            out["tokens"] = toks
            out["n_tokens"] = [len(t) for t in toks]
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in words.schema.fields)
    return words.mapInPandas(
        run, schema=f"{schema}, tokens array<string>, n_tokens int"
    )
