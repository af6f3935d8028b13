"""Pure-Python references the output checks compare against.

Nothing here imports the library: the BPE trainer is the classic
sequential algorithm with the library's documented tie-break (count
descending, then ``"left right"`` ascending), and the packer is a plain
first-fit-decreasing loop with the documented shard and order rules.
"""

from __future__ import annotations

import collections
import re

_SPLIT = re.compile(r"[^a-z0-9]+")


def words(text: str) -> list[str]:
    """The library's default BPE pretokenizer: lowercase ASCII alnum runs."""
    return [w for w in _SPLIT.split(text.strip().lower()) if w]


def bpe_train(
    word_counts: dict[str, int], n_merges: int
) -> tuple[list[tuple[str, str, int]], dict[str, list[str]]]:
    """Learn ``n_merges`` merges; returns the merge list and each
    word's final segmentation."""
    vocab = {w: list(w) for w in word_counts}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: collections.Counter = collections.Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += word_counts[w]
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        merges.append((a, b, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def ffd_windows(
    doc_tokens: dict[int, int], context: int, shards: int
) -> dict[tuple[int, int], list[int]]:
    """First-fit-decreasing packing: docs go to shard ``doc_id % shards``,
    are placed in (tokens desc, id asc) order into the lowest-numbered
    window (1-based) with room. Returns ``{(shard, win): sorted doc ids}``."""
    by_shard: dict[int, list[int]] = collections.defaultdict(list)
    for d in doc_tokens:
        by_shard[d % shards].append(d)
    out: dict[tuple[int, int], list[int]] = {}
    for shard, docs in by_shard.items():
        fills: list[int] = []
        for d in sorted(docs, key=lambda d: (-doc_tokens[d], d)):
            n = doc_tokens[d]
            w = next((i for i, f in enumerate(fills) if context - f >= n), None)
            if w is None:
                fills.append(n)
                w = len(fills) - 1
            else:
                fills[w] += n
            out.setdefault((shard, w + 1), []).append(d)
    return {k: sorted(v) for k, v in out.items()}
