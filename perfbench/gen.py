"""Seeded input generator for the benchmark.

Everything a workload reads is built here from one integer seed with
numpy and written to parquet before any timing starts; the same seed
always yields byte-identical inputs. Ground truth for the output checks
(planted duplicates, low-quality docs, FK targets) is returned next to
the paths, never read back from the program under test.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: English stopwords the library's quality score counts
#: (``ops.text.LANG_STOPWORDS``); per-language anchors keep ``lang``
#: consistent with the generated text.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "les", "des", "une", "est"],
}
_LANGS = ("en", "en", "en", "de", "fr")
_REGIONS = ("amer", "emea", "apac", "latam")

#: share of corpus docs planted as each kind of non-fresh doc
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
LOW_QUALITY_SHARE = 0.03
_FRESH, _EXACT, _NEAR, _LOW = range(4)


@dataclass
class Corpus:
    """A generated corpus and its ground truth."""

    path: str
    docs: dict[int, str]
    langs: dict[int, str]
    exact_copies: dict[int, int] = field(default_factory=dict)
    near_copies: dict[int, int] = field(default_factory=dict)
    low_quality: set[int] = field(default_factory=set)

    @property
    def planted(self) -> set[int]:
        """Doc ids a correct curation must drop as duplicates."""
        return set(self.exact_copies) | set(self.near_copies)

    def properties(self) -> dict:
        words = [w for t in self.docs.values() for w in t.split()]
        n = len(self.docs)
        return {
            "docs": n,
            "word_tokens": len(words),
            "distinct_words": len(set(words)),
            "exact_dup_share": round(len(self.exact_copies) / n, 4),
            "near_dup_share": round(len(self.near_copies) / n, 4),
            "low_quality_share": round(len(self.low_quality) / n, 4),
        }


def _lexicon(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase a-z words of 3..9 letters, none of
    them a stopword."""
    stop = {w for ws in STOPWORDS.values() for w in ws}
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        lens = rng.integers(3, 10, size)
        codes = rng.integers(97, 123, (size, 9), dtype=np.uint8)
        for n, row in zip(lens, codes):
            w = row[:n].tobytes().decode()
            if w not in seen and w not in stop and len(out) < size:
                seen.add(w)
                out.append(w)
    return out


def make_corpus(
    seed: int,
    out_dir: str,
    *,
    n_docs: int,
    lexicon_size: int,
    doc_words: tuple[int, int] = (40, 80),
    zipf_s: float = 1.1,
) -> Corpus:
    """Zipf corpus over a synthetic lexicon with planted duplicates.

    Docs are generated in id order. A fresh doc draws its words from a
    Zipf(``zipf_s``) law over the lexicon, with a stopword every ~6
    words so the quality filter keeps it. Planted docs copy an earlier
    fresh doc, so a correct dedup (which keeps the smaller id) drops
    exactly the copy:

    - exact copies: same words, different whitespace;
    - near copies: one word replaced by another lexicon word;
    - low-quality docs: a few long junk tokens with symbols.
    """
    rng = np.random.default_rng([seed, 1])
    lex = _lexicon(rng, lexicon_size)
    ranks = np.arange(1, lexicon_size + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -zipf_s)
    cdf /= cdf[-1]
    perm = rng.permutation(lexicon_size)  # decouple rank from word shape

    c = Corpus(path=os.path.join(out_dir, "corpus.parquet"), docs={}, langs={})
    fresh: list[int] = []
    # exact shares, placed at random after the first doc (always fresh),
    # so every seed asks the same amount of work of the dedup
    kinds = np.full(n_docs, _FRESH)
    cut = np.cumsum([round(s * n_docs) for s in (EXACT_SHARE, NEAR_SHARE, LOW_QUALITY_SHARE)])
    slots = 1 + rng.permutation(n_docs - 1)
    kinds[slots[: cut[0]]] = _EXACT
    kinds[slots[cut[0]: cut[1]]] = _NEAR
    kinds[slots[cut[1]: cut[2]]] = _LOW
    for i in range(n_docs):
        doc_id = 1000 + i
        k = kinds[i]
        if k == _EXACT:
            src = fresh[int(rng.integers(len(fresh)))]
            words = c.docs[src].split()
            j = int(rng.integers(1, len(words)))
            c.docs[doc_id] = " ".join(words[:j]) + "  " + " ".join(words[j:])
            c.langs[doc_id] = c.langs[src]
            c.exact_copies[doc_id] = src
        elif k == _NEAR:
            src = fresh[int(rng.integers(len(fresh)))]
            words = c.docs[src].split()
            j = int(rng.integers(len(words)))
            repl = words[j]
            while repl == words[j]:
                repl = lex[int(rng.integers(lexicon_size))]
            words[j] = repl
            c.docs[doc_id] = " ".join(words)
            c.langs[doc_id] = c.langs[src]
            c.near_copies[doc_id] = src
        elif k == _LOW:
            n = int(rng.integers(3, 7))
            junk = ["".join(rng.choice(list("qxzj"), 14)) + "#%" for _ in range(n)]
            c.docs[doc_id] = " ".join(junk)
            c.langs[doc_id] = "und"
            c.low_quality.add(doc_id)
        else:
            lang = _LANGS[int(rng.integers(len(_LANGS)))]
            n = int(rng.integers(doc_words[0], doc_words[1] + 1))
            picks = perm[np.searchsorted(cdf, rng.random(n), side="right")]
            words = [lex[p] for p in picks]
            stops = STOPWORDS[lang]
            for j in range(0, n, 6):
                words[j] = stops[int(rng.integers(len(stops)))]
            c.docs[doc_id] = " ".join(words)
            c.langs[doc_id] = lang
            fresh.append(doc_id)

    ids = sorted(c.docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "lang": [c.langs[i] for i in ids],
                "text": [c.docs[i] for i in ids],
            }
        ),
        c.path,
    )
    return c


def write_stream_files(c: Corpus, out_dir: str, n_files: int) -> str:
    """The corpus' ``(doc_id, lang)`` rows as ``n_files`` parquet files
    of consecutive ids, with mtimes rising in id order, so a file stream
    with one file per trigger replays them in a fixed order and batch
    composition. Returns ``out_dir``."""
    os.makedirs(out_dir)
    base = time.time() - 10 * n_files
    ids = np.array(sorted(c.docs), dtype=np.int64)
    for i, part in enumerate(np.array_split(ids, n_files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        langs = [c.langs[int(d)] for d in part]
        pq.write_table(pa.table({"doc_id": pa.array(part), "lang": langs}), path)
        os.utime(path, (base + 10 * i, base + 10 * i))
    return out_dir


@dataclass
class Accounts:
    """Generated parent/child account tables (child -> parent FK)."""

    parent_path: str
    child_path: str
    parents: dict[int, tuple[str, str]]
    children: dict[int, tuple[int, float]]

    def properties(self) -> dict:
        return {
            "parent_rows": len(self.parents),
            "child_rows": len(self.children),
            "rows": len(self.parents) + len(self.children),
        }


def make_accounts(
    seed: int, out_dir: str, *, n_parents: int, n_children: int
) -> Accounts:
    """Parent accounts with unique random keys and child accounts whose
    ``c_parent`` FK points at a random parent key."""
    rng = np.random.default_rng([seed, 2])
    keys = rng.choice(np.arange(10**6, 10**7), n_parents + n_children, replace=False)
    p_keys = [int(k) for k in keys[:n_parents]]
    c_keys = [int(k) for k in keys[n_parents:]]
    parents = {
        k: (f"acct-{k}", _REGIONS[int(rng.integers(len(_REGIONS)))])
        for k in p_keys
    }
    fk = rng.integers(0, n_parents, n_children)
    amounts = np.round(rng.uniform(0, 10_000, n_children), 2)
    children = {
        k: (p_keys[int(f)], float(a)) for k, f, a in zip(c_keys, fk, amounts)
    }
    a = Accounts(
        parent_path=os.path.join(out_dir, "parent.parquet"),
        child_path=os.path.join(out_dir, "child.parquet"),
        parents=parents,
        children=children,
    )
    pq.write_table(
        pa.table(
            {
                "p_key": pa.array(p_keys, pa.int64()),
                "p_name": [parents[k][0] for k in p_keys],
                "p_region": [parents[k][1] for k in p_keys],
            }
        ),
        a.parent_path,
    )
    pq.write_table(
        pa.table(
            {
                "c_key": pa.array(c_keys, pa.int64()),
                "c_parent": pa.array([children[k][0] for k in c_keys], pa.int64()),
                "c_amount": pa.array([children[k][1] for k in c_keys], pa.float64()),
            }
        ),
        a.child_path,
    )
    return a
