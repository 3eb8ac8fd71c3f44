"""Seeded input generation for the benchmark.

Everything a run varies is made here from ``--seed``: the text corpus
for ``mapreduce-text``, the key-value batches and lookup keys, and the
op order of a pass.  The same seed gives byte-identical inputs.  The
registry ops read the engine's fixed synthetic test tables, which the
seed does not change.
"""

from __future__ import annotations

import random

import numpy as np

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_PUNCT = [",", ".", ";", ":", "!", "?", "'", '"', "-", "(", ")"]


def make_vocab(seed: int, size: int = 4000) -> list[str]:
    """Distinct lowercase words, 1 to 12 letters; index 0 is the most
    frequent under the corpus's Zipf draw."""
    rng = random.Random(seed * 7919 + 1)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(1, 12)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_corpus(seed: int, target_bytes: int, vocab: list[str]) -> str:
    """A text file of about ``target_bytes`` bytes with a Zipf(1.1)
    vocabulary and every offset quirk the reference's pipeline has:
    punctuation and digits inside words, blank lines, whitespace-only
    lines, runs of spaces, and a last line without a newline."""
    rng = np.random.default_rng(seed * 31 + 5)
    ranks = np.arange(1, len(vocab) + 1, dtype="float64")
    p = ranks**-1.1
    p /= p.sum()
    lines: list[str] = []
    size = 0
    while size < target_bytes:
        kind = rng.random()
        if kind < 0.05:
            line = ""
        elif kind < 0.07:
            line = " " * int(rng.integers(1, 4))
        else:
            n = int(rng.integers(3, 18))
            toks = [vocab[i] for i in rng.choice(len(vocab), n, p=p)]
            for j in range(n):
                r = rng.random()
                if r < 0.08:
                    toks[j] += _PUNCT[int(rng.integers(0, len(_PUNCT)))]
                elif r < 0.10:
                    toks[j] = str(int(rng.integers(0, 100))) + toks[j]
                elif r < 0.12:
                    toks[j] = toks[j].capitalize()
            seps = [" " * (1 + (rng.random() < 0.1)) for _ in range(n - 1)]
            line = toks[0] + "".join(s + t for s, t in zip(seps, toks[1:]))
            if rng.random() < 0.05:
                line = "  " + line
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines)


def make_kv_batches(
    seed: int, vocab: list[str], n_batches: int, batch_rows: int
) -> list[list[tuple[str, int]]]:
    """Upsert batches for the solution store: each batch overwrites
    some existing words and inserts some fresh keys, keys unique
    within a batch."""
    rng = random.Random(seed * 104729 + 3)
    batches = []
    for b in range(n_batches):
        keys = rng.sample(vocab, batch_rows - batch_rows // 4)
        keys += [f"new{b}x{i}" for i in range(batch_rows // 4)]
        batches.append([(k, rng.randint(1, 1_000_000)) for k in keys])
    return batches


def make_lookup_keys(
    seed: int, vocab: list[str], n_hot: int, n_missing: int
) -> list[str]:
    """Point-lookup keys for one pass: frequent (hot) words and keys
    that are never stored (misses), in seeded order."""
    rng = random.Random(seed * 15485863 + 11)
    hot = [vocab[rng.randrange(0, 20)] for _ in range(n_hot)]
    missing = [f"zz{rng.randrange(10**9)}" for _ in range(n_missing)]
    keys = hot + missing
    rng.shuffle(keys)
    return keys


def op_order(seed: int, names: list[str]) -> list[str]:
    """The op order of every pass of a run."""
    order = list(names)
    random.Random(seed * 2654435761 + 17).shuffle(order)
    return order
