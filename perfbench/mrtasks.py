"""MapReduce tasks and seeded inputs for the `mr_contract` workload, with the
pure-Python model each task's output is checked against.

Executor Python workers unpickle these classes by module reference, so the
benchmark puts this directory on `PYTHONPATH` before the session starts.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from tinymr_spark import MapReduce

VOCAB = 5000
N_KEYS = 500


def zipf_lines(rng: np.random.Generator, n_lines: int, skew: float,
               words: tuple[int, int]) -> list[str]:
    """`n_lines` lines of `words[0]` to `words[1]` words whose ranks follow
    Zipf(`skew`), folded into a vocabulary of VOCAB words."""
    lengths = rng.integers(words[0], words[1] + 1, n_lines)
    ranks = (rng.zipf(skew, int(lengths.sum())) - 1) % VOCAB
    tokens = [f"w{r}" for r in ranks]
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(tokens[pos:pos + n]))
        pos += n
    return out


def uniform_records(rng: np.random.Generator, n: int, per: int) -> list[tuple]:
    """`n` records of `per` (key, sort, value) triples with uniform keys;
    sort elements repeat so stable tie order is part of the checked
    output."""
    size = n * per
    keys = rng.integers(0, N_KEYS, size).tolist()
    sorts = rng.integers(0, 50, size).tolist()
    values = rng.integers(0, 1_000_000, size).tolist()
    triples = list(zip(keys, sorts, values))
    return [tuple(triples[i:i + per]) for i in range(0, size, per)]


class WordCount(MapReduce):
    def mapper(self, item):
        for word in item.split():
            yield (word, 1)

    def reducer(self, key, values):
        return (key, sum(values))


class WordCountCombine(WordCount):
    combine = True


class SecondarySort(MapReduce):
    """Values of each key arrive ordered by the mapper's sort element."""

    def mapper(self, item):
        yield from item

    def reducer(self, key, values):
        return (key, tuple(values))


class KeyStats(MapReduce):
    """Generator reducer: two emissions per key."""

    def mapper(self, item):
        for key, _sort, value in item:
            yield (key, value)

    def reducer(self, key, values):
        yield (key, len(values))
        yield (key, sum(values))


def expect_wordcount(lines: list[str]) -> dict:
    return dict(Counter(w for line in lines for w in line.split()))


def expect_secondary_sort(records) -> dict:
    groups: dict = {}
    for key, sort, value in (t for r in records for t in r):
        groups.setdefault(key, []).append((sort, value))
    # list.sort is stable: equal sort elements keep encounter order
    return {k: tuple(v for _s, v in sorted(p, key=lambda t: t[0])) for k, p in groups.items()}


def expect_key_stats(records) -> dict:
    groups: dict = {}
    for key, _sort, value in (t for r in records for t in r):
        groups.setdefault(key, []).append(value)
    return {k: [len(v), sum(v)] for k, v in groups.items()}
