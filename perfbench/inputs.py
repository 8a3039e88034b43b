"""Benchmark query streams, drawn from the crawl's own pages.

Everything here is a pure function of its arguments and the workload seed,
so one seed always yields the same queries.
"""

from __future__ import annotations

import random

# ---------------------------------------------------------------------------
# query streams
# ---------------------------------------------------------------------------

POOL_SIZE = 200
# word kinds, cycled: 5 hot, 2 rare, 2 fallback and 1 zero in every 10
KINDS = ("hot", "rare", "hot", "fallback", "hot", "zero", "hot", "rare",
         "hot", "fallback")

def query_pool(texts: list[str], seed: int, tokenize) -> list[str]:
    """POOL_SIZE queries drawn from the fetched pages' own vocabulary, in
    a shape every seed shares: query i has 1 + i % 4 words, and its j-th
    word is of kind KINDS[(i // 4 + j) % len(KINDS)]. A hot word is in
    the top tenth by document frequency, a rare word in at most two pages;
    a fallback word is a plural the index lacks whose singular it holds
    (answered by the plural/singular retry); a zero word is in no page.
    The seed picks only the words, so a pool may repeat a query."""
    df: dict[str, int] = {}
    for t in texts:
        for w in set(tokenize(t)):
            df[w] = df.get(w, 0) + 1
    by_df = sorted(df, key=lambda w: (-df[w], w))
    words = {
        "hot": by_df[:max(len(by_df) // 10, 5)],
        "rare": sorted(w for w in by_df if df[w] <= 2) or by_df[-5:],
        "fallback": sorted(w + "s" for w in by_df
                           if not w.endswith("s") and w + "s" not in df),
    }
    rng = random.Random(f"queries:{seed}")
    return [" ".join(
        f"zq{rng.randrange(10**6)}x" if kind == "zero"
        else rng.choice(words[kind] or words["hot"])
        for kind in (KINDS[(i // 4 + j) % len(KINDS)]
                     for j in range(1 + i % 4)))
        for i in range(POOL_SIZE)]


def query_stream(pool: list[str], seed: int, n: int) -> list[str]:
    """`n` queries cycling through the pool in a seeded order: each pool
    query appears n // len(pool) or one more times."""
    rng = random.Random(f"stream:{seed}")
    out: list[str] = []
    while len(out) < n:
        block = list(pool)
        rng.shuffle(block)
        out.extend(block)
    return out[:n]
