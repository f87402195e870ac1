"""Seeded inputs and reference answers computed in plain NumPy.

Nothing here imports the package under test: the answers the benchmark
checks against must not share code with what it measures.
"""

from __future__ import annotations

import numpy as np

DOMAIN_MAX = 10000.0
VOCAB = 2000     # distinct words in the generated corpus
DOC_LEN = 30     # words per generated document


def skyline_mask(values: np.ndarray) -> np.ndarray:
    """Skyline membership (minimisation) by block-nested loops over the
    distinct vectors in ascending dim-sum order.

    q dominates p iff q <= p in every dim and q < p in one; equal
    vectors never dominate each other, so every copy of a skyline
    vector is kept.  A dominator has a strictly smaller dim-sum, so a
    vector only needs checking against vectors already accepted.
    """
    if len(values) == 0:
        return np.zeros(0, dtype=bool)
    uniq, inv = np.unique(values, axis=0, return_inverse=True)
    order = np.argsort(uniq.sum(axis=1), kind="stable")
    cand = uniq[order]
    keep = np.zeros(len(cand), dtype=bool)
    accepted = np.empty((0, values.shape[1]), dtype=values.dtype)
    block = 2048
    for s in range(0, len(cand), block):
        blk = cand[s:s + block]
        dom = np.zeros(len(blk), dtype=bool)
        for a in range(0, len(accepted), block):
            acc = accepted[a:a + block]
            le = (acc[:, None, :] <= blk[None, :, :]).all(axis=2)
            lt = (acc[:, None, :] < blk[None, :, :]).any(axis=2)
            dom |= (le & lt).any(axis=0)
        # within the block: only earlier-or-equal-sum rows can dominate
        live = np.flatnonzero(~dom)
        sub = blk[live]
        le = (sub[:, None, :] <= sub[None, :, :]).all(axis=2)
        lt = (sub[:, None, :] < sub[None, :, :]).any(axis=2)
        live = live[~(le & lt).any(axis=0)]
        keep[s + live] = True
        accepted = np.concatenate([accepted, blk[live]])
    uniq_keep = np.zeros(len(uniq), dtype=bool)
    uniq_keep[order] = keep
    return uniq_keep[inv.ravel()]


def skyline_mask_2d(values: np.ndarray) -> np.ndarray:
    """2-D skyline of finite points: sorted by (x, y), a point survives
    iff its y is the minimum of its x-group and strictly below every
    earlier group's y."""
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.lexsort((values[:, 1], values[:, 0]))
    x, y = values[order, 0], values[order, 1]
    starts = np.flatnonzero(np.r_[True, x[1:] != x[:-1]])
    group = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n]))
    group_min = y[starts]
    best_before = np.r_[np.inf, np.minimum.accumulate(group_min)[:-1]]
    keep = (y == group_min[group]) & (y < best_before[group])
    out = np.zeros(n, dtype=bool)
    out[order] = keep
    return out


def anticorrelated_points(n: int, dims: int, seed: int) -> np.ndarray:
    """Integer anti-correlated points in [0, DOMAIN_MAX], the reference
    producer's recipe: a random direction scaled to a row-sum drawn
    near dims * mid with slack eps * range * dims (eps 0.0005 at 2-D)."""
    rng = np.random.default_rng(seed)
    eps = {2: 0.0005, 3: 0.05, 4: 0.9}[dims]
    mean = DOMAIN_MAX / 2.0 * dims
    slack = eps * DOMAIN_MAX * dims
    raw = rng.random((n, dims))
    target = rng.random(n) * 2 * slack + mean - slack
    total = raw.sum(axis=1)
    scaled = raw * np.where(total != 0, target / total, 1.0)[:, None]
    return np.clip(np.floor(scaled), 0.0, DOMAIN_MAX)


def near_duplicate_corpus(n: int, seed: int) -> tuple[list[str], int]:
    """`n` documents of DOC_LEN words drawn from VOCAB; every 10th document (id > 0)
    repeats its predecessor's words except the first, a planted
    near-duplicate pair (id - 1, id).  Returns (texts, planted pairs)."""
    rng = np.random.default_rng(seed)
    toks = rng.integers(0, VOCAB, size=(n, DOC_LEN))
    dup = np.flatnonzero((np.arange(n) % 10 == 0) & (np.arange(n) > 0))
    toks[dup, 1:] = toks[dup - 1, 1:]
    words = np.char.add("w", toks.astype(str))
    return [" ".join(row) for row in words], len(dup)
