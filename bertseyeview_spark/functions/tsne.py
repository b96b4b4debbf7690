"""Exact t-SNE in pure numpy (G3 — the reference's client-side 2-D
reduction, neo4j_helper.py:1673-1734, which calls sklearn.manifold.TSNE).

sklearn is not in this container, so the reduction is implemented from
the published algorithm (van der Maaten & Hinton 2008): Gaussian input
affinities with per-point bandwidths binary-searched to a target
perplexity, symmetrized; Student-t output affinities; KL-divergence
gradient descent with momentum and the standard early-exaggeration
phase. Exact O(n^2) pairwise — the viz path reduces at most a few
thousand entity embeddings on the driver, where n^2 is milliseconds;
this is NOT a distributed operator and is deliberately not one (the
reference reduces client-side too).

Deterministic: seeded PCA-free init from a fixed RandomState.
"""

from __future__ import annotations

import numpy as np


def _pairwise_sq_dists(x: np.ndarray) -> np.ndarray:
    s = (x * x).sum(axis=1)
    d2 = s[:, None] + s[None, :] - 2.0 * (x @ x.T)
    np.fill_diagonal(d2, 0.0)
    return np.maximum(d2, 0.0)


def _p_conditional(d2_row: np.ndarray, beta: float, i: int) -> np.ndarray:
    p = np.exp(-d2_row * beta)
    p[i] = 0.0
    s = p.sum()
    return p / s if s > 0 else p


def _binary_search_beta(
    d2_row: np.ndarray, i: int, perplexity: float, tol: float = 1e-5,
    max_steps: int = 50,
) -> np.ndarray:
    """Find the Gaussian precision beta whose conditional distribution
    has entropy log(perplexity) — the standard per-point bandwidth
    search."""
    target = np.log(perplexity)
    beta, beta_lo, beta_hi = 1.0, 0.0, np.inf
    p = _p_conditional(d2_row, beta, i)
    for _ in range(max_steps):
        nz = p[p > 1e-12]
        h = -(nz * np.log(nz)).sum()
        diff = h - target
        if abs(diff) < tol:
            break
        if diff > 0:  # entropy too high -> narrower kernel
            beta_lo = beta
            beta = beta * 2.0 if beta_hi == np.inf else (beta + beta_hi) / 2.0
        else:
            beta_hi = beta
            beta = beta / 2.0 if beta_lo == 0.0 else (beta + beta_lo) / 2.0
        p = _p_conditional(d2_row, beta, i)
    return p


def tsne_2d(
    x: np.ndarray,
    perplexity: float = 30.0,
    n_iter: int = 500,
    learning_rate: float = 200.0,
    seed: int = 0,
    early_exaggeration: float = 12.0,
    exaggeration_iters: int = 100,
    momentum_early: float = 0.5,
    momentum_late: float = 0.8,
) -> np.ndarray:
    """x (n, d) -> (n, 2) embedding. Exact t-SNE, seeded."""
    n = x.shape[0]
    if n == 0:
        return np.zeros((0, 2))
    if n == 1:
        return np.zeros((1, 2))
    perplexity = min(perplexity, max(2.0, (n - 1) / 3.0))

    d2 = _pairwise_sq_dists(np.asarray(x, dtype=np.float64))
    p_cond = np.zeros((n, n))
    for i in range(n):
        p_cond[i] = _binary_search_beta(d2[i], i, perplexity)
    p = (p_cond + p_cond.T) / (2.0 * n)
    p = np.maximum(p, 1e-12)

    rng = np.random.RandomState(seed)
    y = rng.standard_normal((n, 2)) * 1e-4
    dy = np.zeros_like(y)

    for it in range(n_iter):
        exaggerate = early_exaggeration if it < exaggeration_iters else 1.0
        momentum = momentum_early if it < exaggeration_iters else momentum_late

        yd2 = _pairwise_sq_dists(y)
        num = 1.0 / (1.0 + yd2)
        np.fill_diagonal(num, 0.0)
        q = np.maximum(num / num.sum(), 1e-12)

        pq = (exaggerate * p - q) * num
        grad = 4.0 * ((np.diag(pq.sum(axis=1)) - pq) @ y)

        dy = momentum * dy - learning_rate * grad
        y = y + dy
        y = y - y.mean(axis=0)
    return y
