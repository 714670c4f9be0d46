"""Pure-numpy Isolation Forest (Liu, Ting, Zhou, ICDM 2008).

The reference scores anomalies with sklearn's IsolationForest
(contamination=0.05, random_state=42; reference app/app3_ML.py:165-166).
scikit-learn is not available in this environment, so this is a
from-scratch implementation of the published algorithm with the same
interface semantics:

- ``fit_predict(X)`` returns labels in {-1, 1}, where -1 marks the
  top-``contamination`` fraction by anomaly score — sklearn's
  contamination-threshold behavior.
- Deterministic under a fixed ``random_state`` (seeded numpy
  Generator). Scores are not bit-identical to sklearn's (different RNG
  stream), but the algorithm, subsampling (ψ=256), tree count (100),
  depth limit ceil(log2 ψ), and the c(n) path-length normalization are
  per the paper.

Designed to run inside ``applyInPandas`` on executors: stateless,
numpy-only, O(T·ψ·log ψ) fit and O(T·n·log ψ) score for window sizes
in the hundreds — microseconds per group-window.
"""

from __future__ import annotations

import math

import numpy as np

_EULER_GAMMA = 0.5772156649015329


def _c(n: float) -> float:
    """Average unsuccessful-BST search path length for n points."""
    if n <= 1.0:
        return 0.0
    if n == 2.0:
        return 1.0
    return 2.0 * (math.log(n - 1.0) + _EULER_GAMMA) - 2.0 * (n - 1.0) / n


class _Node:
    __slots__ = ("feature", "threshold", "left", "right", "size")

    def __init__(self, feature=-1, threshold=0.0, left=None, right=None, size=0):
        self.feature = feature
        self.threshold = threshold
        self.left = left
        self.right = right
        self.size = size


def _build_tree(X: np.ndarray, depth: int, max_depth: int, rng: np.random.Generator):
    n = X.shape[0]
    if depth >= max_depth or n <= 1:
        return _Node(size=n)
    # Pick a random feature with spread; give up if all-constant.
    lo = X.min(axis=0)
    hi = X.max(axis=0)
    candidates = np.flatnonzero(hi > lo)
    if candidates.size == 0:
        return _Node(size=n)
    f = int(rng.choice(candidates))
    t = float(rng.uniform(lo[f], hi[f]))
    mask = X[:, f] < t
    return _Node(
        feature=f,
        threshold=t,
        left=_build_tree(X[mask], depth + 1, max_depth, rng),
        right=_build_tree(X[~mask], depth + 1, max_depth, rng),
        size=n,
    )


def _path_lengths(node: _Node, X: np.ndarray, idx: np.ndarray, depth: float, out: np.ndarray):
    if node.feature < 0:
        out[idx] = depth + _c(float(node.size))
        return
    mask = X[idx, node.feature] < node.threshold
    if mask.any():
        _path_lengths(node.left, X, idx[mask], depth + 1.0, out)
    if (~mask).any():
        _path_lengths(node.right, X, idx[~mask], depth + 1.0, out)


class IsolationForest:
    """Drop-in (numpy-only) analog of sklearn.ensemble.IsolationForest."""

    def __init__(
        self,
        n_estimators: int = 100,
        max_samples: int = 256,
        contamination: float = 0.05,
        random_state: int | None = 42,
    ):
        self.n_estimators = n_estimators
        self.max_samples = max_samples
        self.contamination = contamination
        self.random_state = random_state
        self._trees: list[_Node] = []
        self._psi: int = 0

    def fit(self, X) -> "IsolationForest":
        X = np.asarray(X, dtype=np.float64)
        if X.ndim != 2 or X.shape[0] == 0:
            raise ValueError("X must be a non-empty 2D array")
        rng = np.random.default_rng(self.random_state)
        n = X.shape[0]
        psi = min(self.max_samples, n)
        max_depth = math.ceil(math.log2(max(psi, 2)))
        self._trees = []
        for _ in range(self.n_estimators):
            sample_idx = rng.choice(n, size=psi, replace=False)
            self._trees.append(_build_tree(X[sample_idx], 0, max_depth, rng))
        self._psi = psi
        return self

    def score_samples(self, X) -> np.ndarray:
        """Anomaly score in (0, 1]; higher = more anomalous (paper's s)."""
        X = np.asarray(X, dtype=np.float64)
        n = X.shape[0]
        depths = np.zeros((len(self._trees), n), dtype=np.float64)
        idx = np.arange(n)
        for i, tree in enumerate(self._trees):
            _path_lengths(tree, X, idx, 0.0, depths[i])
        mean_depth = depths.mean(axis=0)
        return np.power(2.0, -mean_depth / _c(float(self._psi)))

    def fit_predict(self, X) -> np.ndarray:
        """Labels in {-1, 1}: -1 for the top-contamination fraction."""
        self.fit(X)
        scores = self.score_samples(X)
        threshold = np.quantile(scores, 1.0 - self.contamination)
        labels = np.where(scores > threshold, -1, 1)
        # Quantile ties can under-flag; sklearn flags ~contamination·n.
        if (labels == -1).sum() == 0 and len(scores) > 1:
            labels[np.argmax(scores)] = -1
        return labels


def fit_score_outliers(
    X, contamination: float = 0.05, random_state: int | None = 42
) -> tuple[np.ndarray, np.ndarray]:
    """Fit a default forest on X and score X: (scores, outlier mask),
    the mask marking scores above the ``1 - contamination`` quantile.
    The one threshold rule of the streaming scorers; unlike
    :meth:`IsolationForest.fit_predict` it has no tie fallback, so an
    all-tied window flags nothing."""
    scores = (
        IsolationForest(contamination=contamination, random_state=random_state)
        .fit(X)
        .score_samples(X)
    )
    return scores, scores > np.quantile(scores, 1.0 - contamination)
