"""Answer checks for the benchmark: in-memory models and reference
implementations that every timed op is compared against.

Each ``check_*`` function returns ``None`` when the answer is right and a
short description of the first mismatch otherwise. They use only the
standard library and numpy, so ``selftest.py`` can run them without Spark.
"""

from __future__ import annotations

import math

import numpy as np


class KvModel:
    """Latest-version-wins model of a key -> row table.

    Rows are written whole (no null cells), so the table's per-cell
    merge equals a per-row merge here: a put replaces the row, a delete
    removes it until a later put, and compaction changes nothing."""

    def __init__(self, rows=()):
        self.rows: dict = {}
        self.put(rows)

    def put(self, rows) -> None:
        for r in rows:
            self.rows[r[0]] = tuple(r)

    def delete(self, keys) -> None:
        for k in keys:
            self.rows.pop(k, None)

    def get(self, keys) -> list:
        return sorted(self.rows[k] for k in set(keys) if k in self.rows)

    def scan(self, lo, hi) -> list:
        return sorted(r for k, r in self.rows.items() if lo <= k <= hi)

    def agg(self, lo, hi, group_pos: int, value_pos: int) -> dict:
        """{group: (count, sum of value)} over keys in [lo, hi]."""
        out: dict = {}
        for k, r in self.rows.items():
            if lo <= k <= hi:
                c, s = out.get(r[group_pos], (0, 0.0))
                out[r[group_pos]] = (c + 1, s + r[value_pos])
        return out


def check_rows(actual, expected) -> str | None:
    """Exact multiset equality of row tuples (doubles round-trip exactly)."""
    a = sorted(tuple(r) for r in actual)
    e = sorted(tuple(r) for r in expected)
    if a == e:
        return None
    if len(a) != len(e):
        return f"{len(a)} rows returned, {len(e)} expected"
    i = next(i for i, (x, y) in enumerate(zip(a, e)) if x != y)
    return f"row {i}: got {a[i]!r}, expected {e[i]!r}"


def check_agg(actual: dict, expected: dict) -> str | None:
    """Per-group counts exact, sums equal up to summation order."""
    if set(actual) != set(expected):
        return f"groups {sorted(actual)} != expected {sorted(expected)}"
    for g, (c, s) in expected.items():
        ac, as_ = actual[g]
        if ac != c:
            return f"group {g}: count {ac} != {c}"
        if not math.isclose(as_, s, rel_tol=1e-9, abs_tol=1e-6):
            return f"group {g}: sum {as_} != {s}"
    return None


def shingles(text: str, n: int = 3) -> set:
    """Word n-gram set, split on single spaces as minhash_lsh_pairs does."""
    w = text.split(" ") if text else []
    return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_pairs(pairs, texts: dict, planted, threshold: float, min_recall: float) -> str | None:
    """Near-duplicate pairs (id_a, id_b, jaccard): every returned pair
    is a true pair with its exact Jaccard (4 dp) at or above the
    threshold, and at least ``min_recall`` of the planted pairs whose
    true Jaccard clears the threshold are returned."""
    got = set()
    for a, b, j in pairs:
        if not a < b:
            return f"pair ({a}, {b}) not ordered id_a < id_b"
        true = jaccard(shingles(texts[a]), shingles(texts[b]))
        if abs(true - j) > 1e-4 or true < threshold:
            return f"pair ({a}, {b}): jaccard {j} but true {true:.4f}"
        got.add((a, b))
    want = [p for p in planted if jaccard(shingles(texts[p[0]]), shingles(texts[p[1]])) >= threshold]
    if want:
        recall = sum(p in got for p in want) / len(want)
        if recall < min_recall:
            return f"planted-pair recall {recall:.3f} < {min_recall}"
    return None


def _cosines(q_mat, c_mat) -> np.ndarray:
    qn = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-300)
    cn = c_mat / np.maximum(np.linalg.norm(c_mat, axis=1, keepdims=True), 1e-300)
    return qn @ cn.T


def exact_topk(q_ids, q_mat, c_ids, c_mat, k: int) -> dict:
    """Reference cosine top-k: {query id: [(neighbor id, cosine)]},
    self-matches excluded, ordered by cosine desc then id asc."""
    S = _cosines(q_mat, c_mat)
    c_ids = np.asarray(c_ids)
    out = {}
    for i, q in enumerate(q_ids):
        s = S[i].copy()
        s[c_ids == q] = -np.inf
        order = np.lexsort((c_ids, -s))[:k]
        out[q] = [(int(c_ids[j]), float(s[j])) for j in order if np.isfinite(s[j])]
    return out


def true_cosines(q_ids, q_mat, c_ids, c_mat) -> dict:
    """{(query id, corpus id): cosine} for every pair."""
    S = _cosines(q_mat, c_mat)
    return {(q, int(c)): float(S[i, j]) for i, q in enumerate(q_ids) for j, c in enumerate(c_ids)}


# cosines come back rounded to 4 dp; a rounded value sits within 5e-5
# of the true one, plus float slack
_ROUND_TOL = 5.1e-5


def _check_scores(rows, cos: dict) -> str | None:
    for q, n, c in rows:
        if (q, n) not in cos:
            return f"query {q}: neighbor {n} is not in the corpus"
        if abs(cos[(q, n)] - c) > _ROUND_TOL:
            return f"query {q}: neighbor {n} cosine {c} but true {cos[(q, n)]:.6f}"
    return None


def check_topk_exact(rows, expected: dict, cos: dict) -> str | None:
    """Exact top-k rows (query, neighbor, cosine): every score is the
    pair's true cosine, and each query's k scores equal the reference
    top-k scores (so ties at the k-th place may pick either id)."""
    err = _check_scores(rows, cos)
    if err:
        return err
    by_q: dict = {}
    for q, n, c in rows:
        by_q.setdefault(q, []).append(cos[(q, n)])
    for q, ref in expected.items():
        got = sorted(by_q.get(q, []), reverse=True)
        want = [c for _, c in ref]
        if len(got) != len(want):
            return f"query {q}: {len(got)} neighbors, expected {len(want)}"
        for g, w in zip(got, want):
            if abs(g - w) > 2 * _ROUND_TOL:
                return f"query {q}: top-k cosines {got} != {want}"
    if set(by_q) - set(expected):
        return f"rows for unknown queries {sorted(set(by_q) - set(expected))[:3]}"
    return None


def check_topk_recall(rows, planted, cos: dict, min_recall: float) -> str | None:
    """Approximate top-k rows: every score is the pair's true cosine,
    and at least ``min_recall`` of the planted (query, near-duplicate)
    pairs are among the returned neighbors."""
    err = _check_scores(rows, cos)
    if err:
        return err
    got = {(q, n) for q, n, _ in rows}
    if planted:
        recall = sum(p in got for p in planted) / len(planted)
        if recall < min_recall:
            return f"planted-neighbor recall {recall:.3f} < {min_recall}"
    return None


def check_quality(rows, texts: dict) -> str | None:
    """quality_features rows (doc_id, q_chars, q_tokens, q_score):
    character and whitespace-token counts equal the reference, the
    score lies in [0, 1], and every document of the slice is present."""
    seen = set()
    for d, chars, tokens, score in rows:
        t = texts.get(d)
        if t is None:
            return f"doc {d} is not in the slice"
        if chars != len(t) or tokens != len(t.split()):
            return f"doc {d}: chars/tokens {chars}/{tokens} != {len(t)}/{len(t.split())}"
        if not 0.0 <= score <= 1.0:
            return f"doc {d}: score {score} outside [0, 1]"
        seen.add(d)
    if seen != set(texts):
        return f"{len(seen)} docs scored, {len(texts)} in the slice"
    return None
