"""Self-test of the benchmark's answer checks: for every check, a right
answer passes and a planted wrong answer is rejected. Needs no Spark;
run.py runs it before every measured run.

    python3 shcbench/selftest.py
"""

from __future__ import annotations

import sys

import numpy as np

import checks


def _cases():
    """(check name, right answer -> error, wrong answer -> error)."""
    model = checks.KvModel([(1, 0, 1.5, "a"), (4, 1, 2.5, "b"), (7, 0, 4.0, "c")])
    model.put([(4, 1, 3.5, "b2")])
    model.delete([7])
    yield ("kv get: latest version wins",
           lambda: checks.check_rows([(4, 1, 3.5, "b2")], model.get([4, 7])),
           lambda: checks.check_rows([(4, 1, 2.5, "b")], model.get([4, 7])))
    yield ("kv get: tombstone applies",
           lambda: checks.check_rows([], model.get([7])),
           lambda: checks.check_rows([(7, 0, 4.0, "c")], model.get([7])))
    yield ("kv scan",
           lambda: checks.check_rows([(1, 0, 1.5, "a"), (4, 1, 3.5, "b2")], model.scan(0, 9)),
           lambda: checks.check_rows([(1, 0, 1.5, "a")], model.scan(0, 9)))
    yield ("kv aggregate",
           lambda: checks.check_agg({0: (1, 1.5), 1: (1, 3.5)}, model.agg(0, 9, 1, 2)),
           lambda: checks.check_agg({0: (1, 1.5), 1: (1, 3.6)}, model.agg(0, 9, 1, 2)))
    # compaction is invisible: a full read of the compacted table equals the model
    full = [(1, 0, 1.5, "a"), (4, 1, 3.5, "b2")]
    yield ("compacted table: tombstone stays applied",
           lambda: checks.check_rows(full, model.scan(0, 9)),
           lambda: checks.check_rows(full + [(7, 0, 4.0, "c")], model.scan(0, 9)))
    yield ("compacted table: no duplicated row",
           lambda: checks.check_rows(full, model.scan(0, 9)),
           lambda: checks.check_rows(full + [full[0]], model.scan(0, 9)))

    texts = {1: "a b c d e f g h", 2: "a b c d e f g x", 3: "p q r s t u v w"}
    planted = [(1, 2)]
    j12 = round(checks.jaccard(checks.shingles(texts[1]), checks.shingles(texts[2])), 4)
    yield ("minhash pairs: recall and exact jaccard",
           lambda: checks.check_pairs([(1, 2, j12)], texts, planted, 0.5, 1.0),
           lambda: checks.check_pairs([], texts, planted, 0.5, 1.0))
    yield ("minhash pairs: no false pair",
           lambda: checks.check_pairs([(1, 2, j12)], texts, planted, 0.5, 1.0),
           lambda: checks.check_pairs([(1, 2, j12), (1, 3, 0.9)], texts, planted, 0.5, 1.0))

    rng = np.random.default_rng(0)
    c_ids = list(range(20))
    c_mat = rng.normal(size=(20, 4))
    q_ids = [0, 5]
    q_mat = c_mat[q_ids]
    cos = checks.true_cosines(q_ids, q_mat, c_ids, c_mat)
    exact = checks.exact_topk(q_ids, q_mat, c_ids, c_mat, 3)
    right = [(q, n, round(c, 4)) for q, lst in exact.items() for n, c in lst]
    top0 = {n for n, _ in exact[0]}
    worst = min((c, n) for (q, n), c in cos.items() if q == 0 and n not in top0 and n != 0)
    wrong = right[:2] + [(0, worst[1], round(worst[0], 4))] + right[3:]
    yield ("cosine_topk exact",
           lambda: checks.check_topk_exact(right, exact, cos),
           lambda: checks.check_topk_exact(wrong, exact, cos))
    bad_score = [(q, n, round(c + 0.01, 4)) for q, n, c in right]
    yield ("cosine_topk scores",
           lambda: checks.check_topk_exact(right, exact, cos),
           lambda: checks.check_topk_exact(bad_score, exact, cos))
    twins = [(0, exact[0][0][0]), (5, exact[5][0][0])]
    yield ("ivf_topk planted recall",
           lambda: checks.check_topk_recall(right, twins, cos, 1.0),
           lambda: checks.check_topk_recall([r for r in right if r[0] != 5], twins, cos, 1.0))

    qtexts = {10: "one two  three", 11: "four"}
    yield ("quality_features counts",
           lambda: checks.check_quality([(10, 14, 3, 0.5), (11, 4, 1, 0.2)], qtexts),
           lambda: checks.check_quality([(10, 14, 4, 0.5), (11, 4, 1, 0.2)], qtexts))


def selftest() -> list:
    """Descriptions of the checks that failed the self-test (empty when
    every check accepts its right answer and rejects its wrong one)."""
    problems = []
    for name, right, wrong in _cases():
        if right() is not None:
            problems.append(f"{name}: right answer rejected: {right()}")
        if wrong() is None:
            problems.append(f"{name}: planted wrong answer accepted")
    return problems


if __name__ == "__main__":
    found = selftest()
    for p in found:
        print(p)
    print(f"selftest: {len(list(_cases()))} checks, {len(found)} problems")
    sys.exit(1 if found else 0)
