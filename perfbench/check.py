"""Output checks against the single-process oracle (``tests/oracle.py``).

A search answer is correct when it has the oracle's length, the oracle's
url at every rank and every score within ``SCORE_TOL`` of the oracle's
score at that rank (the tolerance ``tests/test_parity.py`` uses).

One exception is counted instead of failed: documents whose oracle scores
tie within ``SCORE_TOL`` are compared as a set, including a tie that
straddles the rank-k cut. The engine breaks such ties on float noise
rather than on ``warc_ts``, a known defect left visible on purpose; each
tie group it orders differently from the oracle counts as one tie reorder.
"""

from __future__ import annotations

import dataclasses
import math

SCORE_TOL = 1e-9


@dataclasses.dataclass
class Verdict:
    ok: bool
    tie_reorders: int = 0
    reason: str = ""


def _tie_groups(scores: list[float]) -> list[tuple[int, int]]:
    """[start, end) ranges of consecutive scores chained within the
    tolerance."""
    groups = []
    start = 0
    for i in range(1, len(scores) + 1):
        if i == len(scores) or abs(scores[i] - scores[i - 1]) > SCORE_TOL:
            groups.append((start, i))
            start = i
    return groups


def compare_ranking(expected: list[tuple[str, float]],
                    actual: list[tuple[str, float]], k: int) -> Verdict:
    """Compare one query's answer with the oracle's.

    ``expected`` is the oracle's FULL ranking as (url, score), best first
    (it may run past k, so a tie at the cut can be recognized);
    ``actual`` is the engine's top-k as (url, score), best first.
    """
    want = min(k, len(expected))
    if len(actual) != want:
        return Verdict(False, reason=f"length {len(actual)} != {want}")
    for rank, ((_, es), (au, asc)) in enumerate(zip(expected, actual), 1):
        if not math.isclose(es, asc, rel_tol=0.0, abs_tol=SCORE_TOL):
            return Verdict(False, reason=(
                f"rank {rank} ({au}): score {asc!r} != oracle {es!r}"))
    reorders = 0
    for start, end in _tie_groups([s for _, s in expected]):
        if start >= want:
            break
        exp_urls = [u for u, _ in expected[start:end]]
        got_urls = [u for u, _ in actual[start:min(end, want)]]
        if got_urls == exp_urls[:len(got_urls)]:
            continue
        allowed = set(exp_urls)
        if len(set(got_urls)) != len(got_urls) or not allowed.issuperset(
                got_urls):
            return Verdict(False, reason=(
                f"ranks {start + 1}-{min(end, want)}: urls {got_urls} are "
                f"not the oracle's tie group {sorted(allowed)}"))
        reorders += 1
    return Verdict(True, tie_reorders=reorders)


def compare_batch(expected: dict[int, list[tuple[str, float]]],
                  rows, k: int) -> Verdict:
    """Compare a collected ``search_batch`` result (rows with qid, rank,
    url, score) with the oracle's rankings per qid."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["qid"]), []).append(
            (int(r["rank"]), r["url"], float(r["score"])))
    unknown = set(got) - set(expected)
    if unknown:
        return Verdict(False, reason=f"answers for unknown qids {unknown}")
    reorders = 0
    for qid, ranking in expected.items():
        answer = sorted(got.get(qid, []))
        if [rank for rank, _, _ in answer] != list(range(1, len(answer) + 1)):
            return Verdict(False, reason=f"qid {qid}: ranks not 1..n")
        v = compare_ranking(ranking, [(u, s) for _, u, s in answer], k)
        if not v.ok:
            return Verdict(False, reason=f"qid {qid}: {v.reason}")
        reorders += v.tie_reorders
    return Verdict(True, tie_reorders=reorders)


def oracle_rankings(oracle, queries, config) -> dict[int, list]:
    """Full oracle rankings, (url, score) best first, per qid, scored
    under ``config``'s weights."""
    saved = oracle.cfg
    oracle.cfg = config
    try:
        return {
            qid: [(url, score)
                  for _, url, score, _ in oracle.search(text, k=1 << 62)]
            for qid, text in queries
        }
    finally:
        oracle.cfg = saved


def compare_index(oracle, n_docs: int, avg_dl: float,
                  term_df: dict[str, int]) -> Verdict:
    """Corpus stats and the pruned/rewritten vocabulary of a built index
    against the oracle's."""
    if n_docs != oracle.n_docs:
        return Verdict(False, reason=f"n_docs {n_docs} != {oracle.n_docs}")
    if not math.isclose(avg_dl, oracle.avg_dl, rel_tol=1e-12):
        return Verdict(False,
                       reason=f"avg_dl {avg_dl!r} != {oracle.avg_dl!r}")
    if term_df != oracle.inverted_idx:
        diff = set(term_df.items()) ^ set(oracle.inverted_idx.items())
        return Verdict(False, reason=(
            f"vocabulary differs in {len(diff)} (term, df) entries, "
            f"e.g. {sorted(diff)[:3]}"))
    return Verdict(True)
