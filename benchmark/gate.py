"""Correctness gate: every engine outcome against the pure-Python oracle.

An outcome is what one ``SearchEngine.search`` call produced: the
surviving terms and the top-k ``(doc_id, score)`` list, or the
``SearchError`` message. Scores compare float-exactly. A predicted
``SearchError`` ("nothing found") is a correct outcome, not a failure.

One documented engine contract differs from the oracle's doc_id
tie-break: when more than ``spec.WAND_TIE_CAP_FACTOR * k`` docs score at
or above the k-th score, WAND keeps a bounded tie group and breaks the
boundary ties by (repo, path) order instead of doc_id (spec.py). For
such queries the gate still requires the exact score sequence, the
exact docs above the boundary score, and boundary docs drawn from the
oracle's tie group.
"""

from __future__ import annotations

import math

from posik_engine_spark import spec
from posik_engine_spark.oracle import SearchError, oracle_scores, oracle_search


def outcome_of(call) -> tuple:
    """Run ``call()`` (a search) and reduce it to a comparable outcome."""
    try:
        resp = call()
    except SearchError as e:
        return ("error", str(e))
    return ("hits", tuple(resp.surviving_terms), tuple((h[0], h[6]) for h in resp.hits))


def expected_outcome(oracle_ix, query: str) -> tuple:
    try:
        hits, terms = oracle_search(oracle_ix, query)
    except SearchError as e:
        return ("error", str(e))
    return ("hits", tuple(terms), tuple(hits))


def _perturbed(want: tuple) -> tuple:
    """A deliberately wrong expectation: the top score one ulp higher,
    or another error message."""
    if want[0] == "error":
        return ("error", want[1] + " (perturbed)")
    (doc, score), *rest = want[2]
    return ("hits", want[1], ((doc, math.nextafter(score, math.inf)), *rest))


def _within_tie_cap(got: tuple, want: tuple, oracle_ix) -> bool:
    """True when ``got`` differs from ``want`` only in which boundary
    ties it kept, and the oracle's tie group overflows the WAND cap."""
    if got[0] != "hits" or want[0] != "hits" or got[1] != want[1]:
        return False
    got_hits, want_hits = got[2], want[2]
    if [s for _, s in got_hits] != [s for _, s in want_hits]:
        return False
    edge = want_hits[-1][1]
    if [h for h in got_hits if h[1] != edge] != [h for h in want_hits if h[1] != edge]:
        return False
    scores = oracle_scores(oracle_ix, list(want[1]))
    at_edge = {d for d, s in scores.items() if s == edge}
    reached = sum(1 for s in scores.values() if s >= edge)
    cap = spec.WAND_TIE_CAP_FACTOR * spec.DEFAULT_LIMIT
    return reached > cap and all(d in at_edge for d, s in got_hits if s == edge)


def query_mismatches(
    outcomes: dict[str, set], oracle_ix, perturb: bool = False
) -> tuple[list[str], int]:
    """``outcomes`` maps each distinct query to the set of outcomes the
    engine gave for it. Returns one line per query that disagrees, and
    how many queries matched under the tie-cap contract only.
    ``perturb`` makes every expectation wrong (the gate's self-test)."""
    bad, capped = [], 0
    for q, got in sorted(outcomes.items()):
        want = expected_outcome(oracle_ix, q)
        if perturb:
            want = _perturbed(want)
        if got == {want}:
            continue
        if all(_within_tie_cap(g, want, oracle_ix) for g in got):
            capped += 1
            continue
        bad.append(f"query {q!r}: engine {sorted(got)!r:.300} != oracle {want!r:.300}")
    return bad, capped


def oracle_counts(oracle_ix) -> dict[str, int]:
    """What the build's lineage counters must report for this corpus."""
    return {
        "docs_tokenized": oracle_ix.n_docs,
        "postings_emitted": sum(len(p) for p in oracle_ix.postings.values()),
        "terms": len(oracle_ix.postings),
    }


def count_mismatches(got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [
        f"lineage {k}: {got.get(k)!r} != expected {v!r}"
        for k, v in sorted(want.items())
        if got.get(k) != v
    ]
