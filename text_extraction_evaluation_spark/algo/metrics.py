"""Token-level P/R/F1 scoring: LCS alignment + bag-of-words overlap.

Reimplements the reference's evaluation core (BASELINE.json:6:
"per-document precision/recall/F1 scoring against gold-standard text
via longest-common-subsequence token alignment and bag-of-words
overlap"). The LCS mode is the exact longest common subsequence of
the two token sequences (ordered, non-crossing alignment), computed
bit-parallel; the bag-of-words mode is multiset intersection. Pure
Python, zero Spark imports.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from .tokenize import tokens

STATUS_OK = "ok"
STATUS_EMPTY = "empty"  # retrieved empty
STATUS_NO_GOLD = "no_gold"  # relevant empty


@dataclass(frozen=True)
class DocScore:
    precision: float
    recall: float
    f1: float
    precision_bow: float
    recall_bow: float
    f1_bow: float
    matched: int
    matched_bow: int
    retrieved: int
    relevant: int
    status: str


def _prf(matched: int, retrieved: int, relevant: int) -> tuple[float, float, float]:
    precision = matched / retrieved if retrieved else 0.0
    recall = matched / relevant if relevant else 0.0
    f1 = (2 * precision * recall / (precision + recall)) if (precision + recall) else 0.0
    return precision, recall, f1


def lcs_matched(retrieved: list[str], relevant: list[str]) -> int:
    """Length of the longest common subsequence of two token sequences.

    Bit-parallel LCS (Allison & Dix 1986; Hyyrö 2004): the longer
    sequence is one Python int, one bit per token, and each token of the
    shorter one updates all of its columns at once, so the cost is
    O(n·m / word size). Zero bits of ``v`` mark matched positions."""
    if len(retrieved) < len(relevant):
        retrieved, relevant = relevant, retrieved
    if not relevant:
        return 0
    masks: dict[str, int] = {}
    bit = 1
    for t in retrieved:
        masks[t] = masks.get(t, 0) | bit
        bit <<= 1
    full = v = bit - 1
    for t in relevant:
        m = masks.get(t)
        if m:
            u = v & m
            v = ((v + u) | (v - u)) & full
    return len(retrieved) - v.bit_count()


def bow_matched(retrieved: list[str], relevant: list[str]) -> int:
    """Multiset intersection size."""
    if not retrieved or not relevant:
        return 0
    cr = Counter(retrieved)
    cg = Counter(relevant)
    return sum(min(n, cg[t]) for t, n in cr.items() if t in cg)


def score_texts(extracted_text: str, gold_text: str) -> DocScore:
    retrieved = tokens(extracted_text)
    relevant = tokens(gold_text)
    if retrieved == relevant:
        # exact-match fast path: the LCS of identical sequences and
        # their multiset intersection both equal len — skip both passes
        # (the common case on a well-extracted corpus).
        m_lcs = m_bow = len(retrieved)
    else:
        m_lcs = lcs_matched(retrieved, relevant)
        m_bow = bow_matched(retrieved, relevant)
    p, r, f1 = _prf(m_lcs, len(retrieved), len(relevant))
    pb, rb, f1b = _prf(m_bow, len(retrieved), len(relevant))
    if not retrieved:
        status = STATUS_EMPTY
    elif not relevant:
        status = STATUS_NO_GOLD
    else:
        status = STATUS_OK
    return DocScore(
        precision=p, recall=r, f1=f1,
        precision_bow=pb, recall_bow=rb, f1_bow=f1b,
        matched=m_lcs, matched_bow=m_bow,
        retrieved=len(retrieved), relevant=len(relevant),
        status=status,
    )
