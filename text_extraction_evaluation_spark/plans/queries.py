"""Oracle-checked query registry (driver contract, __spark_entry__.py).

Every SQL-expressible operator from SURVEY.md §2 — plus the
training-data-pipeline operators (dedup exact/MinHash-LSH/SimHash/
n-gram-Jaccard, similarity search, text quality/token stats,
fingerprinting) — gets a Spark DataFrame implementation AND an
ANSI-SQL twin the driver runs through DuckDB at sf0.01. The
implementations live in the topic modules (each query function
directly above/below its SQL twin, so the pair stays in sync):

* ``plans.common``       — shared helpers (_t, _docs_par, stopword SQL)
* ``plans.q_relational`` — star-schema battery (SURVEY.md §2.2/2.4-2.7)
* ``plans.q_corpus``     — text stats + every dedup tier
* ``plans.q_nlp``        — BM25/TF-IDF/TextRank/BPE, decontamination,
  mixtures, phrase/trigram/bitmap indexes
* ``plans.q_embedding``  — ANN/similarity, specialty joins, TPC-H tail
* ``plans.q_extraction`` — extraction-family gates + profiling/pivot
* ``plans.q_hostgraph``  — host graph (PageRank/LPA/triangles/BFS) +
  URL/crawl ops (canonical dedup, domain cap, budget allocation)
* ``plans.q_webtext``    — crawl/host/URL/layout operators
* ``plans.q_lm``         — perplexity, DSIR, packing, curation funnel

Cross-engine determinism rules used throughout:
* money/quantity aggregates leave the query as exact integer units
  (cents / scale-4 / ppm BIGINTs) wherever a consumer can rescale;
  a raw ``cast("double")`` aggregate output is banned — round 3's one
  exception (q19) was the round's one driver hash mismatch;
* the DOUBLE columns that remain are quotients/ratios pinned with
  ``round(x, 6)`` of exact-integer numerators/denominators, and the
  oracle gates (pytest at sf0.001, scripts/sweep_oracle.py at sf0.01)
  compare ALL float columns bitwise (IEEE-754 bits), so any
  engine-order drift fails locally before the driver sees it;
* SQL twins cast HUGEINT-producing outputs (DuckDB SUM/MIN/MAX over
  integers) back to BIGINT so both engines agree on column kind;
* hash primitives are md5-hex-prefix -> bigint (identical in both
  engines), never xxhash64/murmur (engine-specific);
* every computed column is aliased identically on both sides (the
  driver's value-hash sorts columns by name).

This module is the stable import surface: it re-exports every query
function and merges the per-module registries into ``SQL_CHECKED``.
"""

from __future__ import annotations

from .common import (  # noqa: F401 — back-compat re-exports
    STOPWORDS_SORTED,
    _STOP_SQL,
    _dec,
    _docs_par,
    _t,
)
from .q_corpus import *  # noqa: F401,F403
from .q_embedding import *  # noqa: F401,F403
from .q_extraction import *  # noqa: F401,F403
from .q_hostgraph import *  # noqa: F401,F403
from .q_lm import *  # noqa: F401,F403
from .q_nlp import *  # noqa: F401,F403
from .q_relational import *  # noqa: F401,F403
from .q_webtext import *  # noqa: F401,F403
from . import (
    q_corpus,
    q_embedding,
    q_extraction,
    q_hostgraph,
    q_lm,
    q_nlp,
    q_relational,
    q_webtext,
)

_MERGED = {
    **q_relational._REGISTRY,
    **q_corpus._REGISTRY,
    **q_embedding._REGISTRY,
    **q_extraction._REGISTRY,
    **q_hostgraph._REGISTRY,
    **q_webtext._REGISTRY,
    **q_lm._REGISTRY,
    **q_nlp._REGISTRY,
}

# Driver-coverage ordering. The external correctness driver samples the
# FIRST 50 entries of ``queries()`` per round (verified: CORRECTNESS_r03's
# keys are exactly the first 50 of the round-3 dict, in order;
# CORRECTNESS_r04's exactly the round-4 first 50). The ordering below is
# therefore the driver's per-round sample window, and it is COMPUTED at
# import time from the committed CORRECTNESS_r*.json records so a missed
# manual rotation can never waste a round's window (round-4 VERDICT item
# 3):
#
#   1. entries whose LATEST official row is red or ``err`` (re-checks),
#   2. rows-only pipeline entries (no oracle twin; their official check
#      is the weaker rows-only kind) whose latest row is not from the
#      most recent record — refreshed so the flagship's own registry
#      entries never go stale again (round-4 VERDICT item 2); placed
#      ahead of the backlog because there are only ever four of them
#      and a 50+ backlog must not push them outside the window again,
#   3. entries that have never had an official row (the backlog),
#   4. flagship greens as window filler, then every remaining green,
#      oldest-official-row first, so re-check slots always refresh the
#      stalest part of the record.
#
# ``_DRIVER_FIRST_FALLBACK`` is used only when no CORRECTNESS_r*.json can
# be found next to the repo (e.g. an installed wheel run outside the
# repo); it is the round-5 rotation: the 36 entries never sampled in
# rounds 1-4, then filler greens.

#: queries()-only entries (no oracle_sql twin — intra-document sequence
#: computation inside Arrow kernels; byte-exact parity is gated by
#: tests/test_parity.py, and each has a hash-green SQL fingerprint twin).
ROWS_ONLY_PIPELINE = (
    "extract_report",
    "extracted_texts",
    "extract_spans",
    "doc_scores",
)

#: High-value greens pinned to the front of the filler section so the
#: flagship gates are re-checked officially whenever window slots remain.
FILLER_GREENS = (
    "extract_report_exact",
    "q19_disjunctive_revenue",
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "quality_filter",
    "extract_text_fingerprint",
    "doc_scores_fingerprint",
)

_DRIVER_FIRST_FALLBACK = [
    *ROWS_ONLY_PIPELINE,
    # -- never driver-sampled in rounds 1-4 --
    "pca_project_census",
    "linear_probe_train",
    "tfidf_top_terms",
    "textrank_keywords",
    "heavy_hitters_cms",
    "readability_census",
    "bm25_topk",
    "bm25_mrr_eval",
    "source_overlap_matrix",
    "vocab_growth_census",
    "token_entropy_census",
    "phrase_search_census",
    "stopword_discovery",
    "langid_confusion",
    "doc_sample_group_topk",
    "doc_sample_weighted",
    "quantile_sample_audit",
    "table_profile_census",
    "crawl_budget_allocation",
    "host_skew_census",
    "url_canonical_dedup",
    "host_domain_cap",
    "anchor_text_census",
    "page_encoding_census",
    "pii_redaction",
    "unicode_nfc_census",
    "outlink_path_census",
    "template_shape_census",
    "crawl_novel_shingles",
    "url_blocklist_filter",
    "crawl_content_diff",
    "crawl_bloom_novelty",
    "scd2_page_history",
    "scd2_incremental_census",
    "passage_chunk_census",
    "bigram_lift_topk",
    # -- filler greens fill the window to 50 --
    *FILLER_GREENS,
]


def _find_correctness_records(start=None):
    """Locate the committed CORRECTNESS_rNN.json files by walking up from
    ``start`` (default: this module; repo layout puts them at the repo
    root, two levels up); returns [] when running from an installed
    wheel outside the repo. Only two-digit round names count, so a stray
    scratch file such as CORRECTNESS_rscratch.json never reorders the
    driver window."""
    import pathlib

    here = pathlib.Path(start or __file__).resolve()
    for parent in [here, *here.parents]:
        recs = sorted(parent.glob("CORRECTNESS_r[0-9][0-9].json"))
        if recs:
            return recs
    return []


def official_row_green(row: dict) -> bool:
    """Whether one CORRECTNESS record row counts as green: hash match
    when the driver compared values, else a bare rows match. Shared by
    driver_order(), the rotate_registry audit, and the ordering tests
    so the three can never disagree on what green means."""
    hm = row.get("hash_match")
    if hm is not None:
        return bool(hm)
    return bool(row.get("rows_match"))


def driver_order(sql_names, rows_only=ROWS_ONLY_PIPELINE):
    """Full driver-facing entry ordering (SQL entries + rows-only
    pipeline entries), computed from the official CORRECTNESS record per
    the rules in the comment block above. Deterministic given the
    committed record files; falls back to ``_DRIVER_FIRST_FALLBACK``
    when none are found."""
    import json

    all_names = list(sql_names) + [n for n in rows_only if n not in sql_names]
    name_set = set(all_names)
    recs = _find_correctness_records()
    if not recs:
        head = [n for n in _DRIVER_FIRST_FALLBACK if n in name_set]
        return head + [n for n in all_names if n not in set(head)]

    # latest official row per entry: (record index, row dict)
    latest: dict[str, tuple[int, dict]] = {}
    for idx, path in enumerate(recs):
        try:
            rec = json.load(open(path))
        except (OSError, ValueError):
            continue
        for k, v in rec.items():
            if isinstance(v, dict):
                latest[k] = (idx, v)
    last_idx = len(recs) - 1

    red, backlog, stale_rows_only, greens = [], [], [], []
    for n in all_names:
        if n not in latest:
            backlog.append(n)
            continue
        idx, row = latest[n]
        if n in rows_only:
            # rows-only entries always record err=no_oracle; "green"
            # means a fresh rows-only row in the most recent record.
            if idx == last_idx and row.get("spark_rows") is not None:
                greens.append(n)
            else:
                stale_rows_only.append(n)
        elif official_row_green(row):
            greens.append(n)
        else:
            red.append(n)

    filler = [n for n in FILLER_GREENS if n in greens]
    # Remaining greens: oldest official row first, registry order as
    # tiebreak, so window re-check slots refresh the stalest record.
    pos = {n: i for i, n in enumerate(all_names)}
    rest = sorted(
        (n for n in greens if n not in set(filler)),
        key=lambda n: (latest[n][0], pos[n]),
    )
    return red + stale_rows_only + backlog + filler + rest


#: The full driver-facing ordering (SQL + rows-only entries), computed
#: once at import; __spark_entry__.queries() iterates this directly.
DRIVER_ORDER = driver_order(list(_MERGED))
SQL_CHECKED = {k: _MERGED[k] for k in DRIVER_ORDER if k in _MERGED}
assert len(SQL_CHECKED) == len(_MERGED)
