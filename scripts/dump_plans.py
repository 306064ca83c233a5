"""Dump formatted physical plans of the flagship pipeline and key
queries to PLANS.md — the reviewable evidence that filters push down,
dimensions broadcast, kernels see pruned columns, and no plan holds a
cartesian product. Generated on demand, not committed:
    python scripts/dump_plans.py"""

from __future__ import annotations

import contextlib
import io
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED
    from text_extraction_evaluation_spark.sources.readers import (
        get_spark,
        gold_df,
        pages_df,
    )

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"

    sections: list[tuple[str, str, object]] = []
    pages = pages_df(spark, sf, n_partitions=8)
    extracted = extracted_clean(extract_pages(latest_crawl(pages)))
    sections.append((
        "Flagship extraction pipeline",
        "synth (MapInPandas) -> ONE url-hash shuffle for the "
        "latest-crawl window -> extraction kernel (MapInPandas) with an "
        "explicit pruning Project before it (gold text never enters the "
        "Arrow channel)",
        extracted,
    ))
    sections.append((
        "Scoring (J1 broadcast + M1/M2 kernel)",
        "gold is BroadcastExchange'd — zero shuffle of the extracted side",
        score_extracted(extracted, gold_df(spark, sf)),
    ))
    for name, why in [
        ("q1_pricing_summary", "shipdate filter reaches the parquet scan "
         "(PushedFilters) and only needed columns are read (ReadSchema)"),
        ("q_nation_revenue", "all four dimensions broadcast; the single "
         "potential wide join is handled by AQE"),
        ("q5_local_supplier_volume", "6-table Q5 shape: one wide "
         "lineitem-orders dependency, four broadcast dims, region and "
         "date filters pushed below the joins"),
        ("kmeans_embeddings", "iterative Lloyd updates as composed "
         "DataFrame ops: broadcast centroid array, map-side argmin "
         "assignment (zero vec_id exchange), one hash aggregate per "
         "iteration"),
        ("q_events_asof_join", "zero Join operators — union + one window "
         "shuffle per key instead of a range join"),
        ("ann_ivf_topk", "broadcast coarse quantizer; inverted-list probe "
         "is an equi-join on the cell id, no cartesian product"),
        ("dedup_minhash_lsh", "LSH bucket pair-generation shuffles only "
         "(band, band_key) — shingles never cross the wire; oversized "
         "buckets are star-reduced without a collect_list"),
        ("dedup_simhash_pairs", "banded SimHash: candidates from an "
         "EQUI-join on (band, value) — no nested-loop self-join; exact "
         "for Hamming <= 6 by the 7-band pigeonhole"),
        ("dedup_ngram_jaccard", "exact Jaccard via inverted-index "
         "equi-join on the shingle + intersection counts — the brute "
         "all-pairs formulation survives only as a test twin"),
        ("doc_containment", "winnowing containment: sketch-sized "
         "equi-join on sampled rolling-hash fingerprints"),
        ("host_pagerank", "iterative graph rank as composed DataFrame "
         "ops: per iteration one edge-list equi-join on src + one dst "
         "hash aggregate — no cartesian product, no driver actions"),
        ("textrank_keywords", "TextRank over the token co-occurrence "
         "graph: the out-weight window reuses the (u,v) aggregate's "
         "exchange, then the same one-join-one-aggregate PageRank step "
         "per iteration as host_pagerank — zero driver actions"),
        ("quality_repetition", "Gopher repetition metrics entirely "
         "map-side: higher-order array expressions, no explode, no "
         "shuffle — a pure scan-project plan"),
        ("doc_shard_assignment", "distributed prefix sum: per-bucket "
         "running-sum windows in parallel, a #buckets-row offset "
         "window, broadcast join back — no corpus-wide single-task "
         "window"),
        ("url_canonical_dedup", "pure map-side JVM regex normalization "
         "+ one host hash aggregate; no UDF, no join"),
        ("extractor_bootstrap_ci", "Poisson bootstrap: per-(doc, "
         "replicate) weights computed map-side from a keyed hash and "
         "partially aggregated before the shuffle — the only rows "
         "that move are (dataset, replicate) partial sums, never a "
         "resampled corpus"),
        ("scd2_page_history", "SCD-2 interval assembly: ONE url "
         "exchange + sort feeds all three windows (lag change "
         "detection, row_number versioning, lead interval close) "
         "with zero re-shuffle — Catalyst reuses the partitioning "
         "and ordering across the window chain"),
        ("doc_sample_group_topk", "two-stage per-group top-k: the "
         "salted (lang, salt) window fans the skewed language key "
         "over 8x the tasks; the final per-lang window ranks at most "
         "8k survivor rows per language"),
        ("host_domain_cap", "per-host quota via rank-limit pushdown: "
         "partial WindowGroupLimit before the exchange bounds what the "
         "hot host ships; census join stays broadcast"),
        ("pii_redaction", "full-corpus regex scrub as a pure "
         "scan-project plan + one map-side-combined census aggregate — "
         "no shuffle of document text"),
        ("url_blocklist_filter", "subdomain suffix match as label-suffix "
         "explode on the distinct host dim + broadcast LEFT SEMI — the "
         "LIKE theta-join (BroadcastNestedLoop) never appears"),
        ("boilerplate_line_census", "line-df census: map-side partial "
         "combine collapses repeated boilerplate before the shuffle; "
         "countDistinct(url) plans as the two-phase expand"),
        ("crawl_content_diff", "recrawl diff via min_by/max_by per url "
         "— one (host,url) aggregate carrying two hashes, no snapshot "
         "self-join, html bytes never shuffle"),
        ("lm_perplexity_score", "CCNet perplexity: bounded-vocab LM "
         "count tables ride as BroadcastHashJoins (the wiki-LM-to-"
         "every-worker shape); per-doc NLL aggregate collapses "
         "map-side so the shuffle carries one row per doc"),
        ("dsir_importance_weights", "DSIR: 4096-bucket feature "
         "log-ratio table is a broadcast; scoring is map-side join + "
         "per-doc aggregate, integer micro-nat sums"),
        ("sequence_packing", "concat-and-chunk packing: one shard "
         "shuffle then a running-sum window PER SHARD — parallel "
         "across shards, no global single-task window"),
        ("line_dedup_clean", "RefinedWeb stage 2: tiny hot-line "
         "dictionary from the census rides as a BROADCAST left join "
         "over the span stream — the corpus never shuffles on line "
         "text; kept bytes pinned by fingerprint sum"),
        ("curation_funnel", "the whole 5-stage curation pipeline as "
         "one plan: every stage a flag column (one text window + two "
         "broadcasts + map-side exprs), census = a single stacked "
         "one-row aggregate — no per-stage corpus passes"),
        ("dup_span_census", "ExactSubstr span dedup: map-side window "
         "hashes, ONE dup-hash aggregate, equi-join flag-back, per-doc "
         "interval-merge window — no position-pair join, so a window "
         "repeated k times costs O(k) rows"),
        ("semantic_dedup_census", "SemDeDup: k-means cells bound the "
         "pair search (per-cell equi-self-join, never O(n^2)); final "
         "assignment is a broadcast map-side argmin with zero vec_id "
         "exchange; survivor rule is a dominance expression inside the "
         "pair join — no connected-components iteration"),
        ("crawl_bloom_novelty", "Bloom novelty: history collapses "
         "map-side to <= m/64 word rows then a ONE-ROW broadcast map; "
         "the new-crawl probe is a JVM forall with zero exchange — the "
         "exact semi-join exists only as the audit column"),
        ("quality_classifier_score", "fastText-shaped inference: "
         "tokenize, hash, weight-fold, and gate all inside one "
         "scan-project — zero shuffle, zero Python; a trained model "
         "swaps in as a broadcast array"),
        ("bpe_pair_census", "distributed BPE merge counting: the only "
         "corpus-sized pass is the map-side-combined word-frequency "
         "aggregate; pair explode + ranking run over the vocabulary"),
        ("bm25_topk", "BM25 retrieval: postings carry dl through one "
         "(doc_id, term) aggregate, the query-term table rides a "
         "BroadcastHashJoin, corpus stats a one-row broadcast — "
         "scoring touches candidates only"),
        ("q7_volume_shipping", "TPC-H Q7: the two-year shipdate filter "
         "reaches the parquet scan; supplier/customer/nation all "
         "broadcast — lineitem-orders is the single wide join"),
        ("host_label_propagation", "label propagation: per round one "
         "neighbor equi-join + one (host, label) hash aggregate + a "
         "rank-limited argmax window over the label table — edges "
         "never re-shuffle, no driver actions"),
        ("crawl_budget_allocation", "largest-remainder quota split on "
         "the rank table: one-row broadcast totals; the global "
         "remainder rank is DISTRIBUTED — range exchange on (rem, "
         "host), per-partition row_number, plus broadcast per-"
         "partition offsets whose cumulative window is one row per "
         "partition — never a single-task sort at host cardinality, "
         "never the page corpus"),
        ("trigram_index_search", "posting-list LIKE acceleration: the "
         "probe-filtered explode bounds the shuffle at query-gram "
         "postings; candidates broadcast back for the contains() "
         "verify — the full-scan LIKE exists only as the oracle"),
        ("q_events_interpolate", "gap fill + interpolate: the fact "
         "scan collapses to (type, hour) partials before the spine "
         "explode; IGNORE-NULLS neighbor windows run over the tiny "
         "spine, not raw events"),
        ("dedup_minhash_calibration", "sketch calibration: signatures "
         "computed once per doc, candidates from the banded equi-join, "
         "and both signature and shingle tables join back by doc id — "
         "candidate-bounded verification work"),
        ("bpe_train_merges", "full BPE training loop: one corpus-sized "
         "word aggregate, then K vocabulary-sized iterations — pair "
         "aggregate, bounded top-1 (TakeOrderedAndProject), ONE-ROW "
         "broadcast merge application — all in a single lazy plan "
         "with no driver actions"),
        ("heavy_hitters_cms", "count-min sketch: counter table bounded "
         "at depth*width rows regardless of corpus size (mergeable by "
         "+, the partial-agg combine); probes equi-join the broadcast "
         "counters and min over depth"),
        ("doc_sample_weighted", "A-ES weighted sampling: map-side "
         "deterministic priorities, selection via TakeOrderedAndProject "
         "(per-partition top-k, no global sort)"),
        ("bpe_encode_census", "tokenizer application: trained "
         "segmentation broadcasts onto the (lang, word) corpus "
         "aggregate — the tiny-tokenizer-to-every-executor shape; "
         "tokens-per-word is a JVM delimiter count"),
        ("unicode_nfc_census", "NFC hygiene pass: pruned Project into "
         "a mapInPandas kernel emitting fixed-width stats, then a "
         "4-row map-side-combined aggregate — document text never "
         "shuffles"),
        ("pca_power_iteration", "power-iteration PCA: per iteration a "
         "one-row broadcast vector, map-side integer projections, one "
         "64-key (dim) hash aggregate — the covariance matrix never "
         "materializes, no driver actions"),
        ("leakage_safe_split_census", "site-hash split: map-side split "
         "assignment, one census aggregate, leak audit collapses to a "
         "one-row broadcast"),
        ("outlink_path_census", "link-graph builder: map-side href "
         "regex over html bytes + one (path) aggregate — html never "
         "shuffles, only (path, page) link rows"),
        ("template_shape_census", "DOM-shape fingerprint: map-side tag "
         "scan + order-preserving array_distinct, one (shape) "
         "aggregate"),
        ("crawl_novel_shingles", "n-gram novelty: shingle explode -> "
         "one (hash) first-seen aggregate -> hash equi-join back -> "
         "(hour) census; only 60-bit hashes shuffle"),
        ("readability_census", "Flesch census: three map-side regex "
         "counters folded by one (lang) aggregate — no shuffle of "
         "text"),
        ("pca_project_census", "PCA application: one-row broadcast "
         "component, map-side integer fold projection, one (label) "
         "aggregate"),
        ("ann_ivf_recall", "index evaluation: brute + IVF plans "
         "composed, comparison join over topk-bounded rows only"),
        ("decontamination_clean", "clean pass: tiny contaminated-id "
         "set LEFT-joins the training corpus; fingerprint collapses "
         "map-side, text never shuffles"),
        ("linear_probe_train", "supervised GD loop: sparse feature "
         "rows x one-row broadcast weights, one (doc) aggregate + one "
         "64-key (bucket) gradient aggregate per iteration, no driver "
         "actions"),
        ("source_overlap_matrix", "distinct (source, shingle) collapse "
         "before the self-join — worst key bounded by #sources, not "
         "document frequency"),
        ("vocab_growth_census", "Heaps' law: one min-aggregate over "
         "exploded tokens finds every type's first occurrence; the "
         "cumulative window runs over the tiny checkpoint table only"),
        ("token_entropy_census", "unigram entropy: (doc, token) hash "
         "aggregate with map-side combine + doc_id window, integer "
         "micro-nat sums — no joins, no broadcast"),
        ("bigram_lift_topk", "collocation lift: min-count filter "
         "shrinks candidates before any join; survivors broadcast "
         "onto unigram counts; TakeOrdered top-k, no full sort"),
        ("anchor_text_census", "paired href+anchor extraction: "
         "map-side JVM regex over html bytes, one (path, anchor) "
         "aggregate — html never shuffles"),
        ("page_encoding_census", "charset sniff: pruned Project into "
         "MapInPandas (bytes cross Arrow once), codec-grain hash "
         "aggregate with map-side combine"),
        ("hard_negative_mining", "hardest-negative census: broadcast "
         "nested-loop pair scoring (stated brute baseline; IVF probe "
         "is the swap-in), per-vector argmax window, label-pair rollup"),
        ("embedding_sq8_census", "SQ8 audit: scale materialized as a "
         "column (not inlined into the lambda — the measured O(dim^2) "
         "trap), map-side only, one label aggregate"),
        ("phrase_search_census", "positional phrase search: postings "
         "filtered to the probe vocabulary map-side, then (doc_id, "
         "pos+i) equi-join chains — no full-index shuffle"),
        ("quality_ppl_contingency", "filter agreement: broadcast LM "
         "reuse + one-row broadcast corpus total + map-side quality "
         "flag, 4-row aggregate"),
        ("mixture_temperature_plan", "tau-sampling plan: source-grain "
         "census, one-row broadcast totals, pure BIGINT normalization "
         "over quantized weights"),
        ("q_event_funnel", "ordered funnel: three chained conditional-"
         "MIN windows over ONE user_id exchange — no self-joins, no "
         "per-step log passes"),
        ("q_retention_cohorts", "retention matrix: one user_id "
         "aggregate to the distinct day set (cohort = array_min), "
         "then a (cohort, offset) aggregate — two exchanges, no "
         "window, no sort"),
        ("ann_pq_adc_topk", "PQ/ADC scan: per-subspace k-means "
         "codebooks broadcast; encoding is a map-side argmin (zero "
         "shuffle); per-query LUTs collapse to one broadcast row and "
         "ADC is an element_at fold — the only candidate exchange is "
         "the final top-k window"),
        ("ann_ivfpq_topk", "IVF-PQ: coarse cell + residual via one "
         "broadcast argmin; residual PQ codebooks shared across "
         "cells; candidates meet per-(query,cell) LUTs in a broadcast "
         "equi-join on cell — work is O(n*nprobe/k), one top-k "
         "exchange"),
        ("zorder_layout_census", "Z-order layout: Morton keys and "
         "equal-width buckets are map-side integer formulas (no "
         "global sort/ntile); only the tiny footer aggregate and two "
         "broadcast range-joins against 2*n_buckets footer rows "
         "shuffle"),
        ("dedup_jaccard_prefix", "prefix-filter join: candidates come "
         "only from each doc's rarest-L-shingle prefix (lossless by "
         "the prefix-filter theorem), so bucket sizes shrink exactly "
         "where the naive shingle index explodes; exact verify join "
         "after"),
        ("page_byte_census", "raw-Arrow kernel surface: a single "
         "map-only MapInArrow stage — no Exchange, no pandas "
         "conversion, binary buffers scanned in place"),
    ]:
        fn, _ = SQL_CHECKED[name]
        sections.append((name, why, fn(spark, sf)))

    out = io.StringIO()
    out.write(
        "# PLANS.md — captured physical plans (regenerate: "
        "`python scripts/dump_plans.py`)\n\n"
        f"Spark {spark.version}, AQE on, sf0.001 inputs. The properties\n"
        "called out per section are asserted in tests/test_plans.py; this\n"
        "file is the human-readable evidence.\n"
    )
    # iterative plans (pagerank's 5 unrolled rounds) explode to
    # thousands of lines of repeated structure; keep the dump readable
    MAX_LINES = 400
    for title, why, df in sections:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().strip()
        lines = plan.splitlines()
        if len(lines) > MAX_LINES:
            plan = "\n".join(lines[:MAX_LINES]) + (
                f"\n... [truncated: {len(lines) - MAX_LINES} more lines — "
                "regenerate with MAX_LINES raised to see the full plan]"
            )
        out.write(f"\n## {title}\n\n{why}.\n\n```\n{plan}\n```\n")

    (ROOT / "PLANS.md").write_text(out.getvalue())
    print("wrote PLANS.md", len(out.getvalue()), "bytes")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
