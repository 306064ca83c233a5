"""The benchmark's workloads, each driving the program only through
its public functions.

A workload makes and writes its inputs (``prepare``), builds the
expected output from direct calls to the ``algo`` functions
(``build_expected``, once per run, before the engine starts), runs one
repetition (``run``: start to complete result), checks a repetition's
output against the expected one (``check``), and in the traced run
names the layer of each Spark stage and reads its layer counters
(``layer_metrics``).
"""

from __future__ import annotations

import contextlib
import math
import multiprocessing
import os
import shutil
import statistics
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from text_extraction_evaluation_spark.algo.bte import extract_bytes_bte
from text_extraction_evaluation_spark.algo.justext import extract_bytes
from text_extraction_evaluation_spark.algo.metrics import score_texts
from text_extraction_evaluation_spark.algo.textdensity import extract_bytes_density
from text_extraction_evaluation_spark.operators.extract import (
    extract_pages,
    extract_pages_bte,
    extract_pages_density,
    extracted_clean,
    latest_crawl,
)
from text_extraction_evaluation_spark.operators.report import ranked_report
from text_extraction_evaluation_spark.operators.score import score_extracted
from text_extraction_evaluation_spark.plans.jobs import (
    read_extracted,
    run_extraction_job,
    run_score_job,
)
from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

import inputs
import tracing as tr

EXTRACTION_FIELDS = ("text", "status", "n_paragraphs", "n_good")
SCORE_FIELDS = ("precision", "recall", "f1", "precision_bow", "recall_bow", "f1_bow",
                "matched", "matched_bow", "retrieved", "relevant", "status")
# Report means are sums of doubles in Spark's merge order, so their last
# bits differ from a pandas mean; the tolerances are the ones the repo's
# report parity test uses (tests/test_parity.py).
REPORT_REL_TOL = {"avg_precision": 1e-12, "avg_recall": 1e-12, "avg_f1": 1e-12,
                  "avg_f1_bow": 1e-12, "micro_f1": 1e-12, "std_f1": 1e-9}


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def direct_calls(fn, items: list, workers: int) -> list:
    """``[fn(item) for item in items]`` on ``workers`` forked processes.
    Called before the engine starts, so the forks copy no JVM state."""
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        return list(pool.map(fn, items, chunksize=max(1, len(items) // (8 * workers))))


def _direct(extract, raw: bytes, lang: str, gold: str) -> tuple:
    """One page through an extractor and ``score_texts``: the
    extraction fields, then the score fields."""
    x = extract(raw, lang)
    s = score_texts(x.text or "", gold)
    return (*(getattr(x, f) for f in EXTRACTION_FIELDS),
            *(getattr(s, f) for f in SCORE_FIELDS))


def expected_report(scores: pd.DataFrame) -> pd.DataFrame:
    """``ranked_report`` written again in pandas over the expected
    per-page scores: macro means over status 'ok', micro sums over all
    rows, extractors ranked by avg_f1 (desc), then name, per dataset."""
    rows = []
    for (extractor, dataset), g in scores.groupby(["extractor", "dataset"]):
        ok = g[g.status == "ok"]
        n_empty = int((g.status == "empty").sum())
        m, r, rel = int(g.matched.sum()), int(g.retrieved.sum()), int(g.relevant.sum())
        rows.append({
            "extractor": extractor, "dataset": dataset,
            "avg_precision": ok.precision.mean(), "avg_recall": ok.recall.mean(),
            "avg_f1": ok.f1.mean(), "std_f1": ok.f1.std(ddof=1),
            "avg_f1_bow": ok.f1_bow.mean(),
            "n_ok": len(ok), "n_empty": n_empty, "n_fail": len(g) - len(ok) - n_empty,
            "micro_matched": m, "micro_retrieved": r, "micro_relevant": rel,
            "micro_f1": 2.0 * m / (r + rel) if r + rel > 0 else 0.0,
        })
    rep = pd.DataFrame(rows).sort_values(["dataset", "avg_f1", "extractor"],
                                         ascending=[True, False, True])
    rep["rank"] = rep.groupby("dataset").cumcount() + 1
    return rep.reset_index(drop=True)


def frame_diff(what: str, got: pd.DataFrame, want: pd.DataFrame, key: list[str],
               rel_tol: dict[str, float] | None = None) -> list[str]:
    """Differences of ``got`` from ``want``, both sorted by ``key``:
    non-float columns must be equal, float columns equal or within
    ``rel_tol[column]``; NaN equals NaN."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return [f"{what}: columns {sorted(got.columns)} x {len(got)} rows, "
                f"expected {sorted(want.columns)} x {len(want)} rows"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    errors = []
    for c in want.columns:
        if want[c].dtype.kind == "f":
            tol = (rel_tol or {}).get(c, 0.0)
            bad = [i for i, (a, b) in enumerate(zip(got[c], want[c]))
                   if not (math.isclose(a, b, rel_tol=tol) or (a != a and b != b))]
        else:
            bad = [i for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                   if a != b]
        if bad:
            row = want.loc[bad[0], key].tolist()
            errors.append(f"{what}: column {c} differs in {len(bad)} rows, first at {row}: "
                          f"{got[c][bad[0]]!r} != {want[c][bad[0]]!r}")
    return errors


class Workload:
    name = ""
    UNMEASURED: dict[str, str] = {}

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.spark = None  # set once the engine has started
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.cores = cores

    def _write(self, tables: dict[str, pd.DataFrame], n_files: dict[str, int]) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for name, pdf in tables.items():
            inputs.write_table(pdf, os.path.join(self.work, name), n_files[name])

    def path(self, table: str) -> str:
        return os.path.join(self.work, table)

    def check_operators(self) -> list[str]:
        """Checks made once per run, outside the timed section."""
        return []

    def discard(self, result) -> None:
        pass


def _direct_crawl(item: tuple) -> tuple:
    url, raw, lang, gold = item
    return (url, *_direct(extract_bytes, raw, lang, gold))


class CrawlEval(Workload):
    """The production path of scripts/run_pipeline.py: latest_crawl ->
    run_extraction_job (16 buckets, 4 per chunk) -> run_score_job, into
    a fresh catalog root per repetition. The result is complete when
    the report is committed."""

    name = "crawl_eval"
    reps = 0
    REPLICAS = 2
    EXTRACTOR = "justext_spark"  # run_score_job's default label
    ALGO_SAMPLE = 300

    def prepare(self) -> None:
        tables = inputs.crawl_tables(self.seed, self.REPLICAS)
        self._write(tables, {"pages": 2 * self.cores, "gold": self.cores})
        self.tables = tables
        self.docs = len(tables["pages"])
        d = self.path("pages")
        self.pages_bytes = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

    def build_expected(self) -> None:
        """Every url's extraction and score from direct calls on the
        latest crawl's bytes, and the report aggregated from them."""
        pages, gold = self.tables["pages"], self.tables["gold"].set_index("url")
        latest = pages.sort_values("warc_ts").drop_duplicates("url", keep="last")
        items = [(r.url, r.html, r.lang, gold.gold_text[r.url]) for r in latest.itertuples()]
        rows = pd.DataFrame(direct_calls(_direct_crawl, items, self.cores),
                            columns=["url", *EXTRACTION_FIELDS, *SCORE_FIELDS[:-1], "score_status"])
        self.want_extracted = rows[["url", *EXTRACTION_FIELDS]]
        self.want_scores = rows[["url", *SCORE_FIELDS[:-1], "score_status"]].rename(
            columns={"score_status": "status"})
        scores = self.want_scores.assign(extractor=self.EXTRACTOR,
                                         dataset=gold.dataset[rows.url].to_numpy())
        self.want_report = expected_report(scores)
        pick = np.random.default_rng([self.seed, 10]).choice(len(items), self.ALGO_SAMPLE,
                                                             replace=False)
        self.algo_pages = [(items[i][1], items[i][2]) for i in pick]
        self.algo_pairs = [(rows.text[i], items[i][3]) for i in pick]
        del self.tables

    def run(self, tracer=None) -> str:
        self.reps += 1
        root = os.path.join(self.work, f"catalog-{self.reps}")
        with _span(tracer, "run_extraction_job"):
            pages = self.spark.read.parquet(self.path("pages"))
            run_extraction_job(self.spark, latest_crawl(pages), root)
        with _span(tracer, "run_score_job"):
            run_score_job(self.spark, root, self.spark.read.parquet(self.path("gold")))
        return root

    def check(self, root: str) -> list[str]:
        """The committed extracted, scores and report tables, whole,
        against the expected ones."""
        cat = LocalCatalog(root)
        extracted = read_extracted(self.spark, root).select("url", *EXTRACTION_FIELDS)
        scores = cat.read(self.spark, "scores").select("url", *SCORE_FIELDS)
        return (frame_diff("extracted", extracted.toPandas(), self.want_extracted, ["url"])
                + frame_diff("scores", scores.toPandas(), self.want_scores, ["url"])
                + frame_diff("report", cat.read(self.spark, "report").toPandas(),
                             self.want_report, ["extractor", "dataset"], REPORT_REL_TOL))

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def algo_inputs(self):
        return self.algo_pages, self.algo_pairs

    def layer_metrics(self, snap: tr.Snapshot, tracer, root: str):
        g_ext = f"{tracer.tag}:run_extraction_job"
        g_score = f"{tracer.tag}:run_score_job"

        def extract_role(x, ran, _stage):
            if x is None or not tr.nodes(x, "MapInArrow"):
                return "jobs.lineage"  # the run_metrics commit
            if "MapInArrow" in ran:
                return "extract.kernel"
            return "latest_crawl" if "Exchange" in ran else "extract.rejoin"

        def score_role(x, ran, _stage):
            if x is None or not tr.nodes(x, "MapInArrow"):
                return "report"  # the ranked_report commit
            return "score.kernel" if "MapInArrow" in ran else "score.broadcast"

        layers = {**tr.stage_layers(snap, g_ext, extract_role),
                  **tr.stage_layers(snap, g_score, score_role)}
        by_layer = tr.stages_by_layer(snap, layers)
        ex_x, sc_x = snap.executions(g_ext), snap.executions(g_score)

        chunks = LocalCatalog(root).committed_chunks("extracted")
        commits = sorted(c["committed_at_unix"] for c in chunks.values())
        spans = {s.name: s for s in tracer.leaves()}
        chunk_s = [b - a for a, b in zip([spans["run_extraction_job"].start] + commits, commits)]
        status = dict(read_extracted(self.spark, root).groupBy("status")
                      .agg(F.count(F.lit(1))).collect())
        scanned = tr.sql_total([x for x in ex_x if tr.nodes(x, "MapInArrow")],
                               "Scan parquet", "size of files read")
        m = {
            **tr.kernel_metrics(ex_x + sc_x, by_layer.get("extract.kernel", [])),
            **tr.broadcast_metrics(sc_x),
            "latest_crawl.stage_s": tr.stage_s(by_layer.get("latest_crawl", [])),
            "extract.status_ok": float(status.get("ok", 0)),
            "extract.status_empty": float(status.get("empty", 0)),
            "extract.status_parse_error": float(status.get("parse_error", 0)),
            "score.kernel_task_s": tr.run_s(by_layer.get("score.kernel", [])),
            "report.stage_s": tr.stage_s(by_layer.get("report", [])),
            "jobs.extract_job_s": spans["run_extraction_job"].seconds,
            "jobs.score_job_s": spans["run_score_job"].seconds,
            "jobs.chunks": float(len(chunks)),
            "jobs.chunk_s.p50": statistics.median(chunk_s) if chunk_s else 0.0,
            "jobs.chunk_s.max": max(chunk_s, default=0.0),
            "jobs.scan_amplification": scanned / self.pages_bytes,
            "catalog.write_mb": tr.sql_total(
                ex_x + sc_x, "Execute InsertIntoHadoopFsRelationCommand", "written output") / tr.MB,
        }
        return m, tr.stage_intervals(snap, layers)


def _direct_large(item: tuple) -> list[tuple]:
    url, raw, lang, gold, dataset = item
    return [(url, name, dataset, *_direct(direct, raw, lang, gold))
            for name, (_op, direct) in LargePages.EXTRACTORS.items()]


class LargePages(Workload):
    """The extractor ranking, in memory: extract_pages,
    extract_pages_density and extract_pages_bte, each scored, unioned
    and ranked; the result is complete when the report is collected."""

    name = "large_pages"
    UNMEASURED = {"score.kernel_task_s": "the scoring kernel runs in the same stages as "
                  "the extraction kernels; their joint task time is extract.task_s"}
    PAGES = 36
    SAMPLE = 6
    # extractor -> (Spark operator, direct call on one page's bytes)
    EXTRACTORS = {
        "justext": (extract_pages, extract_bytes),
        "density": (extract_pages_density, lambda raw, _lang: extract_bytes_density(raw)),
        "bte": (extract_pages_bte, lambda raw, _lang: extract_bytes_bte(raw)),
    }

    def prepare(self) -> None:
        self.tables = inputs.large_tables(self.seed, self.PAGES)
        self._write(self.tables, {"pages": 2 * self.cores, "gold": 1})
        self.docs = len(self.tables["pages"])

    def build_expected(self) -> None:
        """Every page through the three extractors and ``score_texts``
        by direct calls, and the report aggregated from them."""
        pages, gold = self.tables["pages"], self.tables["gold"]
        items = sorted(zip(pages.url, pages.html, pages.lang, gold.gold_text, gold.dataset),
                       key=lambda it: -len(it[1]))  # largest first, for balance
        rows = [row for per_page in direct_calls(_direct_large, items, self.cores)
                for row in per_page]
        want = pd.DataFrame(rows, columns=["url", "extractor", "dataset", *EXTRACTION_FIELDS,
                                           *SCORE_FIELDS[:-1], "score_status"])
        self.want = want.set_index(["url", "extractor"])
        scores = want[["extractor", "dataset", *SCORE_FIELDS[:-1], "score_status"]]
        self.want_report = expected_report(scores.rename(columns={"score_status": "status"}))
        pick = np.random.default_rng([self.seed, 11]).choice(len(pages), self.SAMPLE,
                                                             replace=False)
        self.sample = sorted(pages.url[i] for i in pick)
        self.algo_pages = list(zip(pages.html, pages.lang))
        gold_text = gold.set_index("url").gold_text
        self.algo_pairs = [(self.want.text[(u, x)], gold_text[u])
                           for u in self.sample for x in self.EXTRACTORS]
        del self.tables

    def _scored(self, pages, keep_extraction: bool = False):
        """Scores of all three extractors, unioned. ``keep_extraction``
        carries each row's extraction output along (for the check)."""
        gold = self.spark.read.parquet(self.path("gold"))
        keep = ("x_text", "x_status", "n_paragraphs", "n_good") if keep_extraction else ()
        out = None
        for name, (op, _direct) in self.EXTRACTORS.items():
            extracted = extracted_clean(op(pages))
            if keep_extraction:
                extracted = extracted.withColumnRenamed("status", "x_status").withColumn(
                    "x_text", F.col("text"))
            s = score_extracted(extracted, gold, extractor=name, keep_cols=keep)
            out = s if out is None else out.unionByName(s)
        return out

    def run(self, tracer=None) -> pd.DataFrame:
        with _span(tracer, "collect"):
            report = ranked_report(self._scored(self.spark.read.parquet(self.path("pages"))))
            return report.toPandas()

    def check(self, report: pd.DataFrame) -> list[str]:
        """The collected report against the one aggregated from direct
        calls on every page."""
        return frame_diff("report", report, self.want_report, ["extractor", "dataset"],
                          REPORT_REL_TOL)

    def check_operators(self) -> list[str]:
        """The three extractors' rows for a seeded sample of urls, run
        through the same operators, against direct calls on the same
        bytes."""
        pages = self.spark.read.parquet(self.path("pages")).filter(F.col("url").isin(self.sample))
        got = self._scored(pages, True).withColumnRenamed("status", "score_status") \
            .withColumnRenamed("x_text", "text").withColumnRenamed("x_status", "status")
        want = self.want.loc[self.sample].reset_index()
        return frame_diff("sampled rows", got.toPandas(), want, ["url", "extractor"])

    def algo_inputs(self):
        return self.algo_pages, self.algo_pairs

    def layer_metrics(self, snap: tr.Snapshot, tracer, _report):
        group = f"{tracer.tag}:collect"

        def role(_x, ran, stage):
            if "MapInArrow" in ran:
                return "extract+score.kernel"
            if stage.get("shuffleReadBytes", 0) > 0:
                return "report"
            return "score.broadcast" if stage.get("inputBytes", 0) > 0 else "report"

        layers = tr.stage_layers(snap, group, role)
        by_layer = tr.stages_by_layer(snap, layers)
        execs = snap.executions(group)
        pages = self.spark.read.parquet(self.path("pages"))
        status: dict[str, int] = {}
        for op, _direct in self.EXTRACTORS.values():
            for st, n in op(pages).groupBy("status").agg(F.count(F.lit(1))).collect():
                status[st] = status.get(st, 0) + n
        m = {
            **tr.kernel_metrics(execs, by_layer.get("extract+score.kernel", [])),
            **tr.broadcast_metrics(execs),
            "extract.status_ok": float(status.get("ok", 0)),
            "extract.status_empty": float(status.get("empty", 0)),
            "extract.status_parse_error": float(status.get("parse_error", 0)),
            "report.stage_s": tr.stage_s(by_layer.get("report", [])),
        }
        return m, tr.stage_intervals(snap, layers)


WORKLOADS = {w.name: w for w in (CrawlEval, LargePages)}
