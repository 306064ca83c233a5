"""Per-layer tracing for the benchmark's traced run.

Three sources, all read from the benchmark's side of the public API:

* spans: the benchmark wraps each public call of a repetition in a
  ``Span`` and gives it its own Spark job group;
* the Spark status store, read through the driver's REST endpoint
  (``<ui>/api/v1``): jobs by group, stage timings and I/O counters, and
  the SQL node metrics (MapInArrow data sent/returned, broadcast size
  and build time, shuffle bytes, files scanned and written);
* in-process timing of each ``algo`` public function on the workload's
  own pages, bucketed by page size.

``layer_self_times`` sweeps the repetition's timeline: each instant
goes to the Spark stages running then (shared equally), else to the
driver side of the innermost span, else to the benchmark's own glue.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timezone

from inputs import size_bucket

MB = 1024 * 1024
ALGO_MODULES = ("encoding", "htmlseg", "justext", "textdensity", "bte")


@dataclass
class Span:
    name: str
    group: str
    start: float = 0.0
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; each span's Spark jobs run under its job group."""

    def __init__(self, sc, run_tag: str) -> None:
        self.sc = sc
        self.tag = run_tag
        self.stack: list[Span] = []
        self.roots: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, f"{self.tag}:{name}")
        (self.stack[-1].children if self.stack else self.roots).append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def leaves(self) -> list[Span]:
        out: list[Span] = []

        def walk(s: Span) -> None:
            if not s.children:
                out.append(s)
            for c in s.children:
                walk(c)

        for r in self.roots:
            walk(r)
        return out


# -- Spark status store ------------------------------------------------------

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+:")


def metric_value(text: str) -> float:
    """Total of a SQL metric as Spark formats it: '5,004', '4.3 MiB',
    or 'total (min, med, max ...)\\n3.2 s (...)'. Sizes in bytes,
    times in seconds."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class StatusStore:
    """Snapshot of the application's jobs, stages and SQL executions."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self, groups: set[str], settle_s: float = 15.0) -> "Snapshot":
        """Wait until every job of ``groups`` and its SQL execution has
        finished in the status store (listener events arrive
        asynchronously), then read them."""
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            sql = self._get("sql?details=true&planDescription=false&offset=0&length=100000")
            job_ids = {j["jobId"] for j in jobs}
            mine = [x for x in sql if job_ids & set(
                x["successJobIds"] + x["failedJobIds"] + x["runningJobIds"])]
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                x["status"] == "RUNNING" for x in mine)
            if not busy or time.time() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages?details=true")
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        return Snapshot(jobs, stages, mine)


@dataclass
class Snapshot:
    jobs: list[dict]
    stages: list[dict]
    sql: list[dict]

    def executions(self, group: str) -> list[dict]:
        mine = {j["jobId"] for j in self.jobs if j["jobGroup"] == group}
        return [x for x in self.sql if mine & set(x["successJobIds"])]


def nodes(execution: dict, name: str) -> list[dict]:
    return [n for n in execution["nodes"] if n["nodeName"] == name]


def node_metric(node: dict, metric: str) -> float:
    return sum(metric_value(m["value"]) for m in node.get("metrics", []) if m["name"] == metric)


def node_stages(node: dict) -> set[int]:
    return {int(s) for m in node.get("metrics", []) for s in _STAGE_RE.findall(m["value"])}


def consumer(execution: dict, node_id: int) -> str:
    """Name of the first operator above ``node_id`` that is not a
    shuffle read, sort or code-generation wrapper."""
    parent = {e["fromId"]: e["toId"] for e in execution.get("edges", [])}
    names = {n["nodeId"]: n["nodeName"] for n in execution["nodes"]}
    cur = parent.get(node_id)
    while cur is not None and (names.get(cur, "") in ("AQEShuffleRead", "Sort", "InputAdapter")
                               or names.get(cur, "").startswith("WholeStageCodegen")):
        cur = parent.get(cur)
    return names.get(cur, "") if cur is not None else ""


def below(execution: dict, node_id: int) -> set[str]:
    """Names of every operator under ``node_id``."""
    children: dict[int, list[int]] = defaultdict(list)
    for e in execution.get("edges", []):
        children[e["toId"]].append(e["fromId"])
    names = {n["nodeId"]: n["nodeName"] for n in execution["nodes"]}
    out: set[str] = set()
    todo = list(children[node_id])
    while todo:
        n = todo.pop()
        out.add(names.get(n, ""))
        todo += children[n]
    return out


def kernel_kind(execution: dict, node: dict) -> str:
    """'score' for a MapInArrow fed by the gold join, else 'extract'."""
    return "score" if any("Join" in n for n in below(execution, node["nodeId"])) else "extract"


def stage_layers(snap: Snapshot, group: str, role_of) -> dict[int, str]:
    """Layer of each stage of ``group``. ``role_of(execution, ran,
    stage)`` names it from the operators the stage ran (read from the
    stage ids Spark prints in its SQL metrics; empty for single-task
    stages, whose metrics carry no stage id) and the stage's own
    counters."""
    out: dict[int, str] = {}
    exec_of_job = {j: x for x in snap.executions(group) for j in x["successJobIds"]}
    stage_by_id = {s["stageId"]: s for s in snap.stages}
    for job in snap.jobs:
        if job["jobGroup"] != group:
            continue
        x = exec_of_job.get(job["jobId"])
        for sid in job["stageIds"]:
            ran = set()
            if x is not None:
                ran = {n["nodeName"] for n in x["nodes"] if sid in node_stages(n)}
            out[sid] = role_of(x, ran, stage_by_id.get(sid, {}))
    return out


def stages_by_layer(snap: Snapshot, layers: dict[int, str]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for s in snap.stages:
        out[layers.get(s["stageId"], "other")].append(s)
    return out


def sql_total(execs: list[dict], node_name: str, metric: str, where=lambda x, n: True) -> float:
    return sum(node_metric(n, metric) for x in execs for n in nodes(x, node_name) if where(x, n))


def stage_s(stages: list[dict]) -> float:
    return sum(_ts(s["completionTime"]) - _ts(s["firstTaskLaunchedTime"])
               for s in stages if s.get("firstTaskLaunchedTime"))


def run_s(stages: list[dict]) -> float:
    return sum(s["executorRunTime"] for s in stages) / 1e3


def kernel_metrics(execs: list[dict], kernel_stages: list[dict]) -> dict[str, float]:
    """Arrow-boundary and task-time metrics of the MapInArrow kernels;
    ``kernel_stages`` are the stages that ran the extraction kernel."""
    ext = lambda x, n: kernel_kind(x, n) == "extract"
    sco = lambda x, n: kernel_kind(x, n) == "score"
    tasks = task_durations(kernel_stages)
    window_input = lambda x, n: consumer(x, n["nodeId"]) in ("WindowGroupLimit", "Window")
    join_input = lambda x, n: "Join" in consumer(x, n["nodeId"])
    return {
        "latest_crawl.shuffle_write_mb":
            sql_total(execs, "Exchange", "shuffle bytes written", window_input) / MB,
        "extract.rows_in": sql_total(execs, "MapInArrow", "number of output rows", ext),
        "extract.arrow_to_python_mb":
            sql_total(execs, "MapInArrow", "data sent to Python workers", ext) / MB,
        "extract.arrow_from_python_mb":
            sql_total(execs, "MapInArrow", "data returned from Python workers", ext) / MB,
        "extract.task_s": run_s(kernel_stages),
        "extract.task_p50_s": statistics.median(tasks) if tasks else 0.0,
        "extract.task_max_s": max(tasks, default=0.0),
        "score.arrow_to_python_mb":
            sql_total(execs, "MapInArrow", "data sent to Python workers", sco) / MB,
        "score.join_shuffle_mb":
            sql_total(execs, "Exchange", "shuffle bytes written", join_input) / MB,
    }


def broadcast_metrics(execs: list[dict]) -> dict[str, float]:
    """The gold broadcast: its size, and collect + build + broadcast time."""
    return {
        "score.broadcast_mb": sql_total(execs, "BroadcastExchange", "data size") / MB,
        "score.broadcast_build_s": sum(
            sql_total(execs, "BroadcastExchange", k)
            for k in ("time to collect", "time to build", "time to broadcast")),
    }


def task_durations(stages: list[dict]) -> list[float]:
    return [t["taskMetrics"]["executorRunTime"] / 1e3
            for s in stages for t in (s.get("tasks") or {}).values()
            if t.get("taskMetrics")]


def engine_metrics(snap: Snapshot, wall_s: float, cores: int) -> dict[str, float]:
    st = snap.stages
    busy_s = run_s(st)
    return {
        "spark.executor_run_s": busy_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
        "spark.core_busy_frac": busy_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / MB,
        "spark.tasks": float(sum(s["numCompleteTasks"] for s in st)),
        "spark.peak_execution_memory_mb": max(
            (s["peakExecutionMemory"] for s in st), default=0) / MB,
    }


# -- self times ---------------------------------------------------------------

def layer_self_times(root: Span, spans: list[Span], stage_intervals) -> dict[str, float]:
    """Sweep ``root``'s interval. ``stage_intervals`` is a list of
    (start, end, layer). An instant with running stages is split
    equally among them; otherwise it goes to '<span>.driver' of the
    innermost span covering it, else to 'bench.glue'."""
    cuts = {root.start, root.end}
    for s in spans:
        cuts.update((s.start, s.end))
    for a, b, _ in stage_intervals:
        cuts.update((a, b))
    pts = sorted(c for c in cuts if root.start <= c <= root.end)
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(pts, pts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        running = [layer for s, e, layer in stage_intervals if s <= mid < e]
        if running:
            for layer in running:
                out[layer] += (b - a) / len(running)
            continue
        inner = [s for s in spans if s.start <= mid < s.end]
        name = f"{min(inner, key=lambda s: s.seconds).name}.driver" if inner else "bench.glue"
        out[name] += b - a
    return dict(out)


def stage_intervals(snap: Snapshot, layers: dict[int, str]) -> list[tuple[float, float, str]]:
    out = []
    for s in snap.stages:
        a = _ts(s.get("firstTaskLaunchedTime") or s.get("submissionTime"))
        b = _ts(s.get("completionTime"))
        if a is not None and b is not None and s["stageId"] in layers:
            out.append((a, b, layers[s["stageId"]]))
    return out


# -- algo layers, in process --------------------------------------------------

def algo_metrics(pages: list[tuple[bytes, str]], pairs: list[tuple[str, str]]) -> dict[str, float]:
    """Time each algo public function once per page (µs), and the
    scoring functions once per (extracted, gold) pair."""
    from text_extraction_evaluation_spark.algo.bte import extract_text_bte
    from text_extraction_evaluation_spark.algo.encoding import sniff_decode
    from text_extraction_evaluation_spark.algo.htmlseg import segment
    from text_extraction_evaluation_spark.algo.justext import classify
    from text_extraction_evaluation_spark.algo.metrics import bow_matched, lcs_matched
    from text_extraction_evaluation_spark.algo.textdensity import classify_density
    from text_extraction_evaluation_spark.algo.tokenize import tokens

    clock = time.perf_counter_ns
    per_doc: dict[str, list[float]] = defaultdict(list)
    per_bucket: dict[tuple[str, str], list[float]] = defaultdict(lambda: [0.0, 0.0])
    for raw, lang in pages:
        bucket = size_bucket(len(raw))
        t0 = clock()
        text, _codec = sniff_decode(raw)
        t1 = clock()
        paragraphs = segment(text)
        t2 = clock()
        classify(paragraphs, lang)
        t3 = clock()
        classify_density(paragraphs)
        t4 = clock()
        extract_text_bte(text)
        t5 = clock()
        for mod, ns in zip(ALGO_MODULES, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
            us = ns / 1e3
            per_doc[mod].append(us)
            acc = per_bucket[(mod, bucket)]
            acc[0] += us
            acc[1] += len(raw) / 1024
    out: dict[str, float] = {}
    for mod in ALGO_MODULES:
        out[f"{mod}.us_per_doc"] = statistics.fmean(per_doc[mod]) if per_doc[mod] else 0.0
        for bucket in ("lt4k", "4k-16k", "16k-64k"):
            us, kb = per_bucket.get((mod, bucket), (0.0, 0.0))
            out[f"{mod}.us_per_kb.{bucket}"] = us / kb if kb else 0.0

    tok_us, lcs_us, bow_us, fast = [], [], [], 0
    for extracted, gold in pairs:
        t0 = clock()
        a, b = tokens(extracted), tokens(gold)
        tok_us.append((clock() - t0) / 2e3)
        if a == b:
            fast += 1
            continue
        t0 = clock()
        lcs_matched(a, b)
        t1 = clock()
        bow_matched(a, b)
        t2 = clock()
        lcs_us.append((t1 - t0) / 1e3)
        bow_us.append((t2 - t1) / 1e3)
    out["tokenize.us_per_doc"] = statistics.fmean(tok_us) if tok_us else 0.0
    out["metrics.lcs_us_per_pair"] = statistics.fmean(lcs_us) if lcs_us else 0.0
    out["metrics.bow_us_per_pair"] = statistics.fmean(bow_us) if bow_us else 0.0
    out["metrics.fastpath_frac"] = fast / len(pairs) if pairs else 0.0
    return out


def pyspark_worker_pids() -> set[int]:
    """PySpark daemon and worker processes descending from this one."""
    me = os.getpid()
    parent: dict[int, int] = {}
    cmd: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd[int(d)] = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue

    def descends(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    return {pid for pid, c in cmd.items()
            if ("pyspark.daemon" in c or "pyspark.worker" in c) and descends(pid)}


def python_worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among this driver's PySpark workers."""
    peak_kb = 0
    for pid in pyspark_worker_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024
