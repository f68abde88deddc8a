"""Traced-run instrumentation.

Two sources, joined by time and by job group:

- benchmark-side spans around every call into a layer (name, start, end,
  parent, run id).  While a span is open its id is the Spark job group,
  so the jobs it launches are tagged with it;
- Spark's own statistics from the status REST API of the live session:
  ``/jobs``, ``/stages`` (per-stage task metrics), ``/sql?details=true``
  (per-operator SQL metrics) and ``/storage/rdd``.

A job belongs to the span named by its job group.  Jobs Spark launches
from its own threads (streaming micro-batches set their own group) fall
back to the innermost span open when they were submitted; the benchmark is
a single closed-loop client, so that span is the one that caused them.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager, nullcontext
from datetime import datetime, timezone

# Far above any run's job/stage/execution count; collect() fails loudly
# if Spark still evicted something (an evicted stage would silently drop
# its metrics from every total).
RETAIN = 1_000_000
TRACE_CONF = {
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": str(RETAIN),
    "spark.ui.retainedStages": str(RETAIN),
    "spark.sql.ui.retainedExecutions": str(RETAIN),
}


class Spans:
    """Spans of one run.  ``spark`` is set once the session exists; from
    then on each span also sets the job group."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._open: list[int] = []
        self.spark = None

    @contextmanager
    def __call__(self, name: str, op: str | None = None, pass_no: int | None = None):
        parent = self._open[-1] if self._open else None
        if parent is not None:
            op = op if op is not None else self.items[parent]["op"]
            pass_no = pass_no if pass_no is not None else self.items[parent]["pass"]
        sid = len(self.items)
        span = {"id": sid, "name": name, "op": op, "pass": pass_no, "parent": parent,
                "run": self.run_id, "start": time.time(), "end": None}
        self.items.append(span)
        self._open.append(sid)
        self._group(str(sid))
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._open.pop()
            self._group(str(self._open[-1]) if self._open else None)

    def _group(self, gid: str | None) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", gid)
            sc.setLocalProperty("spark.job.description", gid)

    def at(self, t: float) -> dict | None:
        """Innermost span open at wall time ``t``."""
        best = None
        for s in self.items:
            if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                best = s
        return best


def no_spans(*_args, **_kwargs):
    return nullcontext({})


def _ts(text: str) -> float:
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


_UNIT = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
         "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}


def metric_value(text: str) -> float:
    """SQL UI metric text -> number (seconds, bytes or count).  Values
    aggregated over tasks read ``total (min, med, max ...)\\n<total> (...)``."""
    text = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def _rest(spark):
    """GET against the live session's status REST API (127.0.0.1 only)."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    return get


def collect(spark, spans: Spans) -> dict:
    """Spark statistics of the whole run, attributed to spans: returns
    ``{"jobs": {span_id: [job]}, "stages": {span_id: [stage]},
    "sql": {span_id: [execution]}, "storage": [rdd]}``."""
    get = _rest(spark)
    jobs = get("/jobs")
    stages = get("/stages?withSummaries=true&quantiles=1.0")
    sql = get(f"/sql?details=true&planDescription=false&length={RETAIN}")
    storage = get("/storage/rdd")
    job_ids = sorted(j["jobId"] for j in jobs)
    sql_ids = sorted(e["id"] for e in sql)
    stage_ids = {s["stageId"] for s in stages}
    wanted = {sid for j in jobs for sid in j["stageIds"]}
    if (job_ids != list(range(len(job_ids))) or sql_ids != list(range(len(sql_ids)))
            or not wanted <= stage_ids):
        raise RuntimeError(
            "Spark's status store evicted jobs, stages or SQL executions; "
            "per-operation totals would be wrong (raise the retention limits)")
    by_id = {s["id"]: s for s in spans.items}
    job_span: dict[int, int] = {}
    out: dict = {"jobs": {}, "stages": {}, "sql": {}, "storage": storage}
    for j in jobs:
        span = by_id.get(int(j["jobGroup"])) if str(j.get("jobGroup", "")).isdigit() else None
        span = span or spans.at(_ts(j["submissionTime"]))
        if span is None:
            continue
        job_span[j["jobId"]] = span["id"]
        out["jobs"].setdefault(span["id"], []).append(j)
    stage_span = {sid: job_span[j["jobId"]] for j in jobs if j["jobId"] in job_span
                  for sid in j["stageIds"]}
    for s in stages:
        if s["stageId"] in stage_span:
            out["stages"].setdefault(stage_span[s["stageId"]], []).append(s)
    for e in sql:
        ids = e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
        owners = [job_span[i] for i in ids if i in job_span]
        if owners:
            out["sql"].setdefault(owners[0], []).append(e)
    return out


_PY_NODE = re.compile(r"^\(\d+\) \w*(?:Python|Pandas|InArrow)\w*", re.M)
_PY_TIME = ("time to run Python workers", "time to start Python workers",
            "time to initialize Python workers")


def _nodes_metric(executions, pick, metric) -> float:
    return sum(metric_value(m["value"]) for e in executions for n in e["nodes"] if pick(n)
               for m in n["metrics"] if m["name"] == metric)


def _basket_nodes(executions) -> tuple[float, float, float]:
    """(pairs out of Generate, rows into Generate, aggregation build time
    downstream of Generate) over the given SQL executions."""
    out = into = agg = 0.0
    for e in executions:
        nodes = {n["nodeId"]: n for n in e["nodes"]}
        rows = {i: metric_value(m["value"]) for i, n in nodes.items() for m in n["metrics"]
                if m["name"] == "number of output rows"}
        up = {ed["fromId"]: ed["toId"] for ed in e["edges"]}
        down: dict[int, list[int]] = {}
        for ed in e["edges"]:
            down.setdefault(ed["toId"], []).append(ed["fromId"])
        above: set[int] = set()
        for gid, g in nodes.items():
            if g["nodeName"] != "Generate":
                continue
            out += rows.get(gid, 0.0)
            todo = list(down.get(gid, []))
            while todo:  # nearest descendants that count their rows
                c = todo.pop()
                if c in rows:
                    into += rows[c]
                else:
                    todo += down.get(c, [])
            p = up.get(gid)
            while p is not None and p not in above:
                above.add(p)
                p = up.get(p)
        agg += sum(metric_value(m["value"]) for i in above
                   if nodes.get(i, {}).get("nodeName", "").endswith("HashAggregate")
                   for m in nodes[i]["metrics"] if m["name"] == "time in aggregation build")
    return out, into, agg


def pass_metrics(stages, executions, pair_executions, wall, cores, write_s, write_bytes):
    """exec / sources / operators.basket metrics of one pass."""
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9

    def task_max(s):
        dist = s.get("taskMetricsDistributions") or {}
        return (dist.get("executorRunTime") or [0])[-1] / 1e3

    pairs_out, pairs_in, agg_s = _basket_nodes(pair_executions)
    is_file_scan = lambda n: n["nodeName"].startswith("Scan") and any(  # noqa: E731
        m["name"] == "size of files read" for m in n["metrics"])
    return {
        "exec.executor_run_s": (run_s, "s"),
        "exec.executor_cpu_s": (cpu_s, "s"),
        "exec.cpu_util": (cpu_s / (wall * cores) if wall else 0.0, "ratio"),
        "exec.gc_s": (sum(s["jvmGcTime"] for s in stages) / 1e3, "s"),
        "exec.spill_mb": (sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                              for s in stages) / 1e6, "MB"),
        "exec.shuffle_read_mb": (sum(s["shuffleReadBytes"] for s in stages) / 1e6, "MB"),
        "exec.shuffle_write_mb": (sum(s["shuffleWriteBytes"] for s in stages) / 1e6, "MB"),
        "exec.shuffle_fetch_wait_s": (sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3, "s"),
        "exec.tasks": (sum(s["numCompleteTasks"] for s in stages), "count"),
        "exec.max_task_s": (max([task_max(s) for s in stages] or [0.0]), "s"),
        "exec.single_task_stages_over_1s": (sum(
            1 for s in stages if s["numCompleteTasks"] == 1 and s["executorRunTime"] > 1000),
            "count"),
        "exec.python_worker_s": (sum(_nodes_metric(executions, lambda n: True, name)
                                     for name in _PY_TIME), "s"),
        "sources.scan_s": (_nodes_metric(executions, is_file_scan, "scan time"), "s"),
        "sources.scan_mb": (_nodes_metric(executions, is_file_scan, "size of files read") / 1e6,
                            "MB"),
        "sources.write_s": (write_s, "s"),
        "sources.write_mb": (write_bytes / 1e6, "MB"),
        "operators.basket.pairs_out": (pairs_out, "rows"),
        "operators.basket.pairs_per_basket": (pairs_out / pairs_in if pairs_in else 0.0, "ratio"),
        "operators.basket.agg_s": (agg_s, "s"),
    }


def layer_metrics(spark, spans: Spans, results, passes, ctx, cores, explain, pair_ops, pins):
    """Every per-layer metric of a traced run.  registry / plans / session
    describe the cold pass; exec, sources and operators.basket are the
    median over warm passes, and ``exec.cold.*`` repeats exec for the
    cold pass."""
    import statistics

    plan = {"plans.exchanges": 0, "plans.unbounded_1p_exchanges": 0, "plans.python_eval_nodes": 0}
    for r in results:
        if r["pass"] == 0 and r["df"] is not None:
            with spans("plans.explain", op=r["op"], pass_no=0):
                text = explain.formatted_plan(r["df"])
                plan["plans.exchanges"] += explain.count_exchanges(r["df"])
                plan["plans.unbounded_1p_exchanges"] += len(
                    explain.unbounded_single_partition_exchanges(r["df"]))
                plan["plans.python_eval_nodes"] += len(_PY_NODE.findall(text))
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    stats = collect(spark, spans)
    by_id = {s["id"]: s for s in spans.items}

    def dur(s):
        return s["end"] - s["start"]

    def of_pass(kind, p, only_ops=None):
        return [x for sid, xs in stats[kind].items() if by_id[sid]["pass"] == p
                and (only_ops is None or by_id[sid]["op"] in only_ops) for x in xs]

    per_pass = []
    for p in passes:
        n = p["pass"]
        write_s = sum(dur(s) for s in spans.items
                      if s["pass"] == n and s["name"] == "sources.write")
        per_pass.append(pass_metrics(
            of_pass("stages", n), of_pass("sql", n), of_pass("sql", n, pair_ops), p["wall"],
            cores, write_s, ctx.counters["write_bytes"] / len(passes)))
    out = {k: (statistics.median(m[k][0] for m in per_pass[1:]), u)
           for k, (_, u) in per_pass[0].items()}
    out.update({f"exec.cold.{k[5:]}": v for k, v in per_pass[0].items() if k.startswith("exec.")})

    cold_builds = [s for s in spans.items if s["pass"] == 0 and s["name"] == "registry.plan_build"]
    out["session.get_spark_s"] = (dur(by_id[0]), "s")
    out["registry.plan_build_s"] = (sum(dur(s) for s in cold_builds), "s")
    out["registry.plan_build_jobs"] = (
        sum(len(stats["jobs"].get(s["id"], [])) for s in cold_builds), "count")
    for pin in pins:
        built = [s for s in spans.items
                 if s["name"] == "registry.pin_build" and s["op"] == f"pin:{pin}"]
        out[f"registry.pin_build_s.{pin}"] = (sum(dur(s) for s in built), "s")
    out["registry.pin_hits"] = (ctx.counters["pin_hits"], "count")
    out["registry.pin_stored_mb"] = (sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                                         for r in stats["storage"]) / 1e6, "MB")
    out.update({k: (v, "count") for k, v in plan.items()})
    return out
