"""Benchmark of the Crystal Ball engine: one workload, one closed-loop
client, one fresh process on ``local[<cores>]``.

    python3 perfbench/run.py --workload basket_flagship --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, computes every expected output, smoke-checks the paper's 34 golden
probabilities, then times one cold pass over the workload's operations
and warm passes for ``--seconds``.  Every operation's output is checked
outside the timed intervals.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` prints
the end-to-end metrics (UI off, no spans), ``--trace 1`` the per-layer
metrics (UI on, spans, Spark REST statistics).  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MB = 1e6


def since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def physical_cores() -> int:
    cores = set()
    phys = core = None
    with open("/proc/cpuinfo") as f:
        for line in f:
            key, _, val = line.partition(":")
            key = key.strip()
            if key == "physical id":
                phys = val.strip()
            elif key == "core id":
                core = val.strip()
            elif not key and core is not None:
                cores.add((phys, core))
                phys = core = None
    if core is not None:
        cores.add((phys, core))
    return len(cores) or os.cpu_count() or 1


class RssPeak(threading.Thread):
    """Polls /proc for the resident memory of the driver JVM plus every
    process under it (the Python workers) and keeps the peak sum."""

    def __init__(self, root_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period, self.peak = root_pid, period, 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(self.period)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


class Ctx:
    """What an operation sees: the session, the inputs and the engine's
    public modules."""

    def __init__(self, **kw):
        self.__dict__.update(kw)
        self.pins: dict = {}
        self.progress: list = []
        self.counters: Counter = Counter()
        self.pass_no = 0
        self.scratch = ""
        self.stream_counts = None  # the stream op's result, which the layout writer writes


def shuffle_write_bytes(spark, after_stage: int) -> tuple[int, int]:
    """Shuffle bytes written by stages with id > ``after_stage``, read from
    Spark's status store (present with the UI off), and the highest stage
    id seen.  Waits for the listener bus so finished stages are counted."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    gw = spark.sparkContext._gateway
    it = jsc.statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                                     None).iterator()
    total, top = 0, after_stage
    while it.hasNext():
        s = it.next()
        if s.stageId() > after_stage:
            total += s.shuffleWriteBytes()
            top = max(top, s.stageId())
    return total, top


def run_pass(ctx, ops, pass_no: int, results: list) -> dict:
    """Runs the operations back to back, then checks their outputs; only
    the operations are timed.  Python's garbage collector is paused for
    the pass so its collections do not land inside one operation."""
    ctx.pass_no = pass_no
    ctx.scratch = os.path.join(ctx.work, f"pass-{pass_no}")
    os.makedirs(ctx.scratch, exist_ok=True)
    done = []
    gc.disable()
    try:
        for op in ops:
            t0 = time.perf_counter()
            try:
                with ctx.span(f"op:{op.name}", op=op.name, pass_no=pass_no):
                    df, out = op.run(ctx)
                problems = []
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                df, out = None, None
                problems = [f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"]
            done.append((op, df, out, problems, time.perf_counter() - t0))
    finally:
        gc.enable()
    t1 = time.perf_counter()
    for op, df, out, problems, dt in done:
        if not problems:
            try:
                problems = op.check(ctx, out)
            except Exception as e:  # noqa: BLE001
                problems = [f"check raised {type(e).__name__}: {e}"]
        results.append({"op": op.name, "pass": pass_no, "s": dt, "problems": problems,
                         "df": df if pass_no == 0 else None})
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    ctx.counters["check_s"] += time.perf_counter() - t1
    return {"pass": pass_no, "wall": sum(d[-1] for d in done)}


STREAM_UNITS = {
    "streaming.batches": "count", "streaming.microbatch_p50_s": "s",
    "streaming.microbatch_p90_s": "s", "streaming.rows_per_s": "1/s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s", "streaming.planning_s": "s",
    "streaming.state_rows": "rows", "streaming.state_mb": "MB", "streaming.state_commit_s": "s",
}


def stream_stats(progress: list) -> dict:
    batches = [p for p in progress if (p["numInputRows"] or 0) > 0]
    if not batches:
        return {}
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
    q = statistics.quantiles(trig, n=10, method="inclusive") if len(trig) > 1 else trig * 9

    def total(key):
        return sum(p["durationMs"].get(key, 0) for p in batches) / 1e3

    last_state = (batches[-1].get("stateOperators") or [{}])[0]
    return {
        "streaming.batches": len(batches),
        "streaming.microbatch_p50_s": statistics.median(trig),
        "streaming.microbatch_p90_s": q[8],
        "streaming.rows_per_s": sum(p["numInputRows"] for p in batches) / sum(trig),
        "streaming.add_batch_s": total("addBatch"),
        "streaming.wal_commit_s": total("walCommit"),
        "streaming.planning_s": total("queryPlanning"),
        "streaming.state_rows": last_state.get("numRowsTotal", 0),
        "streaming.state_mb": last_state.get("memoryUsedBytes", 0) / MB,
        "streaming.state_commit_s": sum(
            (p.get("stateOperators") or [{}])[0].get("commitTimeMs", 0) for p in batches) / 1e3,
    }


def untraced_cold_walls(workload: str, args) -> list[float]:
    """Cold walls of the last five untraced runs of ``workload`` in this
    checkout (recent ones, as the host's speed drifts); runs one (same
    seed) when there is none yet."""
    path = os.path.join(WORK, "untraced_cold.json")
    if not os.path.exists(path) or workload not in json.load(open(path)):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", workload,
                        "--seed", str(args.seed), "--seconds", str(args.seconds),
                        "--trace", "0"], stdout=subprocess.DEVNULL, check=True, cwd=os.getcwd())
    return json.load(open(path))[workload][-5:]


def record_untraced_cold(workload: str, cold: float) -> None:
    path = os.path.join(WORK, "untraced_cold.json")
    seen = json.load(open(path)) if os.path.exists(path) else {}
    seen[workload] = (seen.get(workload, []) + [cold])[-50:]
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f)
    os.replace(path + ".tmp", path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its session and JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    package = "probability_of_buying_two_products_together_hadoop_project_spark"
    if not os.path.isdir(os.path.join(ROOT, package)):
        print("engine package not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    untraced_colds = untraced_cold_walls(args.workload, args) if args.trace else None

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(WORK, f"run-{run_id}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # Python workers import the engine's UDF modules from the root
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_UI": "true" if args.trace else "false",
    })
    import tracing as tr

    spans = tr.Spans(run_id) if args.trace else tr.no_spans
    from probability_of_buying_two_products_together_hadoop_project_spark import registry, session
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import io
    from probability_of_buying_two_products_together_hadoop_project_spark.streaming import streams

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            **(tr.TRACE_CONF if args.trace else {})}
    t0 = time.time()
    spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    get_spark_s = time.time() - t0
    spark.range(1).count()
    setup_s = since_process_start()
    gateway = spark.sparkContext._gateway
    if args.trace:
        spans.spark = spark
        spans.items.append({"id": 0, "name": "session.get_spark", "op": None, "pass": None,
                            "parent": None, "run": run_id, "start": t0, "end": t0 + get_spark_s})

    import checks
    import gen

    t_prep = time.perf_counter()
    try:
        data = os.path.join(WORK, "data", f"{args.seed}-v{gen.VERSION}")
        inputs = gen.generate(args.seed, data)
        ops = workloads.WORKLOADS[args.workload]
        with open(os.path.join(data, "corpus", "baskets.txt")) as f:
            corpus_lines = f.read().splitlines()
        expected = checks.oracle_frames(data, registry.oracle_sql(), workloads.oracle_names(ops))
        expected["corpus_pairs"] = checks.pair_probabilities(
            checks.window_pair_counts(corpus_lines))
        golden = checks.golden_problems(spark, basket)

        ctx = Ctx(spark=spark, data=data, work=work, span=spans, expected=expected,
                  queries=registry.queries(), builders=registry.shared_evidence_builders(),
                  basket=basket, io=io, streams=streams,
                  corpus=os.path.join(data, "corpus"), stream=os.path.join(data, "stream"))
        prep_s = time.perf_counter() - t_prep
        _, top_stage = shuffle_write_bytes(spark, -1)
        if args.trace:  # the poller stays out of timed runs
            rss = RssPeak(gateway.proc.pid)
            rss.start()
        results: list[dict] = []
        passes = [run_pass(ctx, ops, 0, results)]
        _, top_stage = shuffle_write_bytes(spark, top_stage)
        shuffle = []
        warm_start = time.perf_counter()
        # at least two warm passes; no pass starts that would end after --seconds,
        # so the pass count (and which passes the median sees) is stable
        while len(passes) < 3 or (time.perf_counter() - warm_start + passes[-1]["wall"]
                                  <= args.seconds):
            passes.append(run_pass(ctx, ops, len(passes), results))
            written, top_stage = shuffle_write_bytes(spark, top_stage)
            shuffle.append(written)
        peak_rss = rss.stop() if args.trace else None

        cold = passes[0]["wall"]
        warm = statistics.median(p["wall"] for p in passes[1:])
        failed = sum(1 for r in results if r["problems"]) + (1 if golden else 0)
        attempted = len(results) + 1
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_wall_s": (cold, "s"),
            "warm_wall_s": (warm, "s"),
            "shuffle_write_mb": (statistics.median(shuffle) / MB, "MB"),
        }
        stream = stream_stats(ctx.progress)
        per_op = {}
        for r in results:
            d = per_op.setdefault(r["op"], {"cold_s": None, "warm_s": []})
            if r["pass"] == 0:
                d["cold_s"] = round(r["s"], 4)
            else:
                d["warm_s"].append(r["s"])
        report = {
            "workload": args.workload, "seed": args.seed, "run_id": run_id, "trace": args.trace,
            "cores": {"requested": int(os.environ["SPARK_GRAFT_CPUS"]),
                      "physical": physical_cores(), "available": cores},
            "inputs": inputs,
            "pass_walls": [round(p["wall"], 4) for p in passes],
            "prep_s": prep_s, "check_s": ctx.counters["check_s"],
            "since_start_s": since_process_start(),
            "failed_ops_ratio": failed / attempted,
            "failures": [f"{r['op']} (pass {r['pass']}): {r['problems'][0]}"
                         for r in results if r["problems"]] + golden,
            "ops": {k: {"cold_s": v["cold_s"],
                        "warm_median_s": round(statistics.median(v["warm_s"]), 4)}
                    for k, v in per_op.items()},
            "streaming": stream,
        }
        if args.trace:
            metrics = tr.layer_metrics(spark, spans, results, passes, ctx, cores, explain,
                                       {op.name for op in ops if op.pairs}, workloads.PINS)
            metrics.update({k: (stream.get(k, 0.0), STREAM_UNITS[k]) for k in STREAM_UNITS})
            metrics["exec.peak_rss_mb"] = (peak_rss / MB, "MB")
            metrics["trace.cold_wall_s"] = (cold, "s")
            metrics["trace.overhead_cold_s"] = (cold - statistics.median(untraced_colds), "s")
            spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}-{run_id}.json")
            with open(spans_path, "w") as f:
                json.dump(spans.items, f)
            report["spans_file"] = os.path.relpath(spans_path, os.getcwd())
        else:
            record_untraced_cold(args.workload, cold)
            metrics = e2e
            report["end_to_end"] = {k: v[0] for k, v in e2e.items()}
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    print("report " + json.dumps(report, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
