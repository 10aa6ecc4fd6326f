"""Closed-loop benchmark of the engine: analytics, routing and curation.

Run from the repository root:

    python3 perfbench/run.py --workload routing --seed 1 --seconds 6 --trace 0

One client sends one request at a time against Spark local[nproc] with the
bench session config. A request builds a fresh DataFrame from its generated
input through the public API, executes it and fetches every row
(`toArrow()`); its answer is then checked against a reference computed
before the session started. `--trace 0` measures the end-to-end metrics;
`--trace 1` runs one request batch after the warm-up, traced and untraced,
interleaved, and reports the per-layer metrics. The last stdout line is the result JSON; the
line before it is a report with the effective configuration and the
metrics that are not gated (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHUFFLE_PARTITIONS = 4  # bench.py's default width at sf0.1

# request latency -> operator-layer total, per curation request kind
OPERATOR_LATENCY = {
    "dedup_near_dups": "operators.dedup.near_dup_s",
    "sim_topk_cosine": "operators.similarity.topk_s",
    "sim_ann_lsh": "operators.similarity.ann_topk_s",
    "doc_text_features": "operators.text.features_s",
}


def machine_envelope(work_dir: str) -> dict:
    """Size the session to this host and keep every file it writes inside
    the work directory; returns the environment it set."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(2, min(16, round(mem_gb * 0.2)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # get_spark defaults to 48g; take ~20% of this host's memory
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        # the Python workers unpickle UDFs that import the package
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def start_prepare(workload: str, work_dir: str, seed: int) -> subprocess.Popen:
    """Start generating inputs and reference answers in a child process, so
    their time and memory stay out of the measured process; they land in
    the work directory's inputs.json."""
    code = (
        "import json, os, sys\n"
        "from perfbench.workloads import WORKLOADS\n"
        "w, d, seed = sys.argv[1:]\n"
        "inputs = WORKLOADS[w][0](d, int(seed))\n"
        "with open(os.path.join(d, 'inputs.json'), 'w') as f:\n"
        "    json.dump(inputs, f)\n"
    )
    return subprocess.Popen([sys.executable, "-c", code, workload, work_dir, str(seed)], cwd=ROOT)


def finish_prepare(proc: subprocess.Popen, work_dir: str) -> dict:
    rc = proc.wait(timeout=150)
    if rc:
        raise subprocess.CalledProcessError(rc, proc.args)
    with open(os.path.join(work_dir, "inputs.json")) as f:
        return json.load(f)


def start_session(work_dir: str, cpus: int):
    from duckdb_routing_spark.session import bench_session_conf, get_spark

    tmp = os.environ["TMPDIR"]
    # the whole heap from the start, touched up front: a heap grown on demand
    # makes the JVM's peak RSS depend on when collections happen to run
    # (measured: 884-1365 MB across runs of the routing workload from the
    # JVM's default initial heap, 1631-2069 MB from an untouched -Xms2g, and
    # one curation run of five growing a touched 2 GB heap to 3.9 GB)
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    extra = {
        **bench_session_conf(SHUFFLE_PARTITIONS),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
    }
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=extra)


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gateway = SparkContext._gateway
    jvm = gateway.proc
    pids = [jvm.pid] + descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits on EOF
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, 9)
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@contextmanager
def session_conf(spark, overrides: dict):
    """Apply a query's QuerySpec.session_conf around it, then restore."""
    saved = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def execute(spark, req):
    """One request: build, execute, fetch every row. Returns (rows, s)."""
    with session_conf(spark, req.conf):
        t0 = time.perf_counter()
        df = req.build(spark)
        table = df.toArrow() if df is not None else None
        return table, time.perf_counter() - t0


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11 samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def run_requests(spark, wl, indices) -> dict:
    """Run requests one at a time, checking each answer. Time spent
    checking (the benchmark's work, not the program's) is left out of
    `elapsed`."""
    latencies, kinds, errors = [], {}, []
    units = failed = 0
    checking = 0.0
    start = time.perf_counter()
    for i in indices:
        req = wl.request(i)
        try:
            table, dt = execute(spark, req)
        except Exception:  # noqa: BLE001 — a failed request is counted, the loop goes on
            failed += 1
            errors.append(f"{req.kind}: {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
            spark.catalog.clearCache()
            continue
        c0 = time.perf_counter()
        ok = req.check(table)
        spark.catalog.clearCache()
        checking += time.perf_counter() - c0
        if not ok:
            failed += 1
            errors.append(f"{req.kind}: wrong answer (request {req.index})")
        latencies.append(dt)
        units += req.units
        kinds.setdefault(req.kind, []).append(round(dt, 4))
    elapsed = time.perf_counter() - start - checking
    return {"latencies": latencies, "units": units, "attempted": len(indices),
            "failed": failed, "elapsed": elapsed, "errors": errors, "by_kind": kinds}


def timed_requests(wl, seconds: float) -> range:
    """The timed loop's fixed amount of work: whole request batches after
    the warm-up, as many as take about `seconds` on a 4-core host. Fixed
    work keeps the request mix, and so the latency percentiles, comparable
    between two versions of the program."""
    n = wl.batch * max(1, round(seconds / wl.nominal_batch_s))
    return range(wl.warmup, wl.warmup + n)


def run_traced(spark, wl, tracer) -> dict:
    """One request batch, each request run untraced and traced back to back
    (alternating which goes first). Per-layer totals cover the traced runs;
    trace.overhead_ratio is traced ÷ untraced latency over the batch."""
    from perfbench.tracing import jobs_in_group, plan_metrics

    sc = spark.sparkContext
    plain_s = traced_s = 0.0
    attempted = failed = requests = 0
    errors = []
    for i in range(wl.warmup, wl.warmup + wl.batch):
        for with_trace in ((False, True) if i % 2 == 0 else (True, False)):
            req = wl.request(i)
            attempted += 1
            if not with_trace:
                table, dt = execute(spark, req)
                plain_s += dt
                ok = req.check(table)
                spark.catalog.clearCache()
                failed += not ok
                if not ok:
                    errors.append(f"{req.kind}: wrong answer (request {i}, untraced)")
                continue
            with tracer.span("request", i, kind=req.kind) as root:
                with session_conf(spark, req.conf):
                    sc.setJobGroup(f"build-{i}", req.kind)
                    with tracer.span("build", i) as b:
                        df = req.build(spark)
                    sc.setJobGroup(f"exec-{i}", req.kind)
                    with tracer.span("execute_fetch", i) as x:
                        table = df.toArrow() if df is not None else None
                sc.setLocalProperty("spark.jobGroup.id", None)
                with tracer.span("spark_metrics", i) as m:
                    eager, eager_tasks = jobs_in_group(spark, f"build-{i}")
                    jobs, tasks = jobs_in_group(spark, f"exec-{i}")
                    pm = plan_metrics(spark, df._jdf.queryExecution().executedPlan()) if df is not None else {}
                    m["attrs"].update(pm)
                with tracer.span("check", i) as c:
                    ok = req.check(table)
                    c["attrs"]["ok"] = ok
            spark.catalog.clearCache()
            failed += not ok
            if not ok:
                errors.append(f"{req.kind}: wrong answer (request {i})")
            latency = b["end"] - b["start"] + x["end"] - x["start"]
            traced_s += root["end"] - root["start"] - (c["end"] - c["start"])
            requests += 1
            tracer.add("queries.eager_jobs", eager)
            tracer.add("spark.jobs", eager + jobs)
            tracer.add("spark.tasks", eager_tasks + tasks)
            for k, v in pm.items():
                tracer.add(k, v)
            if req.kind in OPERATOR_LATENCY:
                tracer.add(OPERATOR_LATENCY[req.kind], latency)
            if req.kind == "load_graph":
                tracer.add("routing.engine.load_graph_s", latency)
            else:
                tracer.add("queries.plan_build_s", b["end"] - b["start"])
            with tracer.span("replay", i, kind=req.kind):
                wl.observe(req, table, tracer, spark)
    t = tracer.totals
    t["spark.jobs"] /= requests
    t["spark.tasks"] /= requests
    t["trace.overhead_ratio"] = traced_s / plain_s
    if t.get("routing.pairs"):
        t["routing.routed_ratio"] = t["routing.pairs_routed"] / t["routing.pairs"]
    if t.get("operators.dedup.lsh_candidates"):
        t["operators.dedup.candidate_precision"] = (
            t["operators.dedup.verified_pairs"] / t["operators.dedup.lsh_candidates"])
    if t.get("ann.recall_total"):
        t["operators.similarity.ann_recall_at_10"] = t["ann.recall_hits"] / t["ann.recall_total"]
    return {"attempted": attempted, "failed": failed, "errors": errors}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "routing", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "duckdb_routing_spark")):
        print(f"perfbench: the duckdb_routing_spark package is not in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # the metric names and units
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = prep = None
    try:
        env = machine_envelope(work)
        tp = time.perf_counter()
        # the inputs are generated while this process imports its modules
        prep = start_prepare(args.workload, work, args.seed)
        from pyspark import SparkContext

        from duckdb_routing_spark.session import warm_bench_session
        from perfbench.tracing import Tracer, descendants, peak_rss_mb
        from perfbench.workloads import WORKLOADS

        inputs = finish_prepare(prep, work)
        phases = {"prepare": time.perf_counter() - tp}
        wl = WORKLOADS[args.workload][1](args.seed, inputs)

        cpus = int(env["SPARK_GRAFT_CPUS"])
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        t1 = time.perf_counter()
        warm_bench_session(spark, wl.warm_dir, cpus)
        t2 = time.perf_counter()
        wl.setup(spark)
        # the warm-up requests run before the first timed request, so they
        # are set-up: cold work shows in setup_s, not in the timed latencies
        t3 = time.perf_counter()
        warm = run_requests(spark, wl, range(wl.warmup))
        setup_s = time.perf_counter() - t0
        phases.update(session_start=t1 - t0, warm_bench_session=t2 - t1,
                      workload_setup=t3 - t2, warmup_requests=setup_s - (t3 - t0))

        conf = {
            "master": spark.sparkContext.master,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "env": env,
            "query_overrides": {str(k): v for k, v in getattr(wl, "overrides", {}).items() if v},
        }
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "conf": conf, "phases_s": phases}
        if args.trace:
            tracer = Tracer()
            tracer.add("session.start_s", t1 - t0)
            tracer.add("session.warm_s", t2 - t1)
            res = run_traced(spark, wl, tracer)
            res["attempted"] += warm["attempted"]
            res["failed"] += warm["failed"]
            trace_path = os.path.join(ROOT, ".perfbench", "traces",
                                      f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            tracer.write(trace_path)
            metrics = {m["name"]: {"value": float(tracer.totals.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            report.update(trace_file=os.path.relpath(trace_path, ROOT), errors=warm["errors"] + res["errors"])
        else:
            res = run_requests(spark, wl, timed_requests(wl, args.seconds))
            lat = res["latencies"]
            res["attempted"] += warm["attempted"]
            res["failed"] += warm["failed"]
            if not lat:
                raise RuntimeError(f"no request completed: {res['errors'][:3]}")
            jvm = SparkContext._gateway.proc.pid
            rss = {"driver": peak_rss_mb([os.getpid()]), "jvm": peak_rss_mb([jvm]),
                   "python_workers": peak_rss_mb(descendants(jvm))}
            tail_s, tail_pct = tail(lat)
            values = {
                "setup_s": setup_s,
                "requests_per_s": len(lat) / res["elapsed"],
                "latency_p50_s": statistics.median(lat),
                "peak_rss_mb": sum(rss.values()),
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
            extra = {"error_rate": {"value": res["failed"] / res["attempted"], "unit": "ratio"},
                     "latency_tail_s": {"value": tail_s, "unit": "s"}}
            if args.workload == "routing":
                extra["routed_pairs_per_s"] = {"value": res["units"] / res["elapsed"], "unit": "1/s"}
            if args.workload == "curation":
                extra["docs_per_s"] = {"value": res["units"] / res["elapsed"], "unit": "1/s"}
            report.update(
                ungated_metrics=extra,
                latency_tail={"percentile": round(tail_pct, 1), "samples": len(lat)},
                peak_rss_mb_by_process=rss,
                latency_by_kind=res["by_kind"], warmup_latency_by_kind=warm["by_kind"],
                errors=warm["errors"] + res["errors"])
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        return 1
    finally:
        if prep is not None and prep.poll() is None:
            prep.kill()
            prep.wait()
        if spark is not None:
            ts = time.perf_counter()
            stop_session(spark)
            phases["stop"] = time.perf_counter() - ts
        shutil.rmtree(work, ignore_errors=True)

    print("# report " + json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
