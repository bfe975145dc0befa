"""Outside-in benchmark of the CDC ingest engine.

    python3 ingestbench/run.py --workload <trickle_cow|trickle_mor_reads>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The full run record — deployment settings, samples,
spans — is written to ``.bench_work/runs/``. See README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

#: driver JVM heap, pinned below the RAM of small hosts
DRIVER_MEMORY = "2g"


def cpu_control(n_proc: int) -> float:
    """Pure-CPU control: md5-chain tasks per second on ``n_proc``
    worker processes (no Spark), to read host contention next to the
    run's own numbers."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "control.py"), str(n_proc)],
        capture_output=True, text=True, check=True, timeout=60,
    )
    return float(out.stdout.strip())


def _proc_status(pid, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith(key + ":"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def _proc_cpu_s(pid) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> dict:
    """Deployment settings every run uses; returned for the record."""
    nproc = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_LOCAL_DIR=local,
        TMPDIR=tmp,
        # no hsperfdata files outside the checkout
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    return {"nproc": nproc, "driver_memory": DRIVER_MEMORY, "local_dir": "<work>/spark-local"}


def start_spark(work: str, event_log: str | None = None):
    from nifi_processors_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("ingestbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def shutdown_jvm() -> None:
    """Stop Spark and the py4j gateway JVM, and wait for the JVM to
    exit (it exits when its stdin closes). Safe to call twice."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _env_of(spark) -> dict:
    jvm = spark.sparkContext._jvm
    volatile = ("spark.app.", "spark.driver.host", "spark.driver.port",
                "spark.driver.extraJavaOptions", "spark.executor.id",
                "spark.sql.warehouse.dir", "spark.local.dir")
    return {
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyspark": spark.version,
        "spark_conf": {
            k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if not k.startswith(volatile) and "startTime" not in k and "submitTime" not in k
        },
    }


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def check_run(run, pipe, rec: dict, reads: list) -> tuple[int, int, list]:
    """Correctness gates after a drain (outside timing). Returns
    (attempted, failed, problems)."""
    import pandas as pd

    meta = run.meta
    planned = [[f] for f in meta["stream_files"]]
    problems = []
    got = run.batch_files(pipe)
    committed = pipe.table.watermark(pipe.config.source_id)
    n_ok = min(len(planned), 0 if committed is None else committed + 1)
    failed = len(planned) - n_ok
    if failed:
        problems.append(f"{failed} of {len(planned)} batches not committed: {rec['error']}")
    for i in range(n_ok):
        if got.get(i) != planned[i]:
            problems.append(f"batch {i} held {got.get(i)}, expected {planned[i]}")
            failed += 1
    attempted = len(planned)
    if run.w.get("read_every_batch"):
        expect = meta["batch_reads"]
        attempted += len(expect)
        got_reads = rec["read_results"]
        bad = sum(1 for i, e in enumerate(expect) if i >= len(got_reads) or got_reads[i] != e)
        if bad:
            problems.append(f"{bad} per-batch reads differ from expectation")
        failed += bad
    attempted += len(reads)
    bad = sum(1 for r in reads if r != meta["final_read"])
    if bad:
        problems.append(f"{bad} post-drain reads differ from expectation")
    failed += bad
    if not failed:
        exp = pd.read_parquet(os.path.join(run.inputs, "expected_final.parquet"))
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        act = (
            pipe.table.read().select(*cols).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        try:
            pd.testing.assert_frame_equal(act, exp[cols], check_dtype=False)
        except AssertionError as e:
            problems.append("final table differs from oracle: " + str(e).splitlines()[0])
            failed += 1
        dlq = pipe.dead_letter.read().toPandas()
        rows = sorted((int(r.shard), int(r.seq), r.text) for r in dlq.itertuples(index=False))
        want = sorted(tuple(x) for x in meta["injected"])
        if rows != want or set(dlq["error_reason"]) - {"null_conv_id"}:
            problems.append(f"dead-letter table holds {len(rows)} rows, expected {len(want)}")
            failed += 1
        rec["dlq_rows"] = len(rows)
    return attempted, min(failed, attempted), problems


def post_reads(run, pipe, drained: dict, tracer=None) -> tuple[list, list]:
    """Snapshot reads after a complete drain (workloads without a read
    after every commit): (walls, results)."""
    if run.w.get("read_every_batch") or drained["error"]:
        return [], []
    rec = {"read_s": []}
    results = []
    for _ in range(run.w["post_reads"]):
        if tracer:
            tracer.trace_id = "post"
        results.append(run.timed_read(pipe, rec, tracer))
    return rec["read_s"], results


def end_to_end(run, rec: dict, post_read_s: list, setup_s: float) -> tuple[dict, dict]:
    events = sum(run.meta["stream_valid_events"][: len(rec["ret"])])
    commit = [r - h for h, r in zip(rec["handoff"], rec["ret"])]
    reads = rec["read_s"] or post_read_s
    wall = rec["ret"][-1] - rec["handoff"][0] if rec["ret"] else 0.0
    metrics = {
        "events_per_s": (events / wall if wall else 0.0, "1/s"),
        "commit_p50_s": (_median(commit), "s"),
        "read_p50_s": (_median(reads), "s"),
        "setup_s": (setup_s, "s"),
    }
    samples = {
        "events": events, "drain_wall_s": wall, "commit_s": commit, "read_s": reads,
        "n_batches": len(commit), "n_reads": len(reads),
    }
    return metrics, samples


def traced_drain(run, work: str, mark) -> tuple:
    """Restart the Spark context with the event log on, warm up the
    spare prepared table, drain it through a traced pipeline, and
    attribute Spark's job
    and task counters to the spans. Returns (tracer, drain record,
    post-read walls, check result, table state)."""
    import tracing as tr

    from nifi_processors_spark.streaming.pipeline import CdcPipeline

    run.spark.stop()
    log_dir = os.path.join(work, "eventlog")
    run.spark, _ = start_spark(work, event_log=log_dir)
    pipe = CdcPipeline(run.spark, run.config("r0", os.path.join(run.inputs, "stream"), "cdc"))
    run.warm_up("r0", pipe)
    tracer = tr.Tracer()
    tr.install(tracer, pipe)
    mark("restart")
    rec = run.drain(pipe, tracer=tracer)
    read_s, reads = post_reads(run, pipe, rec, tracer)
    mark("traced_drain")
    check = check_run(run, pipe, rec, reads)
    m = pipe.table.manifest()
    state = {
        "files": len(m["files"]),
        "bytes": sum(os.path.getsize(os.path.join(pipe.table.path, f["path"])) for f in m["files"]),
        "manifests": len([
            f for f in os.listdir(os.path.join(pipe.table.path, "_log")) if f.startswith("v")
        ]),
        "dropped": 0,
    }
    if os.path.exists(pipe.config.metrics_path):
        with open(pipe.config.metrics_path) as f:
            state["dropped"] = sum(json.loads(ln).get("count", 0) for ln in f if '"dropped"' in ln)
    shutdown_jvm()
    jobs, tasks = tr.read_event_log(log_dir)
    tr.attribute(tracer.spans, jobs, tasks)
    return tracer, rec, read_s, check, state


def measure(args, run, work: str, record: dict, mark) -> tuple[dict, int, int, list]:
    """Set up, drain, check; in a traced run also the traced drain.
    Returns (metrics, attempted, failed, problems)."""
    import workloads as wl

    run.spark, start_s = start_spark(work)
    jvm_pid = int(run.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    record["env"].update(_env_of(run.spark))
    mark("session")

    prepare_s, pipes = [], []
    for r in range(wl.SETUP_REPEATS):
        t0 = time.perf_counter()
        pipes.append(run.prepare_table(f"r{r}"))
        prepare_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    run.warm_up(f"r{len(pipes) - 1}", pipes[-1])
    warm_s = time.perf_counter() - t0
    setup_s = start_s + _median(prepare_s) + warm_s
    record["setup"] = {"session_start_s": start_s, "prepare_table_s": prepare_s,
                       "warm_up_s": warm_s, "setup_s": setup_s}
    mark("setup")

    cpu0 = _proc_cpu_s(jvm_pid) + _proc_cpu_s("self")
    rec = run.drain(pipes[-1])
    cpu_drain = _proc_cpu_s(jvm_pid) + _proc_cpu_s("self") - cpu0
    rss_mb = _proc_status(jvm_pid, "VmHWM") + _proc_status("self", "VmHWM")
    mark("drain")
    read_s, reads = post_reads(run, pipes[-1], rec)
    attempted, failed, problems = check_run(run, pipes[-1], rec, reads)
    mark("check")
    metrics, samples = end_to_end(run, rec, read_s, setup_s)
    record.update(samples=samples, drain=rec, cpu_drain_s=cpu_drain, rss_peak_mb=rss_mb)
    if not args.trace:
        shutdown_jvm()
        return metrics, attempted, failed, problems

    import tracing as tr

    tracer, trec, tread_s, (a2, f2, p2), state = traced_drain(run, work, mark)
    tmetrics, tsamples = end_to_end(run, trec, tread_s, setup_s)
    gaps = [h - e for e, h in zip(trec["end"], trec["handoff"][1:])]
    layer = tr.layer_metrics(tracer.spans, tsamples["events"])
    untraced_eps = metrics["events_per_s"][0]
    layer.update({
        "session.start_s": start_s,
        "sources.trigger_gap_p50_s": _median(gaps),
        "sources.trigger_gap_sum_s": float(sum(gaps)),
        "table.data_files_end": float(state["files"]),
        "table.manifests_end": float(state["manifests"]),
        "table.bytes_per_live_row_end": state["bytes"] / max(run.meta["final_rows"], 1),
        "dlq.rows": float(trec.get("dlq_rows", 0)),
        "metrics.dropped": float(state["dropped"]),
        "proc.cpu_s_per_kevent": cpu_drain / max(samples["events"] / 1000.0, 1e-9),
        "proc.rss_peak_mb": rss_mb,
        "trace.overhead_frac": (
            1.0 - tmetrics["events_per_s"][0] / untraced_eps if untraced_eps else 0.0
        ),
    })
    record["trace"] = {"samples": tsamples, "drain": trec, "spans": tracer.spans}
    # the host controls are added by the caller after the run
    units = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]
             if not m["name"].startswith("host.")}
    return ({k: (layer[k], u) for k, u in units.items()},
            attempted + a2, failed + f2, problems + p2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(name):
        phases[name] = round(time.perf_counter() - t_start, 2)
        print(f"[{phases[name]:7.2f}s] {name}", file=sys.stderr, flush=True)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("nifi_processors_spark") is None:
        print("nifi_processors_spark not found next to the benchmark", file=sys.stderr)
        return 2
    import inputs as inputs_mod
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    w = wl.WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    inp = inputs_mod.ensure(args.workload, w, args.seed, args.seconds,
                            os.path.join(WORK_ROOT, "inputs"))
    with open(os.path.join(inp, "expected.json")) as f:
        run = wl.Run(args.workload, inp, work, json.load(f))
    mark("inputs")

    record = {"args": vars(args), "env": env, "workload": w}
    env["control_tasks_per_s_before"] = cpu_control(env["nproc"])
    try:
        metrics, attempted, failed, problems = measure(args, run, work, record, mark)
    finally:
        shutdown_jvm()
    env["control_tasks_per_s_after"] = cpu_control(env["nproc"])
    if args.trace:
        metrics["host.control_tasks_per_s.before"] = (env["control_tasks_per_s_before"], "1/s")
        metrics["host.control_tasks_per_s.after"] = (env["control_tasks_per_s_after"], "1/s")
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    mark("end")
    record.update(phases=phases, metrics=out, problems=problems, correct=failed == 0)
    runs_dir = os.path.join(WORK_ROOT, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    path = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, default=str)
    for p in problems:
        print("PROBLEM:", p, file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
