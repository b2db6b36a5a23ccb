#!/usr/bin/env python3
"""Benchmark for the document pipeline engine.

Run from the repository root:

    python3 udpbench/run.py --workload {ingest,history} --seed N \\
        --seconds S --trace {0,1}

One process is one run: it generates the workload's inputs from the seed,
starts its own Spark session (``local[2]``, its own JVM), performs the
engine set-up, warms up until round time settles (or a workload's round
limit is reached; the run record and standard error say which), measures
whole rounds until ``--seconds`` seconds of scored op time have passed
(``measure``), checks every answer against an expected answer computed
without Spark, stops the JVM and removes its work directory.  The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything else
(warm-up, host load, stationarity, spans, per-layer self times, tracing
overhead) goes to standard error and to ``.udpbench_out/`` in the
repository.

Metric definitions (end to end, ``--trace 0``):

* ``setup_s`` -- session start plus the engine set-up: warehouse bootstrap
  and seeding, the pipeline pre-build of the warehouse and, for ingest, the
  dedup index of the base corpus and batch 1 delivered through the intake
  stream.  Input generation and warm-up are reported separately and not
  included.
* ``throughput_per_s`` -- ingest: documents committed per second of
  fresh-batch op time (a replay commits no new document, so replay ops
  count in neither sum); history: queries completed per second over whole
  rounds.
* ``op_p50_s`` -- median op latency over the measured rounds.  An ingest op
  runs from its batch's files landing until its rows are committed in
  every table and its dedup verdicts are materialized; replay ops are not
  counted (``dedup.replay_s`` in the traced run times their dedup).
* ``jvm_live_heap_mb`` -- JVM heap in use after full collections at the
  end of the loop.
* ``space_amp`` -- warehouse bytes on disk over document bytes delivered
  (ingest: median over ops, read after each op; history: the pre-built
  warehouse).

With ``--trace 1`` the run measures an untraced loop and then the same
rounds traced; the per-layer metrics come from the traced loop, and
``trace.overhead_share`` is traced over untraced op time minus one.
The ``dedup.*`` counters are read from the plans of the SQL executions the
dedup operator ran: candidate pairs from its distinct over candidate
pairs, verified pairs from the operator that applies the Jaccard
threshold, index bytes from the scans of the band index table.  Metrics of
a layer the workload does not exercise (intake on history, queries on
ingest) read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "unstructured_data_pipeline_spark"

SETTLED = 0.10  # largest fall of the round score between two scored rounds
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = 8  # 4 per core, as the engine's own test harness sizes it


def host_sample() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu": cpu, "load": load}


def host_report(a: dict, b: dict) -> dict:
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d) or 1
    steal = d[7] if len(d) > 7 else 0
    return {"cpu_steal_share": steal / total, "loadavg_1_5_15": b["load"]}


def start_session(work: str, trace: bool):
    from unstructured_data_pipeline_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        # keep every job, stage and SQL execution of the run in the status
        # stores so loop-wide deltas are complete
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
            # scan descriptions keep the whole table path, so the band
            # index's scans can be told apart from the other tables'
            "spark.sql.maxMetadataStringLength": "100000",
        })
    spark = get_spark(
        app_name="udpbench", master="local[2]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, from /proc."""
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the field after the parenthesized command name is the state, then ppid
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM this process launched and for the
    Python worker daemon the JVM launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the worker daemon exits when the JVM's end of its stdin closes
        for pid in _wait_gone(workers, 20.0):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(workers, 5.0)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def warm_up(wl, log) -> tuple[int, float, bool]:
    """Whole rounds until the round score stops falling (it falls by less
    than SETTLED between consecutive scored rounds), after at least the
    workload's ``warmup_min_scored`` scored rounds; stops unsettled after
    its ``warmup_max_rounds`` rounds, the only bound, which keeps a run on
    a busy host within its time.  An unsettled warm-up is logged and kept
    in the run record."""
    t0 = time.perf_counter()
    scores: list[float] = []
    r = 0
    while True:
        ops = wl.run_round(r)
        wl.warm_ops.extend(ops)
        wl.round_times.append(sum(o.dur for o in ops))
        score = wl.round_score(ops)
        if score > 0:  # rounds without a comparable op do not count
            scores.append(score)
        r += 1
        settled = (
            len(scores) >= wl.warmup_min_scored
            and scores[-1] > (1.0 - SETTLED) * scores[-2]
        )
        log(f"warm-up round {r}: score {score:.3f}")
        if settled or r >= wl.warmup_max_rounds:
            return r, time.perf_counter() - t0, settled


def measure(wl, rounds: list[int] | None, first: int, seconds: float):
    """Whole rounds: a round starts only while less than ``seconds`` of
    scored op time (the time the warm-up compares: every op on history,
    fresh-batch ops on ingest) has elapsed, and every started round
    completes.  With ``rounds`` given, exactly those rounds run."""
    ops, done = [], []
    scored = 0.0
    r = first
    while True:
        if rounds is not None:
            if len(done) == len(rounds):
                break
            r = rounds[len(done)]
        elif scored >= seconds:
            break
        round_ops = wl.run_round(r)
        scored += wl.round_score(round_ops)
        ops.extend(round_ops)
        done.append(r)
        wl.round_times.append(sum(o.dur for o in round_ops))
        r += 1
    return ops, done


def end_to_end(wl, ops, setup_s: float, heap_mb: float) -> dict:
    timed = [o for o in ops if o.dur > 0]
    if wl.name == "ingest":
        timed = [o for o in timed if not o.extra.get("replay")]
        work = sum(o.docs for o in timed)
    else:
        work = len(timed)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "throughput_per_s": {"value": work / sum(o.dur for o in timed), "unit": "1/s"},
        "op_p50_s": {"value": median([o.dur for o in timed]), "unit": "s"},
        "jvm_live_heap_mb": {"value": heap_mb, "unit": "MB"},
        "space_amp": {"value": wl.space_amp(), "unit": "ratio"},
    }


def per_layer(wl, tracer, delta, ops, setup_spans, leaked, overhead) -> dict:
    n_ops = max(1, len([o for o in ops if o.dur > 0]))
    d = tracer.durations
    spans = tracer.spans
    build = [s for s in spans if s.name == "queries.build"]
    exec_ = d("queries.exec")
    b_sum, e_sum = sum(s.end - s.start for s in build), sum(exec_)
    progress = [p for o in ops for p in o.extra.get("progress", [])]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
    n_progress = len([o for o in ops if o.extra.get("progress")])
    dedup_spans = [s for s in spans if s.name in ("dedup.process_batch", "dedup.replay")]
    cand = sum(s.attrs.get("candidate_pairs", 0.0) for s in dedup_spans)
    ver = sum(s.attrs.get("verified_pairs", 0.0) for s in dedup_spans)
    idx_bytes = [s.attrs.get("index_bytes_read", 0.0) for s in dedup_spans]
    state = wl.end_state()
    m = {
        "session.start_s": (setup_spans["session.start"], "s"),
        "dist.ensure_shipped_s": (setup_spans["dist.ensure_shipped"], "s"),
        "catalog.bootstrap_s": (setup_spans["catalog.bootstrap"], "s"),
        "queries.build_s": (median([s.end - s.start for s in build]), "s"),
        "queries.build_jobs": (
            statistics.mean([s.attrs.get("jobs", 0) for s in build]) if build else 0.0,
            "1/query"),
        "queries.exec_s": (median(exec_), "s"),
        "queries.build_share": (b_sum / (b_sum + e_sum) if build else 0.0, "ratio"),
        "history.latest_s": (median(d("history.latest")), "s"),
        "history.class_summary_s": (median(d("history.class_summary")), "s"),
        "history.flatten_s": (median(d("history.flatten")), "s"),
        "dml.read_s": (median(d("dml.read")), "s"),
        "dml.upsert_s": (median(d("dml.upsert")), "s"),
        "dml.append_s": (median(d("dml.append")), "s"),
        "dml.commits": ((len(d("dml.upsert")) + len(d("dml.append"))) / n_ops, "1/op"),
        "dml.bytes_written": (delta["output_bytes"] / n_ops, "B/op"),
        "dml.table_files": (float(state["table_files"]), "count"),
        "dml.marker_files": (float(state["marker_files"]), "count"),
        "pipeline.build_s": (median(d("pipeline.build")), "s"),
        "pipeline.persist_s": (median(d("pipeline.persist")), "s"),
        "ai.python_s": (delta["python_s"] / n_ops, "s/op"),
        "ai.arrow_bytes_sent": (delta["arrow_bytes_sent"] / n_ops, "B/op"),
        "ai.arrow_bytes_received": (delta["arrow_bytes_received"] / n_ops, "B/op"),
        "ai.udf_rows": (delta["udf_rows"] / n_ops, "1/op"),
        "intake.drain_s": (median(d("intake.drain")), "s"),
        "intake.start_s": (median(d("intake.start")), "s"),
        "intake.triggers": (len(progress) / n_progress if n_progress else 0.0, "1/drain"),
        "intake.trigger_ms": (median(dur("triggerExecution")), "ms"),
        "intake.add_batch_ms": (median(dur("addBatch")), "ms"),
        "intake.query_planning_ms": (median(dur("queryPlanning")), "ms"),
        "intake.wal_commit_ms": (median(dur("walCommit")), "ms"),
        "dedup.process_batch_s": (median(d("dedup.process_batch")), "s"),
        "dedup.replay_s": (median(d("dedup.replay")), "s"),
        "dedup.candidate_pairs": (cand / len(dedup_spans) if dedup_spans else 0.0, "1/batch"),
        "dedup.verified_ratio": (ver / cand if cand else 0.0, "ratio"),
        "dedup.index_bytes_read": (median(idx_bytes), "B/batch"),
        "spark.jobs": (delta["jobs"] / n_ops, "1/op"),
        "spark.tasks": (delta["tasks"] / n_ops, "1/op"),
        "spark.task_s": (delta["task_s"] / n_ops, "s/op"),
        "spark.gc_s": (delta["gc_s"] / n_ops, "s/op"),
        "spark.input_bytes": (delta["input_bytes"] / n_ops, "B/op"),
        "spark.shuffle_write_bytes": (delta["shuffle_write_bytes"] / n_ops, "B/op"),
        "spark.spill_bytes": (delta["spill_bytes"] / n_ops, "B/op"),
        "cache.leaked_rdds": (float(leaked), "count"),
        "trace.overhead_share": (overhead, "ratio"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def run(args, work: str, out_dir: str, log) -> tuple[dict, dict]:
    """One run; returns (result line, run record)."""
    from udpbench.tracing import NullTracer, SparkCounters, Tracer, install_wrappers
    from udpbench.workloads import WORKLOADS

    trace = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if trace else NullTracer()
    wl = WORKLOADS[args.workload](args.seed, work)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    t0 = time.perf_counter()
    wl.prepare()
    record["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(work, trace)
    session_s = time.perf_counter() - t0
    try:
        wl.attach(spark)
        wl.tracer = tracer
        t0 = time.perf_counter()
        with tracer.span("setup"):
            wl.setup()
        engine_s = time.perf_counter() - t0
        wl.after_setup()
        setup_s = session_s + engine_s
        record.update(session_s=session_s, engine_setup_s=engine_s)
        log(f"setup: session {session_s:.2f}s, engine set-up {engine_s:.2f}s")

        wl.tracer = NullTracer()
        rounds, warm_s, settled = warm_up(wl, log)
        record.update(warmup_rounds=rounds, warmup_s=warm_s, warmup_settled=settled)

        spark.catalog.clearCache()
        counters = SparkCounters(spark)
        rdd_base = counters.persistent_rdds()
        # every op checks its own answers; measured ingest ops also check
        # the whole warehouse state they leave behind
        wl.check_tables = True
        ops, done = measure(wl, None, rounds, args.seconds)
        record["measured_rounds"] = done
        heap = counters.live_heap_mb()

        result_ops = ops
        if trace:
            install_wrappers(tracer)
            wl.tracer = tracer
            wl.counters = counters
            traced, _ = measure(wl, done, 0, 0)
            wl.counters = None
            delta = {k: sum(d[k] for d in wl.deltas) for k in wl.deltas[0]}
            counters.full_gc()
            time.sleep(1.0)  # let the ContextCleaner drop unreferenced RDDs
            leaked = counters.persistent_rdds() - rdd_base
            untraced_busy = sum(o.dur for o in ops)
            overhead = sum(o.dur for o in traced) / untraced_busy - 1.0
            setup_spans = {
                "session.start": tracer.durations("session.start")[0],
                "dist.ensure_shipped": tracer.durations("dist.ensure_shipped")[0],
                "catalog.bootstrap": tracer.durations("catalog.bootstrap")[0],
            }
            metrics = per_layer(wl, tracer, delta, traced, setup_spans, leaked, overhead)
            self_t = tracer.self_times()
            record["self_time_s"] = self_t
            record["trace_overhead_share"] = overhead
            tracer.write(os.path.join(out_dir, f"spans-{run_id}.json"))
            log("self time by layer (traced loop and set-up):")
            for k, v in sorted(self_t.items(), key=lambda kv: -kv[1]):
                log(f"  {k:28s} {v:8.3f} s")
            log(f"tracing overhead: {overhead:+.1%} of untraced op time")
            result_ops = ops + traced
        else:
            metrics = end_to_end(wl, ops, setup_s, heap)
    finally:
        stop_session(spark)

    all_ops = wl.warm_ops + result_ops
    bad = [o for o in all_ops if not o.ok]
    for o in bad[:10]:
        log(f"FAILED {o.name}: {o.note}")
    for p in wl.problems:
        log(f"FAILED {p}")
    measured = [o for o in result_ops if o.dur > 0]
    failed = len([o for o in result_ops if not o.ok])
    if wl.name == "ingest":
        # fresh-batch op times of the first and second half of the measured
        # loop; a run holds a few, so steadiness.py pools them over runs
        fresh = [o.dur for o in ops if not o.extra.get("replay")]
        half = len(fresh) // 2
        record["stationarity_s"] = {"first": fresh[:half], "second": fresh[half:]}
    record.update(
        round_s=wl.round_times,
        measured_ops=len(measured),
        failed_ops=failed,
        warmup_failed_ops=len([o for o in wl.warm_ops if not o.ok]),
        setup_problems=wl.problems,
        metrics=metrics,
    )
    return {
        "correct": not bad and not wl.problems,
        "attempted": len(measured),
        "failed": failed,
        "metrics": metrics,
    }, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "history"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"udpbench: the engine package {PACKAGE}/ is not next to udpbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".udpbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".udpbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # every temporary file of this process, the JVM and the Python workers
    # goes under the run's work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None

    def log(msg: str) -> None:
        print(f"[udpbench] {msg}", file=sys.stderr, flush=True)

    host0 = host_sample()
    try:
        result, record = run(args, work, out_dir, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    record["host"] = host_report(host0, host_sample())
    log(f"host: {record['host']}")
    log(f"warm-up: {record['warmup_rounds']} rounds in {record['warmup_s']:.1f}s, "
        f"settled={record['warmup_settled']}; inputs {record['inputs_s']:.2f}s")
    if not record["warmup_settled"]:
        log(f"WARNING: round time had not settled after {record['warmup_rounds']} "
            "warm-up rounds")
    if "stationarity_s" in record:
        log(f"stationarity {json.dumps(record['stationarity_s'])}")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
