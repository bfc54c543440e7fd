#!/usr/bin/env python3
"""Benchmark of the battery-analytics engine: one workload, one seed.

    python3 perfbench/run.py --workload cycler --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed (cached per seed and size under ``.perfbench_work/``), sets up
(imports, Spark session, one untimed warm-up pass over the same input:
JVM, Python workers, code generation and JIT), then repeats the workload's pass on the
full input until ``--seconds`` of pass time have accumulated, checking
every pass's outputs outside the timer. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` (passes that raised or
failed a check) and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a traced run:
spans around each layer call, forced layer boundaries, Spark event log).
The line before it carries host stamps and run details.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mxene_coin_cell_data_pipeline_spark"
CPUS = 4


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it
    (the maximum when there are ten samples or fewer); returns
    (value, sample count)."""
    xs = sorted(values)
    if not xs:
        return 0.0, 0
    return (xs[-11] if len(xs) > 10 else xs[-1]), len(xs)


def _stop_jvm(pids: list[int]) -> None:
    """Stop the py4j gateway JVM and wait until every process of the
    tree (JVM, Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    live = [p for p in pids if p != os.getpid()]
    while live:
        nxt = []
        for p in live:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        nxt.append(p)
            except OSError:
                pass
        live = nxt
        if live and time.time() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 30
        if live:
            time.sleep(0.05)


def _count_entries(*dirs: str) -> int:
    return sum(len(os.listdir(d)) for d in dirs if os.path.isdir(d))


def layer_metrics(tracer, jobs: dict, passes: list[dict], progress) -> dict:
    """Per-layer metrics, per timed pass, from spans + event log + progress."""
    import workloads
    from tracing import covered_ms

    n = max(1, len(passes))
    spans = tracer.spans
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    by_span: dict[int, list[dict]] = {}
    for j in jobs.values():
        if j["span"] is not None:
            by_span.setdefault(j["span"], []).append(j)

    def subtree_jobs(sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out += by_span.get(x, [])
            todo += kids.get(x, [])
        return out

    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v / n

    for s in spans:
        name, ms = s["name"], (s["end"] - s["start"]) * 1000.0
        sj = subtree_jobs(s["id"])
        add(f"{name}.ms", ms)
        for k in ("rows_out", "max_bucket", "useful_ratio"):
            if k in s:
                add(f"{name}.{k}", s[k])
        add(f"{name}.write_bytes", s["write_bytes"])
        add(f"{name}.shuffle_write_bytes", sum(j["shuffle_write_bytes"] for j in sj))
        add(f"{name}.exec_run_ms", sum(j["run_ms"] for j in sj))
        add(f"{name}.exec_cpu_ms", sum(j["cpu_ms"] for j in sj))
        add(f"{name}.jobs", len(sj))
        add(f"{name}.driver_gap_ms", ms - covered_ms(
            [(j["start"], j["end"] or s["end"]) for j in sj], s["start"], s["end"]))
        if name == "functions.dedup.near_dup_groups":
            # one collect per closure round; adaptive execution may split
            # a collect into several jobs of one SQL execution
            rounds = len({j["sql_execution"] for j in sj if j["callsite"].startswith("collect")})
            add(f"{name}.rounds", rounds)
            add(f"{name}.ms_per_round", ms / max(1, rounds))
        if name == "functions.text.bpe_train_merges":
            add(f"{name}.ms_per_round", ms / workloads.BPE_ROUNDS)

    # self time of the feature pipeline span: combine_features, the
    # sort and the write (its four operators are child spans)
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1000.0
    for s in spans:
        if s["name"] == "operators.full_feature_pipeline":
            add("operators.combine_features.ms", (s["end"] - s["start"]) * 1000.0 - child_ms.get(s["id"], 0.0))

    # streaming progress, per micro-batch with input, per stream
    dur = lambda b, k: b.get("durationMs", {}).get(k, 0)  # noqa: E731
    upsert = lambda b: any("/changelog/" in x.get("description", "") for x in b.get("sources", []))  # noqa: E731
    for layer, short, bs in (
        ("streaming.features.stream_energy_trapezoid", "feed", [b for b in progress.batches if not upsert(b)]),
        ("streaming.snapshot.run_stream_latest_snapshot", "upsert", [b for b in progress.batches if upsert(b)]),
    ):
        bs = [b for b in bs if b.get("numInputRows", 0) > 0]
        if not bs:
            continue
        m[f"{layer}.add_batch_ms"] = statistics.median(dur(b, "addBatch") for b in bs)
        m[f"{layer}.planning_ms"] = statistics.median(dur(b, "queryPlanning") for b in bs)
        m[f"{layer}.rows_in"] = sum(b["numInputRows"] for b in bs) / n
        trig = [dur(b, "triggerExecution") for b in bs]
        m[f"streaming.{short}.batch_p50_ms"] = statistics.median(trig)
        m[f"streaming.{short}.batch_tail_ms"] = tail(trig)[0]
        if short == "feed":
            m[f"{layer}.state_rows"] = (bs[-1].get("stateOperators") or [{}])[0].get("numRowsTotal", 0)
        else:
            snap = [s for s in spans if s["name"] == layer]
            m[f"{layer}.state_rows"] = statistics.median(s["state_rows"] for s in snap)
            m[f"{layer}.batch_write_bytes"] = sum(s["write_bytes"] for s in snap) / len(bs)

    # the registry queries: plan build, execution, jobs and the driver
    # time no job covers, per query
    qs = [s for s in spans if s["name"].startswith("plans.") and s["name"] not in ("plans.build", "plans.exec")]
    if qs:
        qjobs = [subtree_jobs(s["id"]) for s in qs]
        for k in ("build", "exec"):
            m[f"plans.{k}_ms_p50"] = statistics.median(
                (s["end"] - s["start"]) * 1000.0 for s in spans if s["name"] == f"plans.{k}")
        m["plans.driver_gap_ms_p50"] = statistics.median(
            (s["end"] - s["start"]) * 1000.0
            - covered_ms([(j["start"], j["end"] or s["end"]) for j in sj], s["start"], s["end"])
            for s, sj in zip(qs, qjobs)
        )
        m["plans.jobs_per_query"] = sum(len(sj) for sj in qjobs) / len(qs)
        m["plans.tasks_per_query"] = sum(j["tasks"] for sj in qjobs for j in sj) / len(qs)
        m["plans.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for sj in qjobs for j in sj) / n

    # whole-pass Spark totals and the reconciliation of self times
    in_pass = [j for j in jobs.values() if any(p["start"] <= j["start"] <= p["end"] for p in passes)]
    m["spark.jobs"] = len(in_pass) / n
    for k, src in (("tasks", "tasks"), ("exec_run_ms", "run_ms"), ("exec_cpu_ms", "cpu_ms"),
                   ("gc_ms", "gc_ms"), ("spill_bytes", "spill_bytes")):
        m[f"spark.{k}"] = sum(j[src] for j in in_pass) / n
    m["spark.driver_gap_ms"] = sum(
        (p["end"] - p["start"]) * 1000.0
        - covered_ms([(j["start"], j["end"] or p["end"]) for j in in_pass], p["start"], p["end"])
        for p in passes
    ) / n
    pass_ids = {s["id"] for s in spans if s["name"] == "pass"}
    top = sum((s["end"] - s["start"]) * 1000.0 for s in spans if s["parent"] in pass_ids)
    m["trace.unattributed_ms"] = sum((p["end"] - p["start"]) * 1000.0 for p in passes) / n - top / n
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size (selftest uses 'tiny')")
    ap.add_argument("--spans-out", default=None, help="traced runs: write spans + jobs here")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import gen
    from metrics import END_TO_END, PER_LAYER

    if args.workload not in gen.GENERATORS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"{PKG} not found under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp, local, evlog, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "eventlog", "out"))
    for d in (tmp, local, evlog, out):
        os.makedirs(d)
    # run hygiene: fixed parallelism, private temp and Spark local dirs
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    tempfile.tempdir = None
    # the serial collector sizes the heap from live data alone; G1 grows it
    # with pause times, which follow the host's load (peak RSS spread 0.18)
    submit = [
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if args.trace:
        import tracing as _t

        submit += _t.eventlog_conf(evlog)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    t_gen = time.time()
    inp, meta = gen.cached(work, args.workload, args.seed, args.size)
    t_gen = time.time() - t_gen

    attempted = failed = 0
    errors: list[str] = []
    info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        # ---- set-up: process start (less input generation) until the
        # session is up and one untimed warm-up pass is done
        t0 = time.time()
        from mxene_coin_cell_data_pipeline_spark import get_spark
        import workloads
        from tracing import ProgressLog, Tracer, tree_cpu_s, tree_peak_rss_mb, tree_pids, tree_write_bytes

        spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
        t1 = time.time()
        progress = ProgressLog()
        spark.streams.addListener(progress)
        cls = workloads.WORKLOADS[args.workload]

        def instrumented(tr):
            return workloads.instrumented(tr) if args.trace else contextlib.nullcontext()

        # a traced run warms up its tracing paths too (the warm-up's
        # tracer is not bound to the session, so no job carries its spans)
        warm_tr = Tracer(bool(args.trace), "warm")
        warm = cls(spark, warm_tr, inp, meta, os.path.join(out, "warm"))
        warm.prepare(0)
        with instrumented(warm_tr):
            warm.run(0)
        warm_tr.flush()
        progress.drain()
        t2 = time.time()
        setup = {"total_s": t2 - T_PROCESS - t_gen, "get_spark_ms": (t1 - t0) * 1e3, "warmup_ms": (t2 - t1) * 1e3}
        info["setup_s"] = setup["total_s"]
        info["generate_s"] = t_gen

        # ---- timed passes
        tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
        tracer.bind(spark)
        progress.batches.clear()
        wl = cls(spark, tracer, inp, meta, os.path.join(out, "timed"))
        passes: list[dict] = []
        written = 0
        i = 0
        while i == 0 or sum(p["end"] - p["start"] for p in passes) < args.seconds:
            wl.prepare(i)
            wb0, cpu0 = tree_write_bytes(), tree_cpu_s()
            t0 = time.time()
            try:
                with instrumented(tracer), tracer.span("pass"):
                    res = wl.run(i)
                errs = []
            except Exception:
                traceback.print_exc()
                errs = ["pass raised"]
                tracer.flush(run=False)
            t1 = time.time()
            passes.append({"start": t0, "end": t1, "cpu_s": tree_cpu_s() - cpu0})
            written += tree_write_bytes() - wb0
            attempted += 1
            if not errs:
                tracer.flush()
                errs = wl.check(i, res) if progress.drain() else ["stream progress never arrived"]
            if errs:
                failed += 1
                errors += [f"pass {i}: {e}" for e in errs]
            wl.cleanup(i)
            i += 1

        peak_rss = tree_peak_rss_mb()
        pids = tree_pids()
        app_id = spark.sparkContext.applicationId
        spark.stop()
        _stop_jvm(pids)
        leaked = _count_entries(tmp, local)

        walls = [p["end"] - p["start"] for p in passes]
        info.update(
            passes=len(passes),
            pass_ms=[round(w * 1e3, 3) for w in walls],
            pass_cpu_s=[round(p["cpu_s"], 3) for p in passes],
            rows_per_pass=wl.rows,
            input_bytes_per_pass=wl.in_bytes,
            loadavg=os.getloadavg(),
            nproc=os.cpu_count(),
            versions=_versions(),
            errors=errors[:20],
        )
        if args.workload == "curation":
            info["planted_links_recalled"] = f"{wl.recall[-1] if wl.recall else 0}/{len(meta['plants'])}"
        if args.trace:
            from tracing import read_event_log

            jobs = read_event_log(os.path.join(evlog, app_id))
            lm = layer_metrics(tracer, jobs, passes, progress)
            lm["trace.pass_p50_ms"] = statistics.median(walls) * 1e3
            lm["session.get_spark.ms"] = setup["get_spark_ms"]
            lm["session.warmup_ms"] = setup["warmup_ms"]
            lm["session.tmp_entries_leaked"] = leaked
            metrics = {k: {"value": float(lm.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
            if args.spans_out:
                with open(args.spans_out, "w") as f:
                    json.dump({"spans": tracer.spans, "jobs": jobs, "passes": passes}, f)
        else:
            vals = {
                "setup_s": setup["total_s"],
                "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
                "write_amp": written / (wl.in_bytes * len(walls)),
                "peak_rss_mb": peak_rss,
            }
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}
        info["tmp_entries_leaked"] = leaked
    finally:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:  # a failed run: stop what it started
            import tracing

            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            _stop_jvm(tracing.tree_pids())
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(info, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {m.__name__: m.__version__ for m in (pyspark, pandas, pyarrow, numpy)} | {
        "python": sys.version.split()[0]
    }


if __name__ == "__main__":
    sys.exit(main())
