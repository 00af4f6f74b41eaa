"""Benchmark of yamr-spark: one command, two workloads.

    python3 perfbench/run.py --workload {registry,yamr_verbs}
                             --seed N --seconds S --trace {0,1}

Load model: a closed loop with one client.  One Spark driver process on
``local[nproc]`` runs the workload's ops one after another.  A run is
this fresh process: set-up (input generation and session start, done
``SETUPS`` times, the session stopped in between), one cold pass, warm
passes until ``--seconds`` have passed since the cold pass began (at
least ``MIN_WARM``), then an untimed check of every op's output and a
self-test that plants a wrong answer for every op.  The end-to-end
metrics use the cold pass and the first ``MIN_WARM`` warm passes only,
so they measure the same work whether or not more passes fit in the
time box (passes still speed up from one to the next, so a varying
count would move the medians).  The seed fixes the generated inputs
and, for the registry workload, the order of the queries within a
pass.

End-to-end metrics: ``setup_s``, the median set-up; ``cold_pass_s``,
the first pass; ``pass_s``, the median warm pass; ``op_p50_s``, the
median op latency over those warm passes; ``peak_rss_mb``, the summed
VmHWM of this process and its descendants (the JVM, the Python workers)
after the cold pass and ``MIN_WARM`` warm passes.  The summary line
also prints ``fail_ratio`` (failed / attempted ops; an op fails when it
raises or its output fails the check) and ``op_tail_s`` (the highest
percentile with ten op samples beyond it, with its rank and count).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's public functions, names every Spark job after its op and
phase, turns the Spark event log on and reports the per-layer metrics.
In the traced run, warm passes go untraced, traced, traced, untraced;
the difference of the traced and untraced means is ``trace.overhead_s``.

stdout ends with a human-readable summary line, one ``perfbench-detail``
JSON line (run records: nproc, load, versions, per-op samples, module
times) and, last, the result object ``{"correct", "attempted",
"failed", "metrics"}``.  Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "yet_another_map_reduce_spark"

#: set-ups per run; setup_s is their median
SETUPS = 3
#: warm passes per run at least; the end-to-end metrics use these
MIN_WARM = 3
#: a traced op's build + plan + exec spans must cover its wall time
#: to within this share
LAYER_SUM_TOLERANCE = 0.05


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["registry", "yamr_verbs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with
    its rank and the sample count (no value below eleven samples)."""
    xs = sorted(samples)
    i = len(xs) - 11
    if i < 0:
        return {"value_s": None, "percentile": None, "samples": len(xs)}
    return {"value_s": xs[i], "percentile": 100.0 * (i + 1) / len(xs), "samples": len(xs)}


def _tail_text(t: dict) -> str:
    if t["value_s"] is None:
        return f", op_tail_s=none ({t['samples']} op samples, fewer than 11)"
    return f", op_tail_s={t['value_s']:.6g} s (p{t['percentile']:.0f} of {t['samples']} op samples)"


def _run_pass(spark, ops, pass_no, tracer, traced, results):
    """Run every op once; append ``(pass, op, seconds, output, error)``."""
    sc = spark.sparkContext
    tracer.enabled = traced
    tracer.pass_no = pass_no
    t_pass = time.perf_counter()
    for op in ops:
        tracer.op = op.name
        t = time.perf_counter()
        out = err = None
        try:
            with tracer.span("op"):
                if traced:
                    sc.setJobDescription(f"{pass_no}|{op.name}|build")
                with tracer.span("build"):
                    built = op.build(spark)
                target = op.plan_target(built)
                if traced and target is not None:
                    with tracer.span("catalyst.plan"):
                        target._jdf.queryExecution().executedPlan()
                if traced:
                    sc.setJobDescription(f"{pass_no}|{op.name}|exec")
                with tracer.span("exec"):
                    out = op.execute(built)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            err = f"{type(exc).__name__}: {exc}"
        results.append((pass_no, op, time.perf_counter() - t, out, err))
    if traced:
        sc.setJobDescription(None)
    tracer.enabled = False
    return time.perf_counter() - t_pass


def _descendants() -> list[int]:
    from spans import proc_children

    kids = proc_children()
    todo, found = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    started = _descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _layer_metrics(tracer, jobs, stages, traced_passes, windows, results, verbs) -> tuple[dict, dict]:
    """Per-layer metrics per traced warm pass, plus module-level detail."""
    from spans import OPERATOR_MODULES, exec_metrics, outer_time, self_time

    n = len(traced_passes)
    spans = tracer.spans

    def keep(s):
        return s["pass"] in traced_passes

    def per_pass(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name and keep(s)) / n

    registry = not verbs
    ex = exec_metrics(jobs, stages, windows)
    build_jobs = ex.pop("build_jobs")
    writes = [out for p, op, _, out, err in results if p in traced_passes and op.name == "yamr_write" and not err]
    chunks = statistics.mean(len(e) for e in writes) if writes else 0
    in_bytes = os.path.getsize(verbs.tsv) if verbs else 0
    out_bytes = statistics.mean(sum(s for _, s in e) for e in writes) if writes else 0
    read_calls = sum(1 for s in spans if s["name"] == "readers.read_table" and keep(s)) / n
    setup_builds = [s["end"] - s["start"] for s in spans if s["name"] == "session.build"]
    metrics = {
        "session.build_s": statistics.median(setup_builds),
        "op.build_s": per_pass("build"),
        "catalyst.plan_s": per_pass("catalyst.plan"),
        "op.exec_s": per_pass("exec"),
        "readers.read_table.calls": read_calls,
        "queries.build_jobs": build_jobs / n if registry else 0,
        **{k: (v / n) for k, v in ex.items()},
        "yamr_format.chunks": chunks,
        "yamr_format.bytes_per_input_byte": out_bytes / in_bytes if in_bytes else 0,
    }

    def op_time(op_name):
        return sum(
            s["end"] - s["start"] for s in spans if s["name"] == "op" and s["op"] == op_name and keep(s)
        ) / n

    detail = {
        "readers.read_table_s": outer_time(spans, "readers.read_table", keep) / n,
        "queries.build_s": per_pass("build") if registry else 0.0,
        "queries.build_self_s": self_time(spans, "build", keep) / n if registry else 0.0,
        **{
            f"{m}_s": outer_time(spans, m, keep) / n
            for m in [f"operators.{o}" for o in OPERATOR_MODULES] + ["streaming.ingest"]
        },
        "yamr_format.write_s": op_time("yamr_write"),
        "yamr_format.read_s": op_time("yamr_read"),
        "mapreduce.streaming_s": outer_time(spans, "operators.mapreduce", lambda s: keep(s) and s["op"] == "mr_streaming") / n,
        "mapreduce.inprocess_s": outer_time(spans, "operators.mapreduce", lambda s: keep(s) and s["op"] == "mr_inprocess") / n,
    }
    return metrics, detail


def _layer_gaps(tracer) -> list[tuple[str, int, float]]:
    """Per traced op: ``|build + plan + exec - op| / op``."""
    by_parent: dict[int, float] = {}
    for s in tracer.spans:
        if s["name"] in ("build", "catalyst.plan", "exec") and s["parent"] is not None:
            by_parent[s["parent"]] = by_parent.get(s["parent"], 0.0) + s["end"] - s["start"]
    gaps = []
    for s in tracer.spans:
        if s["name"] == "op":
            wall = s["end"] - s["start"]
            gaps.append((s["op"], s["pass"], abs(wall - by_parent.get(s["id"], 0.0)) / wall))
    return gaps


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))  # what nproc prints
    load_start = os.getloadavg()
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d))
    # everything the run writes, the JVM's and the Python workers' temp
    # files included, stays inside the checkout; the workers import the
    # package from the checkout whatever their working directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included: temp files in the
    # checkout, and no hsperfdata file (the JVM would write it to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    import pyarrow
    import pyspark

    import workloads
    from spans import Tracer, peak_rss_mb, read_event_log
    from yet_another_map_reduce_spark import session

    tracer = Tracer()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        tracer.install()
        tracer.enabled = True
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    wl = workloads.WORKLOADS[args.workload](ROOT, work, args.seed, nproc)

    setups = []
    t = _T0
    for i in range(SETUPS):
        if i:
            t = time.perf_counter()
        wl.generate()
        spark = session.build_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf=conf,
        )
        wl.prepare(spark)
        setups.append(time.perf_counter() - t)
        if i < SETUPS - 1:
            spark.stop()
    tracer.enabled = False

    ops = wl.ops()
    results: list[tuple] = []
    walls: list[float] = []
    traced_passes: list[int] = []
    windows: list[tuple[float, float]] = []
    untraced_warm: list[float] = []
    traced_warm: list[float] = []
    t_window = time.perf_counter()
    pass_no = 0
    while True:
        # traced run: the cold pass is traced, and warm passes go in
        # blocks of untraced, traced, traced, untraced, so that a steady
        # speed-up from pass to pass cancels out of trace.overhead_s
        traced = bool(args.trace) and (pass_no == 0 or (pass_no - 1) % 4 in (1, 2))
        start = time.time()
        wall = _run_pass(spark, ops, pass_no, tracer, traced, results)
        walls.append(wall)
        if pass_no:
            (traced_warm if traced else untraced_warm).append(wall)
            if traced:
                traced_passes.append(pass_no)
                windows.append((start, time.time()))
        pass_no += 1
        warm = pass_no - 1
        if warm == MIN_WARM:
            # after a fixed amount of work, so that the JVM's heap growth
            # does not depend on how many passes fit in the time box
            rss = peak_rss_mb()
        if args.trace:
            enough = warm >= 4 and warm % 4 == 0
        else:
            enough = warm >= MIN_WARM
        if enough and time.perf_counter() - t_window >= args.seconds:
            break

    # ---- untimed: output checks and the planted-answer self-test ----
    failures = []
    for p, op, _, out, err in results:
        errs = [err] if err else op.check(out)
        if errs:
            failures.append({"pass": p, "op": op.name, "errors": [str(e)[:300] for e in errs]})
    self_test = {}
    for p, op, _, out, err in results:
        if not err and op.name not in self_test:
            self_test[op.name] = bool(op.check(op.plant(out)))
    wl.close()
    _stop(spark)
    load_end = os.getloadavg()

    warm_samples = [lat for p, _, lat, _, _ in results if 0 < p <= MIN_WARM]
    attempted = len(results)
    failed = len(failures)
    correct = failed == 0 and all(self_test.values())
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_start": load_start[0],
        "loadavg_end": load_end[0],
        "loaded": max(load_start[0], load_end[0]) > nproc,
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__},
        "setups_s": setups,
        "passes_s": walls,
        "op_order": [op.name for op in ops],
        "op_samples": [(p, op.name, lat) for p, op, lat, _, _ in results],
        "op_tail": _tail([lat for p, _, lat, _, _ in results if p > 0]),
        "fail_ratio": failed / attempted,
        "failures": failures,
        "self_test_planted_answer_caught": self_test,
    }
    if args.trace:
        jobs, stages = read_event_log(os.path.join(work, "events"))
        verbs = wl if args.workload == "yamr_verbs" else None
        metrics, layer_detail = _layer_metrics(
            tracer, jobs, stages, traced_passes, windows, results, verbs
        )
        metrics["trace.overhead_s"] = statistics.mean(traced_warm) - statistics.mean(untraced_warm)
        gaps = _layer_gaps(tracer)
        worst = max(gaps, key=lambda g: g[2])
        metrics["trace.layer_gap_max"] = worst[2]
        detail.update(layer_detail)
        detail["layer_gap_worst"] = {"op": worst[0], "pass": worst[1], "share": worst[2]}
        if worst[2] > LAYER_SUM_TOLERANCE:
            correct = False
        if args.workload == "registry" and metrics["readers.read_table.calls"] <= 0:
            detail["self_check"] = "readers.read_table.calls is 0 on registry"
            correct = False
        tracer.write(os.path.join(work, "spans.json"))
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": walls[0],
            "pass_s": statistics.median(walls[1 : 1 + MIN_WARM]),
            "op_p50_s": statistics.median(warm_samples),
            "peak_rss_mb": rss,
        }
    with open(os.path.join(work, "detail.json"), "w") as fh:
        json.dump(detail, fh)
    # keep only the run records; inputs, outputs and temp files go
    for name in os.listdir(work):
        path = os.path.join(work, name)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif name not in ("detail.json", "spans.json"):
            os.remove(path)

    def unit(name):
        if name.endswith("_s") or name == "exec.s":
            return "s"
        if name.endswith("_mb"):
            return "MB"
        if name.endswith("_bytes"):
            return "bytes"
        if name in ("trace.layer_gap_max", "yamr_format.bytes_per_input_byte"):
            return "ratio"
        return "count"

    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        + ", ".join(f"{k}={v:.6g} {unit(k)}" for k, v in metrics.items())
        + f", fail_ratio={failed / attempted:.6g} ({failed}/{attempted})"
        + _tail_text(detail["op_tail"])
        + (" [LOADED: loadavg > nproc]" if detail["loaded"] else "")
    )
    print("perfbench-detail " + json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
