"""Benchmark of the tfidf_spark engine: end-to-end and per-layer figures.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {build,refresh} --seed N \
        --seconds S --trace {0,1}

One run starts a local[<cores>] session, materializes the workload's
seeded inputs (set-up), runs the workload's fixed number of warm-up ops
(part of set-up), then times ops in a closed loop, one client, until S
seconds of op time have passed and at least the workload's minimum
number of ops has run. With ``--trace 1`` each op is followed by a
traced one, with Spark's event log attached and a job group around
every call; the traced ops' figures are the per-layer ones. Every op's
outputs are checked, warm-up ops included; ``attempted`` and
``failed`` count them.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A table
of every figure, with units and sample counts, is printed before it.
Work files live in ``.perfbench_work/`` under the checkout and are
removed at exit.
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

from spans import Host, Tracer, event_log_conf, fold
from workloads import Build, Ctx, OpResult, Recorder, Refresh

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit, better). The end-to-end list is what --trace 0 prints;
# every workload reports every metric (see README.md for what each one
# means per workload).
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("query_ms", "ms", "lower"),
    ("bytes_per_posting", "bytes", "lower"),
]

# Calls with the full Spark breakdown, and lazy or driver-side calls that
# only get wall and job count.
FULL_CALLS = [
    "build", "simhash", "minhash_lsh", "local_query",
    "compact", "delete", "batch_query", "batch_join",
]
LIGHT_CALLS = ["corpus_load", "cdc", "warm"]
# (figure, unit, event-log key from spans.fold, divisor)
CALL_FIGURES = [
    ("wall_s", "s", None, 1),
    ("jobs", "count", "jobs", 1),
    ("tasks", "count", "tasks", 1),
    ("exec_run_s", "s", "exec_run_ms", 1e3),
    ("exec_cpu_s", "s", "exec_cpu_ns", 1e9),
    ("shuffle_write_bytes", "bytes", "shuffle_write_bytes", 1),
    ("spill_bytes", "bytes", "spill_bytes", 1),
    ("py_boot_s", "s", "py_boot_ms", 1e3),
    ("py_total_s", "s", "py_total_ms", 1e3),
    ("py_bytes_sent", "bytes", "py_bytes_sent", 1),
    ("py_bytes_received", "bytes", "py_bytes_received", 1),
]
OTHER_LAYER = [
    ("op.wall_s", "s"),
    ("build.stage_postings_s", "s"),
    ("build.stage_doc_stats_s", "s"),
    ("build.stage_encode_s", "s"),
    ("build.stage_term_stats_s", "s"),
    ("build.blob_bytes_per_posting", "bytes"),
    ("local_query.p90_ms", "ms"),
    ("local_query.spark_ms", "ms"),
    ("local_query.driver_ms", "ms"),
    ("local_query.bytes_decoded_per_query", "bytes"),
    ("local_query.decode_frac", "fraction"),
    ("refresh.segments", "count"),
    ("refresh.bytes_written_postings", "bytes"),
    ("setup.session_s", "s"),
    ("setup.inputs_s", "s"),
    ("setup.prebuild_s", "s"),
    ("setup.oracle_s", "s"),
    ("setup.warmup_s", "s"),
    ("host.steal_frac", "fraction"),
    ("host.calib_ms", "ms"),
    ("trace.overhead_s", "s"),
]


def per_layer_metrics() -> list[tuple[str, str]]:
    out = []
    for call in FULL_CALLS + LIGHT_CALLS:
        figures = CALL_FIGURES if call in FULL_CALLS else CALL_FIGURES[:2]
        out += [(f"{call}.{f}", unit) for f, unit, _, _ in figures]
    return out + OTHER_LAYER


# Ops run per run before measuring, and the fewest measured per run.
# On 4 cores the second `build` op is 30-45% faster than the cold one,
# the third 5-20% and the fourth 0-15% faster again; the second
# `refresh` op is about 25% faster than the first, later ones a few
# percent. With one measured `build` op per run, sets of ten runs
# spread by 0.1-0.8 of their median, against 0.05-0.11 for `refresh`'s
# median of three. The run budget allows about four ops per run, so one warm-up op
# drops the cold op, and the median of three mostly picks the third or
# the fourth.
WARMUP_OPS = 1
MIN_OPS = 3


def _run_op(workload, tracer, tag):
    res = OpResult()
    rec = Recorder(tracer, tag, res)
    try:
        workload.op(rec)
    except Exception:  # the op's failure is reported, not fatal
        res.error = traceback.format_exc()
    calls: dict[str, float] = {}
    for _, name, wall in res.spans:
        calls[name] = calls.get(name, 0.0) + wall
    if res.error:
        print(res.error, file=sys.stderr)
    print(f"op {tag}: {res.wall:.3f} s " + " ".join(f"{k}={v:.3f}" for k, v in calls.items())
          + (" FAILED" if res.failed else ""), file=sys.stderr)
    return res


def _median(values, default=0.0):
    return statistics.median(values) if values else default


def _call_figures(results, groups):
    """Per-call figures of the traced ops: per op, the sum over the
    call's spans; then the median over ops."""
    names = FULL_CALLS + LIGHT_CALLS
    per_op = []
    for res in results:
        acc = {c: dict.fromkeys((f for f, _, _, _ in CALL_FIGURES), 0.0) for c in names}
        for gid, call, wall in res.spans:
            g = groups.get(gid, {})
            acc[call]["wall_s"] += wall
            for f, _, key, div in CALL_FIGURES[1:]:
                acc[call][f] += g.get(key, 0) / div
        per_op.append(acc)
    out = {
        f"{call}.{f}": _median([acc[call][f] for acc in per_op])
        for call in names
        for f, _, _, _ in CALL_FIGURES
    }
    spark_ms, driver_ms = [], []
    for res in results:
        for gid, call, wall in res.spans:
            if call == "local_query":
                job_ms = groups.get(gid, {}).get("job_ms", 0.0)
                spark_ms.append(job_ms)
                driver_ms.append(1000 * wall - job_ms)
    out["local_query.spark_ms"] = _median(spark_ms)
    out["local_query.driver_ms"] = _median(driver_ms)
    return out


def _figure(results, name):
    return _median([r.figures[name] for r in results if name in r.figures])


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier; the smoke test uses a small one")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tfidf_spark", "__init__.py")):
        print(f"tfidf_spark package not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "events", "idx"):
        os.makedirs(os.path.join(work, sub))
    # Spark's Python workers import the engine from the checkout; scratch
    # files of the JVM, Spark and Python stay inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    for var in ("TMPDIR", "TMP", "TEMP"):
        os.environ[var] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)
    try:
        return _bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def _bench(args, work) -> int:
    from tfidf_spark.session import get_spark

    host = Host()
    cpus = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.memory": "4g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "events") if args.trace else None
    if log_dir:
        conf.update(event_log_conf(log_dir))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        parts = {"session_s": time.perf_counter() - t_setup}
        tracer = Tracer(spark, log_dir)
        ctx = Ctx(spark, work, args.seed, args.scale, cpus)
        workload = (Build if args.workload == "build" else Refresh)(ctx)
        parts.update(workload.setup())

        t_warm = time.perf_counter()
        warm = [_run_op(workload, tracer, f"w{i}") for i in range(WARMUP_OPS)]
        parts["warmup_s"] = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        print("set-up: " + " ".join(f"{k}={v:.3f}" for k, v in parts.items()), file=sys.stderr)

        # Closed loop, one client: the next op starts when the last ends,
        # until `seconds` of untraced op time have passed and at least
        # MIN_OPS ops have run. Every op starts from the same state, so
        # a failed op does not end the window. With tracing, a traced op
        # follows each untraced one, so both sets see the same warm-up.
        host.calibrate(spark)
        untraced, traced = [], []
        while len(untraced) < MIN_OPS or sum(r.wall for r in untraced) < args.seconds:
            untraced.append(_run_op(workload, tracer, f"u{len(untraced)}"))
            if args.trace:
                tracer.attach()
                traced.append(_run_op(workload, tracer, f"t{len(traced)}"))
                tracer.detach()
        host.calibrate(spark)
    finally:
        _stop(spark)

    checked = warm + untraced + traced
    failed = sum(1 for r in checked if r.failed)
    for r in checked:
        for msg in r.problems[:10]:
            print(f"check failed: {msg}", file=sys.stderr)
    # an op that raised has no complete timing; one that failed a check has
    untraced = [r for r in untraced if not r.error]
    traced = [r for r in traced if not r.error]

    e2e = {
        "setup_s": setup_s,
        "op_s": _median([r.wall for r in untraced]),
        **{m: _figure(untraced, m)
           for m in ("docs_per_s", "query_ms", "bytes_per_posting")},
    }
    units = {n: u for n, u, _ in END_TO_END}
    if args.trace:
        layer = _call_figures(traced, fold(log_dir) if traced else {})
        for name, _ in OTHER_LAYER:
            if name not in layer:
                layer[name] = _figure(traced, name)
        layer["op.wall_s"] = _median([r.wall for r in traced])
        layer.update({f"setup.{k}": v for k, v in parts.items()})
        layer["host.steal_frac"] = host.steal_frac()
        layer["host.calib_ms"] = _median(host.calib_ms)
        layer["trace.overhead_s"] = layer["op.wall_s"] - e2e["op_s"]
        shown = {n: (layer[n], u) for n, u in per_layer_metrics()}
        units = dict(per_layer_metrics())
    else:
        shown = {n: (e2e[n], units[n]) for n in units}

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(checked)} (warm-up {len(warm)}, timed untraced {len(untraced)}, "
          f"timed traced {len(traced)}) failed={failed} "
          f"fail_frac={failed / len(checked):.3f} "
          f"host.steal_frac={host.steal_frac():.3f} "
          f"host.calib_ms={_median(host.calib_ms):.1f}")
    n_ops = len(traced) if args.trace else len(untraced)
    for name, (value, unit) in shown.items():
        n = 1 if name.startswith("setup") else n_ops
        print(f"  {name:42s} {value:16.6g} {unit:10s} n={n}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, (v, _) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
