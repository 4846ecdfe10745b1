#!/usr/bin/env python3
"""sparkcodec benchmark: one workload, one run.

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout that holds ``sparkcodec/`` on
``local[<cores of this host>]``. Every file it writes stays under
``.perfbench/`` in that checkout, and the per-run directory is removed at
the end. Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics, and the spans are written to
``.perfbench/traces/<workload>-<seed>.json``. The line before it,
``REPORT {...}``, carries every figure of the run by name with its unit,
and the host calibration.
"""

from __future__ import annotations

import argparse
import collections
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# end-to-end metrics, the same for every workload (see README.md)
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_mean_ms": "ms",
    "peak_py_rss_mb": "MB",
}

SPARK_KINDS = ["encode", "encode_aligned", "decode", "index", "lookup", "sql_lookup", "append", "compact", "query"]
SPARK_FIELDS = {
    "jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
}
SELF_LAYERS = ["op", "step", "engine", "datasource", "queries", "index", "spark"]


def layer_metrics() -> dict[str, str]:
    """Per-layer metric name -> unit. A layer a workload never reaches
    reads 0 on that workload."""
    from workloads import CODE_COLUMNS, OPERATOR_QUERIES

    m = {
        "session.start_s": "s",
        "tables.generate_s": "s",
        "inputs.operator_tables_s": "s",
        "native.build_s": "s",
        "codecs.native": "bool",
    }
    for c in CODE_COLUMNS:
        m[f"select.choose_ms.{c}"] = "ms"
    for c in CODE_COLUMNS:
        m[f"codecs.encode_mbps.{c}"] = "MB/s"
        m[f"codecs.decode_mbps.{c}"] = "MB/s"
        m[f"codecs.ratio.{c}"] = "x"
    for tag in ("encode", "encode_aligned"):
        for p in ("plan", "job", "commit"):
            m[f"engine.{tag}.{p}_s"] = "s"
    m.update({
        "engine.encode.part_ms_p50": "ms",
        "engine.encode.part_ms_max": "ms",
        "engine.decode.plan_ms": "ms",
        "engine.decode.job_s": "s",
        "engine.prune.parts_kept_ratio": "ratio",
        "engine.prune.rows_useful_ratio": "ratio",
        "engine.log.snapshots": "count",
        "engine.log.bytes": "bytes",
        "engine.compact.parts_in": "count",
        "engine.compact.bytes_rewritten": "bytes",
        "engine.churn.bytes_written_per_user_byte": "ratio",
        "datasource.load_ms": "ms",
        "verify.checksum_s": "s",
        "verify.roundtrip_s": "s",
        "verify.size_gate_ratio": "ratio",
    })
    for q in OPERATOR_QUERIES:
        m[f"queries.{q}_s"] = "s"
    for k in SPARK_KINDS:
        for f, u in SPARK_FIELDS.items():
            m[f"spark.{k}.{f}"] = u
    m["spark.all.gc_s"] = "s"
    m["spark.all.failed_tasks"] = "count"
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = "ms"
    m["trace.unattributed_ratio"] = "ratio"
    m["trace.overhead_ratio"] = "ratio"
    return m


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one workload run: session, tracer, samples and counts."""

    def __init__(self, tracer, work: str, seed: int, size: str, seconds: float):
        from workloads import SIZES

        self.spark = None  # set once the session is up
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.cfg = SIZES[size]
        self.seconds = seconds
        self.samples: dict[str, list[float]] = collections.defaultdict(list)
        self.phases: dict[str, list[dict]] = collections.defaultdict(list)
        self.calls: collections.Counter = collections.Counter()
        self.op_walls: list[tuple[float, bool]] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = collections.defaultdict(float)
        self.input_files: list[str] = []
        self.phase_mark: dict[str, int] = {}
        self.group_prefix = "setup:"

    def path(self, *p) -> str:
        return os.path.join(self.work, *p)

    def group(self, name: str) -> None:
        g = self.group_prefix + name
        self.spark.sparkContext.setJobGroup(g, g)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:500])
        return ok

    def guarded(self, what: str, fn):
        """Run ``fn`` as one attempted operation; an exception fails it."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is a measurement, not a crash
            import traceback

            self.failed += 1
            self.failures.append(f"{what}: {type(e).__name__}: {traceback.format_exc(limit=4)[-600:]}")
            return None

    def timed(self, kind: str, fn, sample: str | None = None):
        """One call into the program, timed; the Spark jobs it launches run
        under the job group ``kind``."""
        self.group(kind)
        self.calls[kind] += 1
        t0 = time.perf_counter()
        with self.tracer.span(f"step.{kind}"):
            out = fn()
        self.samples[sample or kind].append(time.perf_counter() - t0)
        return out

    def warm_up(self, workload) -> None:
        """Untimed steps -n..-1 of the workload, ``n = warm_ops``."""
        with self.tracer.op("warmup"):
            for i in range(-workload.warm_ops, 0):
                self.guarded(f"{workload.name} warm-up {i}", lambda: workload.step(self, i))
        self.samples.clear()
        self.calls.clear()
        self.phase_mark = {k: len(v) for k, v in self.phases.items()}
        self.group_prefix = ""

    def loop(self, workload) -> None:
        """Closed loop until the time is up, at least ``min_ops`` times.
        In a traced run every other cycle of the workload runs with tracing
        paused, so the two halves hold the same mix of operations and give
        the tracing overhead; a traced run ends on a whole number of pairs
        of cycles. An untraced run ends when the time is up: ending it on a
        whole cycle made the operation count jump by a cycle (8 or 12 on
        churn) with small changes in host speed."""
        deadline = time.perf_counter() + self.seconds
        cycle = workload.cycle(self)
        pair = 2 * cycle if self.tracer.enabled else 1
        i = 0
        while i < self.cfg["min_ops"] or i % pair or time.perf_counter() < deadline:
            traced = not (self.tracer.enabled and (i // cycle) % 2)
            t0 = time.perf_counter()
            with self.tracer.op(workload.name, traced=traced):
                more = self.guarded(f"{workload.name} op {i}", lambda: workload.step(self, i))
            if more is False:
                self.attempted -= 1  # inputs used up: no operation ran
                break
            self.op_walls.append((time.perf_counter() - t0, traced))
            i += 1
        self.group_prefix = "check:"
        self.group("untimed")


def percentile(xs: list[float], q: float) -> float | None:
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def figures(run: Run, workload) -> dict:
    """The workload's own figures, by the names the design uses."""
    out = {}
    for kind in workload.kinds:
        xs = run.samples[kind]
        out[f"{kind}_p50_ms"] = {"value": statistics.median(xs) * 1e3 if xs else None, "unit": "ms"}
        out[f"{kind}_p90_ms"] = {
            "value": percentile(xs, 0.9) * 1e3 if xs else None,
            "unit": "ms",
            # ten samples beyond p90 need at least 100
            "samples": len(xs),
            "supported": len(xs) >= 100,
        }
    units = {"encode_mbps": "MB/s", "encode_aligned_mbps": "MB/s", "decode_mbps": "MB/s",
             "compression_ratio": "x", "raw_mb": "MB", "operator_suite_s": "s"}
    for k, v in workload.figures(run).items():
        out[k] = {"value": v, "unit": units.get(k, "")}
    for k, xs in run.samples.items():
        if k.startswith("q."):
            out[f"{k}_s"] = {"value": statistics.median(xs), "unit": "s", "samples": len(xs)}
    return out


def spark_layers(run: Run) -> None:
    from tracing import spark_metrics_by_group

    by_group = spark_metrics_by_group(run.spark)
    for kind in SPARK_KINDS:
        m, n = by_group.get(kind, {}), max(1, run.calls[kind])
        for f in SPARK_FIELDS:
            run.layer[f"spark.{kind}.{f}"] = m.get(f, 0.0) / n
    measured = [v for g, v in by_group.items() if g in SPARK_KINDS]
    run.layer["spark.all.gc_s"] = sum(m.get("gc_s", 0.0) for m in measured)
    run.layer["spark.all.failed_tasks"] = sum(m.get("failed_tasks", 0.0) for m in measured)


def trace_layers(run: Run) -> None:
    from tracing import layer_of, self_times

    spans = run.tracer.spans
    selfs = self_times(spans)
    roots = {s["op"]: s for s in spans if s["parent"] is None and s["name"].startswith("op.")
             and s["name"] != "op.warmup"}
    per_layer: dict[str, float] = collections.defaultdict(float)
    for s in spans:
        if s["op"] in roots:
            per_layer[layer_of(s["name"])] += selfs[s["id"]]
    n = max(1, len(roots))
    for layer in SELF_LAYERS:
        run.layer[f"self_ms.{layer}"] = per_layer[layer] * 1e3 / n
    total = sum(r["end"] - r["start"] for r in roots.values())
    run.layer["trace.unattributed_ratio"] = (per_layer["op"] + per_layer["step"]) / max(total, 1e-9)
    on = [w for w, t in run.op_walls if t]
    off = [w for w, t in run.op_walls if not t]
    if on and off:
        run.layer["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off) - 1.0


def engine_phase_layers(run: Run) -> None:
    for tag in ("encode", "encode_aligned"):
        for p in ("plan", "job", "commit"):
            # measured encodes when there were any, else the set-up encode
            xs = run.phases[tag][run.phase_mark.get(tag, 0):] or run.phases[tag]
            xs = [ph.get(p, 0.0) for ph in xs]
            run.layer[f"engine.{tag}.{p}_s"] = statistics.median(xs) if xs else 0.0
    plans = run.samples["decode_plan"]
    run.layer["engine.decode.plan_ms"] = statistics.median(plans) * 1e3 if plans else 0.0
    loads = run.samples["load"]
    run.layer["datasource.load_ms"] = statistics.median(loads) * 1e3 if loads else 0.0


def parse_args(argv):
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin every place the program and Spark write to inside ``work``, and
    make the checkout importable by the Spark Python workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts (its launcher too) keeps its scratch
    # files in the run directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "sparkcodec", "__init__.py")):
        print(f"perfbench: no sparkcodec package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]()
    work = os.path.join(STATE, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return measure(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, workload, work: str) -> int:
    import inputs
    from tracing import RssSampler, Tracer, calibrate

    cores = host_cores()
    host = calibrate(sorted({1, 2, cores}))

    tracer = Tracer(enabled=bool(args.trace))
    # the kernel is built into this run's fresh TMPDIR, so every run pays
    # the same build; it is kept out of setup_s
    t0 = time.perf_counter()
    with tracer.span("native.build"):
        from sparkcodec.codecs import _native

        native = _native.lib() is not None
    native_build_s = time.perf_counter() - t0
    run = Run(tracer, os.path.join(work, "data"), args.seed, args.size, args.seconds)
    with RssSampler() as rss:
        t_setup = time.perf_counter()
        with tracer.span("inputs"):
            workload.make_inputs(run)
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            from sparkcodec.session import get_spark

            spark = run.spark = get_spark(cores=cores, app_name=f"perfbench-{workload.name}", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "100",
            })
        t1 = time.perf_counter()
        session_s = t1 - t0
        try:
            if args.trace:
                wrap_program(tracer)
            with tracer.span("setup"):
                workload.setup(run)
            t2 = time.perf_counter()
            run.warm_up(workload)
            t3 = time.perf_counter()
            setup_s = t3 - t_setup
            setup_parts = {"inputs_s": t0 - t_setup, "session_s": session_s,
                           "spark_setup_s": t2 - t1, "warm_up_s": t3 - t2}
            # the Python side's memory is taken over the timed loop: after
            # it, the checks start as many Python workers as the table's
            # last state asks for, which differs with the operation count
            rss.window = True
            run.loop(workload)
            rss.window = False
            run.guarded(f"{workload.name} checks", lambda: workload.checks(run))
            report = figures(run, workload)
            if args.trace:
                tracer.unwrap_all()
                run.layer.update({
                    "session.start_s": session_s,
                    "native.build_s": native_build_s,
                    "codecs.native": 1.0 if native else 0.0,
                })
                engine_phase_layers(run)
                run.guarded("per-layer figures", lambda: workload.layers(run))
                spark_layers(run)
                trace_layers(run)
                write_trace(args, tracer)
        finally:
            stop_spark(spark)

    walls = [w for w, _t in run.op_walls]
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(walls) * 1e3 if walls else None,
        "op_mean_ms": statistics.fmean(walls) * 1e3 if walls else None,
        "peak_py_rss_mb": rss.peak_py / 1e6,
    }
    report["peak_rss_mb"] = {"value": rss.peak / 1e6, "unit": "MB"}
    report.update({k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()})
    report["ops"] = {"value": len(walls), "unit": "count"}
    report["op_walls_ms"] = [round(w * 1e3, 1) for w in walls]
    report["samples_ms"] = {k: [round(x * 1e3, 1) for x in xs] for k, xs in run.samples.items()}
    report["error_rate"] = {"value": run.failed / max(1, run.attempted), "unit": "ratio"}
    report["native_build_s"] = {"value": native_build_s, "unit": "s"}
    report["setup_parts"] = setup_parts
    report["inputs"] = inputs.fingerprint(run.input_files)
    report["host"] = host
    report["failures"] = run.failures[:20]
    print("REPORT " + json.dumps({"workload": workload.name, "seed": args.seed, "figures": report}))

    if args.trace:
        units = layer_metrics()
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    ok = run.failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": max(1, run.attempted), "failed": run.failed, "metrics": metrics}))
    return 0


def wrap_program(tracer) -> None:
    """Spans around driver-side public functions of each layer."""
    from sparkcodec import engine, index, queries, verify

    for f in ("encode_table", "decode_table", "compact_table", "snapshots", "snapshot_parts",
              "part_meta", "prune_parts", "prune_parts_eq", "prune_parts_bloom", "blocks_stats"):
        tracer.wrap(engine, f, "engine")
    for f in ("verify_roundtrip", "size_gate"):
        tracer.wrap(verify, f, "verify")
    for f in ("edge_ranges", "csr_offsets"):
        tracer.wrap(index, f, "index")
        tracer.wrap(queries, f, "index")


def write_trace(args, tracer) -> None:
    d = os.path.join(STATE, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans}, f)


if __name__ == "__main__":
    sys.exit(main())
