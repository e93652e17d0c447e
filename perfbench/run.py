#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of recsplit_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build_docids --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one process

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate
run that records spans and a Spark event log and reports per-layer
metrics. Each run prints its metrics one per line with units, then, as the
last line, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 1 if any output check failed, 2 if the library is missing.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_START = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"  # scratch for one run, removed at exit
OUT = ROOT / ".perfbench_out"  # traced runs leave spans and layer reports here
MIN_REPS = 3
# any integer is a valid --seed; inputs come from seed mod SEED_SPACE, which
# keeps every generated id (seed * 2^28 + offset) within a signed 64-bit long
SEED_SPACE = 1 << 30
LAYER_SUM_TOL = 0.15

END_TO_END = {
    "setup_s": "s",
    "primary_items_per_s": "1/s",
    "secondary_items_per_s": "1/s",
    "bits_per_key": "bits",
    "driver_peak_rss_mb": "MB",
}

_SKETCHES = ("hll", "cms", "kll", "tdigest", "bloom")
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "data.input_gen_s": "s",
    "settings.rule_table_s": "s",
    "trace.timed_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_sum_share": "share",
    "trace.unattributed_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_share": "share",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.driver_self_share": "share",
    "spark.core_busy_share": "share",
    "kernel.ns_per_key_1core": "ns",
    "kernel.busy_share": "share",
    "mphf.sig_hash_s": "s",
    "mphf.exchange_write_bytes": "bytes",
    "mphf.exchange_write_share": "share",
    "mphf.exchange_fetch_wait_share": "share",
    "mphf.kernel_tasks": "count",
    "mphf.kernel_task_skew": "ratio",
    "mphf.collect_bytes": "bytes",
    "mphf.finalize_share": "share",
    "mphf.salt_rerolls": "count",
    "mphf.to_bytes_s": "s",
    "mphf.from_bytes_s": "s",
    "mphf.descriptor_bytes": "bytes",
    "evaluate.decode_s": "s",
    "evaluate.state_bytes": "bytes",
    "evaluate.walk_ns_per_key_1core": "ns",
    "crossing.feed_identity_s": "s",
    "crossing.feed_share": "share",
    "filters.probe_share": "share",
    "filters.fp_frac": "frac",
    "sketches.feed.window_hash_ns_per_token": "ns",
    **{f"sketches.{s}.update_ns_per_elem": "ns" for s in _SKETCHES},
    **{f"sketches.{s}.merge_s": "s" for s in _SKETCHES},
    **{f"sketches.{s}.state_bytes": "bytes" for s in _SKETCHES},
    "sketches.collect_tasks": "count",
}


class Run:
    """State of one workload run: walls of timed calls, check tally."""

    def __init__(self, spark, cores: int, seed: int, tracer, wrong_oracle: bool) -> None:
        self.spark, self.cores, self.seed = spark, cores, seed
        self.tracer, self.wrong_oracle = tracer, wrong_oracle
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, fn):
        with self.tracer.span(name):
            t = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t
        self.walls[name].append(wall)
        self.attempted += 1
        return out

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)


# -- process environment -------------------------------------------------------

def prepare_env(trace: bool, work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    pass the event-log switch to the JVM at launch (traced runs only)."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # workers hash strings the same in every run
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                continue
            out += kids
            todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[1][0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# -- one workload ----------------------------------------------------------------

def run_workload(cls, spark, args, cores: int, tracer, t_origin: float):
    from perfbench.workloads import AVG_BUCKET, LEAF_SIZE

    run = Run(spark, cores, args.seed % SEED_SPACE, tracer, args.wrong_oracle)
    wl = cls(run)
    span = tracer.span
    with span("setup"):
        wl.setup()
        with span("session.warm"):
            wl.warm()
    setup_s = time.time() - t_origin

    # closed loop for --seconds; a traced run alternates traced and
    # untraced reps, so the tracing overhead is measured in the same run
    rep_walls: dict[bool, list[float]] = {True: [], False: []}
    with span("timed"):
        t_end = time.perf_counter() + args.seconds
        i = 0
        while i < MIN_REPS or time.perf_counter() < t_end:
            on = tracer.enabled
            tracer.enabled = on and i % 2 == 0
            t = time.perf_counter()
            with span("rep"):
                wl.rep()
            rep_walls[tracer.enabled].append(time.perf_counter() - t)
            tracer.enabled = on
            i += 1
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    t = time.perf_counter()
    with span("oracle"):
        wl.oracle()
    oracle_s = time.perf_counter() - t

    report = {"workload": wl.name, "seed": args.seed, "reps": i, "oracle_s": oracle_s,
              "primary": wl.primary, "secondary": wl.secondary}
    if not args.trace:
        metrics = wl.end_to_end()
        metrics["setup_s"] = setup_s
        metrics["driver_peak_rss_mb"] = rss_mb
        return run, wl, metrics, report

    from perfbench import cuts

    keys, desc, feed = wl.cut_inputs()
    with span("cuts"):
        layer = cuts.mphf_cuts(run, keys, desc, LEAF_SIZE, AVG_BUCKET)
        layer.update(cuts.sketch_cuts(run, wl.base))
        layer["crossing.feed_identity_s"] = cuts.crossing_cut(run, feed)
    layer["crossing.feed_share"] = layer["crossing.feed_identity_s"] / statistics.median(
        run.walls[wl.primary_op]
    )
    # MIN_REPS >= 2 guarantees both halves are non-empty
    layer["trace.overhead_s"] = (
        statistics.median(rep_walls[True]) - statistics.median(rep_walls[False])
    )
    report["rep_walls_traced"] = rep_walls[True]
    report["rep_walls_untraced"] = rep_walls[False]
    return run, wl, layer, report


def span_layers(tracer, ev, wl, run, layer: dict) -> None:
    """Per-layer metrics from the span tree and the event log."""
    from perfbench.spans import EventLog, task_skew

    name, cores = wl.name, run.cores
    first = {s["name"]: s for s in reversed(tracer.spans)}
    for key, span_name in (("session.start_s", "session.start"),
                           ("session.warm_s", "session.warm"),
                           ("data.input_gen_s", "data.input_gen")):
        layer[key] = tracer.duration(first[span_name])
    timed = first["timed"]["id"]
    reps = tracer.named("rep", under=timed)
    rep_wall = sum(tracer.duration(r) for r in reps)
    layer["trace.timed_wall_s"] = tracer.duration(first["timed"])
    ops = [c for r in reps for c in tracer.children(r["id"])]
    layer["trace.layer_sum_share"] = sum(tracer.self_time(o["id"]) for o in ops) / rep_wall
    layer["trace.unattributed_jobs"] = ev.unattributed_jobs()

    rep_jobs = [ev.jobs_of(name, tracer.subtree(r["id"])) for r in reps]
    jobs = [j for js in rep_jobs for j in js]
    tot, nrep = ev.totals(jobs), len(reps)
    busy = sum(EventLog.busy_seconds(js, r["start"], r["end"]) for js, r in zip(rep_jobs, reps))
    layer.update({
        "spark.jobs": tot["jobs"] / nrep,
        "spark.stages": tot["stages"] / nrep,
        "spark.tasks": tot["tasks"] / nrep,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / nrep,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / nrep,
        "spark.gc_share": tot["gc_ms"] / max(1, tot["run_ms"]),
        "spark.shuffle_write_bytes": tot["sw_bytes"] / nrep,
        "spark.shuffle_read_bytes": tot["sr_bytes"] / nrep,
        "spark.spill_bytes": tot["spill_bytes"] / nrep,
        "spark.result_bytes": tot["result_bytes"] / nrep,
        "spark.driver_self_share": 1.0 - busy / rep_wall,
        "spark.core_busy_share": tot["run_ms"] / 1e3 / (rep_wall * cores),
    })

    # MPHF construction: the timed builds, else the set-up filter build
    builds = tracer.named("mphf.build", under=timed) or tracer.named("filters.build")
    mphf = dict.fromkeys(("mphf.exchange_write_bytes", "mphf.exchange_write_share",
                          "mphf.exchange_fetch_wait_share", "mphf.kernel_tasks",
                          "mphf.kernel_task_skew", "mphf.collect_bytes",
                          "mphf.finalize_share", "kernel.busy_share"), 0.0)
    if builds:
        b_wall = sum(tracer.duration(b) for b in builds)
        b_jobs = [ev.jobs_of(name, tracer.subtree(b["id"])) for b in builds]
        stages = ev.stages_of([j for js in b_jobs for j in js])
        kernel = [s for s in stages if s["sr_bytes"] > 0]
        b_busy = sum(EventLog.busy_seconds(js, b["start"], b["end"])
                     for js, b in zip(b_jobs, builds))
        nb = len(builds)
        mphf.update({
            "mphf.exchange_write_bytes": sum(s["sw_bytes"] for s in stages) / nb,
            "mphf.exchange_write_share": sum(s["sw_ns"] for s in stages) / 1e9 / (b_wall * cores),
            "mphf.exchange_fetch_wait_share":
                sum(s["fetch_wait_ms"] for s in stages) / 1e3 / (b_wall * cores),
            "mphf.kernel_tasks": sum(s["tasks"] for s in kernel) / nb,
            "mphf.kernel_task_skew":
                statistics.median(task_skew(s) for s in kernel) if kernel else 0.0,
            "mphf.collect_bytes": sum(s["result_bytes"] for s in kernel) / nb,
            "mphf.finalize_share": 1.0 - b_busy / b_wall,
            "kernel.busy_share":
                layer["kernel.ns_per_key_1core"] * 1e-9 * wl.n / cores / (b_wall / nb),
        })
    layer.update(mphf)
    desc = getattr(wl, "desc", None) or (wl.descs[-1] if getattr(wl, "descs", None) else None)
    layer["mphf.salt_rerolls"] = desc.salt if desc is not None else 0

    probes = tracer.named("filters.might_contain", under=timed)
    layer["filters.probe_share"] = sum(tracer.duration(p) for p in probes) / rep_wall
    layer["filters.fp_frac"] = getattr(wl, "fp_frac", 0.0)
    sk_jobs = [j for r in reps for c in tracer.children(r["id"])
               if c["name"].startswith("sketches.")
               for j in ev.jobs_of(name, tracer.subtree(c["id"]))]
    final = [ev.stages[max(j["stages"])] for j in sk_jobs
             if j["stages"] and ev.stages[max(j["stages"])]["tasks"]]
    layer["sketches.collect_tasks"] = sum(s["tasks"] for s in final) / nrep


# -- entry point -------------------------------------------------------------------

def main(argv=None) -> int:
    from_root = (ROOT / "recsplit_spark" / "__init__.py").is_file()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build_docids", "lookup_docids", "sketch_tokens", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--wrong-oracle", action="store_true",
                    help="perturb every exact oracle; the run must then fail its checks")
    args = ap.parse_args(argv)
    if not from_root:
        print(f"perfbench: no recsplit_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    work = WORK / str(os.getpid())
    prepare_env(bool(args.trace), work)
    from perfbench.spans import EventLog, Tracer
    from perfbench.workloads import WORKLOADS
    from recsplit_spark.session import get_spark

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    cores = len(os.sched_getaffinity(0))
    tracers = {n: Tracer(n, bool(args.trace)) for n in names}
    spark = None
    results = []
    try:
        with tracers[names[0]].span("session.start"):
            spark = get_spark(app_name="perfbench", cores=cores)
            spark.sparkContext.setLogLevel("ERROR")
        t_origin = T_START
        for n in names:
            tracer = tracers[n]
            tracer.sc = spark.sparkContext
            if not tracer.spans:  # later workloads in one process reuse the session
                with tracer.span("session.start"):
                    pass
            results.append(run_workload(WORKLOADS[n], spark, args, cores, tracer, t_origin))
            tracer._tag(None)
            t_origin = time.time()
    finally:
        if spark is not None:
            stop_spark(spark)
    try:
        if args.trace:
            ev = EventLog.find(work / "eventlog")
            OUT.mkdir(exist_ok=True)
            for run, wl, layer, report in results:
                span_layers(tracers[wl.name], ev, wl, run, layer)
                stem = OUT / f"{wl.name}-seed{args.seed}"
                tracers[wl.name].dump(stem.with_suffix(".spans.jsonl"))
                stem.with_suffix(".layers.json").write_text(
                    json.dumps({**report, "layers": layer}, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(WORK.iterdir()):
            WORK.rmdir()

    units = PER_LAYER if args.trace else END_TO_END
    attempted = failed = 0
    metrics = {}
    for run, wl, values, report in results:
        if args.trace:
            run.check("trace.layer_sum_within_tolerance",
                      abs(values["trace.layer_sum_share"] - 1) <= LAYER_SUM_TOL,
                      f"{values['trace.layer_sum_share']:.3f}")
        missing = set(units) ^ set(values)
        if missing:
            raise RuntimeError(f"metric set mismatch: {sorted(missing)}")
        attempted += run.attempted
        failed += run.failed
        prefix = f"{wl.name}." if len(results) > 1 else ""
        print(f"# {wl.name} seed={args.seed} cores={cores} reps={report['reps']} "
              f"oracle_s={report['oracle_s']:.3f}")
        if not args.trace:
            print(f"#   primary   = {wl.primary}\n#   secondary = {wl.secondary}")
        for op, walls in run.walls.items():
            print(f"#   {op:24s} n={len(walls):3d} median={statistics.median(walls):.4f}s "
                  f"min={min(walls):.4f}s max={max(walls):.4f}s")
        for k, unit in units.items():
            print(f"{wl.name:14s} {k:40s} {values[k]:>16.6g} {unit}")
            metrics[prefix + k] = {"value": values[k], "unit": unit}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
