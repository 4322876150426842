"""Benchmark for morph_kgc_spark: three workloads, closed loop, one pass
at a time, in one driver process on local[<cores>].

    python3 perfbench/run.py --workload kg_rml --seed 1 --seconds 20 --trace 0

Every pass starts from an empty Spark cache and its output is checked
against an independent reference. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` also runs the passes again with Spark's event log
on, times each layer's public calls from outside, and prints the
per-layer metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Host diagnostics (probe seconds, load average) go to stderr.
See perfbench/README.md for the workloads and the metric definitions.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402

KEEP_SEEDS = 12  # input directories kept per workload

END_TO_END = {"items_per_s": "items/s", "setup_s": "s", "cpu_core_s": "core-s",
              "peak_rss_mb": "MB", "shuffle_mb": "MB"}
KG_RULES = ["customer_name", "supplier_type", "order_price", "order_date",
            "customer_nation", "document_text", "region_name",
            "order_customer_type", "customer_type", "part_same_as",
            "lineitem_order", "customer_dirty"]
PER_LAYER = {
    "codegen.compiles": "count", "jvm.jit_s": "s", "jvm.gc_s": "s",
    "cache.leaked_rdds": "count",
    "spark.driver_s": "s", "spark.task_skew": "ratio",
    "spark.stages": "count", "spark.tasks": "count",
    "trace.overhead_items_per_s": "items/s",
    "mapping.parse_s": "s", "mapping.rules": "count",
    "plans.build_s": "s", "plans.partition_groups": "count",
    "sources.scan_s": "s",
    **{f"plans.rule_s.{r}": "s" for r in KG_RULES},
    "plans.distinct_s": "s", "sinks.ntriples.write_s": "s",
    "sinks.ntriples.mb": "MB",
    "pipeline.extract_s": "s", "pipeline.detect_s": "s",
    "pipeline.link_s": "s", "pipeline.render_s": "s",
    "pipeline.checkpoint.write_s": "s", "pipeline.mentions": "count",
    "pipeline.checkpoint.buckets": "count",
    "operators.weburl.url_dedup_s": "s", "operators.dedup.exact_s": "s",
    "operators.text.gate_s": "s", "operators.curation.decontaminate_s": "s",
    "operators.curation.sample_s": "s", "operators.dedup.pairs_s": "s",
    "operators.dedup.cc_s": "s", "operators.dedup.cc_jobs": "count",
    "operators.dedup.pairs": "count", "operators.dedup.clusters": "count",
    "operators.curation.survivors": "count",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "3g")
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.eventLog.enabled", str(event_log is not None).lower()))
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    jvm_pid = probe.Jvm(spark).pid
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = [jvm_pid] + probe.descendants(jvm_pid)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    probe.wait_gone(pids, timeout=30)


def prepare_inputs(wl, work: str, seed: int) -> tuple[str, float]:
    """The seed's input directory, generated on first use; returns it
    with the seconds spent generating."""
    base = os.path.join(work, "inputs")
    inp = os.path.join(base, f"{wl.name}-{seed}")
    if os.path.exists(os.path.join(inp, "_done")):
        return inp, 0.0
    t = time.perf_counter()
    staging = f"{inp}.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    wl.generate(staging, seed)
    open(os.path.join(staging, "_done"), "w").close()
    shutil.rmtree(inp, ignore_errors=True)
    os.rename(staging, inp)
    kept = sorted((os.path.join(base, d) for d in os.listdir(base)
                   if d.startswith(wl.name + "-") and "." not in d),
                  key=os.path.getmtime)
    for old in kept[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return inp, time.perf_counter() - t


def reference(wl, inp: str) -> list[int]:
    path = os.path.join(inp, "reference.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ref = wl.reference(inp)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.rename(path + ".tmp", path)
    return ref


class Runner:
    """Runs passes of one workload and records what each one cost."""

    def __init__(self, wl, spark, inp: str, out_root: str):
        self.wl, self.spark, self.inp, self.out_root = wl, spark, inp, out_root
        self.jvm = probe.Jvm(spark)
        self.n = 0

    def one_pass(self, group: str | None = None) -> dict:
        from morph_kgc_spark.operators.cache import persistent_rdd_ids

        out = os.path.join(self.out_root, f"pass-{self.n}")
        self.n += 1
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, group)
        last_stage = max((s for s, _ in self.jvm.stages()), default=-1)
        c0 = self.jvm.counters()
        t0 = time.time()
        self.wl.run(self.spark, self.inp, out)
        t1 = time.time()
        c1 = self.jvm.counters()
        rec = {"wall_s": t1 - t0, "window": (t0, t1),
               **{k: c1[k] - c0[k] for k in c0}}
        rec["leaked_rdds"] = len(persistent_rdd_ids(self.spark))
        self.spark.catalog.clearCache()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        rec["shuffle_mb"] = sum(b for s, b in self.jvm.stages()
                                if s > last_stage) / 1e6
        rec["fp"] = self.wl.fingerprint(out)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def timed(self, seconds: float, min_passes: int) -> list[dict]:
        recs, start = [], time.perf_counter()
        while len(recs) < min_passes or time.perf_counter() - start < seconds:
            recs.append(self.one_pass())
        return recs


def med(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


def main(argv=None) -> int:
    t_proc = probe.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import morph_kgc_spark  # noqa: F401
        from workloads import WORKLOADS, Timer
    except ImportError as e:
        log(f"cannot import the program under {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]()

    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    host = {"start": probe.host_probe()}

    # numpy generators take non-negative seeds
    inp, gen_s = prepare_inputs(wl, work, args.seed % 2**32)
    event_log = os.path.join(work, "eventlog", str(os.getpid()))
    traced = []
    spark = start_session(work)
    try:
        runner = Runner(wl, spark, inp, run_dir)
        warm = [runner.one_pass() for _ in range(wl.warmup_passes)]
        setup_s = time.time() - t_proc - gen_s
        recs = runner.timed(args.seconds, wl.min_timed_passes)
        peak_rss = probe.vm_hwm_mb(runner.jvm.pid)
        if args.trace:
            # same JVM, fresh SparkContext with the event log on
            spark.stop()
            shutil.rmtree(event_log, ignore_errors=True)
            spark = start_session(work, event_log=event_log)
            runner = Runner(wl, spark, inp, run_dir)
            traced = [runner.one_pass(f"pass{i}") for i in range(len(recs))]
            spark.sparkContext.setJobGroup("trace", "trace")
            layers = wl.trace(spark, inp, run_dir, Timer(spark))
            app_log = os.path.join(event_log, spark.sparkContext.applicationId)
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    ref = reference(wl, inp)
    host["end"] = probe.host_probe()
    log("host " + json.dumps(host))
    log("passes " + json.dumps([round(r["wall_s"], 3)
                                for r in warm + recs + traced]))

    checked = warm + recs + traced
    failed = sum(r["fp"] != ref for r in checked)
    if failed:
        log(f"{failed} of {len(checked)} passes differ from the reference "
            f"{ref}: {[r['fp'] for r in checked if r['fp'] != ref]}")
    items = wl.items(ref)
    if args.trace:
        layers.update(engine_layers(recs, traced, items, app_log))
        shutil.rmtree(event_log, ignore_errors=True)
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "items_per_s": items / med(recs, "wall_s"),
            "setup_s": setup_s,
            "cpu_core_s": med(recs, "cpu_s"),
            "peak_rss_mb": peak_rss,
            "shuffle_mb": med(recs, "shuffle_mb"),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(checked),
                      "failed": failed, "metrics": metrics}))
    return 0


def engine_layers(recs, traced, items, app_log) -> dict:
    """Engine-wide per-layer metrics: counters from the untraced timed
    passes, event-log figures from the traced ones (median per pass)."""
    windows = {f"pass{i}": r["window"] for i, r in enumerate(traced)}
    summary = probe.event_log_summary(app_log, windows).values()
    m = {
        "codegen.compiles": med(recs, "compiles"),
        "jvm.jit_s": med(recs, "jit_s"),
        "jvm.gc_s": med(recs, "gc_s"),
        "cache.leaked_rdds": med(recs, "leaked_rdds"),
        "trace.overhead_items_per_s": (items / med(traced, "wall_s")
                                       - items / med(recs, "wall_s")),
    }
    for key in ("driver_s", "task_skew", "stages", "tasks"):
        m[f"spark.{key}"] = statistics.median(s[key] for s in summary)
    return m


if __name__ == "__main__":
    sys.exit(main())
