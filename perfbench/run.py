"""Benchmark of the spark-graft package, end to end and layer by layer.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see ``workloads.py``):

- ``etl_jobs``: the reference's job chain with real sinks, one client;
- ``curation_x10``: eight corpus-curation queries over documents and
  embeddings grown ten-fold, one client, noop sink;
- ``index_serving``: eight retrieval probes from four client threads on one
  session, every index built during set-up.

Each run copies the sf0.1 fixture tables from ``data/`` (and derives the
x10 set from them with ``--seed``) into a fresh working directory under
``.perfbench_work/``, starts one ``local[nproc]`` session with a
pinned 4 GiB heap and 1 GiB young generation (so peak RSS does not follow
the collector's resizing), warms up, then loops closed over the op list
for ``--seconds``. Every result is
checked: query digests against their DuckDB oracle (``digest.py``; the
oracle answers are kept in ``.perfbench_work/oracle_digests.json``, keyed
by SQL and input bytes), job summaries against the expected counts. A
wrong result counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced cycle in place of the timed window, then a traced, an untraced
and a traced cycle, and prints the per-layer metrics (tracing overhead is
traced minus untraced pass time), writing the per-op span
record to ``.perfbench_work/traces/``. The line before the result holds
the pinned settings, the drift sentinel (a fixed ``spark.range`` +
``groupBy`` job timed at the start and end of the window) and per-op
latencies. The last line is the result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "glue_job_to_write_structured_data_on_s3_full_code_spark"
HEAP = "4g"
TRACED_PASSES = 2


def pin_environment(work: str, cores: int) -> dict:
    """Settings every run uses; must be called before Spark starts. Every
    file Spark, the JVMs, Python workers and DuckDB write lands in ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Xmn1g -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    env = {
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        )
        + " pyspark-shell",
    }
    os.environ.update(env)
    os.chdir(work)
    return {"master": f"local[{cores}]", "heap": HEAP, **confs}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the peak the
    benchmark reports leaves out its own input generation."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def sentinel(spark, cores: int) -> float:
    """Median of three runs of a fixed job that touches no package code."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 4_000_000, numPartitions=cores)
            .groupBy((F.col("id") % 1009).alias("k"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile taken as the higher of the two neighbouring
    values (numpy's ``method="higher"``). It is always one measured
    latency, never a blend of two different ops."""
    xs = sorted(values)
    return xs[math.ceil((len(xs) - 1) * q)]


class Run:
    def __init__(self, args, work: str, cores: int):
        from workloads import WORKLOADS

        self.work = work
        self.cores = cores
        self.seed = args.seed
        self.wl = WORKLOADS[args.workload]()
        self.dirs: dict[str, str] = {}
        self._oracles: dict = {}
        self.lock = threading.Lock()

    def oracle(self, which: str):
        import digest
        from fixtures import TABLES

        if which not in self._oracles:
            self._oracles[which] = digest.Oracle(
                self.dirs[which],
                TABLES,
                self.cores,
                os.path.join(self.work, "tmp"),
                os.path.join(os.path.dirname(self.work), "oracle_digests.json"),
            )
        return self._oracles[which]

    # -- ops -------------------------------------------------------------
    def run_op(self, name, fn, tracer, **tags) -> dict:
        rec = {"op": name, "value": None, "error": None, **tags}
        t0 = time.perf_counter()
        try:
            with tracer.span(name, "op") as span:
                rec["value"] = fn(self, tracer)
        except Exception as exc:  # a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            span = None
        rec["latency_s"] = time.perf_counter() - t0
        rec["span"] = span
        self.wl.after_op(self, name, rec)
        return rec

    def one_pass(self, tracer, ops, order, **tags) -> list[dict]:
        return [self.run_op(ops[i][0], ops[i][1], tracer, **tags) for i in order]

    def window(self, tracer, seconds: float, traced: bool) -> list[dict]:
        """Closed-loop cycles over the op list, one thread per client. Each
        cycle follows one seeded order of the ops; client ``c`` starts it
        ``c * n_ops / clients`` places in, so concurrent clients run
        different ops. A client stops after the cycle that ends past
        ``seconds`` (every client runs at least one); ``seconds`` of 0 means
        exactly one cycle per client."""
        import numpy as np

        ops = self.wl.ops()
        n, k = len(ops), self.wl.clients
        out: list[dict] = []
        deadline = time.perf_counter() + seconds

        def client(c: int) -> None:
            rng = np.random.default_rng([self.seed, int(traced)])
            cycle = 0
            while True:
                order = rng.permutation(n) if k > 1 else np.arange(n)
                order = np.roll(order, -(c * n // k))
                recs = self.one_pass(tracer, ops, order, client=c, cycle=cycle, traced=traced)
                with self.lock:
                    out.extend(recs)
                cycle += 1
                if seconds == 0 or time.perf_counter() >= deadline:
                    return

        if self.wl.clients == 1:
            client(0)
        else:
            threads = [threading.Thread(target=client, args=(c,)) for c in range(self.wl.clients)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        return out


def pass_times(recs: list[dict], n_ops: int) -> list[float]:
    """Duration of each complete pass (sum of its ops' latencies)."""
    by = {}
    for r in recs:
        by.setdefault((r["client"], r["cycle"]), []).append(r["latency_s"])
    return [sum(v) for v in by.values() if len(v) == n_ops]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = pin_environment(work, cores)
    sys.path.insert(0, ROOT)
    try:
        result, report = measure(args, work, cores, settings)
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


def stop_spark() -> None:
    """Stop the session, if one started, and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work, cores, settings):
    import fixtures
    from tracing import NullTracer, Tracer

    run = Run(args, work, cores)
    wl = run.wl
    null = NullTracer()

    t0 = time.perf_counter()
    from glue_job_to_write_structured_data_on_s3_full_code_spark.session import get_spark

    spark = get_spark("perfbench")
    run.spark = spark
    session_s = time.perf_counter() - t0

    t = time.perf_counter()
    run.dirs = fixtures.build(os.path.join(work, "inputs"), args.seed, wl.inputs)
    inputs_s = time.perf_counter() - t
    reset_peak_rss()
    t = time.perf_counter()
    wl.prepare(run)
    warm_ops: dict[str, float] = {}

    def warm_op(name, fn):
        rec = run.run_op(name, fn, null, client=0, cycle=-1, traced=False)
        with run.lock:
            warm_ops[name] = warm_ops.get(name, 0.0) + rec["latency_s"]
        return rec

    wl.warmup(run, warm_op)
    warm_s = time.perf_counter() - t
    setup_s = session_s + inputs_s + warm_s

    sentinel_start = sentinel(spark, cores)
    t_window = time.perf_counter()
    # A traced run reports no end-to-end metric, so it times one cycle only.
    recs = run.window(null, 0 if args.trace else args.seconds, traced=False)
    window_s = time.perf_counter() - t_window
    sentinel_end = sentinel(spark, cores)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = {"jvm": peak_rss_mb(jvm_pid), "python": peak_rss_mb(os.getpid())}

    n_ops = len(wl.ops())
    passes = pass_times(recs, n_ops)
    lat = [r["latency_s"] for r in recs]
    # The window holds a whole number of passes, and that number varies
    # from run to run, so the plain median of all latencies jumps between
    # ops of different cost. The median of the per-op medians weighs every
    # op once.
    op_medians = {
        n: statistics.median(r["latency_s"] for r in recs if r["op"] == n)
        for n in dict.fromkeys(r["op"] for r in recs)
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_p50_s": (statistics.median(op_medians.values()), "s"),
        "op_p90_s": (quantile(lat, 0.9), "s"),
        "requests_per_s": (len(recs) / window_s, "1/s"),
        "peak_rss_mb": (rss["jvm"] + rss["python"], "MB"),
    }
    timed_ops = len(recs)

    traced: list[dict] = []
    layers = None
    if args.trace:
        from glue_job_to_write_structured_data_on_s3_full_code_spark import jobs, session

        # Cycles keep getting faster after warm-up, the first by 5-15%. The
        # tracing overhead is taken against a second untraced cycle run
        # between the two traced ones, so a steady speed-up cancels out.
        tracer = Tracer(spark)
        for p in range(TRACED_PASSES):
            if p == TRACED_PASSES // 2:
                again = run.window(null, 0, traced=False)
                recs += again
            tracer.install(jobs, session)
            try:
                got = run.window(tracer, 0, traced=True)
                tracer.collect()
            finally:
                tracer.uninstall()
            for r in got:
                r["pass"] = p
            traced += got
        layers = layer_report(tracer, traced, n_ops, pass_times(again, n_ops), cores, wl, args, work)

    checked = recs + traced
    t = time.perf_counter()
    refs = wl.references(run, checked)
    for o in run._oracles.values():
        o.close()
    verify_s = time.perf_counter() - t
    failures = [f"{k}: {v}" for k, v in refs.items() if "@" in k and v is not None]
    for r in checked:
        r["ok"] = r["error"] is None and wl.check(refs, r)
        if not r["ok"]:
            failures.append(f"{r['op']}: {r['error'] or ('wrong result ' + repr(r['value']))}")
    failed = sum(not r["ok"] for r in checked)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "settings": settings,
        "sentinel_s": {"start": sentinel_start, "end": sentinel_end},
        "setup_parts_s": {"session": session_s, "inputs": inputs_s, "prepare_warmup": warm_s, "warmup_ops": warm_ops},
        "peak_rss_mb": rss,
        "window_s": window_s,
        "verify_s": verify_s,
        "passes_s": passes,
        "ops_timed": timed_ops,
        "op_median_s": op_medians,
        "failures": failures[:20],
    }
    if args.trace:
        report["trace"] = {k: v for k, v in layers.items() if k != "metrics"}
        metrics = layers["metrics"]
    result = {
        "correct": failed == 0 and not failures,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, report


def per_layer_units() -> dict[str, str]:
    """``name -> unit`` of the per-layer metrics listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


#: Counters that are maxima or per-request means, not per-pass sums.
_MAX = ("operators.peak_exec_mem_bytes",)
_PER_REQUEST = ("operators.index_store.jobs_per_request", "operators.index_store.files_scanned_per_request")


def layer_report(tracer, traced, n_ops, untraced_passes, cores, wl, args, work) -> dict:
    """Per-layer metrics (per pass, mean of the traced passes), the per-op
    record, and which counters repeated exactly between the traced passes."""
    units = per_layer_units()
    per_op = []
    for r in traced:
        rec = tracer.op_record(r["span"]) if r["span"] is not None else {}
        rec.update(op=r["op"], client=r["client"], traced_pass=r["pass"], latency_s=r["latency_s"])
        rec["final_output_bytes"] = r.get("final_output_bytes", 0)
        per_op.append(rec)
    keys = [k for k in units if any(k in rec for rec in per_op)]
    sums = []
    for p in range(TRACED_PASSES):
        recs = [x for x in per_op if x["traced_pass"] == p]
        agg = {}
        for k in keys:
            vals = [x.get(k, 0.0) for x in recs]
            if k in _MAX:
                agg[k] = max(vals, default=0.0)
            elif k in _PER_REQUEST:
                agg[k] = sum(vals) / max(len(vals), 1)
            else:
                agg[k] = sum(vals)
        written = agg.get("sources.output_bytes", 0) + agg.get("sources.staged_bytes", 0)
        final = sum(x["final_output_bytes"] for x in recs)
        agg["sources.write_amp"] = written / final if final else 0.0
        exec_s = agg.get("operators.exec_s", 0.0)
        agg["operators.core_util"] = agg.get("operators.cpu_s", 0.0) / (exec_s * cores) if exec_s else 0.0
        agg["pass_s"] = statistics.median(pass_times([r for r in traced if r["pass"] == p], n_ops))
        sums.append(agg)
    metrics = {
        k: (statistics.mean(s[k] for s in sums), u)
        for k, u in units.items()
        if k in sums[0]
    }
    traced_pass = statistics.median(s["pass_s"] for s in sums)
    metrics["trace.overhead_s"] = (traced_pass - statistics.median(untraced_passes), "s")

    # counters that repeated exactly, per op, between the two traced passes
    count_keys = [k for k, u in units.items() if u in ("count", "bytes")]
    repeated, varied = [], []
    for op in dict.fromkeys(x["op"] for x in per_op):
        for k in count_keys:
            vals = [tuple(sorted(x.get(k, 0) for x in per_op if x["op"] == op and x["traced_pass"] == p))
                    for p in range(TRACED_PASSES)]
            (repeated if len(set(vals)) == 1 else varied).append(f"{op}:{k}")
    out_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "per_pass": sums,
                "untraced_pass_s": statistics.median(untraced_passes),
                "traced_pass_s": traced_pass,
                "not_applicable": wl.not_applicable,
                "repeated_exactly": repeated,
                "varied": varied,
                "ops": per_op,
            },
            fh,
            indent=1,
            default=str,
        )
    return {
        "metrics": metrics,
        "record": os.path.relpath(path, ROOT),
        "overhead_s": metrics["trace.overhead_s"][0],
        "not_applicable": wl.not_applicable,
        "varied_counters": varied,
        "repeated_counters": len(repeated),
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
