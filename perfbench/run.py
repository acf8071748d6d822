"""FlashML training-path benchmark.

    python3 perfbench/run.py --workload journey_train --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  One process, one workload, one closed-loop
client: set-up (a Spark session pinned to ``local[nproc]`` with ``nproc``
shuffle partitions; seeded inputs materialised as parquet), then timed
iterations until ``--seconds`` have passed (the first iteration always
runs), then the correctness checks and the known-defect checks outside the
timed region.  Every metric is printed by name with its unit; the last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the per-layer
metrics of the traced run (``--trace 1``).  perfbench/README.md documents
the metrics and the workloads.

Everything the run writes goes under ``perfbench/_work/`` (removed when the
run ends) and ``perfbench/_out/`` (the traced run's span summary).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    its Python workers), sampled every 0.2 s from /proc."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss() -> int:
        parent, rss = {}, {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:  # the process ended while listed
                continue
            parent[int(pid)] = int(fields["PPid"])
            rss[int(pid)] = int(fields.get("VmRSS", "0 kB").split()[0]) * 1024
        me, total = os.getpid(), 0
        for pid, size in rss.items():
            p = pid
            while p and p != me:
                p = parent.get(p)
            total += size if p == me else 0
        return total

    def _loop(self):
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, self.tree_rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tail_percentile(samples: list):
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; ``None`` below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def build_session(cores: int, work: str, traced: bool):
    from flashml_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if traced:
        # a journey iteration runs ~1,000 stages; the default keeps 1,000
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _iterate(wl) -> tuple:
    t = time.perf_counter()
    try:
        wl.iterate()
        failed = 0
    except Exception:
        traceback.print_exc()
        failed = 1
    return time.perf_counter() - t, failed


def timed(wl, seconds: float, tracer=None) -> dict:
    """Closed loop: iterations until ``seconds`` have passed; the first one
    (in a fresh JVM) always runs.  With a tracer the layer wrappers are
    installed around each iteration, and only there."""
    import layers

    times, traced, failed = [], [], 0
    start = time.perf_counter()
    while not times or (time.perf_counter() - start < seconds and not failed):
        if tracer is None:
            dt, f = _iterate(wl)
        else:
            layers.install(tracer)
            try:
                with tracer.iteration("experiment") as root:
                    dt, f = _iterate(wl)
            finally:
                tracer.restore()
            traced.append((root, tracer.spans, tracer.overhead_s))
            tracer.spans, tracer.overhead_s = [], 0.0
        times.append(dt)
        failed += f
    return {"times": times, "failed": failed, "traced": traced}


def layer_metrics(spark, wl, traced: list, cores: int) -> tuple:
    """Per-layer metrics as medians over the traced iterations, then the
    workload's traced ``layer_probe`` for the layers an iteration does not
    reach (the pipeline load of a predict-type run, the forced scoring
    prefixes, the operators probe).  Returns ``(metrics, known_defect_rows,
    probe_check_rows)``."""
    import layers
    from tracing import EngineCounters, Tracer, union_seconds

    engine = EngineCounters(spark)
    jobs, stages = engine.snapshot()
    rows: dict[str, list] = {}
    for root, spans, overhead in traced:
        vals = _span_metrics(spans)
        # engine counters per span name, by time window (concurrent spans
        # of one name share stages; the per-iteration totals do not)
        for s in spans:
            for k, v in engine.window(jobs, stages, s.start, s.end).items():
                key = f"{s.name}.spark.{k}"
                vals[key] = vals.get(key, 0) + v
        covered = union_seconds([(s.start, s.end) for s in spans])
        vals["experiment.layers_union_s"] = covered
        vals["experiment.self_s"] = root.seconds - covered
        vals["experiment.page_concurrency"] = layers.page_concurrency(spans, root)
        vals["tuning.cv.concurrency"] = layers.cv_concurrency(spans)
        eng = engine.window(jobs, stages, root.start, root.end)
        vals.update({f"spark.{k}": v for k, v in eng.items()})
        vals["spark.core_util"] = eng["executor_run_s"] / (root.seconds * cores)
        vals["trace.run_s"] = root.seconds
        vals["trace.overhead_s"] = overhead
        for k, v in vals.items():
            rows.setdefault(k, []).append(v)
    med = {k: statistics.median(v) for k, v in rows.items()}

    def timer(fn):
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    tracer = Tracer()
    layers.install(tracer)
    try:
        with tracer.iteration("probe"):
            defects = wl.known_defects()
            probed, checks = wl.layer_probe(timer)
            med.update(probed)
    finally:
        tracer.restore()
    for k, v in _span_metrics(tracer.spans).items():
        med.setdefault(k, v)
    return med, defects, checks


def _span_metrics(spans) -> dict:
    """``<span>_s`` (summed seconds), ``<span>.self_s``, ``<span>.spans``
    and each count."""
    from tracing import summarise

    out = {}
    for name, row in summarise(spans).items():
        out[f"{name}_s"] = row.pop("seconds")
        for k, v in row.items():
            out[f"{name}.{k}"] = v
    return out


def _write_trace(wl, med: dict) -> None:
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{wl.name}-{wl.seed}.json"), "w") as f:
        json.dump(med, f, indent=1, sort_keys=True)


def metric(out: dict, name: str, value, unit: str, note: str = "") -> None:
    out[name] = {"value": value, "unit": unit}
    print(f"metric {name} = {value:.6g} {unit}{'  ' + note if note else ''}")


def run(args, spec: dict, t_proc: float, work: str) -> int:
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    from workloads import WORKLOADS

    t0 = time.time()
    spark = build_session(cores, work, bool(args.trace))
    session_s = time.time() - t0
    try:
        with RssSampler() as rss:
            wl = WORKLOADS[args.workload](spark, args.seed, work)
            wl.prepare()
            from tracing import Tracer

            tracer = Tracer() if args.trace else None
            setup_s = time.time() - t_proc  # process start to the first iteration
            result = timed(wl, args.seconds, tracer)
            ok_runs = result["failed"] == 0
            checks = wl.check() if ok_runs else []
            quality = wl.quality() if ok_runs else float("nan")
            defects, med = [], {}
            if ok_runs and args.trace:
                med, defects, probe_checks = layer_metrics(spark, wl, result["traced"], cores)
                checks += probe_checks
                med["session.start_s"] = session_s
                med["process.peak_rss_mb"] = rss.peak / 2**20
            elif ok_runs:
                defects = wl.known_defects()
    finally:
        stop_session(spark)

    times = result["times"]
    warm = times[1:]
    correct = (ok_runs and all(c[1] for c in checks)
               and all(d[1] != "unexpected" for d in defects))
    print(f"workload {wl.name} seed={args.seed} cores={cores} clients=1 (closed loop) "
          f"input_rows={wl.rows} iterations={len(times)} (1 first + {len(warm)} warm)")
    for name, passed, detail in checks:
        print(f"check {name}: {'PASS' if passed else 'FAIL'}  {detail}")
    verdict = {"failing": "FAIL (known defect)", "fixed": "PASS (defect fixed)",
               "unexpected": "FAIL (not the known defect)"}
    for name, state, detail in defects:
        print(f"check {name}: {verdict[state]}  {detail}")
    print(f"info peak_rss_mb = {rss.peak / 2**20:.6g} MB (this process + JVM + Python workers)")
    print(f"info error_rate = {result['failed'] / len(times):.6g} ratio "
          f"({result['failed']} of {len(times)} iterations failed)")
    if warm:
        tail = tail_percentile(warm)
        print(f"info run_s = {statistics.median(warm):.6g} s (median of {len(warm)} warm)")
        print("info run_s_tail = " + (
            f"{tail[1]:.6g} s (p{tail[0]:.1f} of {len(warm)} warm samples)" if tail
            else f"n/a ({len(warm)} warm samples; a tail needs 11)"))

    metrics: dict = {}
    if args.trace and ok_runs:
        _write_trace(wl, med)
        print(f"info accounting: layer spans cover {med['experiment.layers_union_s']:.3f} s "
              f"+ experiment self {med['experiment.self_s']:.3f} s = the traced iteration "
              f"{med['trace.run_s']:.3f} s, of which tracing itself {med['trace.overhead_s']:.4f} s")
        for m in spec["per_layer"]:
            name = m["name"]
            spans = med.get(f"{name[:-2]}.spans") if name.endswith("_s") else None
            metric(metrics, name, med.get(name, 0), m["unit"],
                   f"({spans:g} spans)" if spans else "")
    elif ok_runs:
        metric(metrics, "setup_s", setup_s, "s",
               f"(process start to the first iteration; session ready after "
               f"{t0 + session_s - t_proc:.2f} s)")
        metric(metrics, "first_run_s", times[0], "s", "(first iteration in a fresh JVM)")
        metric(metrics, "rows_per_s", wl.rows / times[0], "rows/s",
               f"({wl.rows} input rows / first_run_s)")
        metric(metrics, "model_quality", quality, "ratio", f"({wl.quality_name})")
    print(json.dumps({"correct": correct, "attempted": len(times),
                      "failed": result["failed"], "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="FlashML training-path benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start()
    if not os.path.isdir(os.path.join(ROOT, "flashml_spark")):
        print("perfbench: no flashml_spark/ beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"  # it overrides spark.local.dir
    try:
        return run(args, spec, t_proc, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass


if __name__ == "__main__":
    sys.exit(main())
