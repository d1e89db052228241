#!/usr/bin/env python3
"""solarpos-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload stream_join --seed 1 --seconds 12 --trace 0

Run from the repository root. A run builds one Spark session on
``local[nproc]`` with the engine's defaults (the driver heap set to 1 GB)
and warms its Python workers; ``setup_s`` runs from process start to
there, so it includes the JVM launch. It then makes the seeded inputs (cached under
``.perfbench_work/inputs``), runs an untimed warm-up of the workload,
repeats fixed-size iterations for about ``--seconds`` and checks every
iteration's output. It prints each metric as ``name = value unit`` and, as
its last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.

With ``--trace 1`` the session has Spark's event log on and the timed pass
is then repeated in a session without it; the run reports the per-layer
metrics of ``BENCHMARK.json`` instead: event-log stage metrics, query
progress, single-thread kernel costs on the workload's own inputs, each layer's self
time along the blocking path, the unattributed remainder and the tracing
overhead. The full trace (spans included) is written to
``.perfbench_work/traces/``.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: a run that has not ended by now kills its process tree and fails
HARD_LIMIT_S = 170
#: time kept back from the measuring loop for checks and shutdown
RESERVE_S = 45
#: seeded inputs kept per workload; older ones are deleted
CACHE_KEEP = 6
WORKLOAD_NAMES = ("stream_join", "sweep_batch")
#: per-layer metrics of layers a batch query does not run
NOT_ON_BATCH_PATH = (
    "sources.get_batch_ms", "sources.latest_offset_ms",
    "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.overhead_ms", "streaming.state_rows_max",
    "streaming.state_mb_max", "streaming.state_commit_ms",
    "streaming.rows_removed", "streaming.rows_dropped_by_watermark",
    "sinks.out_bytes_per_row", "sinks.files_per_batch", "sinks.committed_ratio")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest nearest-rank percentile with at
    least ten samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10 if n > 10 else n
    return xs[rank - 1], 100.0 * rank / n


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _forget_jvm_udfs() -> None:
    """Module-level pandas UDFs cache their JVM function, which holds the
    accumulator of the SparkContext they were first used in; after a rebuild
    every task would report to that closed accumulator server. Dropping the
    cache makes the next use bind to the live context."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("solarpos_spark."):
            for obj in list(vars(mod).values()):
                udf = getattr(obj, "_unwrapped", None)
                if udf is not None and hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


def _prune_cache(cache: str, workload: str, keep: str) -> None:
    entries = sorted(
        (os.path.getmtime(p), p) for p in
        (os.path.join(cache, d) for d in os.listdir(cache) if d.startswith(workload))
        if p != keep)
    for _, p in entries[: max(len(entries) - (CACHE_KEEP - 1), 0)]:
        shutil.rmtree(p, ignore_errors=True)


class Bench:
    """One benchmark run: sessions, setup samples, passes, output."""

    def __init__(self, args: argparse.Namespace):
        from perfbench import host
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.t_deadline = time.time() + HARD_LIMIT_S - host.process_age_s()
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.cache = os.path.join(WORK, "inputs")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, d))
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        # everything Spark, the JVM and the Python workers write stays here
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = tmp
        # a 1 GB heap instead of the engine's 8 GB default: with 8 GB the
        # JVM's heap growth varies from run to run, and the peak_rss_mb
        # spread over ten stream_join runs reached 0.23 (0.05-0.09 at 1 GB);
        # the join's state is ~25 MB, so 1 GB leaves ample headroom
        os.environ["SPARK_DRIVER_MEMORY"] = "1g"
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # without -XX:-UsePerfData the JVM writes /tmp/hsperfdata_<user>
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        self.wl = WORKLOADS[args.workload](args.seed, self.cache, self.run_dir, self.cores)
        self.spark = None

    # -- sessions -------------------------------------------------------
    def session(self, extra: dict[str, str] | None = None) -> None:
        """Build the session and warm every Python worker the workload uses.
        The first build also launches the JVM; its set-up, from process
        start, is the run's ``setup_s``. A later build stops the live
        session first."""
        from perfbench import host
        from solarpos_spark.plans.session import build_session

        cold = self.spark is None
        if not cold:
            self.spark.stop()
            _forget_jvm_udfs()
        t0 = time.perf_counter()
        self.spark = build_session(app_name=f"perfbench-{self.wl.name}",
                                   cores=self.cores,
                                   extra_conf={**self.conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if cold:
            self.cold_start_s = host.process_age_s()
        self.wl.warm_workers(self.spark)
        t2 = time.perf_counter()
        _log(f"setup {t2 - t0:.2f} s (build {t1 - t0:.2f} s)")
        if cold:
            self.setup_s = host.process_age_s()
            self.build_s, self.warm_s = t1 - t0, t2 - t1

    # -- measuring --------------------------------------------------------
    def measure(self, tracer, n_iter: int | None = None):
        """Iterations for about ``--seconds`` (the last one starts only if
        more than half an iteration's time is left), or exactly ``n_iter``,
        with the process tree's peak memory sampled meanwhile."""
        from perfbench import host

        its = []
        t_end = time.time() + self.args.seconds
        with host.PeakMemory() as mem:
            while True:
                left = self.t_deadline - RESERVE_S - time.time()
                its.append(self.wl.run_once(self.spark, len(its), tracer, left))
                mean = statistics.mean(it.wall_s for it in its)
                done = (len(its) >= n_iter if n_iter is not None
                        else time.time() + mean / 2 >= t_end)
                if done or not its[-1].ok or left < 0:
                    break
        return its, mem.peak

    def batch_ms(self, its) -> list[float]:
        if self.wl.streaming:
            return [p["durationMs"]["triggerExecution"] for it in its
                    for p in it.progress if p["numInputRows"] > 0]
        return [it.wall_s * 1000 for it in its]

    def end_to_end(self, its, peak_mem: int) -> dict[str, float]:
        ms = self.batch_ms(its)
        t, pct = tail(ms)
        self.tail_note = f"{t:.6g} ms at p{pct:.1f} of {len(ms)} batches"
        return {
            "setup_s": self.setup_s,
            "rows_per_s": statistics.median(it.rows / it.wall_s for it in its),
            "batch_ms_p50": statistics.median(ms),
            "peak_rss_mb": peak_mem / 2**20,
        }

    # -- traced run ---------------------------------------------------------
    def layer_metrics(self, its, tr, res, cpu_s: float, log_dir: str) -> tuple[dict, dict]:
        """Every per-layer metric of the traced pass ``its``; then runs the
        same number of iterations untraced for the tracing overhead."""
        from perfbench import host, trace

        out_files = {it.label: len([
            f for _, _, fs in os.walk(self.wl.out_dir(it))
            for f in fs if f.endswith(".parquet")]) for it in its}
        # a session without the event log (which also flushes the log) for
        # the untraced comparison; it starts warmer, so the overhead figure
        # errs high. The JVM keeps the first session's launch conf, so the
        # log is turned off explicitly.
        self.session({"spark.eventLog.enabled": "false"})
        self.wl.pass_name = "u"
        self.wl.warm(self.spark, trace.Tracer())
        plain, _ = self.measure(trace.Tracer(), n_iter=len(its))
        _log("untraced pass: " + ", ".join(
            f"{it.wall_s:.2f} s" if it.ok else it.error for it in plain))
        host.stop_spark(self.spark)
        self.spark = None

        jobs, stages = trace.read_event_log(log_dir)
        tags = {it.tag for it in its}
        n = len(its)
        m = {"session.cold_start_s": self.cold_start_s,
             "session.build_s": self.build_s,
             "session.warm_s": self.warm_s}
        sm, traced_stages = trace.stage_metrics(jobs, stages, tags, n)
        m.update(sm)
        kern = self.wl.kernel_bench()
        for k in ("codec.decode_ns_per_row", "kernels.spa.td_ns_per_instant",
                  "kernels.spa.loc_ns_per_row", "kernels.spa.solar_position_ns_per_row",
                  "kernels.spa.hoist_ns_per_row", "kernels.spa.hoist_ratio",
                  "kernels.sunrise.ns_per_row"):
            m[k] = kern.get(k, 0.0)
        model = trace.KernelModel({
            layer: kern[k] for layer, k in (
                ("codec", "codec.decode_ns_per_row"),
                ("kernels.spa", "kernels.spa.solar_position_ns_per_row"),
                ("kernels.sunrise", "kernels.sunrise.ns_per_row")) if k in kern})
        for it, r in zip(its, tr.roots(tags)):
            if self.wl.streaming:
                trace.add_stream_spans(tr, r, it.progress, jobs, stages, model,
                                       self.wl.batch_records)
            else:
                trace.add_batch_query_spans(tr, r, it.rows, jobs, stages, model)
        credit = trace.blocking_path_self_ms(tr, tr.roots(tags))
        wall = sum(it.wall_s for it in its)
        wall0 = sum(it.wall_s for it in plain)
        if self.wl.streaming:
            m.update(trace.streaming_metrics([it.progress for it in its]))
            committed = sum(res.committed.values())
            n_batches = sum(1 for it in its for p in it.progress if p["numInputRows"] > 0)
            m["sinks.out_bytes_per_row"] = (
                sum(s.bytes_written for s in traced_stages) / committed if committed else 0.0)
            m["sinks.files_per_batch"] = sum(out_files.values()) / max(n_batches, 1)
            m["sinks.committed_ratio"] = committed / max(sum(it.rows for it in its), 1)
        else:
            m.update(dict.fromkeys(NOT_ON_BATCH_PATH, 0.0))
            m["sources.input_rows"] = sum(it.rows for it in its) / n
        m["stage.cpu_busy_share"] = cpu_s / (wall * self.cores)
        for layer in trace.LAYERS:
            m[f"self_ms.{layer}"] = credit[layer] / n
        m["trace.wall_ms"] = wall * 1000 / n
        m["trace.untraced_wall_ms"] = wall0 * 1000 / n
        m["trace.overhead_ms"] = (wall - wall0) * 1000 / n
        m["trace.unattributed_ms"] = credit["unattributed"] / n
        m["trace.unattributed_share"] = credit["unattributed"] / (wall * 1000)
        report = {"metrics": m, "kernels": kern, "spans": tr.to_json(),
                  "stages": [vars(s) for s in traced_stages],
                  "iterations": [{"tag": it.tag, "label": it.label,
                                  "wall_s": it.wall_s, "rows": it.rows,
                                  "progress": it.progress} for it in its],
                  "untraced_walls_s": [it.wall_s for it in plain]}
        return m, report

    # -- the run ------------------------------------------------------------
    def run(self) -> int:
        from perfbench import host, trace

        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        context = host.run_context(ROOT)
        log_dir = os.path.join(self.run_dir, "eventlog")
        # a traced run traces the pass that an untraced run times
        self.session({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.dir": "file://" + log_dir}
                     if self.args.trace else None)
        if self.args.trace:
            self.wl.pass_name = "t"
        t = time.perf_counter()
        self.wl.prepare(self.spark)
        _prune_cache(self.cache, self.wl.name, self.wl.in_dir)
        _log(f"inputs {time.perf_counter() - t:.2f} s")
        t = time.perf_counter()
        self.wl.warm(self.spark, trace.Tracer())
        _log(f"workload warm-up {time.perf_counter() - t:.2f} s")
        tr = trace.Tracer()
        cpu0 = host.tree_cpu_s(os.getpid())
        its, peak = self.measure(tr)
        cpu_s = host.tree_cpu_s(os.getpid()) - cpu0
        e2e = self.end_to_end(its, peak)
        _log(f"measured {len(its)} iterations")
        t = time.perf_counter()
        res = self.wl.check(self.spark, its)
        _log(f"checks {time.perf_counter() - t:.2f} s")
        if self.args.trace:
            values, report = self.layer_metrics(its, tr, res, cpu_s, log_dir)
            wanted = spec["per_layer"]
        else:
            t = time.perf_counter()
            host.stop_spark(self.spark)
            self.spark = None
            _log(f"stop {time.perf_counter() - t:.2f} s")
            values, wanted = e2e, spec["end_to_end"]
        context["loadavg_end"] = list(os.getloadavg())
        context["iterations"] = len(its)
        context["batch_ms_tail"] = self.tail_note

        name = self.wl.name
        print(f"# {name} seed={self.args.seed} iterations={len(its)} "
              f"rows={sum(it.rows for it in its)} walls_s="
              + ",".join(f"{it.wall_s:.2f}" for it in its)
              + " batch_ms=" + ",".join(f"{x:.0f}" for x in self.batch_ms(its)))
        kind = "layer" if self.args.trace else "e2e"
        for m in wanted:
            print(f"{kind:5s} {name} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
        # too few batches per run for a tail percentile with ten beyond it
        print(f"info  {name} batch_ms_tail = {self.tail_note} (not gated)")
        print(f"check {name} fail_ratio = {res.failed / res.attempted:.6g} "
              f"({res.failed} of {res.attempted} operations)")
        for note in res.notes:
            print(f"FAILED {name}: {note}")
        if self.args.trace:
            report["context"] = context
            with open(os.path.join(WORK, "traces",
                                   f"{name}-seed{self.args.seed}.json"), "w") as f:
                json.dump(report, f, default=str)
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }))
        return 0

    def close(self) -> None:
        from perfbench import host

        if self.spark is not None or _gateway_up():
            host.stop_spark(self.spark)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _gateway_up() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is not None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import solarpos_spark.plans.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print(f"perfbench: no BENCHMARK.json in {ROOT}", file=sys.stderr)
        return 2

    from perfbench import host

    def watchdog() -> None:
        print(f"perfbench: run exceeded {HARD_LIMIT_S} s; killing it", file=sys.stderr)
        host.kill_descendants()
        os._exit(3)

    timer = threading.Timer(max(HARD_LIMIT_S - host.process_age_s(), 1), watchdog)
    timer.daemon = True
    timer.start()
    bench = Bench(args)
    try:
        return bench.run()
    finally:
        bench.close()
        timer.cancel()


if __name__ == "__main__":
    sys.exit(main())
