"""Benchmark of the methylation and curation pipelines as users run them.

    python3 perfbench/run.py --workload corpus_curate --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One process runs one workload in one
closed loop (one caller, one call at a time) on a ``local[nproc]``
session: it sets the session up, generates (or reuses) the seeded inputs,
makes the workload's untimed, checked warm-up calls, then calls the
workload's entry point back to back until ``--seconds`` have passed (at
least once), checking the last call against the planted truth.
``--trace 1`` instead runs a traced pass that times the calls into each
library module.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics). The lines before it print every
metric by name with its unit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"

END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MB"}

SPAN_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
              "spill_mb": "MB", "core_util": "ratio"}
EXTRA_UNITS = {
    "samples_kept": "count", "probes_kept": "count", "ok_ratio": "ratio", "n_significant": "count",
    "gap_s": "s", "persisted_mb_peak": "MB", "leaked": "count", "mb_in": "MB", "mb_out": "MB",
    "files": "count", "reject_ratio": "ratio", "dup_ratio": "ratio", "failed_tasks": "count",
    "overhead_s": "s",
}
# (span, metrics): every per-layer metric is reported by every traced
# run; a module the workload never calls reads 0.
LAYERS = [
    ("session.start", ["wall_s"]),
    ("deploy.ship", ["wall_s"]),
    ("operators.qc", list(SPAN_UNITS) + ["samples_kept", "probes_kept"]),
    ("stats.bmiq", list(SPAN_UNITS) + ["ok_ratio"]),
    ("stats.combat", list(SPAN_UNITS)),
    ("stats.feature_selection", list(SPAN_UNITS)),
    ("stats.pca", list(SPAN_UNITS)),
    ("stats.limma", list(SPAN_UNITS)),
    ("stats.bh", list(SPAN_UNITS) + ["n_significant"]),
    ("plans.pipeline", list(SPAN_UNITS) + ["gap_s"]),
    ("cache", ["wall_s", "persisted_mb_peak", "leaked"]),
    ("io.read_idat", list(SPAN_UNITS) + ["mb_in"]),
    ("io.betas", list(SPAN_UNITS)),
    ("io.write", list(SPAN_UNITS) + ["mb_out", "files"]),
    ("ext.text.gate", list(SPAN_UNITS) + ["reject_ratio"]),
    ("plans.curation.redact", list(SPAN_UNITS)),
    ("ext.text.decontaminate", list(SPAN_UNITS)),
    ("ext.dedup.exact", list(SPAN_UNITS) + ["dup_ratio"]),
    ("ext.pack.pack", list(SPAN_UNITS)),
    ("plans.curation", list(SPAN_UNITS) + ["gap_s"]),
    ("engine", list(SPAN_UNITS) + ["failed_tasks"]),
    ("trace", ["overhead_s"]),
]
STAGES = {
    "epic_cohort": ["operators.qc", "stats.bmiq", "stats.combat", "stats.feature_selection",
                    "stats.pca", "stats.limma", "stats.bh"],
    "corpus_curate": ["ext.text.gate", "plans.curation.redact", "ext.text.decontaminate",
                      "ext.dedup.exact", "ext.pack.pack"],
}


def per_layer_specs() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order."""
    return [
        (f"{span}.{m}", SPAN_UNITS.get(m) or EXTRA_UNITS[m])
        for span, metrics in LAYERS for m in metrics
    ]


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout: temporary
    files (Python, both JVMs spark-submit starts) and Spark scratch."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # runs never overlap
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed heap keeps peak memory comparable across hosts; the
    # library's default is half of physical RAM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Bench:
    def __init__(self, args, cores: int):
        self.args = args
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.leaked = 0
        self.jvm_pid = None

    # ---------------------------------------------------------------- session

    def _conf(self, ui: bool) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if ui:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                         "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        return conf

    def setup(self, ui: bool):
        """Session up, first job run, package shipped. Returns
        (session, seconds from process start to get_session returned plus
        first job, seconds to ship)."""
        from pyspark import SparkContext

        from methyl_data_pipeline_spark import deploy
        from methyl_data_pipeline_spark.session import get_session

        spark = get_session("perfbench", extra_conf=self._conf(ui))
        spark.range(1000).selectExpr("sum(id)").collect()
        started = process_age_s()
        t0 = time.perf_counter()
        deploy.ensure_importable(spark)
        shipped = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid
        return spark, started, shipped

    def shutdown(self, spark) -> None:
        """Stop the session and the JVM, and wait until the JVM and its
        Python workers have exited."""
        from pyspark import SparkContext

        from perfbench.trace import process_tree

        pids = process_tree(self.jvm_pid) if self.jvm_pid else []
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        alive = list(pids)
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            if alive:
                time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass

    # -------------------------------------------------------------- iterations

    def iterate(self, spark, wl, check=lambda: True) -> float:
        """One timed call of the workload, then its check when ``check()``
        says so after the call, and clean-up. A call that raises or leaves
        an RDD persisted fails whether it is checked or not."""
        from perfbench.workloads import persisted_count

        self.attempted += 1
        wl.prepare()
        t0 = time.perf_counter()
        try:
            out = wl.run()
            dt = time.perf_counter() - t0
            fails = wl.check(out) if check() else []
            wl.release(out)
            leaked = persisted_count(spark)
            self.leaked = max(self.leaked, leaked)
            if leaked:
                fails.append(f"{leaked} RDDs still persisted after release")
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc()
            fails = ["raised"]
        if fails:
            self.failed += 1
            print(f"[{wl.name}] check failed: {fails}", file=sys.stderr)
        return dt

    def loop(self, spark, wl, seconds: float) -> list[float]:
        """Call back to back until ``seconds`` have passed (at least once).
        The call that ends the loop is checked against the planted truth;
        the calls before it are not, because a check can cost as much as
        a call (``corpus_curate`` runs its plan again to collect the doc
        ids) and the program is deterministic."""
        times = []
        start = time.perf_counter()

        def last() -> bool:
            decided.append(time.perf_counter() - start >= seconds)
            return decided[-1]

        while True:
            decided: list[bool] = []
            times.append(self.iterate(spark, wl, check=last))
            # a call that raised made no decision and ends the loop on time
            if decided[-1] if decided else time.perf_counter() - start >= seconds:
                return times

    # ------------------------------------------------------------------ trace

    def _history_path(self, wl_name: str) -> str:
        return os.path.join(WORK, f"untraced-{wl_name}.jsonl")

    def record_untraced(self, wl_name: str, shape_key: str, wall: float) -> None:
        with open(self._history_path(wl_name), "a") as fh:
            fh.write(json.dumps({"shape": shape_key, "seed": self.args.seed, "wall_s": wall}) + "\n")

    def untraced_reference(self, wl_name: str, shape_key: str) -> float | None:
        """Median untraced wall_s of earlier ``--trace 0`` runs in this checkout."""
        try:
            with open(self._history_path(wl_name)) as fh:
                walls = [r["wall_s"] for r in map(json.loads, fh) if r["shape"] == shape_key]
        except FileNotFoundError:
            return None
        return statistics.median(walls) if walls else None

    def traced_pass(self, spark, wl) -> tuple[dict, float]:
        """After the workload's warm-up calls, the composite once under
        one span (the call an untraced run times first), then the stages
        one at a time. Returns the per-layer metrics and the traced
        composite's wall time."""
        from perfbench.trace import Tracer, engine_metrics, gap_s
        from perfbench.workloads import persisted_count

        for _ in range(wl.warmup_calls):  # as in an untraced run, before any span
            self.iterate(spark, wl)
        tr = Tracer(spark, f"{wl.name}-seed{self.args.seed}-pid{os.getpid()}", self.cores)
        tr.spans.extend(self.setup_spans)
        leaked = 0
        with tr.span("engine", jobs=False):
            for label in ("composite", "staged"):
                self.attempted += 1
                wl.prepare()
                try:
                    if label == "composite":
                        with tr.span(wl.composite):
                            out = wl.run()
                        tr.sample_storage()
                        with tr.aux():
                            fails = wl.check(out)
                        release = lambda: wl.release(out)  # noqa: E731
                    else:
                        staged, fails = wl.staged(tr)
                        release = staged.release
                    with tr.span("cache"):
                        release()
                    leaked = max(leaked, persisted_count(spark))
                except Exception:
                    traceback.print_exc()
                    fails = ["raised"]
                if fails:
                    self.failed += 1
                    print(f"[{wl.name}] traced {label} check failed: {fails}", file=sys.stderr)
        metrics = tr.collect()
        tr.dump(os.path.join(WORK, f"spans-{wl.name}-seed{self.args.seed}.json"))

        out = {f"{span}.{k}": v for span, m in metrics.items() for k, v in m.items()}
        for sp in tr.spans:
            out.update({f"{sp['name']}.{k}": v for k, v in sp["extra"].items()})
        engine = engine_metrics(
            [m for span, m in metrics.items() if span != "engine"],
            metrics["engine"]["wall_s"], self.cores,
        )
        out.update({f"engine.{k}": v for k, v in engine.items()})
        out["cache.persisted_mb_peak"] = tr.persisted_peak_mb
        out["cache.leaked"] = leaked
        self.leaked = max(self.leaked, leaked)
        composite_wall = metrics[wl.composite]["wall_s"]
        if wl.name in STAGES:
            out[f"{wl.composite}.gap_s"] = gap_s(
                composite_wall, [metrics[s]["wall_s"] for s in STAGES[wl.name]]
            )
        return out, composite_wall

    # -------------------------------------------------------------------- run

    def run(self) -> dict:
        from perfbench import gen
        from perfbench.trace import RssSampler
        from perfbench.workloads import WORKLOADS

        a = self.args
        spark, started, shipped = self.setup(ui=bool(a.trace))
        setup_s = started + shipped
        self.setup_spans = [
            {"name": "session.start", "start": 0.0, "end": started, "parent": None,
             "run_id": None, "group": None, "extra": {}},
            {"name": "deploy.ship", "start": started, "end": started + shipped, "parent": None,
             "run_id": None, "group": None, "extra": {}},
        ]
        rss = RssSampler(self.jvm_pid).start()
        times: list[float] = []
        try:
            path, truth = gen.inputs(WORK, a.workload, a.seed)
            shape_key = os.path.basename(path).split("-seed")[0]
            wl = WORKLOADS[a.workload](spark, path, truth, WORK)
            if not a.trace:
                for _ in range(wl.warmup_calls):  # untimed, still checked
                    self.iterate(spark, wl)
                times = self.loop(spark, wl, a.seconds)
                self.record_untraced(a.workload, shape_key, statistics.median(times))
            else:
                metrics, traced_wall = self.traced_pass(spark, wl)
                reference = self.untraced_reference(a.workload, shape_key)
                # 0 when no untraced run of these inputs is recorded here:
                # one more composite call would not fit the run's time limit
                metrics["trace.overhead_s"] = 0.0 if reference is None else traced_wall - reference
        finally:
            peak = rss.stop()
            self.shutdown(spark)
        print(f"workload {a.workload}  seed {a.seed}  cores {self.cores}  input_rows {truth['input_rows']}")
        e2e = {"setup_s": setup_s, "peak_rss_mb": peak}
        if times:
            wall = statistics.median(times)
            e2e = {"wall_s": wall, "rows_per_s": truth["input_rows"] / wall, **e2e}
        for k, v in e2e.items():
            note = f"  (median of {len(times)} timed calls)" if k == "wall_s" else ""
            print(f"{k:<40} {v:>14.4f} {END_TO_END[k]}{note}")
        print(f"{'error_rate':<40} {self.failed / self.attempted:>14.4f} ratio"
              f"  ({self.failed} of {self.attempted} calls failed)")
        print(f"{'cache.leaked':<40} {self.leaked:>14d} count")
        if not a.trace:
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if metrics["trace.overhead_s"] == 0.0:
            print("trace.overhead_s: no untraced run of these inputs recorded in this checkout")
        result = {}
        for name, unit in per_layer_specs():
            value = metrics.get(name, 0)
            result[name] = {"value": value, "unit": unit}
            print(f"{name:<40} {value:>14.4f} {unit}")
        return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    sys.path.insert(0, ROOT)
    try:
        import methyl_data_pipeline_spark  # noqa: F401  the program under test
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the program under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args, cores)
    metrics = bench.run()
    sys.stdout.flush()
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
