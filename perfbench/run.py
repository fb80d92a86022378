"""Run one benchmark workload against the ``dataflowex_spark`` registry.

Usage (from the repository root, or any directory)::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 4 --trace 0

One process is the only client, in a closed loop on ``local[nproc]``.  A
run generates the seeded inputs; sets the session up ``SETUPS`` times
(``setup_s`` is the median); runs one untimed pass that checks every op's
output (DuckDB oracle digest, or non-empty for rows-only ops) and warms
the JVM, then ``WARM_PASSES`` more untimed passes; then runs timed passes
until ``--seconds`` have passed (at least ``MIN_PASSES``).  ``--trace 1``
also enables the event log and runs one more pass with every layer wrapped
in spans, and prints the per-layer metrics instead of the end-to-end ones.
Everything the run writes goes under ``.perfbench/`` in the repository
root; the run's private temp root is measured (``tmp_left_mb``) and
deleted at the end.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with all end-to-end figures, the inputs
and the run metadata.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from datetime import datetime

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __package__ in (None, ""):  # run as a script: make the package importable
    sys.path.insert(0, ROOT)

from perfbench.eventlog import MB  # noqa: E402
from perfbench.layers import percentiles  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
MIN_PASSES = 2
#: untimed passes between the check pass and the timed ones: the first
#: executions after the cold check pass still run JIT-cold
WARM_PASSES = 1
SETUPS = 3
PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _touch(it):
    """Identity ``mapInPandas`` body: starts the Python worker pool."""
    for pdf in it:
        yield pdf


def tree_usage() -> tuple[int, float]:
    """(resident bytes, CPU seconds) summed over this process and all of
    its descendants: the Python driver, the JVM and the Python workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(path.split("/")[2])
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    rss = ticks = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        f = stats.get(pid)
        if f:
            rss += int(f[21]) * PAGE
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return rss, ticks / CLK_TCK


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled every interval."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_usage()[0])
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak / MB


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / MB


def _metadata(cores: int) -> dict:
    import pyspark

    commit = "unknown"  # a checkout without .git: the program digest identifies it
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "dataflowex_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as fh:
            h.update(fh.read())
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {
        "cores": cores, "spark": pyspark.__version__,
        "python": platform.python_version(), "git_commit": commit,
        "program_sha256": h.hexdigest()[:16], "loadavg_before": load,
    }


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time())}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        self.inputs = os.path.join(self.run_dir, "inputs")
        self.eventlog = os.path.join(self.run_dir, "eventlog")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.progress: list[dict] = []
        self._progress_lock = threading.Lock()

    # -- environment ---------------------------------------------------
    def hermetic_env(self) -> None:
        import tempfile

        for d in (self.tmp, self.inputs, self.eventlog):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ.pop("SPARK_GRAFT_PREWARM", None)
        # Python workers import the package (and this benchmark) by path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )

    def spark_conf(self) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
            })
        return conf

    # -- set-up --------------------------------------------------------
    def setup_once(self, tables, python_workers: bool):
        from dataflowex_spark.catalog import Catalog
        from dataflowex_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=self.spark_conf())
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        cat = Catalog(spark, self.inputs)
        for t in tables:
            cat.table(t).schema  # listing and footer read
        if python_workers:
            n = spark.sparkContext.defaultParallelism
            spark.range(n * 4, numPartitions=n).mapInPandas(_touch, "id long").count()
        t2 = time.perf_counter()
        return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        bench = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                states = p.stateOperators or []
                at = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                rec = {
                    "at": at.timestamp(), "batch_ms": p.batchDuration,
                    "input_rows": p.numInputRows, "duration": dict(p.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in states),
                    "state_bytes": sum(s.memoryUsedBytes for s in states),
                }
                with bench._progress_lock:
                    bench.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    @staticmethod
    def drain_listeners(spark) -> None:
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # py4j: bus not reachable on this build
            time.sleep(2)

    # -- passes --------------------------------------------------------
    def check_pass(self, spark, ops, fns, expected, selfcheck) -> dict:
        from perfbench.oracle import frame_digest

        out = {}
        for name in ops:
            self.attempted += 1
            try:
                pdf = fns[name](spark, self.inputs).toPandas()
            except Exception:
                self._fail(name, "check pass raised:\n" + traceback.format_exc())
                continue
            nested = selfcheck.nested_cells(pdf)
            digest = None if nested else frame_digest(selfcheck, pdf)
            rec = {"rows": len(pdf), "digest": digest}
            if nested:
                self._fail(name, f"nested output columns {nested}")
            elif name in expected:
                exp = expected[name]
                rec["oracle"] = exp
                if (exp["rows"], exp["digest"]) != (len(pdf), digest):
                    self._fail(name, f"oracle mismatch: spark {len(pdf)} rows "
                                     f"{digest}, duckdb {exp['rows']} rows {exp['digest']}")
            elif len(pdf) == 0:
                self._fail(name, "rows-only op returned no rows")
            out[name] = rec
        return out

    def timed_pass(self, spark, ops, fns, tracer=None) -> dict:
        from contextlib import nullcontext

        from perfbench.oracle import spark_digest

        per_op = {}
        start = time.time()
        cpu0 = tree_usage()[1]
        t_pass = time.perf_counter()
        for name in ops:
            self.attempted += 1
            span = (lambda ph: tracer.span(f"op:{name}:{ph}", "queries", op=name)) \
                if tracer else (lambda ph: nullcontext())
            try:
                t0 = time.perf_counter()
                with span("build"):
                    df = fns[name](spark, self.inputs)
                t1 = time.perf_counter()
                with span("exec"):
                    digest = spark_digest(df)
                t2 = time.perf_counter()
            except Exception:
                self._fail(name, "timed pass raised:\n" + traceback.format_exc())
                continue
            per_op[name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "digest": digest}
        wall = time.perf_counter() - t_pass
        return {"start": start, "end": time.time(), "wall_s": wall,
                "cpu_s": tree_usage()[1] - cpu0, "ops": per_op}

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why.strip().splitlines()[-1][:300]}")
        print(f"FAIL {name}: {why}", file=sys.stderr)

    def check_digests(self, passes: list[dict], ops, expected, reference=None) -> None:
        """Rows-only ops must hash to one non-empty digest on every pass;
        each pass that disagrees with ``reference`` (default: the first of
        ``passes``) counts as failed."""
        for name in ops:
            if name in expected:
                continue
            seen = [p["ops"][name]["digest"] for p in passes if name in p["ops"]]
            ref = (reference or passes[0])["ops"].get(name, {}).get("digest")
            for d in seen:
                if d[0] == 0:
                    self._fail(name, "rows-only op returned no rows")
                elif d != ref:
                    self._fail(name, f"digest {d} differs from {ref}")

    # -- main ----------------------------------------------------------
    def run(self) -> int:
        args = self.args
        from perfbench import inputs, oracle, workloads

        wl = workloads.WORKLOADS[args.workload]
        ops = args.ops.split(",") if args.ops else wl["ops"]
        self.hermetic_env()
        sampler = RssSampler()
        sampler.start()
        try:
            import __spark_entry__ as entry

            selfcheck = oracle.load_selfcheck(ROOT)
            t_gen = time.perf_counter()
            input_stats = inputs.generate(args.source, self.inputs, args.seed, wl["tables"])
            gen_s = time.perf_counter() - t_gen
            sqls = {n: s for n, s in entry.oracle_sql().items() if n in ops}
            code_sha = hashlib.sha256()
            for path in (inputs.__file__, selfcheck.__file__):
                with open(path, "rb") as fh:
                    code_sha.update(fh.read())
            expected = oracle.expected_digests(
                selfcheck, sqls, self.inputs, wl["tables"], os.path.join(STATE, "oracle"),
                [str(args.seed), code_sha.hexdigest(), json.dumps(input_stats, sort_keys=True)],
            )
            oracle_s = time.perf_counter() - t_gen - gen_s
            fns = entry.queries()
            meta = _metadata(self.cores)

            setups = []
            spark = None
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, rec = self.setup_once(wl["tables"], wl["python_workers"])
                setups.append(rec)
            self.listen(spark)
            t_check = time.perf_counter()
            checks = self.check_pass(spark, ops, fns, expected, selfcheck)
            check_s = time.perf_counter() - t_check
            warm = [self.timed_pass(spark, ops, fns) for _ in range(WARM_PASSES)]
            probe_before = self.probe(spark)
            passes = []
            deadline = time.perf_counter() + args.seconds
            while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
                passes.append(self.timed_pass(spark, ops, fns))
            self.check_digests(warm + passes, ops, expected)
            probe_after = self.probe(spark)

            traced = tracer = None
            if args.trace:
                from perfbench.tracer import Tracer

                tracer = Tracer()
                hits = []
                tracer.on_return["ResultCache.get_or_compute"] = lambda r: hits.append(
                    bool(r[1]))
                tracer.install()
                try:
                    traced = self.timed_pass(spark, ops, fns, tracer)
                finally:
                    tracer.uninstall()
                self.check_digests([traced], ops, expected, reference=passes[0])
            self.drain_listeners(spark)
            app_id = spark.sparkContext.applicationId
            t_stop = time.perf_counter()
            spark.stop()
            _shutdown_jvm()
            stop_s = time.perf_counter() - t_stop
            peak_rss = sampler.stop()
            tmp_left = _dir_mb(self.tmp)

            walls = [p["wall_s"] for p in passes]
            timed_lo, timed_hi = passes[0]["start"], passes[-1]["end"]
            batches = [p["batch_ms"] for p in self.progress
                       if timed_lo <= p["at"] <= timed_hi]
            pct = percentiles(batches)
            report = {
                "workload": args.workload, "seed": args.seed, "ops": ops,
                "setup_s": {"value": statistics.median(s["setup_s"] for s in setups),
                            "unit": "s", "samples": setups},
                "wall_s": {"value": statistics.median(walls), "unit": "s",
                           "samples": walls},
                "cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes),
                          "unit": "s", "samples": [p["cpu_s"] for p in passes]},
                "batch_p50_ms": {"value": pct["p50"], "unit": "ms", "n": pct["n"]},
                "batch_ptail_ms": {"value": pct["tail"], "unit": "ms",
                                   "percentile": pct["tail_pct"], "n": pct["n"]},
                "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
                "tmp_left_mb": {"value": tmp_left, "unit": "MB"},
                "error_rate": {"value": self.failed / self.attempted, "unit": "ratio",
                               "attempted": self.attempted, "failed": self.failed},
                "per_op_median": {
                    n: {k: statistics.median(p["ops"][n][k] for p in passes
                                             if n in p["ops"])
                        for k in ("build_s", "exec_s")}
                    for n in ops if any(n in p["ops"] for p in passes)
                },
                "checks": checks, "failures": self.failures,
                "phases_s": {"generate": gen_s, "oracle": oracle_s, "check_pass": check_s,
                             "stop": stop_s, "since_start": time.perf_counter() - T0},
                "inputs": {"source": args.source,
                           "tables": input_stats},
                "probe_s": {"before": probe_before, "after": probe_after},
                "meta": meta,
            }
            if args.trace:
                from perfbench import layers
                from perfbench.eventlog import read_events

                per_layer, extra = layers.per_layer(
                    tracer, traced, passes, setups, self.progress,
                    read_events(self.eventlog, app_id), self.cores, tmp_left, peak_rss,
                    hits,
                )
                report["trace"] = extra
                metrics = per_layer
            else:
                from perfbench.metrics import END_TO_END

                metrics = {n: {"value": report[n]["value"], "unit": u}
                           for n, u, *_ in END_TO_END}
            self.write_artifacts(report, tracer)
        finally:
            if sampler.is_alive():
                sampler.stop()
            _shutdown_jvm()
            shutil.rmtree(self.run_dir, ignore_errors=True)
        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": self.failed == 0, "attempted": self.attempted,
            "failed": self.failed, "metrics": metrics,
        }))
        return 0

    def probe(self, spark) -> float:
        """bench.py's fixed-work box-health probe; outside every timed region."""
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def write_artifacts(self, report: dict, tracer) -> None:
        """The report, and the spans of a traced run, under
        ``.perfbench/artifacts/``."""
        out = os.path.join(STATE, "artifacts")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(
            out, f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
                 f"-{int(time.time())}")
        if tracer is not None:
            report["trace"]["span_file"] = stem + ".spans.jsonl"
            with open(stem + ".spans.jsonl", "w") as fh:
                for s in tracer.spans:
                    fh.write(json.dumps(s) + "\n")
        with open(stem + ".json", "w") as fh:
            json.dump(report, fh, indent=1, default=str)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # gateway already gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def parse_args(argv=None):
    from perfbench.inputs import default_source
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--source", default=default_source(),
                   help="fixture directory the seeded inputs are copied from")
    p.add_argument("--ops", default="",
                   help="comma-separated op subset (smoke tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "dataflowex_spark", "__init__.py")):
        print(f"perfbench: no dataflowex_spark package under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    if not os.path.isdir(args.source):
        print(f"perfbench: fixture directory {args.source} not found", file=sys.stderr)
        return 2
    return Bench(args).run()


if __name__ == "__main__":
    sys.exit(main())
