"""Closed-loop, single-client benchmark of the engine's registry keys.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client calls one key at a time and
waits for its rows, as the grading driver and a notebook user do. A
child process (``prepare.py``) generates the seed's inputs and computes
every key's expected result with DuckDB; this process then starts the
session, warms up with one untimed pass, then times the workload's
passes, repeating them until ``--seconds`` have elapsed. Every timed call
is checked against its oracle after its clock stops. The last stdout line
is one JSON object; with ``--trace 1`` the per-layer split replaces the
end-to-end metrics and the spans go to a file under
``perfbench/.work/traces``.
See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import probes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "random_forest_using_hadoop_spark"
WORK = HERE / ".work"
# The engine stages lake tables and saved models here, one entry per
# input directory (named by an md5 prefix of the directory path).
ENGINE_STAGING = Path("/tmp/rf_engine_io")


@dataclass(frozen=True)
class Workload:
    dataset: str  # "corpus" (bundled sf0.01 tables) or "labeled" (generated)
    keys: tuple[str, ...]
    # True: grader-style calls, each after release_caches, in seeded order.
    # False: one fixed sequence sharing one fit, released once per pass.
    independent_calls: bool


_RELATIONAL = (
    "agg_hash_groupby", "join_multiway", "topk_per_group", "fn_datetime",
    "dedup_exact", "filter_basic", "agg_rollup", "join_semi", "limit_topk",
)

WORKLOADS = {
    "rf_fit": Workload(
        "labeled",
        ("ml_rf_train", "ml_rf_predict", "ml_eval", "ml_importance"),
        independent_calls=False,
    ),
    "mixed_sf0.01": Workload(
        "corpus",
        # relational keys: short calls, mostly driver cost, and the dense
        # middle that latency_p50_s reads
        _RELATIONAL
        # LLM-pipeline dedup: shuffle plus Python workers
        + ("dedup_embedding",)
        # lake formats: staging, log / manifest codecs and commits
        + ("src_delta_log", "sink_iceberg_compact"),
        independent_calls=True,
    ),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare(name: str, seed: int) -> dict:
    """Inputs and expected results, made in a child process."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "prepare.py"), "--workload", name, "--seed", str(seed)],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    prep = json.loads(proc.stdout.strip().splitlines()[-1])
    prep["expected"] = {
        k: (tuple(cols), n, digest) for k, (cols, n, digest) in prep["expected"].items()
    }
    return prep


class Tracer:
    """Spans and per-call layer counters; inert when tracing is off."""

    def __init__(self, enabled: bool, workload: str, t0: float):
        self.enabled, self.workload, self.t0 = enabled, workload, t0
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.status = None
        self.jvm_pid = 0

    def attach(self, spark, jvm_pid: int) -> None:
        if self.enabled:
            self.status = probes.StatusReader(spark)
            self.jvm_pid = jvm_pid

    def span(self, key, phase, start, end, parent=None) -> int:
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "parent": parent, "workload": self.workload,
                "key": key, "phase": phase,
                "start": round(start - self.t0, 6), "end": round(end - self.t0, 6),
            })
        return len(self.spans) - 1

    def sample(self):
        if not self.enabled:
            return None
        t = time.perf_counter()
        s = probes.Sample.take(self.jvm_pid)
        self.overhead_s += time.perf_counter() - t
        return s

    def call_layers(self, before, after, wall_start, wall_end, fn_s, collect_s) -> dict:
        t = time.perf_counter()
        jw = self.status.window(wall_start, wall_end)
        wall = fn_s + collect_s
        layers = {
            "registry.fn_s": fn_s,
            "spark.collect_s": collect_s,
            "spark.in_jobs_s": min(jw.in_jobs_s, wall),
            "spark.driver_only_s": wall - min(jw.in_jobs_s, wall),
            "spark.jobs": jw.jobs,
            "spark.stages": jw.stages,
            "spark.tasks": jw.tasks,
            "spark.task_attempts": jw.task_attempts,
            "spark.failed_tasks": jw.failed_tasks,
            "spark.executor_cpu_s": jw.executor_cpu_s,
            "spark.jvm_gc_s": jw.jvm_gc_s,
            "spark.shuffle_read_bytes": jw.shuffle_read_bytes,
            "spark.shuffle_write_bytes": jw.shuffle_write_bytes,
            "spark.spill_bytes": jw.spill_bytes,
            "spark.output_bytes": jw.output_bytes,
            "driver.python_cpu_s": after.python_cpu - before.python_cpu,
            "driver.jvm_cpu_s": max(
                0.0, after.jvm_cpu - before.jvm_cpu - jw.executor_cpu_s
            ),
            "udf.python_worker_cpu_s": after.worker_cpu - before.worker_cpu,
            "driver.write_bytes": after.written - before.written,
        }
        self.overhead_s += time.perf_counter() - t
        return layers

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Bench:
    def __init__(self, name: str, wl: Workload, seed: int, trace: bool):
        self.name, self.wl, self.seed = name, wl, seed
        self.rng = random.Random(seed)
        self.t0 = time.perf_counter()
        self.started_at = time.time()
        self.tracer = Tracer(trace, name, self.t0)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.cached_rdds = 0
        self.release_s = 0.0

    # -- one call: fn + collect, then the oracle check off the clock ---------
    def call(self, key: str, pass_span: int | None, timed: bool) -> dict:
        spec = self.engine.REGISTRY[key]
        before = self.tracer.sample()
        w0 = time.time()
        t0 = time.perf_counter()
        rows, err, t1 = None, None, None
        try:
            df = spec.fn(self.spark, self.data)
            t1 = time.perf_counter()
            rows = df.collect()
        except Exception:  # a failing key is counted, never dropped
            err = traceback.format_exc(limit=3)
        t2 = time.perf_counter()
        w2 = time.time()
        after = self.tracer.sample()
        t1 = t2 if t1 is None else t1
        rec = {"key": key, "wall": t2 - t0, "fn": t1 - t0, "collect": t2 - t1}
        call_span = self.tracer.span(key, "call", t0, t2, pass_span)
        self.tracer.span(key, "fn", t0, t1, call_span)
        self.tracer.span(key, "collect", t1, t2, call_span)
        if self.tracer.enabled:
            rec["layers"] = self.tracer.call_layers(
                before, after, w0, w2, t1 - t0, t2 - t1
            )
            self.tracer.spans[call_span]["layers"] = rec["layers"]
        c0 = time.perf_counter()
        if err is None:
            err = self.check(key, rows, df.columns)
        c1 = time.perf_counter()
        rec["check"] = c1 - c0
        self.tracer.span(key, "check", c0, c1, call_span)
        if timed:
            self.attempted += 1
            if err is not None:
                self.failed += 1
                self.failures.append(key)
        if err is not None:
            log(f"{'' if timed else 'warm-up '}call {key} FAILED: {err.strip()[-600:]}")
        return rec

    def check(self, key: str, rows, columns) -> str | None:
        from oracle import canonical_rows

        want = self.expected.get(key)
        try:
            got = canonical_rows(rows, columns)
        except TypeError as e:
            return f"uncomparable result: {e}"
        if want is None:  # rows-only key: the grading driver checks for rows
            return None if got[1] > 0 else "no rows"
        if got[0] != want[0]:
            return f"columns {got[0]} != oracle {want[0]}"
        if got[1] != want[1]:
            return f"row count {got[1]} != oracle {want[1]}"
        if got[2] != want[2]:
            return "cell values differ from oracle"
        return None

    def release(self) -> None:
        self.cached_rdds += max(0, self.engine.cached_block_count(self.spark))
        t = time.perf_counter()
        self.engine.release_caches(self.spark)
        self.release_s += time.perf_counter() - t

    def one_pass(self, timed: bool) -> dict:
        keys = list(self.wl.keys)
        if self.wl.independent_calls:
            self.rng.shuffle(keys)
        self.cached_rdds, self.release_s = 0, 0.0
        overhead0 = self.tracer.overhead_s
        steal0 = probes.host_steal_s()
        p0 = time.perf_counter()
        pspan = self.tracer.span(None, "pass" if timed else "warmup_pass", p0, p0)
        if not self.wl.independent_calls:
            self.release()
        calls = []
        for key in keys:
            if self.wl.independent_calls:
                self.release()
            calls.append(self.call(key, pspan, timed))
        self.release()
        left = self.engine.cached_block_count(self.spark)
        if left != 0:
            log(f"hygiene: {left} cached blocks after release_caches")
            if timed:
                self.failed += 1
                self.failures.append("hygiene")
        p1 = time.perf_counter()
        if self.tracer.enabled:
            self.tracer.spans[pspan]["end"] = round(p1 - self.t0, 6)
        return {
            "calls": calls,
            "wall": sum(c["wall"] for c in calls),
            "cached_rdds": self.cached_rdds,
            "release_s": self.release_s,
            "trace_overhead_s": self.tracer.overhead_s - overhead0,
            "steal_s": probes.host_steal_s() - steal0,
        }

    # -- the run ---------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        prep = prepare(self.name, self.seed)
        self.data, self.expected, self.tables = prep["data"], prep["expected"], prep["tables"]
        run_dir = WORK / "runs" / str(os.getpid())
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'jvmtmp'}",
        }
        s0 = time.perf_counter()
        sys.path.insert(0, str(ROOT))
        import random_forest_using_hadoop_spark as engine
        from random_forest_using_hadoop_spark.session import get_spark

        s1 = time.perf_counter()
        self.spark = get_spark("perfbench", conf)
        s2 = time.perf_counter()
        engine.load_all()
        s3 = time.perf_counter()
        self.engine = engine
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.tracer.attach(self.spark, jvm_pid)
        w0 = time.perf_counter()
        self.one_pass(timed=False)
        w1 = time.perf_counter()
        self.tracer.span(None, "setup", s0, w1)

        # the tracer's own bookkeeping does not count towards --seconds, so a
        # traced run makes as many passes as an untraced one
        passes = []
        m0, o0 = time.perf_counter(), self.tracer.overhead_s
        while not passes or (
            time.perf_counter() - m0 - (self.tracer.overhead_s - o0) < seconds
        ):
            passes.append(self.one_pass(timed=True))
        m1 = time.perf_counter()

        probes_out = self._probe_calls() if self.tracer.enabled else {}
        staging = self._staging_left_bytes(run_dir)
        # after _staging_left_bytes' full GC: resident memory is what the
        # session keeps; the high-water marks follow GC timing
        py_peak, jvm_peak = probes.self_peak_rss_mb(), probes.peak_rss_mb(jvm_pid)
        py_now, jvm_now = probes.rss_mb(os.getpid()), probes.rss_mb(jvm_pid)
        log(f"rss MiB: python peak {py_peak:.0f} now {py_now:.0f}, "
            f"jvm peak {jvm_peak:.0f} now {jvm_now:.0f}")
        return {
            "get_spark_s": s2 - s1,
            "load_all_s": (s1 - s0) + (s3 - s2),
            "warmup_s": w1 - w0,
            "setup_s": (s3 - s0) + (w1 - w0),
            "passes": passes,
            "measured_s": m1 - m0,
            "staging_left_bytes": staging,
            "peak_rss_mb": py_peak + jvm_peak,
            "retained_rss_mb": py_now + jvm_now,
            "probes": probes_out,
        }

    def _probe_calls(self) -> dict:
        """Direct calls of two helpers every key leans on."""
        from random_forest_using_hadoop_spark.helpers import local_rows
        from random_forest_using_hadoop_spark.sources import load_table

        lt, lr = [], []
        for _ in range(3):
            for t in self.tables:
                a = time.perf_counter()
                load_table(self.spark, self.data, t)
                lt.append(time.perf_counter() - a)
            a = time.perf_counter()
            local_rows(self.spark, [(i, f"r{i}") for i in range(4)], "id long, v string").collect()
            lr.append(time.perf_counter() - a)
        return {"sources.load_table_s": statistics.median(lt),
                "helpers.local_rows_s": statistics.median(lr)}

    def staged_entries(self) -> list[Path]:
        """Entries this run's calls wrote under the engine's staging root;
        older ones with the same input tag are another run's leftovers."""
        data = getattr(self, "data", None)
        if data is None or not ENGINE_STAGING.is_dir():
            return []
        tag = hashlib.md5(data.encode()).hexdigest()[:8]
        return [
            p for p in ENGINE_STAGING.iterdir()
            if p.name.endswith(f"_{tag}") and p.stat().st_mtime >= self.started_at
        ]

    def _staging_left_bytes(self, run_dir: Path) -> int:
        """Disk left behind by the engine after the final release_caches:
        its staging entries for this input directory, its temp dirs and
        the Spark local dirs. Python and JVM garbage collection run first
        so Spark's cleaner can drop shuffle files of plans no longer
        referenced; the size is read until three reads agree."""
        parts = {"staging": self.staged_entries(), "tmp": [run_dir / "tmp"], "local": [run_dir / "local"]}
        history = []
        for _ in range(16):
            gc.collect()
            self.spark._jvm.System.gc()
            time.sleep(0.25)
            sizes = {k: probes.tree_bytes(v) for k, v in parts.items()}
            history.append(sizes)
            if len(history) >= 4 and all(h == sizes for h in history[-3:]):
                break
        log(f"left on disk: {sizes}")
        return sum(sizes.values())


def end_to_end(res: dict) -> dict:
    lat = [c["wall"] for p in res["passes"] for c in p["calls"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall"] for p in res["passes"]), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "retained_rss_mb": (res["retained_rss_mb"], "MiB"),
    }


_COUNT_LAYERS = {
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_attempts",
    "spark.failed_tasks", "session.cached_rdds",
}
_BYTE_LAYERS = {
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.output_bytes", "driver.write_bytes",
}


def per_layer(res: dict) -> dict:
    """Per-pass sums of each layer counter, median over the timed passes."""
    per_pass = []
    for p in res["passes"]:
        tot: dict[str, float] = {}
        for c in p["calls"]:
            for k, v in c["layers"].items():
                tot[k] = tot.get(k, 0) + v
        tot["session.cached_rdds"] = p["cached_rdds"]
        tot["session.release_caches_s"] = p["release_s"]
        tot["trace.wall_s"] = p["wall"]
        tot["trace.overhead_s"] = p["trace_overhead_s"]
        tot["host.steal_s"] = p["steal_s"]
        per_pass.append(tot)
    out = {k: statistics.median(t[k] for t in per_pass) for k in per_pass[0]}
    attempts = out["spark.task_attempts"]
    out["spark.failed_task_ratio"] = out["spark.failed_tasks"] / attempts if attempts else 0.0
    out["session.peak_rss_mb"] = res["peak_rss_mb"]
    out["session.staging_left_mb"] = res["staging_left_bytes"] / 2**20
    out["session.get_spark_s"] = res["get_spark_s"]
    out["registry.load_all_s"] = res["load_all_s"]
    out["session.warmup_s"] = res["warmup_s"]
    out.update(res["probes"])

    def unit(k: str) -> str:
        if k in _COUNT_LAYERS:
            return "count"
        if k in _BYTE_LAYERS:
            return "bytes"
        if k.endswith("_mb"):
            return "MiB"
        return "ratio" if k.endswith("_ratio") else "s"

    return {k: (v, unit(k)) for k, v in sorted(out.items())}


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        log(f"engine package not found at {PACKAGE}; run from a full checkout")
        return 2

    os.chdir(ROOT)
    sys.path.insert(0, str(HERE))
    run_tmp = WORK / "runs" / str(os.getpid())
    # Engine temp dirs, Spark local dirs and the JVM's java.io.tmpdir all
    # land in the run directory, so the run's leftovers can be measured.
    os.environ["TMPDIR"] = str(run_tmp / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_tmp / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for sub in ("tmp", "local", "jvmtmp"):
        (run_tmp / sub).mkdir(parents=True, exist_ok=True)

    bench = Bench(args.workload, WORKLOADS[args.workload], args.seed, bool(args.trace))
    try:
        res = bench.run(args.seconds)
    finally:
        spark = getattr(bench, "spark", None)
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_tmp, ignore_errors=True)
        # measured already; the engine hard-codes this root outside the checkout
        for entry in bench.staged_entries():
            shutil.rmtree(entry, ignore_errors=True)

    if bench.tracer.enabled:
        bench.tracer.write(
            WORK / "traces" / f"spans-{args.workload}-s{args.seed}.jsonl"
        )
        metrics = per_layer(res)
    else:
        metrics = end_to_end(res)
    n_calls = sum(len(p["calls"]) for p in res["passes"])
    log(
        f"{args.workload} seed={args.seed}: {len(res['passes'])} passes, "
        f"{n_calls} calls in {res['measured_s']:.2f}s "
        f"(host stole {sum(p['steal_s'] for p in res['passes']):.1f} CPU-s); "
        f"failed={bench.failed} {sorted(set(bench.failures))}"
    )
    for p in res["passes"]:
        log("  " + " ".join(f"{c['key']}={c['wall']:.3f}" for c in p["calls"]))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
