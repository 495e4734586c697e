#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client runs a named workload of
catalog queries on ``local[$(nproc)]`` and prints every metric by name and
unit.

    python3 benchmark/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads (``WORKLOADS``), both one client in a closed loop:

- ``olap``: eight relational catalog queries (scan/filter/aggregate,
  3-way join, window top-k, set ops, as-of and range joins, tumbling
  windows, prefix scan), each run into the ``noop`` sink. Loads
  ``sources`` scans, ``operators.*`` and Catalyst planning; it never calls
  ``llm``, so it is the case that bypasses LLM work.
- ``llm_pipeline``: MinHash dedup, prefix-filtered Jaccard, cosine top-k
  and duplicated spans into the ``noop`` sink, then the deduplicated
  corpus (``q88_dedup_survivors``) written with
  ``sources.writers.write_parquet`` into a fresh directory every pass.
  Loads ``llm.{dedup,similarity,cluster}`` and ``functions.text``, the
  eager persist/checkpoint jobs inside the query builders, and the write
  path.

The seed sets only the generated values (``datagen``). Row counts,
distribution parameters, query order and the number of passes are the
same for every seed, so every seed does the same work.

One run: generate the inputs, then start a fresh Python process (the
*measured process*: its own Spark driver and gateway JVM) that builds
the session with ``session.build_session``'s defaults, imports the
catalog with ``catalog.load_all``, runs one cold pass, then
``WARM_PASSES`` warm passes. In every pass each query is built with its
``QuerySpec.fn``, its executed plan is forced, it runs into the ``noop``
sink under an ``Observation`` that fingerprints its rows (count and a sum
of row hashes), and the cache is cleared. After the passes, outside the
timed region, the measured process checks that every warm pass's
fingerprints equal the cold pass's, that the written corpus reads back
with the fingerprint it was written with, and, for every query, that
``tests/oracle_utils.compare_query`` finds the result equal to its DuckDB
oracle on a small input generated from the same seed. A mismatch counts
as failed, makes ``correct`` false and the exit code 1.

End-to-end metrics (``--trace 0``): ``setup_s`` (launch of the measured
process to the end of its cold pass: ``build_session``, ``load_all`` and
the cold pass; input generation and the gate are outside it), ``pass_s``
(median wall time of the warm passes) and ``pass_cpu_s`` (median CPU
seconds of the whole process tree per warm pass: Python driver, JVM and
Python workers, with the CPU of reaped children). ``--trace 1`` first
makes the same untraced run, then a second measured process with the
same seed, the same pass count and Spark's event log on, and prints the
per-layer metrics (``PER_LAYER``) of the traced process, including
``trace.overhead_s`` (traced minus untraced ``pass_s``). The span tree
of the traced process goes to ``.bench_out/``.

Stdout: one JSON line per metric or context item, then the result object
``{"correct", "attempted", "failed", "metrics"}`` as the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import datagen  # noqa: E402
import telemetry  # noqa: E402

# ``layer`` names the per-layer ``<layer>.exec_s`` metric the workload's
# noop executions count towards; ``write`` is the query written with
# ``write_parquet`` each pass. Input sizes keep a whole run near 55 s on 4
# cores (JVM start and cold pass alone take about 25 s): most of a warm
# pass is per-job and per-query overhead, and a larger input mostly buys
# fewer warm passes, while a smaller one flattens the warm-up curve.
WORKLOADS = {
    "olap": {
        "queries": [
            "q01_pricing_summary",
            "q07_join_3way_revenue",
            "q22_topk_per_customer",
            "q05_set_ops",
            "q12_asof_click_view",
            "q13_range_join_tiers",
            "q34_tumbling_window",
            "q280_running_revenue",
        ],
        "write": None,
        "layer": "operators",
        "scale": {"sf": 0.02, "n_docs": 100, "n_vecs": 100},
    },
    "llm_pipeline": {
        "queries": [
            "q40_dedup_minhash",
            "q112_jaccard_prefix_filter",
            "q43_cosine_topk",
            "q209_duplicated_spans",
        ],
        "write": "q88_dedup_survivors",
        "layer": "llm",
        "scale": {"sf": 0.001, "n_docs": 200, "n_vecs": 200},
    },
}
# the oracle gate's input, generated from the run's seed
GATE_SCALE = {"sf": 0.002, "n_docs": 60, "n_vecs": 60}
GATE_THREADS = 4
# a fixed count, never a time window, so every run compares passes at the
# same point of the JVM's warm-up
WARM_PASSES = 4

END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "session.build_s": "s",
    "catalog.load_s": "s",
    "cold.exec_s": "s",
    "queries.build_s": "s",
    "plans.plan_s": "s",
    "operators.exec_s": "s",
    "llm.exec_s": "s",
    "sources.write_s": "s",
    "sources.output_bytes": "bytes",
    "sources.output_files": "count",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.driver_only_s": "s",
    "exec.core_util": "ratio",
    "cpu.task_s": "s",
    "cpu.jit_s": "s",
    "cpu.gc_s": "s",
    "cpu.jvm_other_s": "s",
    "cpu.py_driver_s": "s",
    "cpu.py_worker_s": "s",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_rss_mb": "MB",
    "mem.py_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
CPU_ROLES = ("task", "jit", "gc", "jvm_other", "py_driver", "py_worker")


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


# --- the measured process ------------------------------------------------------


def fingerprint(df):
    """``df`` under an ``Observation`` that counts its rows and sums a hash
    of each; the pair is read with ``.get`` after the action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    row_hash = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]), F.lit(2**31 - 1))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash")), obs


def gate(spark, catalog: dict, names: list[str], data_dir: str) -> list[str]:
    """Names of the queries whose result on ``data_dir`` differs from
    their DuckDB oracle, or that failed to run."""
    sys.path.insert(0, str(REPO / "tests"))
    from oracle_utils import compare_query

    def check(name: str) -> bool:
        spec = catalog[name]
        try:
            compare_query(spark, name, spec.fn, spec.oracle, data_dir)
            return True
        except Exception:  # a wrong or failed query counts as failed
            traceback.print_exc()
            return False

    # the queries are independent: checking them side by side lets the
    # small gate jobs share the cores
    with ThreadPoolExecutor(GATE_THREADS) as pool:
        oks = list(pool.map(check, names))
    spark.catalog.clearCache()
    for name, ok in zip(names, oks):
        emit({"gate": name, "ok": ok})
    return [name for name, ok in zip(names, oks) if not ok]


def unsteady(cold: dict, warm: list[dict]) -> list[str]:
    """``<query>:fingerprint`` for each query whose result in some warm
    pass differs from its result in the cold pass."""
    def fps(p: dict) -> dict:
        out = {name: q["fp"] for name, q in p["queries"].items()}
        if p["written"]:
            out[p["written"]["name"]] = p["written"]["fp"]
        return out

    bad = []
    for name, fp in fps(cold).items():
        ok = all(fps(p)[name] == fp for p in warm)
        emit({"gate": f"{name}:fingerprint", "ok": ok, "fingerprint": fp})
        if not ok:
            bad.append(f"{name}:fingerprint")
    return bad


class Measured:
    """The measured process: one session, a cold pass and the warm passes."""

    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.tracer = telemetry.Tracer()
        self.spark = self.catalog = self.ledger = None
        self.executions = 0

    def _conf(self) -> dict[str, str]:
        work = self.spec["work"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        }
        if self.spec["trace"]:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.spec["event_log"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def query(self, name: str) -> dict:
        fn = self.catalog[name].fn
        with self.tracer.span("query", query=name):
            with self.tracer.span("build") as b:
                df = fn(self.spark, self.spec["data_dir"])
            df, obs = fingerprint(df)
            with self.tracer.span("plan") as p:
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("exec") as e:
                df.write.format("noop").mode("overwrite").save()
            self.spark.catalog.clearCache()
        self.executions += 1
        return {"build": b.dur, "plan": p.dur, "exec": e.dur, "fp": list(obs.get.values())}

    def write(self, name: str, label: str) -> dict:
        from dbkit_spark.sources.writers import write_parquet

        out = f"{self.spec['work']}/out/{label}"
        with self.tracer.span("query", query=name):
            with self.tracer.span("build") as b:
                df = self.catalog[name].fn(self.spark, self.spec["data_dir"])
            df, obs = fingerprint(df)
            with self.tracer.span("write") as w:
                write_parquet(df, out)
            self.spark.catalog.clearCache()
        self.executions += 1
        files = [f for f in Path(out).iterdir() if f.name.startswith("part-")]
        return {"name": name, "build": b.dur, "write": w.dur, "fp": list(obs.get.values()),
                "out": out, "bytes": sum(f.stat().st_size for f in files), "files": len(files)}

    def run_pass(self, label: str) -> dict:
        cpu0 = self.ledger.snapshot()
        with self.tracer.span("pass", label=label) as ps:
            queries = {q: self.query(q) for q in self.spec["queries"]}
            written = self.write(self.spec["write"], label) if self.spec["write"] else None
        cpu1 = self.ledger.snapshot()
        return {"label": label, "wall": ps.dur, "start": ps.start, "end": ps.end,
                "queries": queries, "written": written,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}}

    def readback_ok(self, written: dict) -> bool:
        """The written corpus reads back with the fingerprint it was
        written with."""
        df, obs = fingerprint(self.spark.read.parquet(written["out"]))
        df.write.format("noop").mode("overwrite").save()
        ok = list(obs.get.values()) == written["fp"]
        emit({"gate": f"{self.spec['write']}:readback", "ok": ok})
        return ok

    def run(self) -> dict:
        from pyspark import SparkContext

        from dbkit_spark.session import build_session, default_parallelism

        spec = self.spec
        with self.tracer.span("session.build") as sb:
            self.spark = build_session(app_name=f"bench-{spec['workload']}", extra_conf=self._conf())
        self.ledger = telemetry.CpuLedger(SparkContext._gateway.proc.pid)
        with self.tracer.span("catalog.load") as cl:
            from dbkit_spark.catalog import load_all

            self.catalog = load_all()
        with telemetry.Sampler(self.ledger) if spec["trace"] else nullcontext() as sampler:
            cold = self.run_pass("cold")
            setup_s = time.monotonic() - spec["launched"]
            warm = [self.run_pass(f"warm{i}") for i in range(spec["passes"])]

        names = spec["queries"] + ([spec["write"]] if spec["write"] else [])
        with self.tracer.span("gate") as g:
            bad = unsteady(cold, warm)
            if spec["write"] and not self.readback_ok(warm[-1]["written"]):
                bad.append(f"{spec['write']}:readback")
            checks = len(names) + bool(spec["write"])
            if spec["gate_dir"]:
                bad += gate(self.spark, self.catalog, names, spec["gate_dir"])
                checks += len(names)
        self.spark.stop()
        return {
            "setup_s": setup_s,
            "gate_s": g.dur,
            "session.build_s": sb.dur,
            "catalog.load_s": cl.dur,
            "cold": cold,
            "warm": warm,
            "cores": default_parallelism(),
            "peak": sampler.peak if sampler else None,
            "attempted": self.executions + checks,
            "bad": bad,
        }


def stop_jvm() -> None:
    """Stop the SparkContext and end its gateway JVM: EOF on the JVM's
    stdin makes it run its shutdown hooks and exit."""
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:  # the JVM is ended below either way
        traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def measured_main(spec: dict) -> int:
    sys.path.insert(0, str(REPO))
    telemetry.adopt_orphans()
    m = Measured(spec)
    try:
        result = m.run()
        if spec["trace"]:
            Path(spec["spans"]).parent.mkdir(exist_ok=True)
            m.tracer.dump(spec["spans"])
    finally:
        stop_jvm()
        telemetry.reap_children()
    print(json.dumps({"measured": result}), flush=True)
    return 0


# --- the benchmark process -------------------------------------------------------


def measure(spec: dict) -> dict | None:
    """Run one measured process; its result, or None if it failed."""
    spec = {**spec, "launched": time.monotonic()}
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--measured", json.dumps(spec)],
        stdout=subprocess.PIPE, text=True, cwd=REPO,
    )
    result = None
    try:
        for line in proc.stdout:
            obj = json.loads(line) if line.startswith("{") else None
            if obj and "measured" in obj:
                result = obj["measured"]
            elif obj:
                emit({**obj, "trace": spec["trace"]})
            else:
                sys.stderr.write(line)
    except BaseException:
        proc.terminate()
        raise
    finally:
        rc = proc.wait()
    return result if rc == 0 else None


def _median(passes: list[dict], value) -> float:
    return statistics.median(value(p) for p in passes)


def per_layer(spec: dict, traced: dict, untraced_pass_s: float) -> dict[str, float]:
    warm = traced["warm"]
    layer = {k: traced[k] for k in ("session.build_s", "catalog.load_s")}
    layer["cold.exec_s"] = traced["cold"]["wall"]
    written = [p["written"] or {} for p in warm]
    layer["queries.build_s"] = _median(warm, lambda p: sum(q["build"] for q in p["queries"].values())
                                       + (p["written"] or {}).get("build", 0.0))
    layer["plans.plan_s"] = _median(warm, lambda p: sum(q["plan"] for q in p["queries"].values()))
    exec_s = _median(warm, lambda p: sum(q["exec"] for q in p["queries"].values()))
    layer["operators.exec_s"] = exec_s if spec["layer"] == "operators" else 0.0
    layer["llm.exec_s"] = exec_s if spec["layer"] == "llm" else 0.0
    layer["sources.write_s"] = statistics.median(w.get("write", 0.0) for w in written)
    layer["sources.output_bytes"] = statistics.median(w.get("bytes", 0) for w in written)
    layer["sources.output_files"] = statistics.median(w.get("files", 0) for w in written)
    events = telemetry.read_event_log(spec["event_log"])
    counters = [telemetry.exec_counters(events, p["start"], p["end"], traced["cores"]) for p in warm]
    for k in counters[0]:
        layer[k] = statistics.median(c[k] for c in counters)
    for role in CPU_ROLES:
        layer[f"cpu.{role}_s"] = _median(warm, lambda p: p["cpu"][role])
    layer["mem.peak_rss_mb"] = traced["peak"]["tree"]
    layer["mem.jvm_rss_mb"] = traced["peak"]["jvm"]
    layer["mem.py_rss_mb"] = traced["peak"]["py"]
    layer["trace.pass_s"] = _median(warm, lambda p: p["wall"])
    layer["trace.overhead_s"] = layer["trace.pass_s"] - untraced_pass_s
    return layer


def noise() -> dict:
    return {"loadavg1": telemetry.loadavg1(), "steal_s": telemetry.steal_s()}


def run(args: argparse.Namespace) -> int:
    if not (REPO / "dbkit_spark").is_dir() or not (REPO / "tests" / "oracle_utils.py").is_file():
        print("benchmark: dbkit_spark/ or tests/oracle_utils.py not found next to "
              "benchmark/; run from a full checkout", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = REPO / ".bench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "out", "eventlog"):
        (work / sub).mkdir(parents=True)
    telemetry.adopt_orphans()
    # keep every scratch file of Python, Spark and the JVM inside the run
    # directory (-XX:-UsePerfData: no /tmp/hsperfdata_* files)
    env = {
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        return _run(args, wl, work)
    finally:
        telemetry.reap_children()
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, wl: dict, work: Path) -> int:
    before = noise()
    datagen.generate(str(work / "data"), args.seed, **wl["scale"])
    datagen.generate(str(work / "gate"), args.seed, **GATE_SCALE)
    spec = {
        "workload": args.workload,
        "queries": wl["queries"],
        "write": wl["write"],
        "layer": wl["layer"],
        "passes": WARM_PASSES,
        "work": str(work),
        "data_dir": str(work / "data"),
        "gate_dir": str(work / "gate"),
        "event_log": str(work / "eventlog"),
        "spans": str(REPO / ".bench_out" / f"spans-{args.workload}-seed{args.seed}.json"),
        "trace": 0,
    }
    untraced = measure(spec)
    # the traced process repeats the passes, not the oracle gate
    traced = measure({**spec, "trace": 1, "gate_dir": None}) if args.trace and untraced else None
    after = noise()
    emit({"context": "noise", "loadavg1_start": before["loadavg1"],
          "loadavg1_end": after["loadavg1"], "steal_s": after["steal_s"] - before["steal_s"]})

    runs = [r for r in (untraced, traced) if r]
    attempted = max(1, sum(r["attempted"] for r in runs))
    bad = [b for r in runs for b in r["bad"]]
    failed = len(bad) + (untraced is None) + (bool(args.trace) and traced is None)
    metrics = {}
    if untraced:
        warm = untraced["warm"]
        e2e = {
            "setup_s": untraced["setup_s"],
            "pass_s": _median(warm, lambda p: p["wall"]),
            "pass_cpu_s": _median(warm, lambda p: p["cpu"]["total"]),
        }
        for name, unit in END_TO_END.items():
            emit({"metric": name, "value": e2e[name], "unit": unit, "n": 1 if name == "setup_s" else len(warm)})
        emit({"context": "passes", "wall_s": [p["wall"] for p in warm],
              "cpu_s": [p["cpu"]["total"] for p in warm], "cold_s": untraced["cold"]["wall"],
              "gate_s": untraced["gate_s"], "seconds_requested": args.seconds})
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if traced:
            layer = per_layer(spec, traced, e2e["pass_s"])
            for name, unit in PER_LAYER.items():
                emit({"layer": name, "value": layer[name], "unit": unit})
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    correct = not failed
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, help="accepted for the harness; the pass count is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--measured", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.measured is None and (args.workload is None or args.seed is None):
        ap.error("--workload and --seed are required")
    return args


if __name__ == "__main__":
    # a SIGTERM unwinds through the clean-up like an exception
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    a = parse_args()
    sys.exit(measured_main(json.loads(a.measured)) if a.measured else run(a))
