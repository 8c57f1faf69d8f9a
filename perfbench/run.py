"""Engine benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 24 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):
  market_bars   short finance dataflow queries (per-query floor)
  corpus_dedup  long multi-stage LLM-data queries (barriers, shuffles, UDFs)
  etl_upsert    DML commits through operators.io_sinks, with reads in between

The run generates its inputs from --seed under .perfbench_work/ in the
checkout, starts the engine session (`get_spark`, local[nproc]), warms it
with one full pass, then times a fixed number of passes. Every output is
checked against DuckDB outside the timed calls. With --trace 0 the last
stdout line carries the end-to-end metrics; with --trace 1 it carries the
per-layer metrics, and the spans and per-operation records are written to
.perfbench_out/. The exit code is non-zero when any check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("market_bars", "corpus_dedup", "etl_upsert")
# One warm-up pass pays the one-time costs (JVM class loading, code
# generation, Python worker start-up). The JIT stops at its first tier: with
# the default second tier the compile backlog kept per-pass CPU falling by a
# quarter per pass for five passes and more, longer than a run can wait, and
# the spread across runs reached 0.2; synchronous compilation (-Xbatch) made
# the warm-up pass 69 s and CPU per pass still halved over the next six. With
# C1 only, CPU per pass is flat from the first timed pass.
WARMUP_PASSES = 1
JIT = "-XX:TieredStopAtLevel=1"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal measuring time; sets the number of timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "warehouse", "tmp", "jtmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    # -XX:-UsePerfData: a JVM keeps its perf-data file in /tmp whatever
    # java.io.tmpdir says (the launcher JVM of spark-submit too).
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={dirs["jtmp"]} -XX:-UsePerfData {JIT}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def import_engine():
    """The engine must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import financedatabase_spark
        from financedatabase_spark.session import get_spark
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import the engine from {ROOT}: {exc}")
    if not os.path.abspath(financedatabase_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: engine imported from outside the checkout: "
                 f"{financedatabase_spark.__file__}")
    return get_spark


class Op:
    def __init__(self, idx: int) -> None:
        self.idx, self.ok, self.built, self.result = idx, False, None, None


class Runner:
    """Times operations, one job group per operation and phase. In traced
    passes it also reads the status store after each phase and records
    spans; checks run through `check`, whose time is kept out of pass_s."""

    def __init__(self, spark, workload: str, traced_run: bool) -> None:
        from probes import Py4JCounter, Spans, StatusReader, tree_cpu_s, tree_pids

        self.tree_cpu_s, self.tree_pids = tree_cpu_s, tree_pids

        self.sc = spark.sparkContext
        self.workload = workload
        self.spans = Spans()
        self.status = StatusReader(spark) if traced_run else None
        self.py4j = Py4JCounter(self.sc) if traced_run else None
        self.records: list[dict] = []
        self.failures: dict[int, str] = {}
        self.passes: list[dict] = []

    @contextlib.contextmanager
    def run_pass(self, label: str, traced: bool):
        self.traced = traced
        self.label = label
        self.aside_s = self.aside_cpu_s = 0.0
        self.pass_span = self.spans.open(f"pass:{label}", None, None)
        self.pids = self.tree_pids()
        t0, c0 = time.perf_counter(), self.tree_cpu_s(self.pids)
        yield
        wall = time.perf_counter() - t0
        self.pids = self.tree_pids()  # workers started during the pass count too
        cpu = self.tree_cpu_s(self.pids) - c0
        self.spans.close(self.pass_span)
        self.passes.append({"label": label, "traced": traced,
                            "seconds": wall - self.aside_s, "cpu_s": cpu - self.aside_cpu_s,
                            "aside_s": self.aside_s})

    @contextlib.contextmanager
    def aside(self):
        """Benchmark-side work inside a pass (input preparation, checks):
        its wall and CPU time are kept out of the pass figures."""
        t0, c0 = time.perf_counter(), self.tree_cpu_s(self.pids)
        try:
            yield
        finally:
            self.aside_cpu_s += self.tree_cpu_s(self.pids) - c0
            self.aside_s += time.perf_counter() - t0

    def op(self, name: str, kind: str, execute, build=None) -> Op:
        op = Op(len(self.records))
        rec = {"op": op.idx, "name": name, "kind": kind, "pass": self.label,
               "traced": self.traced, "latency_s": 0.0}
        self.records.append(rec)
        span = self.spans.open(name, self.pass_span, op.idx)
        try:
            if build is not None:
                op.built = self._phase(rec, span, "build", build)
            op.result = self._phase(rec, span, "exec" if kind == "read" else "commit",
                                    lambda: execute(op.built))
            op.ok = True
        except Exception as exc:  # a failed operation is counted, the loop goes on
            self.fail(op.idx, f"{name} raised {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            self.spans.close(span)
        if self.traced and self.status is not None:
            rec["live_ckpt_rdds"], rec["live_ckpt_bytes"] = self.status.live_checkpoints()
        return op

    def _phase(self, rec: dict, parent: int, phase: str, fn):
        group = f"{self.workload}:{rec['op']}:{phase}"
        self.sc.setJobGroup(group, f"{rec['name']} {phase}")
        calls0 = self.py4j.n if self.py4j else 0
        if self.traced and self.status is not None:
            self.status.mark()
        span = self.spans.open(phase, parent, rec["op"])
        w0, t0 = time.time(), time.perf_counter()
        try:
            return fn()
        finally:
            dt = time.perf_counter() - t0
            w1 = time.time()
            self.spans.close(span)
            rec[f"{phase}_s"] = dt
            rec["latency_s"] += dt
            if self.traced and self.status is not None:
                rec[f"{phase}_py4j_calls"] = self.py4j.n - calls0
                rec[phase] = self.status.group_stats(group, w0, w1)

    @contextlib.contextmanager
    def check(self, idx: int):
        span = self.spans.open("check", self.pass_span, idx)
        try:
            with self.aside():
                yield
        except Exception as exc:  # a check that cannot run is a failed check
            self.fail(idx, f"check raised {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            self.spans.close(span)

    def fail(self, idx: int, msg: str) -> None:
        if idx not in self.failures:
            self.failures[idx] = msg
            print(f"perfbench: FAILED op {idx}: {msg}", file=sys.stderr, flush=True)

    def note(self, idx: int, **fields) -> None:
        self.records[idx].update(fields)


# -- metrics -------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it: (value, percentile, n). With fewer than 20 samples no percentile
    above the median qualifies, and the maximum is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics, as BENCHMARK.json
    declares them; the run reports exactly these metrics."""
    with open(SPEC) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def end_to_end(runner: Runner, timed: list[dict], setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """End-to-end figures from the untraced timed passes."""
    reads = [r["latency_s"] for r in timed if r["kind"] == "read" and not r["traced"]]
    commits = [r["latency_s"] for r in timed if r["kind"] == "commit" and not r["traced"]]
    timed_passes = [p for p in runner.passes if p["label"] != "warmup" and not p["traced"]]
    passes = [p["seconds"] for p in timed_passes]
    cpu = [p["cpu_s"] for p in timed_passes]
    out = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "pass_cpu_s": statistics.median(cpu),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": tail(reads)[0],
        "peak_rss_mb": peak_rss / 2**20,
    }
    extra = {"read_tail_pct": tail(reads)[1], "read_samples": len(reads)}
    if commits:
        extra.update(commit_p50_s=statistics.median(commits), commit_tail_s=tail(commits)[0],
                     commit_tail_pct=tail(commits)[1], commit_samples=len(commits))
    return out, extra


LAYER_SUMS = {
    # metric: (phase, stats key) summed per traced pass
    "plans.build_jobs": ("build", "jobs"),
    "operators.jobs": ("run", "jobs"),
    "operators.stages": ("run", "stages"),
    "operators.tasks": ("run", "tasks"),
    "operators.driver_gap_s": ("run", "driver_gap_s"),
    "operators.stage_wait_s": ("run", "stage_wait_s"),
    "operators.task_run_s": ("run", "task_run_s"),
    "operators.task_cpu_s": ("run", "task_cpu_s"),
    "operators.shuffle_write_bytes": ("run", "shuffle_write_bytes"),
    "operators.shuffle_read_bytes": ("run", "shuffle_read_bytes"),
    "operators.spill_bytes": ("run", "spill_bytes"),
    "operators.failed_tasks": ("all", "failed_tasks"),
    "sources.input_bytes": ("run", "input_bytes"),
    "sources.input_records": ("run", "input_records"),
    "functions.py_udf_run_s": ("all", "py_udf_run_s"),
    "functions.py_udf_bytes": ("all", "py_udf_bytes"),
    "io_sinks.write_stage_s": ("commit", "write_job_s"),
    "io_sinks.guard_scan_s": ("commit", "scan_job_s"),
}
PHASES = {"build": ("build",), "run": ("exec", "commit"), "commit": ("commit",),
          "all": ("build", "exec", "commit")}


def per_layer(runner: Runner, timed: list[dict], cores: int, amp: dict) -> dict:
    traced = [r for r in timed if r["traced"]]
    n_pass = max(1, len({r["pass"] for r in traced}))

    def total(phases, key):
        return sum(r[ph][key] for r in traced for ph in phases if ph in r) / n_pass

    out = {name: total(PHASES[ph], key) for name, (ph, key) in LAYER_SUMS.items()}
    out["plans.build_s"] = sum(r.get("build_s", 0.0) for r in traced) / n_pass
    out["plans.py4j_calls"] = sum(r.get("build_py4j_calls", 0) for r in traced) / n_pass
    run_s = sum(r.get("exec_s", 0.0) + r.get("commit_s", 0.0) for r in traced) / n_pass
    out["operators.exec_s"] = run_s
    out["operators.slot_idle_frac"] = (
        1.0 - out["operators.task_run_s"] / (run_s * cores) if run_s > 0 else 0.0)
    tasks = out["operators.tasks"]
    out["operators.records_per_task"] = (
        (out["sources.input_records"] + total(PHASES["run"], "shuffle_read_records")) / tasks
        if tasks else 0.0)
    last = traced[-1] if traced else {}
    out["session.live_ckpt_rdds"] = last.get("live_ckpt_rdds", 0)
    out["session.live_ckpt_bytes"] = last.get("live_ckpt_bytes", 0)

    commits = [r for r in timed if r["kind"] == "commit"]
    tc = [r for r in commits if r["traced"] and "commit" in r]
    out["io_sinks.jobs_per_commit"] = _mean([r["commit"]["jobs"] for r in tc])
    out["io_sinks.bytes_scanned_per_commit"] = _mean([r["commit"]["input_bytes"] for r in tc])
    out["io_sinks.bytes_written"] = _mean([r.get("bytes_written", 0) for r in commits])
    out["io_sinks.files_written"] = _mean([r.get("files_written", 0) for r in commits])
    out["io_sinks.table_bytes"] = commits[-1].get("table_bytes", 0) if commits else 0
    out["io_sinks.table_files"] = commits[-1].get("table_files", 0) if commits else 0
    lat = [r["latency_s"] for r in commits]
    out["io_sinks.commit_p50_s"] = statistics.median(lat) if lat else 0.0
    out["io_sinks.commit_tail_s"] = tail(lat)[0] if lat else 0.0
    out["io_sinks.write_amp"] = amp.get("write_amp", 0.0)
    out["io_sinks.space_amp"] = amp.get("space_amp", 0.0)
    plain = [p["seconds"] for p in runner.passes if p["label"] != "warmup" and not p["traced"]]
    with_trace = [p["seconds"] for p in runner.passes if p["traced"]]
    out["trace.overhead_s"] = (statistics.median(with_trace) - statistics.median(plain)
                               if plain and with_trace else 0.0)
    return out


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def reference_table(timed: list[dict], duck_s: dict[str, float]) -> tuple[list[dict], float | None]:
    """Per-query layer table from the traced passes, plus the geomean of
    Spark latency / DuckDB oracle time (a reference figure, not a metric)."""
    rows, ratios = [], []
    for name in sorted({r["name"] for r in timed if r["kind"] == "read"}):
        rs = [r for r in timed if r["name"] == name]
        tr = [r for r in rs if r["traced"] and "exec" in r]
        lat = statistics.median(r["latency_s"] for r in rs)
        row = {"query": name, "latency_s": lat,
               "build_s": statistics.median(r.get("build_s", 0.0) for r in rs),
               "exec_s": statistics.median(r.get("exec_s", 0.0) for r in rs)}
        if tr:
            r = tr[-1]
            row.update(
                jobs=r.get("build", {}).get("jobs", 0) + r["exec"]["jobs"],
                stages=r.get("build", {}).get("stages", 0) + r["exec"]["stages"],
                shuffle_bytes=r["exec"]["shuffle_write_bytes"] + r["exec"]["shuffle_read_bytes"],
                spill_bytes=r["exec"]["spill_bytes"],
                live_ckpt_bytes=r.get("live_ckpt_bytes", 0),
            )
        if name in duck_s and duck_s[name] > 0:
            row["duckdb_s"] = duck_s[name]
            row["vs_duckdb"] = lat / duck_s[name]
            ratios.append(row["vs_duckdb"])
        rows.append(row)
    geo = math.exp(sum(map(math.log, ratios)) / len(ratios)) if ratios else None
    return rows, geo


def _steal_s() -> float:
    """CPU time the hypervisor took from this VM (all CPUs), from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to stop: kill and reap
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    e2e_units, layer_units = declared_units()
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.path.insert(0, HERE)
    import numpy as np

    import datagen
    import workloads
    from probes import RssSampler, wakeup_us

    wakeup = [wakeup_us()]

    wl = workloads.make(args.workload)
    data_dir = os.path.join(work, "data")
    inputs = datagen.generate(data_dir, args.seed, **wl.data_kw)
    # The run length is a pass count, so both sides of a comparison do the
    # same work; a traced run adds as many traced passes, interleaved.
    passes = max(1, round(args.seconds / wl.pass_seconds))

    t_setup = time.perf_counter()
    get_spark = import_engine()
    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    ctx = SimpleNamespace(spark=spark, data_dir=data_dir, work=work, seed=args.seed,
                          rng=np.random.default_rng(args.seed))
    try:
        runner = Runner(spark, args.workload, traced_run=bool(args.trace))
        wl.setup(ctx)
        for w in range(WARMUP_PASSES):
            with runner.run_pass("warmup", traced=False):
                wl.run_pass(ctx, runner, -1 - w)
        setup_s = time.perf_counter() - t_setup - sum(
            p["aside_s"] for p in runner.passes if p["label"] == "warmup")
        first_timed = len(runner.records)
        steal0 = _steal_s()
        with RssSampler() as rss:
            for p in range(passes * (1 + args.trace)):
                with runner.run_pass(str(p), traced=bool(args.trace) and p % 2 == 1):
                    wl.run_pass(ctx, runner, p)
        t_timed = time.perf_counter()
        steal_s = _steal_s() - steal0
        wl.finish(ctx, runner)
        timed = runner.records[first_timed:]
        cores = spark.sparkContext.defaultParallelism
        e2e, extra = end_to_end(runner, timed, setup_s, rss.peak_bytes)
        amp = wl.amplification()
        layers = per_layer(runner, timed, cores, amp) if args.trace else None
        ref = wl.reference()
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    t_end = time.perf_counter()
    wakeup.append(wakeup_us())
    print(f"perfbench: wall {t_end - T_PROCESS:.1f} s = inputs {t_setup - T_PROCESS:.1f} + "
          f"session {t_session - t_setup:.1f} + warm-up {t_setup + setup_s - t_session:.1f} + "
          f"timed {t_timed - t_setup - setup_s:.1f} + final checks {t_stop - t_timed:.1f} + "
          f"stop {t_end - t_stop:.1f}; cpu steal during timed passes {steal_s:.1f} s; "
          f"process wake-up round trip {wakeup[0]:.1f}/{wakeup[1]:.1f} us before/after",
          file=sys.stderr, flush=True)

    attempted = len(runner.records)
    failed = len(runner.failures)
    row = " ".join(f"{k}={v:.4g} {e2e_units[k]}" for k, v in e2e.items())
    row += f" read_tail=p{extra['read_tail_pct']:.0f}/n={extra['read_samples']}"
    if "commit_p50_s" in extra:
        u = {k.split(".", 1)[1]: v for k, v in layer_units.items() if k.startswith("io_sinks.")}
        row += (f" commit_p50_s={extra['commit_p50_s']:.4g} {u['commit_p50_s']} commit_tail_s="
                f"{extra['commit_tail_s']:.4g} {u['commit_tail_s']} "
                f"(p{extra['commit_tail_pct']:.0f}/n={extra['commit_samples']})")
        row += (f" write_amp={amp['write_amp']:.4g} {u['write_amp']}"
                f" space_amp={amp['space_amp']:.4g} {u['space_amp']}")
    row += f" failed_frac={failed / attempted:.4g} ratio ({failed}/{attempted})"
    print(f"{args.workload} seed={args.seed} passes={passes}: {row}", flush=True)

    table, geo = reference_table(timed, ref)
    if args.trace:
        for r in table:
            print("  " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                  for k, v in r.items()))
        if geo is not None:
            print(f"  geomean latency vs DuckDB oracle: {geo:.3f}x over {len(ref)} queries")
        print("  layers: " + " ".join(f"{k}={v:.4g}" for k, v in layers.items()))
        values, units = layers, layer_units
    else:
        values, units = e2e, e2e_units
    if set(values) != set(units):
        sys.exit(f"perfbench: metrics {sorted(set(values) ^ set(units))} are reported "
                 f"but not declared in BENCHMARK.json, or declared but not reported")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "inputs": inputs, "wakeup_us": wakeup,
                   "steal_s": steal_s, "passes": runner.passes, "ops": runner.records,
                   "spans": runner.spans.rows, "reference": table,
                   "geomean_vs_duckdb": geo, "failures": runner.failures}, f, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
