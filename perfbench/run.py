"""Survey-engine benchmark: one closed-loop client against ``HBSIREngine``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analyst_reports --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

``--seconds`` is turned into a fixed number of whole rounds of requests (see
``Workload.round_seconds``). ``--trace 0`` measures the end-to-end metrics
with tracing off; ``--trace 1`` runs an untraced half and a traced half and
reports the per-layer metrics (see perfbench/NOTES.md). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it are a readable report and a ``details`` JSON line. The exit code is
non-zero when any operation fails or disagrees with the DuckDB oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

#: driver heap for the benchmark's Spark session (the engine's 16g default
#: does not fit a 15 GiB host); override with HBSIR_SPARK_DRIVER_MEM
DRIVER_MEM = "2g"
#: initial driver heap; the heap grows on demand up to DRIVER_MEM
MIN_HEAP = "64m"
#: fixed young-generation size of the driver heap. Left to G1, eden grows
#: with GC timing and moved peak_rss_mb by 14-19% (quartile spread) between
#: runs; fixed, by about 6%, with the same latency
YOUNG_GEN = "96m"
#: engine builds (cold metadata parse each) whose median enters setup_s
SETUP_REPEATS = 3
#: string hash seed of every run. With randomized hashing, set and dict
#: iteration order inside the engine's plan building changes from process
#: to process, and that moved analyst_reports latency by +-20% between runs
HASH_SEED = "0"

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "ops_per_min": "1/min",
    "rows_per_s": "rows/s", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.action_s": "s",
    "session.input_bytes_per_op": "bytes", "session.shuffle_write_bytes_per_op": "bytes",
    "session.spill_bytes_per_op": "bytes", "session.jobs_per_op": "count",
    "session.stages_per_op": "count", "session.tasks_per_op": "count",
    "metadata.corpus_load_s": "s", "metadata.resolve_s": "s",
    "metadata.resolve_calls_per_op": "count",
    "plans.load_table_s": "s", "plans.load_table_calls_per_op": "count",
    "plans.compile_s": "s", "plans.fingerprint_s": "s",
    "sources.clean_s": "s", "sources.clean_calls_per_op": "count",
    "sources.cache_get_s": "s", "sources.cache_put_s": "s",
    "sources.cache_bytes_written": "bytes", "sources.cache_hit_ratio": "ratio",
    "operators.classification_s": "s", "operators.attribute_s": "s",
    "operators.quantile_s": "s", "operators.weighted_s": "s", "operators.reshape_s": "s",
    "api.verb_s": "s", "api.plan_build_s": "s", "api.plan_share": "ratio",
    "trace.overhead_s": "s",
}


def configure_environment(work: Path) -> dict:
    """Spark settings for a run; everything Spark writes stays in ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))  # what nproc reports
    mem = os.environ.setdefault("HBSIR_SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # replaces the engine's pre-touched fixed heap (-Xms == -Xmx plus
    # AlwaysPreTouch), which would pin the JVM's resident set at the
    # configured size and hide the program's memory use from peak_rss_mb.
    # The heap starts small and grows up to the -Xmx that spark.driver.memory
    # sets; a fixed young generation makes that growth follow retained data
    # rather than G1's pause-time-driven eden sizing. Also a private temp dir
    # and no /tmp perf-data file
    os.environ.setdefault(
        "HBSIR_SPARK_DRIVER_JAVAOPTS",
        f"-Xms{MIN_HEAP} -XX:NewSize={YOUNG_GEN} -XX:MaxNewSize={YOUNG_GEN}"
        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return {"driver_mem": mem, "spark_graft_cpus": int(cpus),
            "javaopts": os.environ["HBSIR_SPARK_DRIVER_JAVAOPTS"]}


def generate_inputs(workload: str, seed: int, size: str) -> dict:
    """Run the generator in its own process (its memory stays out of the
    driver's peak RSS, its time out of setup_s)."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--workload", workload, "--seed", str(seed),
         "--size", size],
        check=True, stdout=subprocess.PIPE, text=True, cwd=ROOT,
    )
    # gen.py prints the input directory as its last line
    input_dir = Path(proc.stdout.strip().splitlines()[-1])
    manifest = json.loads((input_dir / "manifest.json").read_text())
    manifest["generate_s"] = time.perf_counter() - t0
    return manifest


def process_tree_peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over this process and its
    descendants (the Spark driver JVM)."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parents[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def clear_metadata_caches() -> None:
    """Drop the parse-once corpus caches so each engine build parses the
    metadata cold, as a fresh process would."""
    from hbsir_old_spark.metadata import corpus

    for name in ("_parse_package_yaml", "_shared_default_corpus"):
        fn = getattr(corpus, name, None)
        while hasattr(fn, "__wrapped_by_tracer__"):
            fn = fn.__wrapped_by_tracer__
        if hasattr(fn, "cache_clear"):
            fn.cache_clear()


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(latencies: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, samples) at the highest percentile with at least
    ten samples above it; None below twenty samples."""
    n = len(latencies)
    if n < 20:
        return None
    ordered = sorted(latencies)
    return 100.0 * (n - 10) / n, ordered[n - 11], n


class Runner:
    def __init__(self, workload_cls, spark, manifest, work, seed):
        self.w = workload_cls(spark, manifest, work, seed)
        self.i = 0
        self.ops: list[dict] = []

    def run_op(self, tracer=None, counters=None) -> dict:
        op = self.w.next_op(self.i)
        op["index"] = self.i
        self.i += 1
        self.w.before_op(op)
        span = tracer.span if tracer is not None else (lambda layer, name: contextlib.nullcontext())
        if tracer is not None:
            tracer.op = op["index"]
        try:
            with span("bench", "op"):
                t0 = time.perf_counter()
                with span("bench", "plan_build"):
                    df = self.w.plan(op)
                t1 = time.perf_counter()
                with span("session", "action"):
                    op["result"] = self.w.action(df)
                t2 = time.perf_counter()
            op.update(plan_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
            self.w.after_op(op)
        except Exception as exc:  # a failed request is counted, not fatal
            op["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            if tracer is not None:
                tracer.op = None
        if counters is not None:
            op["counters"] = counters.delta()
        self.ops.append(op)
        return op

    def loop(self, seconds: float, **kw) -> list[dict]:
        """Closed loop over the whole rounds that ``seconds`` stands for."""
        w = self.w
        rounds = max(w.min_rounds, round(seconds / w.round_seconds))
        return [self.run_op(**kw) for _ in range(rounds * w.round_ops)]

    def verify(self) -> tuple[int, list[str]]:
        failures = []
        for op in self.ops:
            if "error" in op:
                failures.append(f"op {op['index']}: {op['error']}")
            elif not self.w.check(op, op["result"]):
                failures.append(f"op {op['index']} ({_describe(op)}): result disagrees with the oracle")
        return len(failures), failures


def _describe(op: dict) -> str:
    return ", ".join(f"{k}={op[k]}" for k in ("shape", "table", "years", "overwrite") if k in op)


def end_to_end(ops: list[dict], setup_s: float, rss_mb: float) -> dict:
    ok = [o for o in ops if "latency_s" in o]
    if not ok:
        return {}
    lat = [o["latency_s"] for o in ok]
    busy = sum(lat)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "ops_per_min": 60.0 * len(ok) / busy,
        "rows_per_s": sum(o["rows"] for o in ok) / busy,
        "peak_rss_mb": rss_mb,
    }


def per_layer(tracer, traced: list[dict], untraced: list[dict], setup: dict) -> tuple[dict, dict]:
    ids = {o["index"] for o in traced if "latency_s" in o}
    n = max(len(ids), 1)
    ops_total = sum(o["latency_s"] for o in traced if "latency_s" in o)
    counters = [o.get("counters", {}) for o in traced if o["index"] in ids]

    def per_op(key):
        return sum(c.get(key, 0) for c in counters) / n

    def self_s(layer, name=None):
        return tracer.self_time(layer, name, ids) / n

    gets = tracer.counts["cache_gets"]
    plan_total = tracer.total_time("bench", "plan_build", ids)
    p50 = statistics.median

    out = {
        "session.start_s": setup["session_start_s"],
        "session.action_s": tracer.total_time("session", "action", ids) / n,
        "session.input_bytes_per_op": per_op("input_bytes"),
        "session.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
        "session.spill_bytes_per_op": per_op("spill_bytes"),
        "session.jobs_per_op": per_op("jobs"),
        "session.stages_per_op": per_op("stages"),
        "session.tasks_per_op": per_op("tasks"),
        "metadata.corpus_load_s": setup["corpus_load_s"],
        "metadata.resolve_s": self_s("metadata", "resolve"),
        "metadata.resolve_calls_per_op": len(tracer.matching("metadata", "resolve", ids)) / n,
        "plans.load_table_s": self_s("plans", "load_table"),
        "plans.load_table_calls_per_op": len(tracer.matching("plans", "load_table", ids)) / n,
        "plans.compile_s": self_s("plans", "compile"),
        "plans.fingerprint_s": self_s("plans", "fingerprint"),
        "sources.clean_s": self_s("sources", "clean"),
        "sources.clean_calls_per_op": len(tracer.matching("sources", "clean", ids)) / n,
        "sources.cache_get_s": self_s("sources", "cache_get"),
        "sources.cache_put_s": self_s("sources", "cache_put"),
        "sources.cache_bytes_written": tracer.counts["cache_bytes_written"] / n,
        "sources.cache_hit_ratio": tracer.counts["cache_hits"] / gets if gets else 0.0,
        "operators.classification_s": self_s("operators", "classification"),
        "operators.attribute_s": self_s("operators", "attribute"),
        "operators.quantile_s": self_s("operators", "quantile"),
        "operators.weighted_s": self_s("operators", "weighted"),
        "operators.reshape_s": self_s("operators", "reshape"),
        "api.verb_s": self_s("api"),
        "api.plan_build_s": plan_total / n,
        "api.plan_share": plan_total / ops_total if ops_total else 0.0,
        "trace.overhead_s": (
            p50([o["latency_s"] for o in traced if "latency_s" in o])
            - p50([o["latency_s"] for o in untraced if "latency_s" in o])
        ),
    }
    bases = {
        "sources.cache_hit_ratio": f"{int(tracer.counts['cache_hits'])} hits / {int(gets)} cache gets",
        "api.plan_share": f"plan build {plan_total:.3f} s / operation time {ops_total:.3f} s over {len(ids)} ops",
        "per_op": f"{len(ids)} traced ops",
    }
    return out, bases


def run_one(name: str, seed: int, seconds: float, trace: bool, size: str) -> int:
    from perfbench.workloads import WORKLOADS

    workload_cls = WORKLOADS[name]
    work = WORK / f"run-{name}-s{seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = configure_environment(work)
    manifest = generate_inputs(name, seed, size)

    from hbsir_old_spark import get_spark
    from perfbench import trace as tracing

    tracer = tracing.Tracer() if trace else None
    setup: dict = {}
    t_setup = time.perf_counter()
    spark = get_spark("perfbench")
    setup["session_start_s"] = time.perf_counter() - t_setup
    try:
        if tracer is not None:
            tracing.install(tracer)
        runner = Runner(workload_cls, spark, manifest, work, seed)
        builds, corpus = [], []
        for _ in range(SETUP_REPEATS):
            clear_metadata_caches()
            mark = len(tracer.spans) if tracer else 0
            t0 = time.perf_counter()
            runner.w.build_engine()
            builds.append(time.perf_counter() - t0)
            if tracer is not None:
                corpus.append(sum(s.self_s for s in tracer.spans[mark:] if s.layer == "metadata"
                                  and s.name == "corpus_load"))
        t0 = time.perf_counter()
        warm = [runner.run_op().get("latency_s") for _ in range(runner.w.warmup)]
        warmup_s = time.perf_counter() - t0
        setup["warmup_ops_s"] = warm
        setup.update(engine_build_s=statistics.median(builds), warmup_s=warmup_s,
                     corpus_load_s=statistics.median(corpus) if corpus else None)
        setup_s = setup["session_start_s"] + setup["engine_build_s"] + warmup_s

        if tracer is None:
            measured = runner.loop(seconds)
        else:
            tracer.uninstall()
            untraced = runner.loop(seconds / 2)
            tracing.install(tracer)
            tracer.counts.clear()
            counters = tracing.StageCounters(spark.sparkContext)
            measured = runner.loop(seconds / 2, tracer=tracer, counters=counters)
            tracer.uninstall()
        rss = process_tree_peak_rss_mb()
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)

    failed, failures = runner.verify()
    runner.w.close()
    attempted = len(runner.ops)
    if trace:
        metrics, bases = per_layer(tracer, measured, untraced, setup)
        units = PER_LAYER
        (work / "spans.json").write_text(json.dumps(tracer.dump()))
    else:
        metrics, bases = end_to_end(measured, setup_s, rss), {}
        units = END_TO_END
    ok = [o for o in measured if "latency_s" in o]
    lat = [o["latency_s"] for o in ok]
    details = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace), "size": size,
        **env, "setup": setup, "generate_s": manifest["generate_s"], "measured_ops": len(measured),
        "error_rate": failed / attempted if attempted else None,
        "ops": [[o.get("shape", o.get("table")), o["years"] if len(o["years"]) < 4 else len(o["years"]),
                 round(o["plan_s"], 3), round(o["action_s"], 3)] for o in ok],
        "plan_s_mean": statistics.fmean(o["plan_s"] for o in ok) if ok else None,
        "action_s_mean": statistics.fmean(o["action_s"] for o in ok) if ok else None,
        "bases": bases, "failures": failures[:10],
    }
    t = tail(lat)
    print(f"# workload {name} seed {seed} trace {int(trace)}: {len(measured)} measured ops, "
          f"{attempted} attempted, {failed} failed (error_rate {details['error_rate']:.4f})")
    print(f"# driver heap {env['driver_mem']}, SPARK_GRAFT_CPUS={env['spark_graft_cpus']}")
    for key, value in metrics.items():
        print(f"#   {key:36s} {value:14.6g} {units[key]}")
    if t is not None and not trace:
        print(f"#   op_tail_s (p{t[0]:.1f}, {t[2]} samples, 10 beyond) {t[1]:.6g} s")
    print("details " + json.dumps(details, default=str))
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_all(seed: int, seconds: float, trace: bool, size: str) -> int:
    """Every workload, each in its own process; non-zero if any failed."""
    from perfbench.workloads import WORKLOADS

    code, summary = 0, {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", name, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(int(trace)), "--size", size],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        code = code or proc.returncode
        try:
            summary[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            summary[name] = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
            code = code or 1
    print(json.dumps(summary))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Survey-engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace), args.size)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.size)


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main())
