"""spark-jonesy benchmark: nightly jobs and the graph/ANN registry rows.

    python3 perfbench/run.py --workload sis_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

Run from the repository root. Each run writes the seed's inputs (once
per seed, untimed) under ``.perfbench_cache/``, then starts one fresh
``local[4]`` worker process (``perfbench/worker.py``) that sets up a
session and runs the workload's passes. A run whose timed windows lost
more than ``STEAL_LIMIT`` of the machine's CPU time to the hypervisor
is run again in a fresh worker once the machine has calmed, if the
time budget allows, and the calmer attempt is reported. A readable
summary goes to
stderr; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import COUNTERS, steal_s  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOAD_NAMES = ("sis_extract", "graph_ann", "crawl_to_corpus")
CPUS = "4"
#: a run's input generation and attempts (fresh workers) must all end
#: within this many seconds (the run must exit within 180 s)
RUN_BUDGET_S = 175
#: an attempt whose set-up and passes lost more than this share of the
#: machine's CPU time to the hypervisor is re-run, budget permitting
#: (timings rise 30-70% when 5-25% is stolen)
STEAL_LIMIT = 0.015
MAX_ATTEMPTS = 2
#: before a re-run, the steal share is polled in windows of this many
#: seconds for up to CALM_WAIT_S; with no calm window there is no
#: re-run, since stretches of steal last minutes and a re-run inside
#: one is as slow as the attempt it replaces
CALM_WINDOW_S, CALM_WAIT_S = 3, 15

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_exec_mb": "MB",
    "out_mb": "MB", "success_rate": "share",
}
#: layer -> where its engine counters come from (the sinks' Spark jobs
#: all run inside write_gzip_csv)
_COUNTED = {"jobs": "jobs", "plans": "plans", "sinks": "sinks.write", "graph": "graph",
            "similarity": "similarity"}
#: the layers of the crawl job, read from its traced pass
_CRAWL_COUNTED = {"intake": "intake", "corpus": "corpus"}
JOB_NAMES = ("upload_advisors", "upload_snapshot", "upload_recent_refresh")
#: the per-layer metrics, in BENCHMARK.json order. A traced run computes
#: a few more (printed on stderr); the JSON line carries these.
PER_LAYER = (
    "session.start_s", "session.jit_compile_s", "session.gc_s", "session.peak_rss_mb",
    "jobs.run_s", "jobs.self_s", "jobs.extracts", "jobs.upload_advisors_s",
    "jobs.upload_snapshot_s", "jobs.upload_recent_refresh_s",
    "plans.build_s", "plans.self_s", "plans.calls",
    "sinks.write_s", "sinks.upload_s", "sinks.files", "sinks.out_mb",
    "graph.s", "graph.self_s", "similarity.s", "similarity.self_s", "similarity.recall_at_10",
    "jobs.crawl_to_corpus_s", "intake.s", "intake.self_s", "corpus.s", "corpus.total_s",
    "cache.leftover_mb", "pass.s", "pass.cpu_s",
    "trace.overhead_s", "trace.overhead_pct", "trace.passes",
    *(f"{layer}.{c}" for layer in ("jobs", "plans", "sinks", "graph", "similarity", "intake",
                                   "corpus", "pass")
      for c in COUNTERS),
)


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.startswith("recall"):
        return "share"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("_pct"):
        return "%"
    return "count"


# ------------------------------------------------------------------ running


def _spawn(args: list[str], env: dict, log) -> subprocess.Popen:
    env = dict(env, PERFBENCH_SPAWNED=repr(time.time()), PERFBENCH_STEAL0=repr(steal_s()))
    return subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *args],
                            env=env, cwd=env["PERFBENCH_CWD"], stdout=log, stderr=log,
                            start_new_session=True)


def _wait(proc: subprocess.Popen, timeout: float) -> int | None:
    """Wait for a worker; on timeout kill its whole process group and
    return None."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        _end_session(proc.pid)


def _end_session(sid: int) -> None:
    """Kill whatever the worker left in its session (a stray JVM or
    Python worker) and wait, up to 30 s, until none of it is left."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while time.time() < deadline:
        left = False
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                left = os.getsid(int(pid)) == sid
            except OSError:
                continue
            if left:
                break
        if not left:
            return
        time.sleep(0.1)


def _attempt(workload: str, seed: int, inputs: list[str], seconds: float, trace: int,
             timeout: float) -> dict | None:
    """Run one fresh worker; returns its record, or None if it ran out
    of ``timeout``."""
    run_dir = os.path.join(CACHE, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(f"{run_dir}/tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT, "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_LOCAL_DIRS": f"{run_dir}/spark-local", "TMPDIR": f"{run_dir}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp", "PERFBENCH_CWD": run_dir,
    })
    env.pop("WARC_SRC", None)
    out = f"{run_dir}/record.json"
    args = ["--workload", workload, "--input", inputs[0], "--work", f"{run_dir}/work",
            "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    if len(inputs) > 1:
        args += ["--extra-input", inputs[1]]
    try:
        with open(f"{run_dir}/worker.log", "w") as log:
            code = _wait(_spawn(args, env, log), timeout)
        log_text = open(f"{run_dir}/worker.log").read()
        if code is None:
            sys.stderr.write(log_text[-2000:])
            print(f"perfbench: worker exceeded {timeout:.0f} s and was killed", file=sys.stderr)
            return None
        if code != 0:
            sys.stderr.write(log_text[-4000:])
            raise SystemExit(f"perfbench: {workload} worker exited with {code}")
        sys.stderr.writelines(ln + "\n" for ln in log_text.splitlines() if ln.startswith("perfbench:"))
        return json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def steal_share(record: dict) -> float:
    """Share of the machine's CPU time the hypervisor took during the
    attempt's set-up and passes."""
    passes = record["passes"] + record["extra_passes"]
    stolen = record["setup_steal_s"] + sum(p["steal_s"] for p in passes)
    return stolen / (record["setup_s"] + sum(p["s"] for p in passes))


def _calmed() -> bool:
    """Whether a polling window with steal under STEAL_LIMIT comes
    within CALM_WAIT_S."""
    deadline = time.time() + CALM_WAIT_S
    while time.time() < deadline:
        s0 = steal_s()
        time.sleep(CALM_WINDOW_S)
        if (steal_s() - s0) / CALM_WINDOW_S <= STEAL_LIMIT:
            return True
    return False


def run_workload(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Generate (or reuse) the seed's inputs, then run workers until an
    attempt is calm, one fails an op, the machine stays contended, or
    the budget allows no other; returns the calmest attempt's record."""
    t0 = time.time()
    inputs = [gen.ensure_inputs(workload, seed, CACHE)]
    # a traced sis_extract run also measures the crawl job's layers
    if trace and workload == "sis_extract":
        inputs.append(gen.ensure_inputs("crawl_to_corpus", seed, CACHE))
    print(f"perfbench: inputs ready in {time.time() - t0:.1f} s", file=sys.stderr)
    attempts: list[dict] = []
    while len(attempts) < MAX_ATTEMPTS:
        a0 = time.time()
        record = _attempt(workload, seed, inputs, seconds, trace, RUN_BUDGET_S - (a0 - t0))
        if record is None:
            break
        took = time.time() - a0
        attempts.append(record)
        failed = _ops(record)[1]
        print(f"perfbench: attempt {len(attempts)} took {took:.1f} s, "
              f"steal {100 * steal_share(record):.2f}% of CPU time", file=sys.stderr)
        if (failed or steal_share(record) <= STEAL_LIMIT
                or time.time() - t0 + CALM_WAIT_S + 1.2 * took > RUN_BUDGET_S or not _calmed()):
            break
    if not attempts:
        raise SystemExit(f"perfbench: {workload} did not finish within {RUN_BUDGET_S} s")
    # a failed attempt ends the loop and is the one reported
    record = attempts[-1] if _ops(attempts[-1])[1] else min(attempts, key=steal_share)
    record["attempts"] = len(attempts)
    print(f"perfbench: worker finished {time.time() - t0:.1f} s after the run started",
          file=sys.stderr)
    return record


# ------------------------------------------------------------------ metrics


def _ops(record: dict) -> tuple[int, int]:
    ops = [op for p in record["passes"] + record["extra_passes"] for op in p["ops"]]
    return len(ops), sum(1 for _, ok, _ in ops if not ok)


def end_to_end(record: dict) -> tuple[dict, dict]:
    """(metric -> value, metric -> samples) for an untraced run."""
    passes = record["passes"]
    attempted, failed = _ops(record)
    samples = {
        "setup_s": [record["setup_s"]],
        "cold_s": [passes[0]["s"]],
        "warm_s": [passes[record["warm_index"]]["s"]],
        "peak_exec_mb": [p["counters"]["peak_exec_mb"] for p in passes],
        "out_mb": [p["out_mb"] for p in passes],
        "success_rate": [1 - failed / attempted],
    }
    values = {k: statistics.median(v) for k, v in samples.items()}
    values["peak_exec_mb"] = max(samples["peak_exec_mb"])
    return values, samples


def per_layer(record: dict) -> dict:
    """Per-layer metrics of a traced run: times are medians over the
    traced passes, counters come from the last traced pass. The crawl
    job's layers come from its own traced pass when the run had a crawl
    phase (a traced sis_extract run)."""
    passes = record["passes"]
    traced = [p for p in passes if p["traced"]]
    crawl = [p for p in record["extra_passes"] if p["traced"]] or traced
    # the first warm pass is still on the steep JIT ramp: left out
    untraced_warm = [p["s"] for p in passes[2:] if not p["traced"]]
    sess = record["session"]
    m = {"session.start_s": record["setup_s"],
         "session.jit_compile_s": sess["jit_compile_s"], "session.gc_s": sess["gc_s"],
         "session.peak_rss_mb": sess["peak_rss_mb"]}

    def layer(name: str, key: str, among=traced) -> float:
        return statistics.median(p["layers"].get(name, {}).get(key, 0.0) for p in among)

    last, crawl_last = traced[-1]["layers"], crawl[-1]["layers"]
    m.update({
        "jobs.run_s": layer("jobs", "s"), "jobs.self_s": layer("jobs", "self_s"),
        "jobs.extracts": traced[-1]["extracts"],
        "plans.build_s": layer("plans", "s"), "plans.self_s": layer("plans", "self_s"),
        "plans.calls": last.get("plans", {}).get("calls", 0),
        "sinks.write_s": layer("sinks.write", "s"), "sinks.upload_s": layer("sinks.upload", "s"),
        "sinks.files": last.get("sinks.write", {}).get("files", 0),
        "sinks.out_mb": last.get("sinks.write", {}).get("out_mb", 0.0),
        "jobs.crawl_to_corpus_s": layer("jobs.crawl_to_corpus", "s", crawl),
        "intake.s": layer("intake", "s", crawl), "intake.self_s": layer("intake", "self_s", crawl),
        # corpus.s is prepare_corpus_from_crawl's self time (intake excluded)
        "corpus.s": layer("corpus", "self_s", crawl), "corpus.total_s": layer("corpus", "s", crawl),
        "graph.s": layer("graph", "s"), "graph.self_s": layer("graph", "self_s"),
        "similarity.s": layer("similarity", "s"),
        "similarity.self_s": layer("similarity", "self_s"),
        "similarity.recall_at_10": record["recall"],
        "cache.leftover_mb": max(p["leftover_mb"] for p in passes + record["extra_passes"]),
        "pass.s": statistics.median(p["s"] for p in traced),
        "pass.cpu_s": statistics.median(p["cpu_s"] for p in traced),
        "trace.passes": len(traced),
    })
    for j in JOB_NAMES:
        m[f"jobs.{j}_s"] = layer(f"jobs.{j}", "s")
    overhead = statistics.median(p["s"] for p in traced) - statistics.median(untraced_warm)
    m["trace.overhead_s"] = overhead
    m["trace.overhead_pct"] = 100 * overhead / statistics.median(untraced_warm)
    for c in COUNTERS:
        m[f"pass.{c}"] = traced[-1]["counters"][c]
        for name, source in _COUNTED.items():
            m[f"{name}.{c}"] = last.get(source, {}).get(c, 0)
        for name, source in _CRAWL_COUNTED.items():
            m[f"{name}.{c}"] = crawl_last.get(source, {}).get(c, 0)
    return m


def _sample_line(name: str, unit: str, xs: list[float]) -> str:
    """Median, quartiles, and the highest percentile that has at least
    ten samples beyond it (none below 11 samples), with the count."""
    n = len(xs)
    line = f"  {name:<14} {statistics.median(xs):>11.4f} {unit:<6} n={n}"
    if n >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        line += f" q1={q1:.4f} q3={q3:.4f}"
    if n > 10:
        top = math.floor(100 * (n - 10) / n)
        line += f" p{top}={statistics.quantiles(xs, n=100, method='inclusive')[top - 1]:.4f}"
    return line


def summarize(workload: str, seed: int, record: dict, trace: int) -> dict:
    attempted, failed = _ops(record)
    lines = [f"perfbench {workload} seed={seed} passes={len(record['passes'])} "
             f"attempted={attempted} failed={failed} error_rate={failed / attempted:.4f} "
             f"attempts={record['attempts']} steal={100 * steal_share(record):.2f}% "
             f"(CPU time the hypervisor took during set-up and passes)"]
    if trace:
        metrics = per_layer(record)
        for k, v in metrics.items():
            lines.append(f"  {k:<28} {v:>12.4f} {_unit(k)}")
        metrics = {k: metrics[k] for k in PER_LAYER}
        units = {k: _unit(k) for k in metrics}
    else:
        metrics, samples = end_to_end(record)
        for k, unit in END_TO_END.items():
            lines.append(_sample_line(k, unit, samples[k]))
        units = END_TO_END
    for p in record["passes"] + record["extra_passes"]:
        for name, ok, err in p["ops"]:
            if not ok:
                lines.append(f"  FAILED {name}: {err}")
    print("\n".join(lines), file=sys.stderr)
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still kills its worker's process group (_wait)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "jonesy_spark")):
        raise SystemExit("perfbench: no jonesy_spark package next to perfbench/; "
                         "run from a full checkout of the repository")
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    results = {}
    for w in names:
        record = run_workload(w, args.seed, args.seconds, args.trace)
        results[w] = summarize(w, args.seed, record, args.trace)
    if args.workload != "all":
        print(json.dumps(results[args.workload]))
        return
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
