"""One benchmark run in a fresh process (started by ``run.py``).

Sets up a session the way the program does (``session.get_spark`` plus
one trivial action), then runs the workload's passes back to back: a
cold pass, then warm passes until ``--seconds`` of pass time have been
measured. Every pass writes to a fresh output root, starts from an
empty cache, runs its Spark jobs under a job group of its own and is
followed, outside the timed window, by the output check and a storage
read. The raw record goes to ``--out`` as JSON; ``run.py`` turns it
into metrics.

With ``--trace 1`` the first warm pass runs untraced (it is still on
the steep part of the JIT ramp), then warm passes alternate traced and
untraced (T U U T T U ...), so tracing overhead is measured on the
same ramp; traced passes wrap the program's public functions in spans
(``perfbench.trace``). Given ``--extra-input``, a traced run then runs
one traced pass of the ``crawl_to_corpus`` workload on it, so its
layers (``pipeline.intake``, ``pipeline.corpus_job``) are measured in
the same run. It is the crawl code's first pass in the JVM: one more
would push a traced run past the time budget when the machine is
contended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

_SPAWNED = float(os.environ.get("PERFBENCH_SPAWNED", time.time()))
_STEAL0 = os.environ.get("PERFBENCH_STEAL0")
_MB = 1024 * 1024

#: a traced run's warm passes: a ramp pass, then a traced and an
#: untraced one (an untraced run takes the workload's ``warm_passes``)
MIN_WARM_TRACED, MAX_PASSES = 3, 12


def _session_cpu_s() -> float:
    """CPU time (user + system) of every live process in this worker's
    session: the Python driver, its JVM and the JVM's Python workers.
    Time the hypervisor steals from the machine is not in it."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        if int(fields[3]) == sid:  # field 6 (session), after pid and comm
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def _storage_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def _release_all(sc) -> None:
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def _jvm_stats(sc) -> dict:
    mf = sc._jvm.java.lang.management.ManagementFactory
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    rss_kb = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    rss_kb = int(line.split()[1])
    except OSError:
        pass
    return {
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "gc_s": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1000,
        "peak_rss_mb": rss_kb / 1024,
    }


def _install_spans(tracer):
    """Wrap the program's public layer functions in spans; returns an
    undo function. Names are patched where the callers look them up."""
    from jonesy_spark import plans
    from jonesy_spark.pipeline import corpus_job, intake, jobs, sinks

    orig_all = plans.all_queries

    def traced_all_queries():
        return {k: tracer.wrap(f"plans.{k}", fn) for k, fn in orig_all().items()}

    def wrote(span, path, _args):
        span.attrs["files"] = 1
        span.attrs["out_mb"] = os.path.getsize(path) / _MB

    patches = [
        (plans, "all_queries", traced_all_queries),
        (jobs, "all_queries", traced_all_queries),
        # the upload_snapshot term fan-out (its driver-side collect)
        (jobs, "_current_term_ids", tracer.wrap("plans.current_term_ids", jobs._current_term_ids)),
        (jobs, "write_gzip_csv", tracer.wrap("sinks.write", jobs.write_gzip_csv, wrote)),
        (sinks.MultiTargetSink, "upload", tracer.wrap("sinks.upload", sinks.MultiTargetSink.upload)),
        (intake, "intake_batch", tracer.wrap("intake", intake.intake_batch)),
        (corpus_job, "prepare_corpus_from_crawl",
         tracer.wrap("corpus", corpus_job.prepare_corpus_from_crawl)),
    ]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    for obj, name, fn in patches:
        setattr(obj, name, fn)

    def undo():
        for obj, name, fn in saved:
            setattr(obj, name, fn)

    return undo


def _layer_of(span) -> str:
    head = span.name.split(".")[0]
    return span.name if head == "sinks" else head


def _traced(warm_index: int) -> bool:
    # warm pass 1 untraced, then ABBA from pass 2: T U U T T U U T
    return warm_index >= 2 and (warm_index - 2) % 4 in (0, 3)


def _run_pass(spark, reader, wl, work: str, label: str, traced: bool, first: bool) -> dict:
    """One timed pass of ``wl`` and, outside its timed window, its
    output check and storage read; returns the pass record."""
    from perfbench.trace import COUNTERS, Tracer, layer_totals, steal_s
    from perfbench.workloads import fresh_dir

    sc = spark.sparkContext
    out = fresh_dir(f"{work}/{label}")
    spark.catalog.clearCache()
    group = f"perfbench-{os.getpid()}-{label}"
    sc.setJobGroup(group, group)
    tracer = Tracer(sc, f"{os.getpid()}-{label}", reader, group) if traced else None
    undo = _install_spans(tracer) if traced else (lambda: None)
    wrap = tracer.wrap if traced else (lambda name, fn: fn)
    cpu0, steal0 = _session_cpu_s(), steal_s()
    t0 = time.perf_counter()
    try:
        ops = wl.run(out, wrap)
    finally:
        dt = time.perf_counter() - t0
        cpu, steal = _session_cpu_s() - cpu0, steal_s() - steal0
        undo()
    sc._jsc.clearJobGroup()
    counters = reader.group_counters(group)
    layers = {}
    if traced:
        spans = tracer.collect()
        layers = layer_totals(spans, _layer_of)
        layers.update(layer_totals(spans, lambda s: s.name if s.name.startswith("jobs.") else None))
        # the pass's jobs outside any span plus every root span's
        roots = layer_totals(spans, lambda s: "pass" if s.parent is None else None)
        if "pass" in roots:
            counters = {k: (max if k == "peak_exec_mb" else sum)((counters[k], roots["pass"][k]))
                        for k in COUNTERS}
    c0 = time.perf_counter()
    try:
        digest, out_bytes = wl.check(out, ops, first_pass=first)
    except Exception as exc:  # noqa: BLE001 - an unreadable output fails the pass's ops
        traceback.print_exc()
        for o in ops:
            o.ok, o.error = False, o.error or f"check raised {type(exc).__name__}: {exc}"
        digest, out_bytes = "", 0
    spark.catalog.clearCache()
    leftover = _storage_bytes(sc)
    _release_all(sc)
    shutil.rmtree(out, ignore_errors=True)
    for o in ops:
        if not o.ok:
            print(f"perfbench: {label} {o.name} FAILED: {o.error}", file=sys.stderr)
    print(f"perfbench: {label} {'traced' if traced else 'untraced'} {dt:.3f} s "
          f"cpu {cpu:.2f} s steal {steal:.2f} s/cpu, then check {time.perf_counter() - c0:.1f} s",
          file=sys.stderr)
    return {
        "s": dt, "cpu_s": cpu, "steal_s": steal, "traced": traced, "digest": digest,
        "out_mb": out_bytes / _MB, "leftover_mb": leftover / _MB, "counters": counters,
        "layers": layers, "extracts": getattr(wl, "extracts", 0),
        "ops": [[o.name, o.ok, o.error] for o in ops],
    }


def _same_as_first(passes: list[dict]) -> None:
    """Fail the ops of the last pass if its output digest differs from
    the first pass's."""
    if len(passes) > 1 and passes[-1]["digest"] != passes[0]["digest"]:
        for op in passes[-1]["ops"]:
            if op[1]:
                op[1], op[2] = False, "output differs from the run's first pass"
                print(f"perfbench: {op[0]} FAILED: {op[2]}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--extra-input", help="crawl_to_corpus inputs for a traced run's crawl phase")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from jonesy_spark.pipeline import jobs  # noqa: F401 - program import is part of set-up
    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    setup_s = time.time() - _SPAWNED
    from perfbench.trace import StageReader, steal_s
    from perfbench.workloads import WORKLOADS

    setup_steal = steal_s() - float(_STEAL0) if _STEAL0 else 0.0
    sc = spark.sparkContext
    reader = StageReader(sc)
    wl = WORKLOADS[args.workload](spark, args.input)
    print(f"perfbench: reference ready {time.time() - _SPAWNED:.1f} s after spawn", file=sys.stderr)
    # passes stop once --seconds of pass time are measured and enough
    # warm passes ran, or at the cap
    min_warm = max(MIN_WARM_TRACED, wl.warm_passes) if args.trace else wl.warm_passes
    passes: list[dict] = []
    measured = 0.0
    while True:
        i = len(passes)
        traced = bool(args.trace) and i > 0 and _traced(i)
        passes.append(_run_pass(spark, reader, wl, args.work, f"pass-{i}", traced, i == 0))
        _same_as_first(passes)
        measured += passes[-1]["s"]
        if (measured >= args.seconds and i >= min_warm) or i + 1 >= MAX_PASSES:
            break
    extra: list[dict] = []
    if args.trace and args.extra_input:
        xwl = WORKLOADS["crawl_to_corpus"](spark, args.extra_input)
        extra.append(_run_pass(spark, reader, xwl, args.work, "crawl-0", True, True))

    print(f"perfbench: passes and checks done {time.time() - _SPAWNED:.1f} s after spawn",
          file=sys.stderr)
    record = {"setup_s": setup_s, "setup_steal_s": setup_steal, "warm_index": wl.warm_passes,
              "passes": passes, "extra_passes": extra, "recall": getattr(wl, "recall", 0.0),
              "session": _jvm_stats(sc)}
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    sys.stderr.flush()
    # no spark.stop(): run.py kills this process's session (the JVM with
    # it) and waits until it is gone, which takes a fraction of the ~2 s
    # an orderly shutdown costs every run
    os._exit(0)


if __name__ == "__main__":
    main()
