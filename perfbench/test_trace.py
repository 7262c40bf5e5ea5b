"""The benchmark's own arithmetic on a canned span tree (no Spark).

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import pytest

from perfbench.trace import Span, fold_stages, inclusive_counters, layer_totals, self_times


def _stage(tasks=1, cpu_ns=0, shuffle=0, mem_spill=0, disk_spill=0, peak=0):
    return {"tasks": tasks, "cpu_ns": cpu_ns, "shuffle_write": shuffle,
            "mem_spill": mem_spill, "disk_spill": disk_spill, "peak_exec": peak}


MB = 1024 * 1024


def _tree() -> list[Span]:
    """jobs.a [0, 10]
         plans.x [1, 3]
         sinks.write [4, 9]
           plans.y [5, 6]      (a builder called from inside the sink)
       jobs.b [10, 14]
         plans.z [11, 12]
           plans.w [11.5, 12]  (a builder calling another builder)"""
    spans = [
        Span(0, "jobs.a", None, "r", 0.0, 10.0),
        Span(1, "plans.x", 0, "r", 1.0, 3.0),
        Span(2, "sinks.write", 0, "r", 4.0, 9.0),
        Span(3, "plans.y", 2, "r", 5.0, 6.0),
        Span(4, "jobs.b", None, "r", 10.0, 14.0),
        Span(5, "plans.z", 4, "r", 11.0, 12.0),
        Span(6, "plans.w", 5, "r", 11.5, 12.0),
    ]
    own = {0: [_stage(2, 1e9, 0, 0, 0, 10 * MB)],
           1: [_stage(1, 0, MB, 0, 0, 4 * MB)],
           2: [_stage(4, 2e9, 0, MB, MB, 30 * MB), _stage(1)],
           3: [_stage(1)],
           4: [],
           5: [_stage(3, 5e8, 2 * MB, 0, 0, 1 * MB)],
           6: [_stage(1, 5e8, 0, 0, 0, 2 * MB)]}
    for s in spans:
        s.own = fold_stages(own[s.sid], n_jobs=len(own[s.sid]))
    spans[2].attrs = {"files": 1, "out_mb": 0.5}
    return spans


def _layer(span: Span) -> str:
    head = span.name.split(".")[0]
    return span.name if head == "sinks" else head


def test_fold_stages_sums_and_takes_the_largest_peak():
    c = fold_stages([_stage(4, 2e9, MB, MB, 2 * MB, 30 * MB), _stage(1, 5e8, 0, 0, 0, 50 * MB)], 3)
    assert c == {"jobs": 3, "stages": 2, "tasks": 5, "exec_cpu_s": 2.5,
                 "shuffle_write_mb": 1.0, "spill_mb": 3.0, "peak_exec_mb": 50.0}


def test_self_time_is_duration_minus_direct_children():
    st = self_times(_tree())
    assert st == {0: 10 - 2 - 5, 1: 2, 2: 5 - 1, 3: 1, 4: 4 - 1, 5: 1 - 0.5, 6: 0.5}


def test_inclusive_counters_add_descendants_and_max_the_peak():
    inc = inclusive_counters(_tree())
    assert inc[0]["stages"] == 1 + 1 + 2 + 1
    assert inc[0]["tasks"] == 2 + 1 + 5 + 1
    assert inc[0]["exec_cpu_s"] == pytest.approx(3.0)
    assert inc[0]["peak_exec_mb"] == 30
    assert inc[2]["spill_mb"] == 2
    assert inc[4]["jobs"] == 2 and inc[4]["peak_exec_mb"] == 2


def test_layer_totals_count_nested_same_layer_spans_once():
    t = layer_totals(_tree(), _layer)
    # plans: x, y and z are outermost plans spans; w sits inside z
    assert t["plans"]["s"] == pytest.approx(2 + 1 + 1)
    assert t["plans"]["self_s"] == pytest.approx(2 + 1 + 0.5 + 0.5)
    assert t["plans"]["calls"] == 4
    assert t["plans"]["stages"] == 1 + 1 + 1 + 1
    assert t["plans"]["shuffle_write_mb"] == 3
    # the sink's time includes the builder it called; its self time not
    assert t["sinks.write"]["s"] == 5 and t["sinks.write"]["self_s"] == 4
    assert t["sinks.write"]["files"] == 1 and t["sinks.write"]["out_mb"] == 0.5
    # layer sums never exceed the root spans' total
    assert t["jobs"]["s"] == 14
    assert t["jobs"]["self_s"] + t["plans"]["self_s"] + t["sinks.write"]["self_s"] == pytest.approx(14)
    assert t["jobs"]["stages"] == sum(s.own["stages"] for s in _tree())


def test_per_layer_reads_the_canned_record():
    from perfbench.run import PER_LAYER, per_layer

    spans = _tree()
    layers = layer_totals(spans, _layer)
    layers.update(layer_totals(spans, lambda s: s.name if s.name.startswith("jobs.") else None))
    counters = fold_stages([_stage(2)], 1)

    def p(s, traced):
        return {"s": s, "cpu_s": 2 * s, "traced": traced, "layers": layers if traced else {}, "counters": counters,
                "extracts": 8, "leftover_mb": 0.0, "out_mb": 1.0, "ops": [], "digest": "d"}

    # the crawl phase: jobs.crawl_to_corpus [0, 10] > corpus [1, 9] > intake [2, 5]
    crawl_spans = [Span(0, "jobs.crawl_to_corpus", None, "r", 0.0, 10.0),
                   Span(1, "corpus", 0, "r", 1.0, 9.0), Span(2, "intake", 1, "r", 2.0, 5.0)]
    crawl_spans[2].own = fold_stages([_stage(6), _stage(2)], 1)
    crawl_layers = layer_totals(crawl_spans, _layer)
    crawl_layers.update(layer_totals(crawl_spans, lambda s: s.name if s.name.startswith("jobs.") else None))
    crawl = [dict(p(40, False), layers={}), dict(p(20, True), layers=crawl_layers)]

    record = {"setup_s": 10.0, "recall": 0.42,
              "session": {"jit_compile_s": 1.0, "gc_s": 0.5, "peak_rss_mb": 900.0},
              "passes": [p(30, False), p(20, False), p(16, True), p(14, False), p(14, False),
                         p(16, True)],
              "extra_passes": crawl}
    m = per_layer(record)
    assert set(PER_LAYER) <= set(m)
    assert m["session.start_s"] == 10.0
    assert m["trace.overhead_s"] == pytest.approx(2.0)  # traced 16 vs untraced 14
    assert m["jobs.upload_advisors_s"] == 0 and m["jobs.run_s"] == 14
    assert m["sinks.files"] == 1 and m["sinks.stages"] == 3
    assert m["pass.s"] == 16 and m["pass.cpu_s"] == 32
    assert m["similarity.recall_at_10"] == 0.42
    # the crawl layers come from the crawl phase's traced pass only
    assert m["jobs.crawl_to_corpus_s"] == 10
    assert m["intake.s"] == 3 and m["intake.tasks"] == 8 and m["corpus.tasks"] == 8
    assert m["corpus.s"] == 5 and m["corpus.total_s"] == 8


def test_end_to_end_takes_warm_s_from_the_fixed_warm_index():
    from perfbench.run import end_to_end

    def p(s):
        return {"s": s, "counters": {"peak_exec_mb": 5.0}, "out_mb": 1.0,
                "ops": [["j", True, ""]]}

    # extra passes after the warm index add samples but never move warm_s
    record = {"setup_s": 10.0, "warm_index": 2, "extra_passes": [],
              "passes": [p(30), p(20), p(16), p(12), p(11)]}
    values, samples = end_to_end(record)
    assert values["cold_s"] == 30 and values["warm_s"] == 16
    assert values["success_rate"] == 1 and samples["out_mb"] == [1.0] * 5


def test_steal_share_covers_set_up_and_every_pass():
    from perfbench.run import steal_share

    record = {"setup_s": 10.0, "setup_steal_s": 0.1,
              "passes": [{"s": 20.0, "steal_s": 0.2}, {"s": 10.0, "steal_s": 0.0}],
              "extra_passes": [{"s": 10.0, "steal_s": 0.3}]}
    assert steal_share(record) == pytest.approx(0.6 / 50)
