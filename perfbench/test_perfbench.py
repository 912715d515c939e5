"""Self-tests for the benchmark's helpers. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os

import pytest

from perfbench import harvest, layers, spans
from perfbench import run as bench_run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _span(sid, name, start, end, parent=None, kind="call"):
    return spans.Span(sid, name, start, end, parent, "r", kind)


def test_self_time_subtracts_union_of_children():
    s = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, parent=0),
        _span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        _span(3, "a.child", 2.0, 3.0, parent=1),
        _span(4, "sink", 7.0, 9.0, parent=0, kind="sink"),  # not a child
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert 4 not in st


def test_self_time_clips_children_to_parent():
    s = [_span(0, "p", 0.0, 2.0), _span(1, "c", 1.5, 3.0, parent=0)]
    assert spans.self_times(s)[0] == pytest.approx(1.5)


def test_bucket_picks_innermost_containing_span():
    s = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "outer", 1.0, 8.0, parent=0),
        _span(2, "inner", 2.0, 3.0, parent=1),
        _span(3, "phase", 0.0, 5.0, kind="phase"),
    ]
    got = spans.bucket({10: 2.5, 11: 5.0, 12: 9.0, 13: 11.0, 14: 3.0}, s)
    # end is exclusive: a job submitted as 'inner' ends belongs to 'outer'
    assert got == {10: 2, 11: 1, 12: 0, 13: None, 14: 1}
    assert spans.bucket({1: 4.0, 2: 6.0}, s, kinds=("phase",)) == {1: 3, 2: None}


def test_phase_spans_rebuild_contiguous_chunks():
    clock = iter(range(1000))
    tr = spans.Tracer("r", clock=lambda: float(next(clock)))
    with tr.span("plans.pipeline.run_pipeline") as pipe:
        with tr.span("plans.planner.plan_partitions"):
            pass
        for _ in range(2):  # two chunks
            with tr.span("sources.partition_fingerprint"):
                pass
            for closer in ("sources.write_partitioned", "sink.metrics",
                           "sink.events", "sink.lineage",
                           "sources.commit_partitions"):
                with tr.span(closer, kind="sink" if closer.startswith("sink") else "call"):
                    pass
    ph = spans.phase_spans(tr, pipe)
    names = [p.name for p in ph]
    assert names == ["phase.plan"] + [f"phase.{n}" for n, _ in spans.PHASES] * 2
    assert ph[0].start == pipe.start
    for a, b in zip(ph, ph[1:]):
        assert a.end == b.start  # contiguous, no gaps or overlaps
    assert ph[-1].end == [s for s in tr.spans
                          if s.name == "sources.commit_partitions"][-1].end


def test_wrap_records_and_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = spans.Tracer("r")
    tr.wrap(mod, "f", "layer.f")
    assert mod.f(1) == 2
    tr.restore()
    assert mod.f is orig
    assert [s.name for s in tr.spans] == ["layer.f"]
    assert tr.spans[0].end >= tr.spans[0].start


def test_metric_name_grammar():
    names = [n for n, *_ in layers.END_TO_END] + [n for n, *_ in layers.PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert layers.NAME_RE.fullmatch(n), n
    for _, unit, better, *_ in list(layers.END_TO_END) + list(layers.PER_LAYER):
        assert layers.UNIT_RE.fullmatch(unit), unit
        assert better in ("lower", "higher")
    assert 1 <= len(layers.PER_LAYER) <= 128
    assert any(n == "setup_s" for n, *_ in layers.END_TO_END)


def test_every_layer_names_the_metric_and_workload_it_moves():
    e2e = {n for n, *_ in layers.END_TO_END}
    for name, _, _, moves, workloads in layers.PER_LAYER:
        assert moves is None or moves in e2e, name
        assert set(workloads.split(",")) <= set(layers.WORKLOADS), name


def test_benchmark_json_agrees_with_declarations():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert doc == layers.benchmark_spec(doc["command"], doc["paths"],
                                        doc["run_seconds"])
    for m in doc["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_headline_queries_match_bench():
    import bench

    assert tuple(bench.HEADLINE) == layers.QUERIES


def _fake_op():
    op = _span(0, "op", 0.0, 10.0)
    pipe = _span(1, "plans.pipeline.run_pipeline", 0.5, 9.5, parent=0)
    write = _span(2, "sources.write_partitioned", 1.0, 5.0, parent=1)
    ph = [_span(10, "phase.transform_write", 0.5, 5.0, parent=1, kind="phase"),
          _span(11, "phase.metrics", 5.0, 7.0, parent=1, kind="phase")]
    stages = [harvest.StageRow(1, 100, 8, 4.0, 3.0, 0.5, 10, 0, 2.0),
              harvest.StageRow(2, 100, 4, 1.0, 1.0, 0.1, 0, 5, 1.0),
              harvest.StageRow(3, 101, 2, 0.2, 0.2, 0.0, 7, 0, 1.5)]
    jobs = {100: (2.0, [1, 2]), 101: (6.0, [3])}
    py = {"py_worker_s": 3.0, "bytes_to_py": 10.0, "bytes_from_py": 4.0}
    summaries = [{"phase_s": {"transform_write": 4.4, "metrics": 2.0}}, {}]
    return [op, pipe, write], op, ph, jobs, stages, py, summaries


def test_layer_metrics_bucket_jobs_into_phases():
    spans_, op, ph, jobs, stages, py, summaries = _fake_op()
    m = bench_run.layer_metrics(spans_, op, ph, jobs, stages, py, summaries,
                                {"sources.files_written": 3.0})
    assert m["plans.pipeline.transform_write.jobs"] == 1
    assert m["plans.pipeline.transform_write.tasks"] == 12
    assert m["plans.pipeline.transform_write.cpu_s"] == pytest.approx(4.0)
    assert m["plans.pipeline.transform_write.task_skew"] == 2.0  # busiest stage
    assert m["plans.pipeline.metrics.jobs"] == 1
    assert m["plans.pipeline.metrics.shuffle_write_bytes"] == 7
    assert m["plans.pipeline.drift.jobs"] == 0
    assert m["plans.pipeline.transform_write_s"] == 4.4
    assert m["sources.write_partitioned_s"] == pytest.approx(4.0)
    assert m["spill_bytes"] == 5
    assert m["op.phase_sum_s"] == pytest.approx(6.5)
    assert m["functions.scoring.py_worker_s"] == 3.0


def test_harness_emits_exactly_the_declared_metrics():
    spans_, op, ph, jobs, stages, py, summaries = _fake_op()
    per_op = bench_run.layer_metrics(spans_, op, ph, jobs, stages, py,
                                     summaries, {})
    traced = bench_run.trace_metrics([per_op], {}, {}, 1.0, 1e-6, 100.0)
    declared = [n for n, *_ in layers.PER_LAYER]
    assert list(traced) == declared
    assert all(isinstance(v, float) or isinstance(v, int) for v in traced.values())
    assert traced["trace.overhead_s"] == pytest.approx(per_op["trace.spans"] * 1e-6)


def test_parse_sql_metric():
    p = harvest.parse_sql_metric
    assert p("total (min, med, max (stageId: taskId))\n10.6 s (2.5 s, 2.6 s, "
             "2.9 s (stage 0.0: task 1))") == pytest.approx(10.6)
    assert p("total (min, med, max (stageId: taskId))\n185.1 KiB (43.0 KiB, "
             "49.0 KiB, 49.0 KiB (stage 0.0: task 3))") == pytest.approx(185.1 * 1024)
    assert p("0 ms") == 0.0
    with pytest.raises(ValueError):
        p("n/a")


def test_prior_digest_is_the_newest_same_seed_run(tmp_path):
    def record(name, digest, mtime):
        path = tmp_path / name
        path.write_text(json.dumps({"record": {"docs_digest": digest}}))
        os.utime(path, (mtime, mtime))

    record("pipeline-s3-t0-11.json", "old", 100)
    record("pipeline-s3-t1-12.json", "new", 200)
    record("pipeline-s31-t0-13.json", "other seed", 300)
    record("pipeline-s3-t1-12.spans.jsonl", "spans", 400)
    assert bench_run._prior_digest(str(tmp_path), "pipeline", 3) == "new"
    assert bench_run._prior_digest(str(tmp_path), "pipeline", 4) is None


@pytest.mark.parametrize("prior,digests,n_bad", [
    (None, ["a", "a"], 0),
    (None, ["a", "b"], 1),
    ("a", ["a"], 0),
    ("z", ["a", "a"], 1),  # later ops compare with this run's first
])
def test_docs_digest_is_compared_across_ops_and_runs(monkeypatch, prior,
                                                     digests, n_bad):
    from perfbench import checks

    monkeypatch.setattr(checks, "pipeline_outputs", lambda *a: [])
    monkeypatch.setattr(checks, "reference_docs", lambda *a: [])
    wl = bench_run.Pipeline("w", 1, prior)
    wl.partitions = []
    bad = []
    for i, d in enumerate(digests):
        monkeypatch.setattr(checks, "docs_digest", lambda out, d=d: d)
        bad += wl.check({"out": "o", "summaries": []}, first=(i == 0))
    assert len(bad) == n_bad
    assert wl.digest == digests[0]  # the run records its own digest
