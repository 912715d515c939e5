#!/usr/bin/env python3
"""Repository benchmark: pipeline and analytics workloads.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Run from the repository root. Builds the session with the program's own
defaults on ``local[<nproc>]`` (set-up), makes the workload's inputs from
the seed, then runs the workload's op until ``--seconds`` seconds of op
time are spent (at least once; the first op of a run is cold, as for a
one-shot user) and checks every op's outputs, untimed. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the run record (host,
versions, effective session conf, seed, doc counts, op times, host
probe); it is also written, with the spans of a traced run, under
``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: workload sizes (see perfbench/README.md for why)
PIPELINE_DOCS = 2_000
KERNEL_DOCS = 1_000
#: the analytics tables: a copy of the sf0.01 TPC-H-style test parquet set
DATA_DIR = os.path.join(ROOT, "perfbench", "data")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _span(tracer, name: str, **attrs):
    """A span under ``tracer``, or nothing in an untraced run."""
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


class Pipeline:
    """pipeline: a backfill of a seeded pages warehouse into a fresh
    output root, then the scheduled daily rerun of the same job, which
    must skip every partition as fresh."""

    def __init__(self, work: str, seed: int, prior_digest: str | None = None):
        self.work, self.seed = work, seed
        self.n_docs = PIPELINE_DOCS
        self.pages_dir = os.path.join(work, "pages")
        self.prior_digest = prior_digest  # of an earlier run, same seed
        self.digest = None  # of this run's first op

    def prepare(self, spark) -> dict:
        from baselinr_spark.sources.pages import write_pages_warehouse

        write_pages_warehouse(spark, self.pages_dir, n_docs=self.n_docs,
                              seed=self.seed)
        self.partitions = sorted(d.split("=", 1)[1]
                                 for d in os.listdir(self.pages_dir)
                                 if d.startswith("dt="))
        return {"docs": self.n_docs, "partitions": len(self.partitions)}

    def op(self, spark, tag: str, tracer=None) -> dict:
        from baselinr_spark.plans.pipeline import run_pipeline
        from baselinr_spark.plans.planner import AdaptiveScheduling

        out = os.path.join(self.work, f"out-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        daily = AdaptiveScheduling(enabled=True, default_interval_minutes=1440,
                                   min_interval_minutes=0)
        summaries = []
        for i, kw in enumerate(({}, {"scheduling": daily})):
            with _span(tracer, "plans.pipeline.run_pipeline", call=i):
                summaries.append(run_pipeline(spark, self.pages_dir, out,
                                              run_id=f"{tag}-{i}", **kw))
        return {"out": out, "summaries": summaries}

    def rows(self, res: dict) -> int:
        return res["summaries"][0]["doc_count"]

    def check(self, res: dict, first: bool) -> list[str]:
        from perfbench import checks

        bad = checks.pipeline_outputs(res["out"], self.partitions, self.n_docs,
                                      res["summaries"])
        digest = checks.docs_digest(res["out"])
        expected = self.digest or self.prior_digest
        if expected is not None and digest != expected:
            bad.append("docs digest differs from an earlier op with this seed")
        self.digest = self.digest or digest
        if first:
            bad += checks.reference_docs(res["out"], self.pages_dir)
        return bad

    def out_stats(self, res: dict) -> dict:
        nbytes, files = 0, 0
        for root, _, names in os.walk(res["out"]):
            for n in names:
                nbytes += os.path.getsize(os.path.join(root, n))
                if root.startswith(os.path.join(res["out"], "docs")) \
                        and n.endswith(".parquet"):
                    files += 1
        return {"sources.out_bytes_per_doc": nbytes / self.n_docs,
                "sources.files_written": float(files)}

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    def texts(self, n: int) -> list[str]:
        import pyarrow.dataset as ds

        t = ds.dataset(self.pages_dir, format="parquet",
                       partitioning="hive").to_table(columns=["text"])
        return [x or "" for x in t.column("text").to_pylist()[:n]]


class Analytics:
    """analytics: the headline registry queries over the fixed test
    tables in ``perfbench/data`` (the sf0.01 TPC-H-style set the queries
    and their DuckDB twins were written against). The seed is not used."""

    def __init__(self, work: str, seed: int):
        self.data_dir = DATA_DIR

    def prepare(self, spark) -> dict:
        import pyarrow.parquet as pq

        from perfbench.layers import QUERY_TABLES

        scans = [t for ts in QUERY_TABLES.values() for t in ts]
        counts = {t: pq.read_metadata(os.path.join(self.data_dir,
                                                   f"{t}.parquet")).num_rows
                  for t in set(scans)}
        self.input_rows = sum(counts[t] for t in scans)
        return {"table_rows": counts}

    def op(self, spark, tag: str, tracer=None) -> dict:
        import __spark_entry__ as entry
        from perfbench.layers import QUERIES

        qs = entry.queries()
        results = {}
        for name in QUERIES:
            with _span(tracer, f"query.{name}"):
                results[name] = qs[name](spark, self.data_dir).toPandas()
        return {"results": results}

    def rows(self, res: dict) -> int:
        return self.input_rows

    def check(self, res: dict, first: bool) -> list[str]:
        from perfbench import checks

        return checks.analytics_results(res["results"], self.data_dir)

    def out_stats(self, res: dict) -> dict:
        return {}

    def cleanup(self, res: dict) -> None:
        pass


def _install_wrappers(tracer) -> None:
    """Wrap, from the outside, the module attributes run_pipeline looks
    up at call time, plus the parquet writer as a phase-boundary sink."""
    from pyspark.sql.readwriter import DataFrameWriter

    from baselinr_spark.plans import events, pipeline, planner
    from baselinr_spark.sources import catalog, change_detection, manifest

    for mod in (catalog, manifest, change_detection):
        tracer.wrap_module(mod, "sources")
    tracer.wrap_module(events, "plans.events")
    for attr in ("transform_pages", "partition_metrics", "drift_events"):
        tracer.wrap(pipeline, attr, f"plans.pipeline.{attr}")
    tracer.wrap(planner, "plan_partitions", "plans.planner.plan_partitions")

    def sink_name(args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else "")
        return f"sink.{os.path.basename(os.path.normpath(str(path)))}"

    tracer.wrap(DataFrameWriter, "parquet", "sink", kind="sink",
                name_fn=sink_name)


#: per-layer metric -> span name whose self time it reports
_SPAN_LAYERS = {
    "plans.planner.plan_partitions_s": "plans.planner.plan_partitions",
    "sources.list_partitions_s": "sources.list_partitions",
    "sources.done_partitions_s": "sources.done_partitions",
    "sources.fingerprint_s": "sources.partition_fingerprint",
    "sources.commit_partitions_s": "sources.commit_partitions",
    "plans.events.anomaly_events_s": "plans.events.anomaly_events",
    "plans.events.write_schema_snapshot_s": "plans.events.write_schema_snapshot",
    "plans.events.schema_change_events_s": "plans.events.schema_change_events",
    "sources.write_partitioned_s": "sources.write_partitioned",
}


def layer_metrics(spans, op_span, phase_list, jobs, stages, py, summaries,
                  out_stats) -> dict[str, float]:
    """Per-layer numbers of one traced op. Layers the op did not touch
    read 0. Returns only the names the op can measure; kernel, floor,
    session and overhead numbers are added by the caller."""
    from perfbench import layers
    from perfbench.spans import bucket, self_times

    op_spans = [s for s in spans if op_span.start <= s.start <= op_span.end]
    selft = self_times(op_spans)
    by_name: dict[str, float] = {}
    for s in op_spans:
        if s.sid in selft:
            by_name[s.name] = by_name.get(s.name, 0.0) + selft[s.sid]
    m = {k: by_name.get(v, 0.0) for k, v in _SPAN_LAYERS.items()}
    for q in layers.QUERIES:
        m[f"query.{q}_s"] = sum(s.duration for s in op_spans
                                if s.name == f"query.{q}")
    for ph in layers.PHASES:
        m[f"plans.pipeline.{ph}_s"] = sum(s.get("phase_s", {}).get(ph, 0.0)
                                          for s in summaries)
    # bucket every job of the op into the phase whose interval holds its
    # submission time, then sum that job's stages into the phase
    where = bucket({j: t for j, (t, _) in jobs.items()}, phase_list,
                   kinds=("phase",))
    sid_name = {s.sid: s.name for s in phase_list}
    for ph in layers.PHASES:
        jids = {j for j, sid in where.items()
                if sid is not None and sid_name[sid] == f"phase.{ph}"}
        rows = [r for r in stages if r.job_id in jids]
        busiest = max(rows, key=lambda r: r.run_s, default=None)
        m.update({
            f"plans.pipeline.{ph}.jobs": float(len(jids)),
            f"plans.pipeline.{ph}.tasks": float(sum(r.tasks for r in rows)),
            f"plans.pipeline.{ph}.cpu_s": sum(r.cpu_s for r in rows),
            f"plans.pipeline.{ph}.gc_s": sum(r.gc_s for r in rows),
            f"plans.pipeline.{ph}.shuffle_write_bytes":
                float(sum(r.shuffle_write_bytes for r in rows)),
            f"plans.pipeline.{ph}.spill_bytes":
                float(sum(r.spill_bytes for r in rows)),
            f"plans.pipeline.{ph}.task_skew":
                busiest.task_skew if busiest else 0.0,
        })
    m["spill_bytes"] = float(sum(r.spill_bytes for r in stages))
    m["gc_s"] = sum(r.gc_s for r in stages)
    m["functions.scoring.py_worker_s"] = py["py_worker_s"]
    m["functions.scoring.bytes_to_py"] = py["bytes_to_py"]
    m["functions.scoring.bytes_from_py"] = py["bytes_from_py"]
    m["op.wall_s"] = op_span.duration
    m["trace.spans"] = float(sum(1 for s in op_spans if s.kind != "phase"))
    m["op.phase_sum_s"] = sum(s.duration for s in phase_list
                              if s.name != "phase.plan")
    m["sources.out_bytes_per_doc"] = out_stats.get("sources.out_bytes_per_doc", 0.0)
    m["sources.files_written"] = out_stats.get("sources.files_written", 0.0)
    return m


def _traced_op(spark, wl, tag, tracer, stores) -> dict:
    """One op under the tracer. The status stores are read after the op;
    its per-layer numbers land in the result's ``layers``."""
    from perfbench.spans import bucket, phase_spans

    _install_wrappers(tracer)
    try:
        with tracer.span("op", tag=tag) as op_span:
            res = wl.op(spark, tag, tracer)
    finally:
        tracer.restore()
    phases = []
    for s in list(tracer.spans):
        if s.name == "plans.pipeline.run_pipeline" and s.parent == op_span.sid:
            for p in phase_spans(tracer, s):
                p.sid = len(tracer.spans)  # kept in the written trace
                tracer.spans.append(p)
                phases.append(p)
    jobs = stores.jobs_since(op_span.start)
    submitted = {j: t for j, (t, _) in jobs.items()}
    for sid in bucket(submitted, tracer.spans).values():
        if sid is not None:  # jobs each call span submitted, for the trace
            a = tracer.spans[sid].attrs
            a["jobs"] = a.get("jobs", 0) + 1
    res["layers"] = layer_metrics(
        tracer.spans, op_span, phases, jobs, stores.stages(jobs),
        stores.python_metrics_since(op_span.start),
        res.get("summaries", []), wl.out_stats(res))
    return res


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("pipeline", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # both JVMs: spark-submit's launcher and the Spark JVM it starts
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(
            p for p in (os.environ.get(var), f"-Djava.io.tmpdir={tmp}",
                        "-XX:-UsePerfData") if p)
    import tempfile

    tempfile.tempdir = None


def run(args) -> tuple[dict, dict]:
    from perfbench import host, layers

    t_start = host.process_start_time()
    import bench  # frozen harness: headline list and host probe

    run_tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_tag)
    runs_dir = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    _prepare_env(work)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "nproc": host.nproc(), "mem_total_kb": host.mem_total_kb(),
              "host_probe_s": {"before": bench._host_probe_single()}}
    if list(bench.HEADLINE) != list(layers.QUERIES):
        raise SystemExit("bench.HEADLINE differs from perfbench.layers.QUERIES")

    from baselinr_spark.session import build_session
    from perfbench import harvest, kernels
    from perfbench.spans import Tracer

    t0 = time.time()
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          master=f"local[{record['nproc']}]")
    t_ready = time.time()
    record["session_build_s"] = t_ready - t0
    # process start to a built session, less the host probe run in between
    record["setup_s"] = t_ready - t_start - record["host_probe_s"]["before"]
    record["session_conf"] = dict(spark.sparkContext.getConf().getAll())
    record["versions"] = host.versions()
    tracer = Tracer(run_tag)
    stores = harvest.StatusStores(spark) if args.trace else None
    attempted = failed = 0
    failures: list[str] = []
    walls, rates, per_layer, k, floor = [], [], [], {}, {}
    wl = (Analytics(work, args.seed) if args.workload == "analytics"
          else Pipeline(work, args.seed,
                        _prior_digest(runs_dir, args.workload, args.seed)))
    try:
        with host.RssSampler() as rss:
            t = time.time()
            record["inputs"] = wl.prepare(spark)
            record["inputs_s"] = time.time() - t
            # ops until --seconds of op time is spent; the first op of a
            # run is cold, as for a one-shot user of the program
            for i in range(1000):
                tag = f"op{i}"
                attempted += 1
                t = time.time()
                try:
                    if args.trace:
                        res = _traced_op(spark, wl, tag, tracer, stores)
                    else:
                        res = wl.op(spark, tag)
                except Exception:
                    failed += 1
                    failures.append(f"op {tag}: {traceback.format_exc()}")
                    if failed >= 3:
                        break
                    continue
                wall = time.time() - t
                walls.append(wall)
                rates.append(wl.rows(res) / wall)
                if args.trace:
                    per_layer.append(res["layers"])
                attempted += 1  # the op's output checks, run untimed
                t = time.time()
                bad = wl.check(res, first=(i == 0))
                record["checks_s"] = record.get("checks_s", 0.0) + time.time() - t
                if bad:
                    failed += 1
                    failures.extend(f"check {tag}: {b}" for b in bad)
                if "summaries" in res:
                    for key in ("doc_count", "phase_s"):
                        record.setdefault(key, []).append(
                            [x[key] for x in res["summaries"]])
                wl.cleanup(res)
                if sum(walls) >= args.seconds:
                    break
            if args.trace and isinstance(wl, Pipeline):
                k = kernels.kernel_us_per_doc(wl.texts(KERNEL_DOCS))
                floor = kernels.identity_floor_s(spark, wl.pages_dir)
        record["peak_rss_mb"] = rss.peak / (1 << 20)
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["host_probe_s"]["after"] = bench._host_probe_single()
    record["op_wall_s"] = walls
    record["docs_digest"] = getattr(wl, "digest", None)
    record["failures"] = failures
    record["run_s"] = time.time() - t_start
    if not walls:
        raise RuntimeError("no op succeeded:\n" + "\n".join(failures))

    if args.trace:
        metrics = trace_metrics(per_layer, k, floor, record["session_build_s"],
                                _span_cost_s(Tracer), record["peak_rss_mb"])
        units = {n: u for n, u, *_ in layers.PER_LAYER}
        _write_spans(os.path.join(runs_dir, f"{run_tag}.spans.jsonl"), tracer)
    else:
        metrics = {"setup_s": record["setup_s"], "wall_s": _median(walls),
                   "rows_per_s": _median(rates)}
        units = {n: u for n, u, *_ in layers.END_TO_END}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": metrics[n], "unit": units[n]}
                          for n in units}}
    record["error_rate"] = failed / attempted
    with open(os.path.join(runs_dir, f"{run_tag}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    return record, result


def trace_metrics(per_layer: list[dict], kernel_us: dict, floor: dict,
                  session_build_s: float, span_cost_s: float,
                  peak_rss_mb: float) -> dict:
    """Every declared per-layer metric of a traced run: the median over
    its traced ops, plus the run-level probes. Probes a workload does not
    run read 0."""
    from perfbench import layers

    m = {n: _median([p[n] for p in per_layer if n in p])
         for n, *_ in layers.PER_LAYER}
    for name in ("langid", "perplexity", "scrub", "feature_batch"):
        m[f"functions.{name}_us_per_doc"] = kernel_us.get(name, 0.0)
    for name in ("pandas", "arrow"):
        m[f"functions.scoring.identity_floor_{name}_s"] = floor.get(name, 0.0)
    m["session.build_s"] = session_build_s
    m["peak_rss_mb"] = peak_rss_mb
    # what the wrappers add to an op: its span count times one span's cost
    m["trace.overhead_s"] = _median([p["trace.spans"] for p in per_layer]) \
        * span_cost_s
    return m


def _span_cost_s(tracer_cls, n: int = 20_000) -> float:
    """Measured cost of recording one span around a call."""
    import types

    mod = types.SimpleNamespace(f=lambda: None)
    t = time.perf_counter()
    for _ in range(n):
        mod.f()
    plain = time.perf_counter() - t
    tr = tracer_cls("cost")
    tr.wrap(mod, "f", "f")
    t = time.perf_counter()
    for _ in range(n):
        mod.f()
    traced = time.perf_counter() - t
    tr.restore()
    return max(traced - plain, 0.0) / n


def _prior_digest(runs_dir: str, workload: str, seed: int) -> str | None:
    """The docs digest of the newest earlier run of this workload and
    seed in the checkout, traced or untraced (None if there is none)."""
    best = None
    for name in os.listdir(runs_dir):
        if name.startswith(f"{workload}-s{seed}-t") and name.endswith(".json"):
            path = os.path.join(runs_dir, name)
            if best is None or os.path.getmtime(path) > os.path.getmtime(best):
                best = path
    if best is None:
        return None
    with open(best) as f:
        return json.load(f)["record"].get("docs_digest")


def _write_spans(path: str, tracer) -> None:
    from perfbench.spans import self_times

    selft = self_times(tracer.spans)
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({
                "sid": s.sid, "name": s.name, "kind": s.kind,
                "start": s.start, "end": s.end, "parent": s.parent,
                "run_id": s.run_id, "self_s": selft.get(s.sid),
                "attrs": s.attrs}) + "\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "baselinr_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"error: no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    record, result = run(args)
    for f in record["failures"]:
        print(f, file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
