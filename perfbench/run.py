"""KG-construction benchmark for kglinker at ``local[nproc]``.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 24 --trace 0

Workloads (``perfbench/workloads.py``):

- ``pipeline``: ``kglinker.jobs.pipeline.run_pipeline`` over 1,000 seeded
  synthetic conversations read from parquet, with a KB of the 29-row
  fixture plus 2,000 generated rows. Loads the runtime, kb, automaton,
  extract and graph layers.
- ``registry-headline``: six headline registry queries (``ops`` gazetteer,
  dedup, similarity and text statistics, and the ``graph/analytics``
  pagerank) over the sf0.1 documents and embeddings tables, row order
  permuted by the seed. No Python matcher and no automaton.

A run starts one Spark session in a fresh directory and takes one
untimed warm-up pass, which pays the JVM's JIT compilation, the start of
the Python workers and the first load of every artifact. It then takes
``round(--seconds / nominal_pass_s)`` timed passes, at least one, where
``nominal_pass_s`` is a constant of the workload close to its pass time
on the machine in ``perfbench/NOTES.md`` (pipeline 20 s, registry 7 s);
at ``--seconds 24`` that is one pipeline pass and three registry passes.
The count does not follow the measured pass times, so slow and fast runs
time the same passes. Before each timed
pass, cached data of earlier passes is dropped and garbage is collected,
so that no pass reads another's cache. Every pass, the warm-up included,
writes to its own directory and is checked against the oracle after the
last pass, outside all timing.

``--trace 0`` reports the end-to-end metrics:

- ``job_s``: median wall of the timed passes (pipeline: the
  ``run_pipeline`` call, which returns after the graph is written;
  registry: the sum of the queries, each collected to the driver with
  ``toPandas``).
- ``input_rows_per_s``: input rows over ``job_s`` (pipeline: turns;
  registry: rows of the two input tables).
- ``setup_s``: from process start to the end of the warm-up pass, minus
  the benchmark's own input generation: imports, ``get_spark`` (JVM
  launch), input registration and the cold pass. It is what a one-shot
  ``spark-submit`` of the job pays.
- ``peak_py_pss_mb``: peak summed PSS of the Python processes (the driver
  and the PySpark workers) from session start to the end of the last
  timed pass. The JVM is left out: its footprint follows the heap limit
  and the garbage collector's sizing, which varied by a quarter between
  runs of identical work; its peak RSS is the per-layer
  ``runtime.jvm_rss_mb``.

A pass fails if it raises or if its output differs from the oracle; failed
passes are counted in ``failed`` against ``attempted``.

``--trace 1`` writes a Spark event log, takes the warm-up pass and one
traced timed pass, and reports the per-layer metrics of the traced pass:
spans recorded around the program's entry points (``perfbench/spans.py``),
Spark task counters charged to those spans, the PSS of the Python
workers, and single-process probes of the compiled KB artifacts. Metrics
of a layer the workload does not run are reported as 0. ``trace.job_s``
minus the untraced ``job_s`` is the tracing overhead.

The line before the result holds details: the pass times, the check
outcomes, the time the benchmark itself spent (input generation, oracle)
and, for traced runs, the share of ``trace.job_s`` that the spans cover.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

# spans of run_pipeline's callees charged with Spark task counters
PIPELINE_COUNTER_SPANS = ["automaton.broadcast_artifacts",
                          "graph.canonical_map", "runtime.checkpoint",
                          "graph.build_triples", "graph.write_graph"]
COUNTERS = {"executor_run_s": ("executor_run_ms", 1e-3),
            "gc_s": ("gc_ms", 1e-3),
            "shuffle_write_bytes": ("shuffle_write_bytes", 1),
            "shuffle_read_bytes": ("shuffle_read_bytes", 1),
            "spill_bytes": ("spill_bytes", 1)}


def _set_environment(run_dir: str) -> None:
    """Python workers import the program from the checkout; Spark and
    Python scratch files stay inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)
    sys.path.insert(0, ROOT)


def _session(run_dir: str, cores: int, event_log_dir: str | None):
    from kglinker.runtime.session import get_spark
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _layer_metrics_pipeline(workload, oracle, out, tracer, by_span,
                            sampler) -> dict:
    from spans import counters_for

    m = {}
    bka = tracer.named("automaton.broadcast_artifacts")[0]
    ba = tracer.named("automaton.build_artifacts")[0]
    m["runtime.checkpoint.run_s"] = tracer.wall("runtime.checkpoint")
    m["runtime.checkpoint.mentions_bytes"] = out["mentions_bytes"]
    m["kb.build_kb_side_s"] = tracer.wall("kb.build_kb_side")
    m["kb.build_kb_side_self_s"] = tracer.self_time("kb.build_kb_side")
    m["kb.n_surfaces"] = oracle["n_surfaces"]
    # broadcast_artifacts collects its inputs, calls build_artifacts, then
    # broadcasts the result
    m["automaton.collect_s"] = ba.start - bka.start
    m["automaton.compile_s"] = tracer.self_time("automaton.build_artifacts")
    m["automaton.broadcast_s"] = bka.end - ba.end
    m.update(workload.probes(tracer.results["automaton.build_artifacts"]))
    ck = counters_for(by_span, tracer, "runtime.checkpoint")
    m["extract.py_start_s"] = ck.get("py_start_ms", 0) / 1e3
    m["extract.py_init_s"] = ck.get("py_init_ms", 0) / 1e3
    m["extract.py_run_s"] = ck.get("py_run_ms", 0) / 1e3
    m["extract.arrow_to_py_bytes"] = ck.get("arrow_to_py_bytes", 0)
    m["extract.arrow_from_py_bytes"] = ck.get("arrow_from_py_bytes", 0)
    m["extract.n_mentions"] = out["n_mentions"]
    m["extract.py_worker_pss_mb"] = sampler.peak_by_kind_mb.get("py_workers", 0)
    m["graph.canonical_map_s"] = tracer.wall("graph.canonical_map")
    m["graph.build_triples_s"] = tracer.wall("graph.build_triples")
    m["graph.entity_table_s"] = tracer.wall("graph.entity_table")
    m["graph.write_graph_s"] = tracer.wall("graph.write_graph")
    m["graph.n_triples"] = out["n_triples"]
    for span in PIPELINE_COUNTER_SPANS:
        c = counters_for(by_span, tracer, span)
        for name, (key, scale) in COUNTERS.items():
            m[f"{span}.{name}"] = c.get(key, 0) * scale
    return m


def _layer_metrics_registry(workload, tracer, by_span) -> dict:
    from spans import counters_for

    m = {}
    for q in workload.queries:
        m[f"ops.{q}_s"] = tracer.wall(f"ops.{q}")
        c = counters_for(by_span, tracer, f"ops.{q}")
        for name, (key, scale) in COUNTERS.items():
            m[f"ops.{q}.{name}"] = c.get(key, 0) * scale
    return m


def per_layer_names(queries: list[str]) -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = ["runtime.session_start_s", "runtime.jvm_rss_mb",
             "runtime.checkpoint.run_s",
             "runtime.checkpoint.mentions_bytes", "kb.build_kb_side_s",
             "kb.build_kb_side_self_s", "kb.n_surfaces",
             "automaton.collect_s", "automaton.compile_s",
             "automaton.broadcast_s", "automaton.payload_bytes",
             "automaton.load_s", "automaton.scan_turns_per_s",
             "extract.annotate_turns_per_s", "extract.py_start_s",
             "extract.py_init_s", "extract.py_run_s",
             "extract.arrow_to_py_bytes", "extract.arrow_from_py_bytes",
             "extract.n_mentions", "extract.py_worker_pss_mb",
             "graph.canonical_map_s", "graph.build_triples_s",
             "graph.entity_table_s", "graph.write_graph_s",
             "graph.n_triples"]
    names += [f"ops.{q}_s" for q in queries]
    names += ["trace.job_s", "trace.unattributed_s"]
    for span in PIPELINE_COUNTER_SPANS + [f"ops.{q}" for q in queries]:
        names += [f"{span}.{c}" for c in COUNTERS]
    return names


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kglinker", "__init__.py")):
        print("perfbench: run from the root of a kglinker checkout "
              "(no kglinker/ package here)", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run_pass(workload, spark, pass_dir: str, tracer=None):
    """One pass; None if it raised (a failed pass is a measured outcome)."""
    try:
        return workload.run_pass(spark, pass_dir, tracer)
    except Exception:
        print(traceback.format_exc(limit=8), file=sys.stderr)
        return None
    finally:
        if tracer is not None:
            tracer.uninstall()


def _reset(spark) -> None:
    """Give the next pass the state a fresh session has after start-up:
    drop what earlier passes cached (``run_pipeline`` caches the scored KB,
    and a later pass with the same plan would read that cache instead of
    scoring) and collect garbage in the JVM and the driver."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def _pass_dir(run_dir: str, k: int) -> str:
    return os.path.join(run_dir, f"pass-{k}")


def _check(workload, out, oracle, pass_dir: str) -> list[str]:
    """What is wrong with a pass's output (empty if nothing); the pass
    directory is removed afterwards."""
    try:
        if out is None:
            return ["the pass raised"]
        return workload.check(out, oracle)
    except Exception:
        return [traceback.format_exc(limit=8)]
    finally:
        shutil.rmtree(pass_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: str) -> int:
    _set_environment(run_dir)
    from procmem import PssSampler, stop_spark
    from workloads import WORKLOADS, Cache, source_digest

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    cache = Cache(os.path.join(WORK, "cache"), source_digest(ROOT))
    workload = WORKLOADS[args.workload](
        args.seed, os.path.join(run_dir, "inputs"), cache)
    workload.make_inputs()
    gen_s = time.perf_counter() - t0

    sampler = PssSampler(os.getpid()).start()
    cores = len(os.sched_getaffinity(0))
    event_log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = _session(run_dir, cores, event_log_dir)
    session_start_s = time.perf_counter() - t0
    outs, tracer = [], None     # pass outputs (None if raised), warm-up first
    try:
        workload.register(spark)
        # the warm-up pass is set-up: its output is checked like every
        # other pass, but its time is setup_s, not job_s
        outs.append(_run_pass(workload, spark, _pass_dir(run_dir, 0)))
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark, run_id)
            if args.workload == "pipeline":
                tracer.install()
        # a fixed number of timed passes: a count that followed the pass
        # times would take fewer passes in slower runs, and the first warm
        # passes still speed up from one to the next
        n_timed = 1 if args.trace else max(
            1, round(args.seconds / workload.nominal_pass_s))
        for _ in range(n_timed):
            _reset(spark)
            outs.append(_run_pass(workload, spark,
                                  _pass_dir(run_dir, len(outs)), tracer))
        sampler.stop()
        # the oracle and the checks run after the measurement, so that
        # neither their time nor their memory is measured
        t0 = time.perf_counter()
        oracle = workload.oracle(spark)
        oracle_s = time.perf_counter() - t0
        problems = [_check(workload, out, oracle, _pass_dir(run_dir, k))
                    for k, out in enumerate(outs)]
    finally:
        sampler.stop()
        stop_spark(spark)

    times = [o["job_s"] for o in outs[1:] if o is not None]
    n_failed = sum(1 for ps in problems if ps)
    for k, ps in enumerate(problems):
        for p in ps:
            print(f"pass {k} failed its check: {p}", file=sys.stderr)
    details = {"workload": args.workload, "seed": args.seed, "cores": cores,
               "seconds": args.seconds, "input_rows": workload.n_input_rows,
               "warm_up_job_s": outs[0] and outs[0]["job_s"],
               "pass_job_s": times, "problems": problems,
               "input_gen_s": gen_s, "oracle_s": oracle_s,
               "pss_samples": sampler.n_samples,
               "peak_mb_by_kind": sampler.peak_by_kind_mb,
               "pss_sampling_cpu_s": sampler.sample_cpu_s}
    if not times:
        print(json.dumps(details))
        print("perfbench: every timed pass raised; nothing to report",
              file=sys.stderr)
        return 1
    job_s = statistics.median(times)
    if args.trace:
        metrics = _trace_metrics(args, workload, oracle, outs[1], tracer,
                                 sampler, session_start_s, event_log_dir,
                                 details)
    else:
        metrics = {
            "job_s": (job_s, "s"),
            "input_rows_per_s": (workload.n_input_rows / job_s, "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_py_pss_mb": (sampler.peak_python_mb, "MB"),
        }
    print(json.dumps(details))
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": len(outs),
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _trace_metrics(args, workload, oracle, out, tracer, sampler,
                   session_start_s, event_log_dir, details) -> dict:
    from spans import event_log_file, stage_counters_by_span
    from workloads import headline_queries

    by_span = stage_counters_by_span(event_log_file(event_log_dir))
    if args.workload == "pipeline":
        layer = _layer_metrics_pipeline(workload, oracle, out, tracer,
                                        by_span, sampler)
        root = tracer.named("pipeline.run_pipeline")[0]
        covered, job = tracer.children_wall(root), root.wall_s
    else:
        layer = _layer_metrics_registry(workload, tracer, by_span)
        covered = sum(s.wall_s for s in tracer.spans if s.parent is None)
        job = out["job_s"]
    layer["runtime.session_start_s"] = session_start_s
    layer["runtime.jvm_rss_mb"] = sampler.peak_by_kind_mb.get("jvm", 0)
    layer["trace.job_s"] = out["job_s"]
    layer["trace.unattributed_s"] = job - covered
    details["trace"] = {"span_cover_share": covered / job,
                        "spans": [(s.name, s.parent, s.wall_s)
                                  for s in tracer.spans],
                        "n_spans_with_stages": len(by_span)}
    names = per_layer_names(headline_queries())
    unknown = set(layer) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from the list: {sorted(unknown)}")
    return {n: (layer.get(n, 0), unit(n)) for n in names}


if __name__ == "__main__":
    sys.exit(main())
