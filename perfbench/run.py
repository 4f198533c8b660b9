#!/usr/bin/env python3
"""Closed-loop benchmark of the Cypher engine's public API.

One client in one driver process runs a fixed, seeded sequence of
operations to completion, checks every result against DuckDB, and prints
one JSON object as the last line of standard output:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instruments
every other occurrence of each template and reports per-layer metrics plus
the tracing overhead. See perfbench/README.md for workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def task_slots() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def confine_scratch() -> dict[str, str]:
    """Point every scratch location at the checkout's build directory."""
    import tempfile

    dirs = {
        k: os.path.join(WORK, k)
        for k in ("tmp", "spark-local", "warehouse", "derived", "data", "runs")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    )
    # the engine materializes the Lineitem surrogate-id table here once
    os.environ["SPARK_GRAFT_DERIVED_DIR"] = dirs["derived"]
    return dirs


def start_session(dirs):
    from pyspark.sql import SparkSession

    slots = str(task_slots())
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", slots)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a pinned, pre-touched heap: otherwise the resident heap grows
        # differently per process and moves peak RSS by a quarter
        .config("spark.driver.memory", HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            # compiler threads live as long as the JVM, so that their CPU
            # time can be told apart from the work's (tracing.jit_cpu_ms)
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={dirs['tmp']}",
        )
        .config("spark.sql.warehouse.dir", dirs["warehouse"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def oracle_results(data_dir: str, ops) -> dict:
    """DuckDB result of each distinct (template, binding), computed once."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads = {task_slots()}")
    con.sql(f"SET temp_directory = '{WORK}/tmp'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for op in ops:
        if op.key not in out:
            out[op.key] = con.sql(op.oracle).df()
    con.close()
    return out


# ---- operations ---------------------------------------------------------------


class Runner:
    """Runs operations against one engine; with a tracer, adds the spans
    the engine's own layers cannot record."""

    def __init__(self, spark, engine, data_dir):
        import opencyphertranspiler_spark.pipeline.graph as graph

        self.spark = spark
        self.engine = engine
        self.graph = graph
        self.part = f"{data_dir}/part.parquet"
        self.jvm_pid = int(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

    def cpu_ms(self) -> tuple[float, float]:
        """(CPU ms of this process and the driver JVM without its JIT
        compiler threads, CPU ms of those threads)."""
        import tracing

        jit = tracing.jit_cpu_ms(self.jvm_pid)
        return tracing.cpu_ms("self") + tracing.cpu_ms(self.jvm_pid) - jit, jit

    def _collect(self, df, tracer):
        if tracer is None:
            return df.toPandas()
        qe = df._jdf.queryExecution()
        with tracer.rec.span("catalyst.optimize"):
            qe.optimizedPlan()
        with tracer.rec.span("catalyst.physical"):
            qe.executedPlan()
        with tracer.rec.span("spark.execute"):
            return df.toPandas()

    def run(self, op, tracer=None):
        """Run one operation and return its rows as a pandas frame."""

        def span(name):
            return tracer.rec.span(name) if tracer else nullcontext()

        with span("op"):
            if op.template.kind == "read":
                df = self.engine.cypher(op.cypher)
                if tracer:
                    tracer.mark_eager()
                return self._collect(df, tracer)
            if op.template.kind == "write":
                res = self.engine.cypher_write(op.cypher)
                if tracer:
                    tracer.mark_eager()
                with span("writes.materialize"):
                    pdf = self._collect(res.returned, tracer)
                    res.counts()
                return pdf
            edges = (
                self.spark.read.parquet(self.part)
                .filter(op.cypher)
                .selectExpr("p_partkey AS src", "p_partkey + 1 AS dst")
            )
            df = self.graph.transitive_closure_doubling(edges)
            if tracer:
                tracer.mark_eager()
            return self._collect(df, tracer)


def check(pdf, expected) -> str | None:
    from opencyphertranspiler_spark.testing import assert_frames_match

    try:
        assert_frames_match(pdf, expected)
    except AssertionError as e:
        return f"result mismatch: {e}"
    return None


def measure(runner, op, expected, tracer, missing) -> dict:
    """Run and check one timed operation; return its record."""
    import tracing

    r = {"index": op.index, "template": op.template.name,
         "kind": op.template.kind, "binding": list(op.binding),
         "traced": tracer is not None}
    try:
        cpu0 = runner.cpu_ms()
    except tracing.CollectionError as e:
        cpu0, missing["cpu_ms_per_op"] = None, str(e)
    if tracer:
        tracer.begin(op.index)
    error = None
    t0 = time.perf_counter()
    try:
        pdf = runner.run(op, tracer)
    except Exception as e:  # any failure of the operation is counted, not fatal
        error = f"{type(e).__name__}: {e}"
        r["traceback"] = traceback.format_exc(limit=5)
    finally:
        r["ms"] = (time.perf_counter() - t0) * 1000
        if tracer:
            tracer.end()
    if cpu0 is not None:
        try:
            cpu1 = runner.cpu_ms()
            r["cpu_ms"], r["jit_cpu_ms"] = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        except tracing.CollectionError as e:
            missing["cpu_ms_per_op"] = str(e)
    if error is None:
        if tracer:
            r["counts"] = tracer.counts()
        r["rows"] = len(pdf)
        error = check(pdf, expected[op.key])
    r["ok"] = error is None
    if error:
        r["error"] = error
    return r


# ---- metrics --------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean_of_template_medians(records) -> float:
    by_t: dict[str, list[float]] = {}
    for r in records:
        by_t.setdefault(r["template"], []).append(r["ms"])
    meds = [statistics.median(v) for v in by_t.values()]
    return math.exp(statistics.fmean(math.log(m) for m in meds))


def end_to_end(records, missing) -> dict:
    ok = [r for r in records if r["ok"]]
    m = {"failed_op_frac": (len(records) - len(ok)) / len(records)}
    if not ok:
        return m
    lat = [r["ms"] for r in ok]
    m["throughput_ops_s"] = len(ok) / (sum(lat) / 1000)
    m["latency_p50_ms"] = statistics.median(lat)
    m["latency_gmean_ms"] = gmean_of_template_medians(ok)
    # a percentile is reported only with at least ten samples beyond it
    if len(lat) >= 100:
        m["latency_p90_ms"] = statistics.quantiles(lat, n=10)[-1]
    if any(r["kind"] == "write" for r in ok):
        for kind in ("read", "write"):
            m[f"{kind}_latency_p50_ms"] = median(
                [r["ms"] for r in ok if r["kind"] == kind]
            )
    if "cpu_ms_per_op" not in missing:
        m["cpu_ms_per_op"] = statistics.fmean(r["cpu_ms"] for r in ok)
        m["jit_cpu_ms_per_op"] = statistics.fmean(r["jit_cpu_ms"] for r in ok)
    return m


def per_layer(spans, records) -> tuple[dict, dict]:
    """Per-layer medians over the traced operations that enter each layer,
    and the median self time of every span name."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    self_ms: dict[str, list] = {}
    per_op: dict[int, dict[str, float]] = {}
    indices = {r["index"] for r in records}
    for i, s in enumerate(spans):
        if s.op not in indices:
            continue
        own = s.ms - child_ms.get(i, 0.0)
        name = "pipeline.graph" if s.name.startswith("pipeline.graph.") else s.name
        self_ms.setdefault(name, []).append(own)
        d = per_op.setdefault(s.op, {})
        for key, v in ((name, s.ms), (name + ":self", own)):
            d[key] = d.get(key, 0.0) + v

    def med(key, kinds=("read", "write", "graph")):
        return median([
            per_op[r["index"]][key]
            for r in records
            if r["kind"] in kinds and key in per_op.get(r["index"], {})
        ])

    m = {
        "cypher.parse_ms": med("cypher.parse"),
        "engine.rewrite_ms": med("engine.cypher:self", ("read",)),
        "plans.plan_ms": med("plans.plan"),
        "operators.compile_ms": med("operators.compile"),
        "writes.cypher_write_ms": med("writes.cypher_write"),
        "writes.materialize_ms": med("writes.materialize"),
        "catalyst.optimize_ms": med("catalyst.optimize"),
        "catalyst.physical_ms": med("catalyst.physical"),
        "spark.execute_ms": med("spark.execute"),
        "pipeline.graph.call_ms": med("pipeline.graph"),
    }
    counts = [r for r in records if r.get("counts")]
    if records and len(counts) == len(records):

        def count(field, kinds=("read", "write", "graph")):
            return median([r["counts"][field] for r in counts if r["kind"] in kinds])

        m.update({
            "operators.py4j_calls": median(
                [r["counts"]["py4j_calls"] for r in counts
                 if "operators.compile" in per_op.get(r["index"], {})]
            ),
            "writes.jobs": count("jobs", ("write",)),
            "spark.jobs": count("jobs"),
            "spark.stages": count("stages"),
            "spark.tasks": count("tasks"),
            "spark.eager_jobs": count("eager_jobs"),
            "spark.shuffle_read_bytes": count("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": count("shuffle_write_bytes"),
            "spark.shuffle_write_records": count("shuffle_write_records"),
            "spark.input_records_per_result_row": median(
                [r["counts"]["input_records"] / max(r["rows"], 1) for r in counts]
            ),
        })
        if all("gc_ms" in r["counts"] for r in counts):
            # a mean: most operations see no collection, so a median is 0
            m["jvm.gc_ms"] = statistics.fmean(r["counts"]["gc_ms"] for r in counts)
    return m, {k: median(v) for k, v in self_ms.items()}


def tracing_overhead(records) -> float | None:
    """Geometric mean over templates of traced / untraced median latency,
    minus one; None when no template ran both ways."""
    logs = []
    for name in {r["template"] for r in records}:
        a = [r["ms"] for r in records if r["template"] == name and r["traced"]]
        b = [r["ms"] for r in records if r["template"] == name and not r["traced"]]
        if a and b:
            logs.append(math.log(statistics.median(a) / statistics.median(b)))
    return math.exp(statistics.fmean(logs)) - 1 if logs else None


UNITS = {
    "setup_s": "s",
    "throughput_ops_s": "1/s",
    "peak_rss_mb": "MB",
    "failed_op_frac": "ratio",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "spark.input_records_per_result_row": "ratio",
}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith(("_ms", "_ms_per_op")):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def declared(trace: int) -> list[str]:
    """The metric names BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


# ---- main ---------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import opencyphertranspiler_spark  # noqa: F401  fail fast outside a checkout

    sys.path.insert(0, HERE)
    import datagen
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    dirs = confine_scratch()
    data_dir = datagen.ensure_tables(dirs["data"], w.sf)
    warm_groups = [
        (datagen.ensure_tables(dirs["data"], sf), workloads.warmup(w, n))
        for sf, n in w.warmup
    ]
    passes = workloads.passes_for(w, args.seconds, bool(args.trace))
    ops = workloads.sequence(w, args.seed, passes)
    probe_ops = workloads.probes(w, len(ops)) if args.trace else []
    expected = oracle_results(data_dir, ops + probe_ops)
    warm_expected = {d: oracle_results(d, warm) for d, warm in warm_groups}

    missing: dict[str, str] = {}
    steal0 = load0 = None
    try:
        steal0, load0 = tracing.cpu_times(), tracing.loadavg()
    except tracing.CollectionError as e:
        missing["host.steal_frac"] = str(e)

    t_setup = time.perf_counter()
    spark = start_session(dirs)
    try:
        from opencyphertranspiler_spark import (
            CypherEngine,
            tpch_graph_schema,
            tpch_table_registry,
        )

        runners = {}
        for d in [data_dir] + [d for d, _ in warm_groups]:
            if d not in runners:
                reg = tpch_table_registry(spark, d)
                # builds (or, after the first run in a checkout, finds) the
                # Lineitem surrogate-id table now rather than in a timed op
                reg.get("lineitem_node")
                engine = CypherEngine(spark, tpch_graph_schema(), reg)
                runners[d] = Runner(spark, engine, d)
        runner = runners[data_dir]
        warm_log = []
        for d, warm in warm_groups:
            for op in warm:
                t0 = time.perf_counter()
                try:
                    err = check(runners[d].run(op), warm_expected[d][op.key])
                except Exception as e:  # the timed loop reports it again
                    err = f"{type(e).__name__}: {e}"
                warm_log.append({"template": op.template.name, "data": d,
                                 "ms": (time.perf_counter() - t0) * 1000,
                                 "error": err})
        setup_s = time.perf_counter() - t_setup

        tracer = tracing.Tracer(spark, missing) if args.trace else None
        tmpl_index = {t.name: i for i, t in enumerate(w.templates)}
        seen: dict[str, int] = {}
        records = []
        t_loop = time.perf_counter_ns()
        for op in ops:
            k = seen[op.template.name] = seen.get(op.template.name, -1) + 1
            # alternate per template so that every template runs traced and
            # untraced about equally often and in the same passes
            traced = tracer is not None and (k + tmpl_index[op.template.name]) % 2 == 0
            records.append(
                measure(runner, op, expected, tracer if traced else None, missing)
            )

        metrics = {"setup_s": setup_s}
        metrics.update(end_to_end(records, missing))
        try:
            metrics["peak_rss_mb"] = max(
                tracing.peak_rss_mb("self"), tracing.peak_rss_mb(runner.jvm_pid)
            )
        except tracing.CollectionError as e:
            missing["peak_rss_mb"] = str(e)
        if steal0 is not None:
            try:
                steal1 = tracing.cpu_times()
                metrics["host.steal_frac"] = (steal1[0] - steal0[0]) / max(
                    steal1[1] - steal0[1], 1
                )
            except tracing.CollectionError as e:
                missing["host.steal_frac"] = str(e)
        self_ms = {}
        if tracer:
            ok = [r for r in records if r["ok"]]
            layer, self_ms = per_layer(tracer.rec.spans, [r for r in ok if r["traced"]])
            overhead = tracing_overhead(ok)
            if overhead is None:
                missing["trace.overhead_frac"] = "no template ran traced and untraced"
            else:
                layer["trace.overhead_frac"] = overhead
            # layers the mix never enters are measured by one probe each,
            # after the timed loop and outside every end-to-end metric
            for op in probe_ops:
                r = measure(runner, op, expected, tracer, missing)
                r["probe"] = True
                records.append(r)
                probe_layer, _ = per_layer(tracer.rec.spans, [r] if r["ok"] else [])
                for name in workloads.PROBES[op.template.kind][1]:
                    if name in probe_layer:
                        layer[name] = probe_layer[name]
            metrics.update(layer)

        jvm = spark.sparkContext._jvm
        run_record = {
            "workload": w.name,
            "sf": w.sf,
            "seed": args.seed,
            "seconds": args.seconds,
            "passes": passes,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "task_slots": task_slots(),
            "spark_conf": dict(spark.sparkContext.getConf().getAll()),
            "jvm_flags": list(
                jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments()
            ),
            "loadavg_start": load0,
            "loadavg_end": tracing.loadavg(),
            "metrics": metrics,
            "missing": missing,
            "layer_self_ms": self_ms,
            "warmup": warm_log,
            "ops": records,
            "spans": tracer.rec.as_json(t_loop) if tracer else [],
        }
    finally:
        stop_session(spark)

    path = os.path.join(
        dirs["runs"], f"{w.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(run_record, f, indent=1, default=str)

    failed = sum(not r["ok"] for r in records)
    print(f"# {w.name} sf{w.sf}: {len(records)} ops ({passes} passes), "
          f"{failed} failed; record {os.path.relpath(path, ROOT)}")
    for name, value in metrics.items():
        print(f"#   {name:36s} {value:14.4f} {unit(name)}")
    for name, ms in self_ms.items():
        print(f"#   self time of {name:23s} {ms:14.4f} ms (median per span)")
    for name, why in missing.items():
        print(f"#   {name:36s} MISSING: {why}")
    for r in records:
        if not r["ok"]:
            print(f"#   FAILED op {r['index']} {r['template']} {r['binding']}: "
                  f"{r['error'][:300]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit(name)}
            for name in declared(args.trace)
            if name in metrics
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
