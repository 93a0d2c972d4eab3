"""Benchmark for the engine's registered queries.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 30 --trace 0

Runs from the root of a source checkout. One closed-loop client runs the
workload's query mix (perfbench/workloads.py) on `local[<cores>]`: each
query's noop-sink write returns before the next query is called, and the
seed only permutes the query order within each warm pass. The input tables
are copies of the engine's seed-42 test tables (perfbench/data/).

A run: set-up (session start, registry load, warm-up query on the small
catalog), a host probe, one cold pass whose outputs are collected after
each timed query, warm passes for `--seconds` (the first third only
settles), a second host probe. Outputs are then checked against DuckDB
oracle twins (perfbench/oracle.py). The last stdout line is one JSON
object:

- `--trace 0`: the end-to-end metrics `pass_s`, `cold_pass_s`, `setup_s`,
  `peak_rss_mb`;
- `--trace 1`: the per-layer metrics, from spans recorded by wrappers
  around the engine's public functions (perfbench/tracing.py) and from
  the Spark status stores; warm passes alternate traced and untraced,
  and `trace.overhead_s` is the difference of their medians.

The lines before it give each metric with its unit, the pass-time
quartiles and sample count, `failed_ratio` and every failure, and the
host-probe verdict. Spans, per-query layer times and the full run record
are written under `.perfbench/out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(WORK, "out")

DATA = os.path.join(HERE, "data", "sf0.01")  # 60k lineitem rows
WARMUP_DATA = os.path.join(HERE, "data", "sf0.001")
JVM_HEAP = "1g"
PROBE_ROWS = 1_000_000
MB = 1024.0 * 1024.0
MIN_WARM_PASSES = 3


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(cores: int) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    the checkout, and put the checkout on the workers' import path."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP}"),
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    )
    sys.path.insert(0, ROOT)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe(spark) -> float:
    """Constant-work CPU + shuffle job (sha2 fanned into a 1024-bucket
    shuffled aggregate), independent of the engine and its data."""
    t0 = time.perf_counter()
    _noop(
        spark.range(0, PROBE_ROWS, 1, 32)
        .selectExpr("sha2(cast(id as string), 256) AS h")
        .selectExpr("pmod(hash(h), 1024) AS b", "h")
        .groupBy("b")
        .agg({"h": "max", "*": "count"})
    )
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _unit(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"), ("_band", "flag")):
        if metric.endswith(suffix):
            return unit
    return "count"


def _failure(query: str, phase: str, tag: str, exc: BaseException) -> dict:
    cls = type(exc)
    cond = getattr(exc, "getCondition", None)
    return {
        "query": query,
        "phase": phase,
        "pass": tag,
        "type": f"{cls.__module__}.{cls.__qualname__}",
        "error_class": cond() if cond else None,
        "message": str(exc),
    }


class Runner:
    """One benchmark process: session, query mix, closed-loop passes."""

    def __init__(self, args) -> None:
        self.args = args
        self.failures: list[dict] = []
        self.attempted = 0
        self.tracer = None
        self.stats = None
        self.query_layers: list[dict] = []  # per traced query execution
        self.plans: dict[str, dict] = {}  # plan facts per query
        self.times: dict[str, dict[str, float]] = {}  # pass -> query -> s

    # -- set-up -----------------------------------------------------------
    def setup(self, warmup_dir: str) -> dict[str, float]:
        t0 = time.perf_counter()
        from tf_datapipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        if self.args.trace:
            import tracing

            self.tracer = tracing.Tracer()
            originals = tracing.install(self.tracer)
        from tf_datapipeline_spark import registry

        self.registry = registry
        self.queries = registry.queries()
        if self.args.trace:
            tracing.check_bound(originals)
        t2 = time.perf_counter()
        from workloads import WARMUP_QUERY

        _noop(self.queries[WARMUP_QUERY](self.spark, warmup_dir))
        t3 = time.perf_counter()
        from tf_datapipeline_spark.streaming import events_stream

        self.telemetry = events_stream.RUN_TELEMETRY
        return {
            "setup_s": t3 - t0,
            "session.start_s": t1 - t0,
            "session.registry_s": t2 - t1,
            "session.warmup_s": t3 - t2,
        }

    # -- one query --------------------------------------------------------
    def _untraced(self, name: str, data: str, tag: str):
        phase = "call"
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, data)
            phase = "action"
            _noop(df)
        except Exception as exc:  # a failing query stays in the mix
            self.failures.append(_failure(name, phase, tag, exc))
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, df

    def _traced(self, name: str, data: str, tag: str):
        tr = self.tracer
        mark = len(self.telemetry)
        first = len(tr.spans)
        phase = "call"
        df = None
        try:
            with tr.query(name, tag) as root:
                with tr.call():
                    df = self.queries[name](self.spark, data)
                phase = "action"
                with tr.span("operators.action"):
                    _noop(df)
        except Exception as exc:
            self.failures.append(_failure(name, phase, tag, exc))
            df = None
        runs = self.telemetry[mark:]
        row = {
            "query": name,
            "pass": tag,
            "wall_s": root.end - root.start,
            "spans": tr.spans[first:],
            "streaming.runs": len(runs),
            "streaming.startup_s": sum(r["total_sec"] - r["exec_sec"] for r in runs),
            "streaming.trigger_s": sum(r["exec_sec"] for r in runs),
            **self.stats.delta(),
        }
        self.query_layers.append(row)
        return row["wall_s"], df

    # -- passes -----------------------------------------------------------
    def run_pass(self, names, data, tag, traced, check=None) -> float:
        if traced:
            self.stats.delta()  # drop what untraced work left in the stores
        total = 0.0
        for name in names:
            self.attempted += 1
            run = self._traced if traced else self._untraced
            dt, df = run(name, data, tag)
            total += dt
            self.times.setdefault(tag, {})[name] = dt
            if check is not None and df is not None:
                try:  # outside the timed query
                    check[name] = (df, df.collect())
                except Exception as exc:
                    self.failures.append(_failure(name, "check", tag, exc))
            if traced and df is not None and name not in self.plans:
                import sparkstats

                self.plans[name] = sparkstats.plan_facts(df)
        return total


def _layer_metrics(rows: list[dict], wall: float, cores: int) -> dict[str, float]:
    """Per-layer totals of one traced pass from its per-query rows."""
    import tracing

    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    residual = 0.0
    for row in rows:
        spans = row["spans"]
        if not spans:
            continue
        own = tracing.self_times(spans)
        by_id = {sp.id: sp for sp in spans}
        for sp in spans:
            layer = tracing.LAYER_OF[sp.name]
            add(f"self.{layer}", own[sp.id])
            if sp.name == "catalog.load_table":
                add("catalog.load_table_calls", 1)
            elif sp.name == "catalog.parquet":
                add("catalog.parquet_opens", 1)
                parent = by_id.get(sp.parent)
                if parent is not None and parent.name == "catalog.load_table":
                    add("catalog.load_table_misses", 1)
            elif sp.name == "catalog.register_views":
                add("catalog.register_views_s", sp.end - sp.start)
            elif sp.name == "catalog.scan_parallelism":
                add("catalog.scan_parallelism_s", sp.end - sp.start)
            elif sp.name == "operators.checkpoint":
                add("operators.checkpoints", 1)
            elif sp.name in ("operators.collect", "operators.to_pandas"):
                add("operators.collects", 1)
            elif sp.name == "sources.write":
                add("sources.writes", 1)
                add("sources.output_mb", sp.attrs.get("output_bytes", 0) / MB)
        residual = max(residual, abs(sum(own.values()) - row["wall_s"]))
        for key, v in row.items():
            if isinstance(v, int | float) and key != "wall_s":
                add(key, v)
    calls = m.get("catalog.load_table_calls", 0.0)
    out = {
        "catalog.load_table_calls": calls,
        "catalog.load_table_misses": m.get("catalog.load_table_misses", 0.0),
        "catalog.parquet_opens": m.get("catalog.parquet_opens", 0.0),
        "catalog.register_views_s": m.get("catalog.register_views_s", 0.0),
        "catalog.scan_parallelism_s": m.get("catalog.scan_parallelism_s", 0.0),
        "catalog.self_s": m.get("self.catalog", 0.0),
        "operators.call_s": m.get("self.operators.call", 0.0),
        "operators.checkpoints": m.get("operators.checkpoints", 0.0),
        "operators.checkpoint_s": m.get("self.operators.checkpoint", 0.0),
        "operators.collects": m.get("operators.collects", 0.0),
        "operators.collect_s": m.get("self.operators.collect", 0.0)
        + m.get("self.operators.to_pandas", 0.0),
        "operators.action_s": m.get("self.operators.action", 0.0),
        "sources.writes": m.get("sources.writes", 0.0),
        "sources.write_s": m.get("self.sources", 0.0),
        "sources.output_mb": m.get("sources.output_mb", 0.0),
        "streaming.self_s": m.get("self.streaming", 0.0),
        "trace.unattributed_s": m.get("self.unattributed", 0.0),
        "trace.residual_max_s": residual,
        "spark.busy_ratio": m.get("spark.run_s", 0.0) / (wall * cores) if wall else 0.0,
    }
    if calls:  # no ratio without calls
        out["catalog.memo_hit_ratio"] = 1.0 - out["catalog.load_table_misses"] / calls
    for key, v in m.items():
        if key.split(".")[0] in ("spark", "functions", "streaming") and key not in out:
            out[key] = v
    return out


def _query_table(rows: list[dict]) -> list[dict]:
    """Per query execution: wall time and self time by layer."""
    import tracing

    table = []
    for row in rows:
        own = tracing.self_times(row["spans"])
        layers: dict[str, float] = {}
        for sp in row["spans"]:
            key = tracing.LAYER_OF[sp.name]
            layers[key] = layers.get(key, 0.0) + own[sp.id]
        table.append({"query": row["query"], "pass": row["pass"], "wall_s": row["wall_s"], "self_s": layers})
    return table


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "tf_datapipeline_spark", "registry.py")):
        _die(f"no engine source next to {HERE}; run from a source checkout")
    cores = len(os.sched_getaffinity(0))
    _environment(cores)
    data = DATA
    os.makedirs(OUT, exist_ok=True)
    os.chdir(WORK)

    runner = Runner(args)
    phases = {"start": time.perf_counter()}
    setup = runner.setup(WARMUP_DATA)
    phases["setup"] = time.perf_counter()
    spark = runner.spark
    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)

    def order() -> list[str]:
        return rng.sample(names, len(names))

    _probe(spark)  # compiles the probe's plan; untimed
    probes = [_probe(spark)]
    if args.trace:
        import sparkstats

        runner.stats = sparkstats.SparkStats(spark)
    phases["probe"] = time.perf_counter()
    check: dict = {}
    n_rows = len(runner.query_layers)
    # the cold pass is a one-shot job: the mix in its listed order, whose
    # first queries pay the JIT warm-up whatever the seed
    cold = runner.run_pass(list(names), data, "cold", bool(args.trace), check)
    cold_rows = runner.query_layers[n_rows:]
    phases["cold"] = time.perf_counter()

    # Warm passes for --seconds. Passes in the first third of the window
    # still pay JIT compilation of the mix's plans and only settle; the
    # medians come from the passes after it, at least MIN_WARM_PASSES.
    # The traced run alternates untraced and traced passes there in
    # U T T U order, so neither side always runs first.
    untraced: list[str] = []
    traced_rows: list[tuple[float, list[dict]]] = []
    t_warm = time.perf_counter()
    i = 0
    while time.perf_counter() - t_warm < args.seconds / 3 or i == 0:
        runner.run_pass(order(), data, f"settle{i}", False)
        i += 1
    i = 0
    while True:
        traced = bool(args.trace) and i % 4 in (1, 2)
        tag = f"warm{i}"
        n_rows = len(runner.query_layers)
        total = runner.run_pass(order(), data, tag, traced)
        if traced:
            traced_rows.append((total, runner.query_layers[n_rows:]))
        else:
            untraced.append(tag)
        i += 1
        if args.trace:
            enough = len(untraced) >= 2 and len(traced_rows) >= 2
        else:
            enough = len(untraced) >= MIN_WARM_PASSES
        if enough and time.perf_counter() - t_warm >= args.seconds:
            break
    phases["warm"] = time.perf_counter()
    probes.append(_probe(spark))
    phases["probe2"] = time.perf_counter()
    # a warm pass's time from each query's median over the untraced passes
    warm = [sum(runner.times[t].values()) for t in untraced]
    pass_s = sum(
        statistics.median(runner.times[t][name] for t in untraced) for name in names
    )

    gateway = spark.sparkContext._gateway
    peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(gateway.proc.pid)

    # outputs, collected during the cold pass, against the oracle twins
    import oracle

    sqls = runner.registry.oracle_sql()
    results = {name: oracle.spark_result(df, rows) for name, (df, rows) in check.items()}
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    phases["stop"] = time.perf_counter()

    cache = os.path.join(WORK, "oracle")
    expected = {}
    for wl in WORKLOADS.values():  # every mix, so later workloads find them cached
        for name in wl:
            if name in sqls:
                expected[name] = oracle.oracle_result(name, sqls[name], data, cache)
    mismatches = 0
    for name in names:
        if name not in expected:
            continue  # no oracle twin: the run itself is the check
        if name not in results:
            continue  # already counted as a failure
        problem = oracle.compare(results[name], expected[name])
        if problem:
            mismatches += 1
            runner.failures.append(
                {"query": name, "phase": "check", "pass": "cold", "type": "oracle mismatch",
                 "error_class": None, "message": problem}
            )
    failed = len(runner.failures)
    phases["oracle"] = time.perf_counter()

    with open(os.path.join(HERE, "quiet_band.json")) as f:
        band = json.load(f)["probe_s"].get(str(cores))
    in_band = band is not None and all(lo <= p <= hi for p, (lo, hi) in zip(probes, band))

    q1, med, q3 = _quartiles(warm)
    e2e = {
        "pass_s": (pass_s, "s"),
        "cold_pass_s": (cold, "s"),
        "setup_s": (setup["setup_s"], "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    metrics = {}
    if args.trace:
        per_pass = [_layer_metrics(rows, total, cores) for total, rows in traced_rows]
        keys = sorted({k for p in per_pass for k in p})
        layer = {k: statistics.median(p[k] for p in per_pass if k in p) for k in keys}
        cold_layer = _layer_metrics(cold_rows, cold, cores)
        layer["catalog.cold_parquet_opens"] = cold_layer["catalog.parquet_opens"]
        layer["catalog.cold_self_s"] = cold_layer["catalog.self_s"]
        layer["operators.cold_checkpoint_s"] = cold_layer["operators.checkpoint_s"]
        t_med = statistics.median(t for t, _ in traced_rows)
        layer.update(
            {
                "session.start_s": setup["session.start_s"],
                "session.registry_s": setup["session.registry_s"],
                "session.warmup_s": setup["session.warmup_s"],
                "host.probe_before_s": probes[0],
                "host.probe_after_s": probes[1],
                "host.probe_in_band": 1.0 if in_band else 0.0,
                "trace.pass_s": t_med,
                "trace.untraced_pass_s": med,
                "trace.overhead_s": t_med - med,
                "trace.spans": float(len(runner.tracer.spans)),
            }
        )
        for facts in runner.plans.values():
            for k, v in facts.items():
                layer[k] = layer.get(k, 0.0) + v
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
        runner.tracer.write(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        with open(os.path.join(OUT, f"layers-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(_query_table(cold_rows + [r for _, rows in traced_rows for r in rows]), f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"data {os.path.relpath(data, ROOT)}  trace {args.trace}")
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:10.4f} {u}")
    print(f"  warm pass totals: quartiles {q1:.4f} / {med:.4f} / {q3:.4f} s over {len(warm)} passes: "
          + ", ".join(f"{w:.3f}" for w in warm))
    print(f"  failed_ratio   {failed}/{runner.attempted} = {failed / runner.attempted:.4f} "
          f"({mismatches} oracle mismatches)")
    for fl in runner.failures:
        print(f"  FAILED {fl['query']} [{fl['phase']}, {fl['pass']}] {fl['type']}"
              f" ({fl['error_class']}): {fl['message']}")
    verdict = (
        f"quiet bands {band}: {'in band' if in_band else 'OUT OF BAND - timings suspect'}"
        if band else "no quiet band recorded for this core count"
    )
    print(f"  host probe before/after {probes[0]:.3f} / {probes[1]:.3f} s at {cores} cores; {verdict}")
    if args.trace:
        for k, v in metrics.items():
            print(f"  {k:<32} {v['value']:12.4f} {v['unit']}")
    record = {
        "args": vars(args), "cores": cores, "setup": setup, "cold_pass_s": cold,
        "warm_pass_s": warm, "probes": probes, "failures": runner.failures,
        "attempted": runner.attempted, "query_s": runner.times,
        "phases_s": {k: v - phases["start"] for k, v in phases.items()}, "metrics": metrics,
    }
    with open(os.path.join(OUT, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
