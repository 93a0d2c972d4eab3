"""Engine-side counters read between queries in the traced run: stage
metrics from the Spark status store, Python-worker metrics from the SQL
status store, and plan facts from the engine's plan inspection helpers.
"""

from __future__ import annotations

import re

_MB = 1024.0 * 1024.0

# SQL metric name -> per-layer metric
_PY_METRICS = {
    "time to start Python workers": "functions.py_start_s",
    "time to initialize Python workers": "functions.py_init_s",
    "time to run Python workers": "functions.py_run_s",
    "data sent to Python workers": "functions.arrow_sent_mb",
    "data returned from Python workers": "functions.arrow_returned_mb",
}
_UNITS = {
    "B": 1 / _MB,
    "KiB": 1024 / _MB,
    "MiB": 1.0,
    "GiB": 1024.0,
    "TiB": 1024.0 * 1024.0,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_QUANTITY = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]+)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('474 ms', '19.9 KiB', or the
    'total (min, med, max ...)\\n1.2 s (...)' multi-task form)."""
    m = _QUANTITY.match(text.strip().splitlines()[-1])
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkStats:
    """Deltas of the status stores since the previous call to `delta`."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage = self._job = self._exec = -1
        self.delta()

    def _stages(self):
        return self._store.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList()
        )

    def delta(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            [
                "spark.jobs",
                "spark.stages",
                "spark.tasks",
                "spark.run_s",
                "spark.cpu_s",
                "spark.gc_s",
                "spark.shuffle_write_mb",
                "spark.shuffle_read_mb",
                "spark.spill_mb",
                "spark.input_mb",
                *_PY_METRICS.values(),
            ],
            0.0,
        )
        # both lists come newest first
        it = self._stages().iterator()
        top = self._stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._stage:
                break
            top = max(top, sid)
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            out["spark.run_s"] += s.executorRunTime() / 1e3
            out["spark.cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_s"] += s.jvmGcTime() / 1e3
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["spark.spill_mb"] += s.memoryBytesSpilled() / _MB
            out["spark.input_mb"] += s.inputBytes() / _MB
        self._stage = top
        jobs = self._store.jobsList(None)
        if jobs.size():
            top_job = jobs.apply(0).jobId()
            out["spark.jobs"] = max(0, top_job - self._job)
            self._job = max(self._job, top_job)
        while True:
            opt = self._sql.execution(self._exec + 1)
            if not opt.isDefined():
                break
            self._exec += 1
            names = {}
            mit = opt.get().metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() in _PY_METRICS:
                    names[m.accumulatorId()] = _PY_METRICS[m.name()]
            if not names:
                continue
            vit = self._sql.executionMetrics(self._exec).iterator()
            while vit.hasNext():
                kv = vit.next()
                key = names.get(kv._1())
                if key is not None:
                    out[key] += parse_metric(kv._2())
        return out


_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def plan_facts(df) -> dict[str, float]:
    """Exchange and Python-evaluation node counts of the formatted
    physical plan, and the number of whole-stage-codegen subtrees."""
    from tf_datapipeline_spark.plans.inspect import (
        _parse_tree,
        codegen_subtree_count,
        formatted_plan,
    )

    names = [name for _, name, _ in _parse_tree(formatted_plan(df))]
    return {
        "plans.exchanges": sum(
            n.endswith("Exchange") and not n.startswith("Reused") for n in names
        ),
        "plans.python_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in names),
        "plans.codegen_subtrees": codegen_subtree_count(df),
    }
