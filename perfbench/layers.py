"""Per-layer measurement from outside the engine.

Nothing here edits the engine. A traced pass patches the public functions of
the engine's modules for the length of the pass, records a span around each
call, and counts executor-side work through accumulators. Spark's own
counters come from the JVM status store, read before and after the pass.
"""

from __future__ import annotations

import importlib
import inspect
import os
import time
from contextlib import contextmanager

PKG = "talkinghead_datapipeline_spark"

# (module, attribute, span name) of every driver-side call a traced pass times.
TRACED_CALLS = (
    ("run", "run", "run.run"),
    ("run", "bind_input", "run.bind_input"),
    ("sources.media", "scan_binary_dir", "sources.scan_binary_dir"),
    ("plans.reference_compat", "run_reference_graph", "plans.run_reference_graph"),
    ("operators.inference", "batched_inference", "operators.batched_inference"),
)


def _counted(batch_fn, calls, rows, secs):
    """Executor-side wrapper of a ``batch_fn``: one call, its input rows and
    its self time go to the model key's accumulators. This module is pickled
    by value, so the workers need not import it."""

    def counted(model, pdf):
        t0 = time.perf_counter()
        try:
            return batch_fn(model, pdf)
        finally:
            calls.add(1)
            rows.add(len(pdf))
            secs.add(time.perf_counter() - t0)

    return counted


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Tracer:
    """Spans (name, start, end, parent) kept in memory, plus per-model-key
    accumulators for the executor side."""

    def __init__(self, spark):
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(importlib.import_module(__name__))
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()
        self.acc: dict[str, tuple] = {}
        self.input_files = 0
        self.input_bytes = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter() - self._origin,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._origin

    def span_s(self, name: str, since: int = 0) -> float:
        """Summed wall seconds of the spans called ``name`` from ``since`` on."""
        return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)

    def _accumulators(self, model_key: str) -> tuple:
        if model_key not in self.acc:
            self.acc[model_key] = (
                self.sc.accumulator(0),
                self.sc.accumulator(0),
                self.sc.accumulator(0.0),
            )
        return self.acc[model_key]

    def inference_totals(self) -> dict[str, tuple[int, int, float]]:
        return {k: tuple(a.value for a in accs) for k, accs in self.acc.items()}

    def _count_batches(self, kwargs: dict) -> None:
        kwargs["batch_fn"] = _counted(
            kwargs["batch_fn"], *self._accumulators(kwargs["model_key"])
        )

    def _count_input(self, kwargs: dict) -> None:
        files, size = _tree_size(kwargs["path"])
        self.input_files += files
        self.input_bytes += size

    def _wrapper(self, name: str, fn):
        """``fn`` inside a span; for the calls in ``hooks`` the arguments
        are bound by name first so the hook can read or replace them."""
        hooks = {
            "operators.batched_inference": self._count_batches,
            "run.bind_input": self._count_input,
        }
        signature = inspect.signature(fn)

        def traced(*args, **kwargs):
            if name in hooks:
                bound = signature.bind(*args, **kwargs)
                hooks[name](bound.arguments)
                args, kwargs = bound.args, bound.kwargs
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self):
        """Route every call in TRACED_CALLS through a span for the block."""
        saved = []
        for mod_name, attr, name in TRACED_CALLS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrapper(name, orig))
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)


class StatusStore:
    """Job, stage and task counters of the JVM ``AppStatusStore``, diffed
    around a pass."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        self.jvm = spark._jvm
        self.gateway = sc._gateway

    def _settle(self) -> None:
        # The status store is fed by the listener bus; drain it so the last
        # stage of the pass is counted.
        self.jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        # py4j cannot use Scala default arguments: pass all five.
        return self.jsc.statusStore().stageList(
            self.jvm.java.util.ArrayList(),
            False,
            False,
            self.gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )

    def _job_ids(self) -> list[int]:
        jobs = self.jsc.statusStore().jobsList(self.jvm.java.util.ArrayList())
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def mark(self) -> tuple[int, int]:
        self._settle()
        stages = self._stages()
        last_stage = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)
        return max(self._job_ids(), default=-1), last_stage

    def since(self, mark: tuple[int, int], wall_s: float, cores: int) -> dict[str, float]:
        self._settle()
        last_job, last_stage = mark
        out = dict.fromkeys(
            (
                "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "serial_stage_s",
            ),
            0,
        )
        out["jobs"] = sum(1 for j in self._job_ids() if j > last_job)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= last_stage:
                continue
            tasks = s.numCompleteTasks()
            if tasks == 0:  # skipped: its shuffle output was reused
                continue
            run_s = s.executorRunTime() / 1e3
            out["stages"] += 1
            out["tasks"] += tasks
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numTasks() == 1:
                out["serial_stage_s"] += run_s
        out["idle_core_frac"] = 1.0 - out["executor_run_s"] / (wall_s * cores)
        return {f"spark.{k}": v for k, v in out.items()}
