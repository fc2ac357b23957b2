"""Outside-in tracer for the traced benchmark run.

The tracer wraps public calls of ``onetl_spark`` from here, so the library
itself stays untouched. A span records name, start, end, parent span and op
id; spans are kept in memory and written out when the run ends. Counts are
recorded at the same call boundaries.

Spans are only recorded while an op is open (``begin_op`` .. ``end_op``);
set-up, input generation and output checks call the same functions without
leaving spans behind.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median


def _count_retained(tracer, recorder, result):
    executions = recorder.spark._jsparkSession.sharedState().statusStore().executionsList()
    tracer.count("metrics.executions_retained", executions.size())


def _count_store_call(tracer, store, result):
    tracer.count("hwm.store_calls")


def _count_listed(tracer, connection, entries):
    tracer.count("file.transfer.files_examined", sum(1 for _, _, is_dir in entries if not is_dir))


def _count_selected(tracer, downloader, files):
    tracer.count("file.transfer.files_selected", len(files))


# Calls timed from outside: (module, class, attribute, span name or None for
# a count only, count hook run after the call).
WRAPPED = [
    ("onetl_spark.connections.jdbc", "Derby", "get_min_max_values", "connections.minmax", None),
    ("onetl_spark.connections.jdbc", "Derby", "read_source_as_df", "connections.read_plan", None),
    ("onetl_spark.db.reader", "DBReader", "run", "db.reader_run", None),
    ("onetl_spark.db.writer", "DBWriter", "run", "db.writer_run", None),
    ("onetl_spark.metrics", "SparkMetricsRecorder", "__enter__", "metrics.recorder", _count_retained),
    ("onetl_spark.metrics", "SparkMetricsRecorder", "__exit__", "metrics.recorder", None),
    ("onetl_spark.hwm.store", "YamlHWMStore", "get_hwm", "hwm.store_get", _count_store_call),
    ("onetl_spark.hwm.store", "YamlHWMStore", "set_hwm", "hwm.store_set", _count_store_call),
    ("onetl_spark.strategy.incremental", "IncrementalStrategy", "__exit__", "strategy.exit", None),
    ("onetl_spark.file.transfer.downloader", "FileDownloader", "view_files", "file.transfer.view_files", _count_selected),
    ("onetl_spark.file.transfer.downloader", "FileDownloader", "run", "file.transfer.run", None),
    ("onetl_spark.file.transfer.connection", "LocalFileConnection", "_list_dir", None, _count_listed),
    ("onetl_spark.file.file_df_reader", "FileDFReader", "run", "file.reader_build", None),
]

# Spans whose start marks the op's terminal write: jobs fired before it are
# build-phase jobs.
TERMINAL = {"db.writer_run", "operators.exec"}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: int | None = None
        self._stack: list[int] = []
        self._group: str | None = None
        self._patched: list[tuple[type, str, object]] = []

    # --- spans ---------------------------------------------------------------

    def begin_op(self, op: int, group: str) -> None:
        self.op, self._group = op, group

    def end_op(self) -> None:
        self._count_spark_work()
        self.op = self._group = None
        self._stack.clear()

    def count(self, name: str, value: float = 1) -> None:
        if self.op is not None:
            self.counts[self.op][name] += value

    def _open(self, name: str) -> int:
        if name in TERMINAL and "spark.build_jobs" not in self.counts[self.op]:
            self.counts[self.op]["spark.build_jobs"] = len(self._job_ids())
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "op": self.op, "parent": parent, "start": time.perf_counter(), "end": None})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    # --- wrapping ------------------------------------------------------------

    def install(self) -> None:
        import importlib

        for module, cls_name, attr, name, hook in WRAPPED:
            cls = getattr(importlib.import_module(module), cls_name)
            self._patched.append((cls, attr, cls.__dict__.get(attr)))
            setattr(cls, attr, self._wrap(getattr(cls, attr), name, hook))

    def uninstall(self) -> None:
        for cls, attr, own in reversed(self._patched):
            if own is None:
                delattr(cls, attr)
            else:
                setattr(cls, attr, own)
        self._patched.clear()

    def _wrap(self, func, name: str | None, hook):
        tracer = self

        def wrapper(instance, *args, **kwargs):
            if tracer.op is None:
                return func(instance, *args, **kwargs)
            idx = tracer._open(name) if name else None
            try:
                result = func(instance, *args, **kwargs)
            finally:
                if idx is not None:
                    tracer._close(idx)
            if hook is not None:
                hook(tracer, instance, result)
            return result

        return wrapper

    # --- Spark job/stage/task counts ----------------------------------------

    def _job_ids(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self._group))

    def _count_spark_work(self) -> None:
        if self.op is None:
            return
        tracker = self.spark.sparkContext.statusTracker()
        jobs = self._job_ids()
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                if sinfo and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        counts = self.counts[self.op]
        counts["spark.jobs"] = len(jobs)
        counts["spark.stages"] = stages
        counts["spark.tasks"] = tasks
        counts.setdefault("spark.build_jobs", len(jobs))

    # --- summaries -----------------------------------------------------------

    def per_op_times(self) -> dict[int, dict[str, float]]:
        """Per op: summed duration and summed self time of each span name."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            duration = s["end"] - s["start"]
            out[s["op"]][s["name"]] += duration
            out[s["op"]]["self." + s["name"]] += duration - _union_length(children[i])
            if s["parent"] is None:
                out[s["op"]]["top_level"] += duration
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median_of(values, default=0.0):
    values = list(values)
    return median(values) if values else default
