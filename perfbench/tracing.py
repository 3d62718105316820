"""Spans and counters recorded around the package's public calls.

A traced run composes the same calls an untraced job makes, but
materializes each one (``localCheckpoint()`` + ``count()``) inside a span,
so every layer's work happens inside its own interval. A span records
``{name, start, end, parent}``; counters are read as deltas around it:

* shuffle bytes written, from the Spark status store
  (``statusStore().executorList(True)``);
* jobs, from a job group set around the span
  (``statusTracker().getJobIdsForGroup``);
* GC time, from the JVM's GarbageCollectorMXBeans. In local mode every
  task runs in the one JVM, so the per-task GC times in the status store
  count one pause once per concurrent task; the MXBean total does not.

The listener bus is drained before every counter read, so a span's
counters include the tasks of every action it ran. Spans stay in memory
and are written out once, when the run ends. A span's self values are its
own minus those of its direct children.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

MB = 1 << 20


class Counters:
    """Cumulative JVM-side counters of one SparkContext."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gc_beans = list(self.sc._jvm.java.lang.management
                              .ManagementFactory.getGarbageCollectorMXBeans())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self) -> dict[str, float]:
        self.drain()
        ex = self._jsc.statusStore().executorList(True)
        shuffle = sum(ex.apply(i).totalShuffleWrite()
                      for i in range(ex.size()))
        tasks = sum(ex.apply(i).completedTasks() for i in range(ex.size()))
        gc_ms = sum(b.getCollectionTime() for b in self._gc_beans)
        return {"shuffle_mb": shuffle / MB, "tasks": tasks,
                "gc_s": gc_ms / 1000.0}

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


class Tracer:
    """Records nested spans with counter deltas; aggregates self values
    per span name."""

    def __init__(self, spark: SparkSession) -> None:
        self.counters = Counters(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.n = 0  # rows of the last materialized table
        self.ratios: dict[str, tuple[int, int]] = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "rows": 0, "child_s": 0.0,
               "child": defaultdict(float)}
        self.counters.sc.setJobGroup(group, name)
        before = self.counters.read()
        rec["start"] = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            after = self.counters.read()
            total = {k: after[k] - before[k] for k in after}
            total["jobs"] = self.counters.jobs_in_group(group)
            rec["self"] = {k: v - rec["child"][k] for k, v in total.items()}
            rec["self"]["s"] = rec["end"] - rec["start"] - rec["child_s"]
            del rec["child"]
            self.spans.append(rec)
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
                for k, v in total.items():
                    parent["child"][k] += v
                self.counters.sc.setJobGroup(f"perfbench-{parent['id']}",
                                             parent["name"])
            else:
                self.counters.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, rec: dict | None, df: DataFrame) -> DataFrame:
        """Checkpoint ``df`` and count it; the rows go to span ``rec``
        (unless None) and to ``self.n``."""
        df = df.localCheckpoint()
        self.n = df.count()
        if rec is not None:
            rec["rows"] += self.n
        return df

    def call(self, name: str, thunk) -> DataFrame:
        """Build ``thunk()`` inside a span named ``name`` and materialize it
        there, so that span holds all of the call's work."""
        with self.span(name) as rec:
            return self.materialize(rec, thunk())

    def layer_metrics(self, layers: list[str],
                      ratios: list[str]) -> dict[str, float]:
        """``<layer>.{self_s,rows,shuffle_mb,jobs,gc_s}`` summed over the
        spans of each layer, and each ratio (zeros for a layer or ratio
        this run never reached)."""
        out = {}
        for layer in layers:
            spans = [s for s in self.spans if s["name"] == layer]
            out[f"{layer}.self_s"] = sum(s["self"]["s"] for s in spans)
            out[f"{layer}.rows"] = sum(s["rows"] for s in spans)
            out[f"{layer}.shuffle_mb"] = sum(s["self"]["shuffle_mb"]
                                             for s in spans)
            out[f"{layer}.jobs"] = int(sum(s["self"]["jobs"] for s in spans))
            out[f"{layer}.gc_s"] = sum(s["self"]["gc_s"] for s in spans)
        for name in ratios:
            num, den = self.ratios.get(name, (0, 0))
            out[name] = num / den if den else 0.0
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump([{"name": s["name"], "id": s["id"],
                        "parent": s["parent"],
                        "start": s["start"] - t0, "end": s["end"] - t0,
                        "rows": s["rows"], "self": s["self"]}
                       for s in sorted(self.spans, key=lambda s: s["id"])],
                      f, indent=1)
