"""Spans around the package's layers, joined to Spark's own job metrics.

A span is opened around each call into a layer; it sets a Spark job group
named after itself, so every job the call runs lands in that group in
Spark's status store. After each operation ``harvest`` drains the listener
bus and copies the jobs and stages of the run's groups out of the store
(it keeps only the last 1000 jobs). Jobs whose description starts with
``Listing leaf files`` are Spark's parallel partition discovery; they are
counted as the ``listing`` layer, inside whichever span ran them.

Spans live in memory with their parent ids and are written out once, at
the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

LISTING_PREFIX = "Listing leaf files"
LAYERS = (
    "session",
    "sources.readers",
    "sources.sinks",
    "operators.quality",
    "plans.dims",
    "plans.pipeline",
    "plans.volatility",
    "plans.report",
    "plans.analytics",
    "operators.markets",
)
LAYER_METRICS = (
    ("calls", "count"),
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("exec_cpu_s", "s"),
    ("input_records", "count"),
    ("shuffle_write_bytes", "bytes"),
)
LISTING_METRICS = (("jobs", "count"), ("tasks", "count"), ("wall_s", "s"))
TABLES = {
    "staging": "staging",
    "dim_instrumento": "dim_instrumento",
    "dim_tempo": "dim_tempo",
    "fact_movimentacao_diaria": "fact",
    "volatility_weekly": "weekly",
}
TABLE_METRICS = (
    ("files_written", "count"),
    ("bytes_written", "bytes"),
    ("wall_s", "s"),
    ("driver_s", "s"),
)
RUN_METRICS = (("gc_s", "s"), ("spill_bytes", "bytes"), ("trace_overhead_frac", "frac"))


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in reporting order.

    ``session`` runs no Spark job and is called once, so only its wall is
    reported."""
    out = [("session.wall_s", "s")]
    out += [(f"{layer}.{m}", u) for layer in LAYERS[1:] for m, u in LAYER_METRICS]
    out += [(f"listing.{m}", u) for m, u in LISTING_METRICS]
    out += [(f"sources.sinks.{t}.{m}", u) for t in TABLES.values() for m, u in TABLE_METRICS]
    return out + list(RUN_METRICS)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Spans of one benchmark process; ``enabled`` False makes it a no-op."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self._patched: list[tuple[object, str, object]] = []
        self.error_span: str | None = None  # innermost span an exception left
        jvm = spark._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    # -- spans -------------------------------------------------------------
    def add_span(self, layer: str, name: str, start: float, end: float) -> None:
        """Record a span measured before tracing could start (the session)."""
        self.spans.append({"id": len(self.spans), "parent": None, "layer": layer,
                           "name": name, "table": None, "op": None,
                           "start": start, "end": end})

    @contextlib.contextmanager
    def span(self, layer: str, name: str, table: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "layer": layer, "name": name, "table": table, "op": self.op,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"{self.tag}{sid}", f"{layer}:{name}")
        try:
            yield
        except BaseException:
            self.error_span = self.error_span or f"{layer}:{name}"
            raise
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"{self.tag}{self.stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, layer: str, table_arg: int | None = None) -> None:
        """Replace ``module.attr`` with a spanned wrapper (undone by unwrap).

        ``table_arg``: index of the positional argument holding the target
        path; its last component names the table the sink writes.
        """
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            table = None
            if table_arg is not None:
                table = TABLES.get(str(args[table_arg]).rstrip("/").rsplit("/", 1)[-1])
            with self.span(layer, attr, table):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- Spark status store --------------------------------------------------
    def harvest(self) -> None:
        """Copy this run's finished jobs and their stages out of the store."""
        self._bus.waitUntilEmpty()
        jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
        mine = [j for j in jobs if (j.get("jobGroup") or "").startswith(self.tag)]
        for j in mine:
            self.jobs[j["jobId"]] = j
        wanted = {s for j in mine for s in j["stageIds"]}
        stages = json.loads(self._json.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles, None)))
        for s in stages:
            if s["stageId"] in wanted and s["status"] == "COMPLETE":
                self.stages[s["stageId"]] = s

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "jobs": list(self.jobs.values())}, fh)

    # -- aggregation ---------------------------------------------------------
    def _job_index(self):
        """span id -> its jobs; each stage charged to the first job that ran it."""
        by_span: dict[int, list[dict]] = {}
        stage_owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            j = self.jobs[jid]
            sid = int(j["jobGroup"][len(self.tag):])
            by_span.setdefault(sid, []).append(j)
            for s in j["stageIds"]:
                stage_owner.setdefault(s, jid)
        return by_span, stage_owner

    def layer_totals(self, ops: set[int]) -> dict[str, float]:
        """Per-layer sums over the spans of operations ``ops``."""
        by_span, stage_owner = self._job_index()
        spans = [s for s in self.spans if s["op"] in ops and s["end"] is not None]
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def interval(j):
            return j["submissionTime"] / 1e3, j["completionTime"] / 1e3

        def is_listing(j):
            return (j.get("description") or "").startswith(LISTING_PREFIX)

        def subtree_jobs(s):
            out = list(by_span.get(s["id"], []))
            for c in children.get(s["id"], []):
                out += subtree_jobs(c)
            return out

        out: dict[str, float] = {}

        def add(key, v):
            out[key] = out.get(key, 0.0) + v

        for s in spans:
            own = by_span.get(s["id"], [])
            listing = [j for j in own if is_listing(j)]
            wall = s["end"] - s["start"]
            jobs_wall = _union_s([interval(j) for j in subtree_jobs(s)])
            self_s = wall - sum(c["end"] - c["start"] for c in children.get(s["id"], []))
            self_s -= sum(b - a for a, b in map(interval, listing))
            keys = [s["layer"]]
            if s["table"]:
                keys.append(f"{s['layer']}.{s['table']}")
            for k in keys:
                add(f"{k}.calls", 1)
                add(f"{k}.wall_s", wall)
                add(f"{k}.self_s", self_s)
                add(f"{k}.driver_s", max(0.0, wall - jobs_wall))
            for j in own:
                if is_listing(j):
                    add("listing.jobs", 1)
                    add("listing.tasks", j["numTasks"])
                    a, b = interval(j)
                    add("listing.wall_s", b - a)
                for sid in j["stageIds"]:
                    st = self.stages.get(sid)
                    if st is None or stage_owner.get(sid) != j["jobId"]:
                        continue
                    for k in keys if not is_listing(j) else ():
                        add(f"{k}.exec_cpu_s", st["executorCpuTime"] / 1e9)
                        add(f"{k}.input_records", st["inputRecords"])
                        add(f"{k}.shuffle_write_bytes", st["shuffleWriteBytes"])
                    add("gc_s", st["jvmGcTime"] / 1e3)
                    add("spill_bytes", st["memoryBytesSpilled"] + st["diskBytesSpilled"])
        return out
