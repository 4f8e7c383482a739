"""Spans around the crawl cycle's layer calls, plus Spark counters per span.

The program is not edited. In a traced run :class:`Tracer` replaces the
names ``Crawler.run_cycle`` calls (module attributes of
``nutch_spark.pipeline.crawl_loop``, ``materialize_parse_caches`` in
``nutch_spark.operators.parse``, and ``read``/``commit`` on the catalog
instance) with wrappers that

- record a span (name, layer, start, end, parent, cycle id);
- set a Spark job group for the span and restore the caller's group on
  exit, so every job lands in the innermost span that started it;
- persist and count the frames the call returns, so the layer's lazy
  plan executes inside its own span instead of in whichever later
  action first pulls it. The handles are released by :meth:`end_cycle`.

Counters come from outside the program: jobs per group from the status
tracker, stage metrics (tasks, executor run time, input, shuffle, spill)
and ArrowEvalPython plan metrics from the core and SQL status stores.
An untraced run installs nothing, so it executes exactly the shipped
code.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import dataclass, field
from typing import Any

# span name -> layer (the repository module that does the work)
LAYER_OF = {
    "session": "session",
    "stage_inputs": "workload",
    "inject": "inject",
    "run_cycle": "cycle",
    "generate": "generate",
    "mark_generated": "generate",
    "fetch": "fetch",
    "fetched_content": "parse",
    "parse": "parse",
    "materialize_parse_caches": "parse",
    "updatedb_incremental": "updatedb",
    "SnapshotCatalog.read": "catalog",
    "SnapshotCatalog.commit": "catalog",
}

# crawl_loop module attributes run_cycle calls, wrapped in a traced run
_CRAWL_LOOP_CALLS = (
    "generate", "mark_generated", "fetch", "fetched_content", "parse",
    "updatedb_incremental",
)
# parse() outputs run_cycle consumes with the default config (no
# urlmeta/depth gates) and write_segments=True, plus the outlink table for
# parse.outlinks_per_doc
_PARSE_KEYS = ("crawl_parse", "parse_text", "parse_data", "parse_meta", "outlinks")

# ArrowEvalPython / pandas-UDF plan-node metrics: the JVM <-> Python
# boundary. The SQL status store keeps each execution's values as display
# strings: row counts exact, times rounded to 0.1 s above one second. (The
# live accumulators are no substitute: a plan run by several actions
# accumulates across all of them.)
_PY_KIND = {
    "number of output rows": "py_rows",
    "time to run Python workers": "py_ms",
    "time to start Python workers": "py_init_ms",
    "time to initialize Python workers": "py_init_ms",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    parent: int | None
    cycle: int | None
    group: str | None
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. While ``active`` is False it only times the
    spans and touches no Spark state; untraced runs never set it."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._handles: list = []
        self.spark = None
        self.cycle: int | None = None
        # wrappers and job groups act only while active (traced spans)
        self.active = False

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].sid if self._stack else None
        sid = next(self._ids)
        group = None
        sc = self.spark.sparkContext if (self.active and self.spark) else None
        if sc is not None:
            group = f"pb{sid}:{name}"
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(group, name)
        sp = Span(sid, name, LAYER_OF[name], 0.0, parent, self.cycle, group, attrs=attrs)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])

    def _materialize(self, sp: Span, key: str, df):
        df = df.persist()
        self._handles.append(df)
        sp.attrs[f"rows.{key}"] = df.count()
        return df

    # -- wrappers ----------------------------------------------------------
    def install(self, catalog) -> None:
        """Wrap the calls ``Crawler.run_cycle`` makes (traced runs only;
        the process exits with the wrappers in place)."""
        spark = self.spark
        from nutch_spark.operators import parse as parse_mod
        from nutch_spark.pipeline import crawl_loop

        def wrap(name, fn):
            def traced(*args, **kwargs):
                if not self.active:
                    return fn(*args, **kwargs)
                with self.span(name) as sp:
                    out = fn(*args, **kwargs)
                    if name == "fetch":
                        return tuple(self._materialize(sp, k, df)
                                     for k, df in zip(("crawl_fetch", "redirects"), out))
                    if name == "parse":
                        return {k: (self._materialize(sp, k, df) if k in _PARSE_KEYS else df)
                                for k, df in out.items()}
                    if name == "materialize_parse_caches":
                        sp.attrs["cache_bytes"] = sum(_cached_bytes(spark, h) for h in args[0])
                        return out
                    if name == "SnapshotCatalog.commit":
                        sp.attrs["table"] = args[1] if len(args) > 1 else kwargs["table"]
                        sp.attrs["bytes"] = sum(e["bytes"] for e in out.manifest)
                        sp.attrs["files"] = len(out.manifest)
                        sp.attrs["rows"] = sum(e["rows"] for e in out.manifest)
                        return out
                    return self._materialize(sp, "out", out)
            return traced

        for name in _CRAWL_LOOP_CALLS:
            setattr(crawl_loop, name, wrap(name, getattr(crawl_loop, name)))
        parse_mod.materialize_parse_caches = wrap(
            "materialize_parse_caches", parse_mod.materialize_parse_caches)
        catalog.read = wrap("SnapshotCatalog.read", catalog.read)
        catalog.commit = wrap("SnapshotCatalog.commit", catalog.commit)

    def end_cycle(self) -> None:
        """Release the frames the wrappers persisted."""
        for h in self._handles:
            h.unpersist()
        self._handles.clear()
        self.cycle = None

    # -- counters ----------------------------------------------------------
    def collect_counters(self, spans: list[Span]) -> None:
        """Attach Spark counters to every span that has a job group. The
        status stores are read as JSON, one py4j call per list."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        dump = _json_dumper(jvm)
        store = jsc.statusStore()
        groups = {sp.group: sp for sp in spans if sp.group}
        jobs = sorted((j for j in json.loads(dump(store.jobsList(None)))
                       if j.get("jobGroup") in groups), key=lambda j: j["jobId"])
        stages: dict[int, list[dict]] = {}
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for st in json.loads(dump(store.stageList(None, False, False, no_quantiles, None))):
            stages.setdefault(st["stageId"], []).append(st)
        counters = {g: dict(jobs=0, tasks=0, executor_run_ms=0, scan_bytes=0,
                            shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0,
                            py_rows=0, py_ms=0, py_init_ms=0) for g in groups}
        claimed: set[int] = set()
        for job in jobs:
            c = counters[job["jobGroup"]]
            c["jobs"] += 1
            for s in job["stageIds"]:
                # a stage listed by a later job that reuses its shuffle
                # output ran (and is counted) in the job that submitted it
                if s in claimed:
                    continue
                for st in stages.get(s, ()):
                    if st["status"] == "SKIPPED" or (st["submissionTime"] or 0) < (
                            job["submissionTime"] or 0):
                        continue
                    claimed.add(s)
                    c["tasks"] += st["numCompleteTasks"]
                    c["executor_run_ms"] += st["executorRunTime"]
                    c["scan_bytes"] += st["inputBytes"]
                    c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    c["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    c["spill_bytes"] += st["diskBytesSpilled"]
        group_of_job = {j["jobId"]: j["jobGroup"] for j in jobs}
        for g, py in self._python_metrics(dump, group_of_job).items():
            for k, v in py.items():
                counters[g][k] += v
        for g, sp in groups.items():
            sp.attrs.update(counters[g])

    def _python_metrics(self, dump, group_of_job: dict[int, str]) -> dict[str, dict]:
        """Python-UDF plan-node metrics per job group, from the SQL status
        store. Each SQL execution is one action, so all its jobs share the
        group of its first job."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[str, dict] = {}
        for e in json.loads(dump(sql.executionsList())):
            group = next((group_of_job[j] for j in sorted(int(k) for k in e["jobs"])
                          if j in group_of_job), None)
            if group is None:
                continue
            for node in json.loads(dump(sql.planGraph(e["executionId"]).allNodes())):
                if "Python" not in node["name"] and "Pandas" not in node["name"]:
                    continue
                for m in node["metrics"]:
                    kind = _PY_KIND.get(m["name"])
                    if kind is None:
                        continue
                    text = (e["metricValues"] or {}).get(str(m["accumulatorId"]))
                    if text is not None:
                        acc = out.setdefault(group, {})
                        acc[kind] = acc.get(kind, 0) + _parse_metric(text)
        return out


def _json_dumper(jvm):
    """``obj -> JSON string`` for JVM status-store objects (Scala case
    classes), through the Jackson Scala module Spark ships."""
    cls = jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(cls.getField("MODULE$").get(None))
    return mapper.writeValueAsString


def _parse_metric(text: str) -> float:
    """Total of a status-store metric string: "10,000", "356 ms", "10.7 s",
    or "total (min, med, max ...)\n10.7 s (2.6 s, ...)". Times -> ms."""
    total = text.strip().splitlines()[-1].split(" (")[0].replace(",", "").split()
    scale = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
    return float(total[0]) * (scale[total[1]] if len(total) > 1 else 1)


def _cached_bytes(spark, df) -> int:
    """In-memory size of a persisted frame's cached column buffers."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if not cached.isDefined():
        return 0
    return int(cached.get().cachedRepresentation().cacheBuilder().sizeInBytesStats().value())


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover (spans are
    opened on one thread, so children never overlap)."""
    child = {sp.sid: 0.0 for sp in spans}
    for sp in spans:
        if sp.parent in child:
            child[sp.parent] += sp.wall
    return {sp.sid: sp.wall - child[sp.sid] for sp in spans}
