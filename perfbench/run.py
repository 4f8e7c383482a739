"""Crawl-cycle benchmark: the shipped ``Crawler.run_cycle`` on fixed workloads.

    python3 perfbench/run.py --workload fetch_dense --seed 42 --seconds 1 --trace 0

Run from the repository root. One driver process at ``local[4]``, closed
loop: one crawl at a time, each cycle starts after the previous one has
committed. A run sets up Spark and a ``SnapshotCatalog`` under
``.perfbench_work/``, stages the workload's synthetic web to parquet,
injects it, and runs crawl cycle 1; further samples replay cycle 1 after
rolling the catalog back to the injected snapshot. Every committed
crawldb is checked (see README.md).

``--trace 0`` runs cycles until ``--seconds`` have been measured (at
least one) with tracing off and prints the end-to-end metrics.
``--trace 1`` runs the first cycle traced, then an untraced and a traced
replay, and prints the per-layer metrics. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PINS = os.path.join(HERE, "pins.json")

DEFAULT_SEED = 42
CORES = 4
PARTITIONS = 1  # spark.sql.shuffle.partitions and the fetch list count
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "fetched_urls_per_s": "URL/s",
    "crawl_s": "s",
    "peak_rss_mb": "MiB",
    "crawldb_bytes_per_url": "B",
}
COUNTERS = ("jobs", "tasks", "executor_run_s", "scan_bytes", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes")
BASE = ("wall_s", "self_s") + COUNTERS
PY = ("py_rows", "py_ms", "py_init_ms")
# layer -> per-layer metric names (besides BASE) ; layers with Arrow UDFs add PY
LAYERS = {
    "session": ("start_s",),
    "workload": ("stage_s",),
    "inject": PY,
    "generate": PY + ("selected_ratio",),
    "fetch": PY + ("success_ratio",),
    "parse": PY + ("cache_bytes", "outlinks_per_doc"),
    "updatedb": ("touched_ratio", "shuffle_bytes_per_db_byte"),
    "catalog": ("commit_bytes", "commit_files", "segments_commit_s"),
    # cycle.jobs counts every job of the cycle; the cycle's other counters
    # (and cycle.self_jobs) cover only jobs run_cycle starts itself
    "cycle": ("self_jobs", "overhead_s", "executor_busy_ratio"),
}
# the session layer runs no Spark job: its counters are structurally zero
NO_COUNTERS = {"session"}
UNITS = {"wall_s": "s", "self_s": "s", "executor_run_s": "s", "jobs": "count",
         "tasks": "count", "py_rows": "count", "py_ms": "ms", "py_init_ms": "ms",
         "start_s": "s", "stage_s": "s", "selected_ratio": "1", "success_ratio": "1",
         "cache_bytes": "B", "outlinks_per_doc": "1", "touched_ratio": "1",
         "shuffle_bytes_per_db_byte": "1", "commit_bytes": "B", "commit_files": "count",
         "segments_commit_s": "s", "overhead_s": "s", "executor_busy_ratio": "1"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, as ``--trace 1`` reports them."""
    out = {}
    for layer, extra in LAYERS.items():
        base = ("wall_s", "self_s") if layer in NO_COUNTERS else BASE
        for m in base + extra:
            out[f"{layer}.{m}"] = UNITS.get(m, "B" if m.endswith("_bytes") else "count")
    out["trace.overhead_s"] = "s"
    return out


# -- process / environment ---------------------------------------------------
def process_age_s(pid: str = "self") -> float:
    """Seconds since the process started, from /proc (clock-tick resolution)."""
    with open(f"/proc/{pid}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    """PIDs of every live process below this one, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its live descendants
    (python driver, JVM, Python workers)."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def become_subreaper() -> None:
    """Adopt orphaned descendants (e.g. Python workers of a JVM that exits
    first), so that ``stop_processes`` can wait for them too."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop Spark and wait until the JVM and every other process this run
    started have ended. The JVM would otherwise outlive this process by the
    time its shutdown hooks take."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception:  # a dead gateway: the JVM is killed below
            traceback.print_exc()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the pyspark gateway JVM exits at EOF on stdin
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the rest: wait, then SIGTERM after half the grace time, SIGKILL after it
    t0 = time.monotonic()
    while True:
        try:  # reap children, adopted ones included
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace_s / 2:
            sig = signal.SIGTERM if waited < grace_s else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def pin_environment(work: str) -> dict[str, str]:
    """Environment the program reads, pinned before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "NUTCH_SPARK_MASTER": f"local[{CORES}]",
        "NUTCH_SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM the launch scripts start, not only the driver: keep
        # their temp and perf-data files inside the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "NUTCH_SPARK_EXTRA_CONF": json.dumps({"spark.ui.showConsoleProgress": "false"}),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return env


def start_session(catalog_dir: str):
    from nutch_spark.catalog import SnapshotCatalog
    from nutch_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", shuffle_partitions=PARTITIONS)
    start_s = time.perf_counter() - t
    return spark, SnapshotCatalog(catalog_dir), start_s


# -- the run -----------------------------------------------------------------
def load_pins(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes")
    p.add_argument("--pins", default=PINS, help="pinned hashes (JSON)")
    p.add_argument("--record-pins", action="store_true",
                   help="write this run's hashes into --pins instead of checking them")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nutch_spark")):
        print(f"perfbench: no nutch_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from workloads import TINY, WORKLOADS  # noqa: E402  (perfbench/ is sys.path[0])

    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    label = w.name
    if args.tiny:
        from dataclasses import replace

        w = replace(w, **TINY[w.name])
        label = f"{w.name}@tiny"
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{label}-s{args.seed}-t{args.trace}-{os.getpid()}")
    env = pin_environment(work)
    become_subreaper()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, w, label, work, env)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def run(args, w, label: str, work: str, env: dict) -> int:
    from checks import cycle_problems, value_hash
    from tracer import Tracer, self_times
    from workloads import CYCLE_MS, START_MS, stage_inputs

    tracer = Tracer()
    tracer.active = bool(args.trace)
    with tracer.span("session") as sp_session:
        spark, catalog, start_s = start_session(os.path.join(work, "catalog"))
    setup_s = process_age_s()
    sp_session.attrs["start_s"] = start_s
    tracer.spark = spark
    pins_all = load_pins(args.pins)
    pins = pins_all.get(label, {}).get(str(args.seed))
    record = {"inputs": {}, "crawldb": None}

    from nutch_spark.config import NutchConfig
    from nutch_spark.pipeline.crawl_loop import CRAWLDB, Crawler

    with tracer.span("stage_inputs") as sp_stage:
        web, record["inputs"] = stage_inputs(spark, w, args.seed, os.path.join(work, "inputs"))
    if pins and not args.record_pins and pins["inputs"] != record["inputs"]:
        print(f"perfbench: staged inputs of {label} seed {args.seed} do not match the "
              f"pinned hashes {pins['inputs']} (got {record['inputs']})", file=sys.stderr)
        spark.stop()
        return 3

    cfg = NutchConfig(shuffle_partitions=PARTITIONS, fetch_partitions=PARTITIONS)
    crawler = Crawler(spark, catalog, cfg, web["docs"], web["robots"], web["outcomes"],
                      write_segments=True)
    if args.trace:
        tracer.install(catalog)
    with tracer.span("inject") as sp_inject:
        crawler.inject(web["seeds"], START_MS)
    injected = catalog.current_snapshot_id(CRAWLDB)
    db_in = catalog.snapshots(CRAWLDB)[-1].manifest
    db_in_rows = sum(e["rows"] for e in db_in)
    db_in_bytes = sum(e["bytes"] for e in db_in)
    if args.trace:
        tracer.collect_counters([sp_stage, sp_inject])

    # trace 0: cycles until --seconds have been measured (at least one);
    # trace 1: the first cycle traced (it is the one trace 0 times first),
    # then an untraced and a traced one for trace.overhead_s
    plan = (True, False, True) if args.trace else None
    cycles = []  # one dict per attempted cycle
    t_measure = time.perf_counter()
    while True:
        i = len(cycles)
        if plan is not None and i == len(plan):
            break
        if plan is None and cycles and time.perf_counter() - t_measure >= args.seconds:
            break
        traced = bool(plan and plan[i])
        if cycles:
            catalog.rollback(CRAWLDB, injected)
        tracer.active = traced
        tracer.cycle = i
        c = {"index": i, "traced": traced, "problems": []}
        n_spans = len(tracer.spans)
        try:
            with tracer.span("run_cycle") as sp_cycle:
                res = crawler.run_cycle(1, START_MS + CYCLE_MS, top_n=w.top_n)
            c.update(wall_s=sp_cycle.wall, generated=res.generated, fetched=res.fetched,
                     db_size=res.db_size)
        except Exception:  # a failing cycle is counted, reported, and the run goes on
            c["problems"].append("raised: " + traceback.format_exc(limit=3))
            c.update(wall_s=sp_cycle.wall, generated=0, fetched=0, db_size=0)
            res = None
        finally:
            tracer.end_cycle()
            tracer.active = False
        spans = tracer.spans[n_spans:]
        if res is not None:
            snap = catalog.snapshots(CRAWLDB)[-1]
            digest, rows, distinct = value_hash(catalog.read(spark, CRAWLDB), "url")
            seg = catalog.snapshots(f"segment_{1:04d}_crawl_fetch")[-1].manifest
            c["problems"] += cycle_problems(res, w.top_n, rows, distinct,
                                            sum(e["rows"] for e in seg))
            c["crawldb_hash"] = digest
            c["crawldb_bytes"] = sum(e["bytes"] for e in snap.manifest)
            c["crawldb_rows"] = rows
            c["fetch_success"] = snap.metrics["fetch_status_counts"].get("fetch_success", 0)
            if cycles and cycles[0].get("crawldb_hash") not in (None, digest):
                c["problems"].append(f"replay hash {digest} != first {cycles[0]['crawldb_hash']}")
            if pins and not args.record_pins and pins["crawldb"] != digest:
                c["problems"].append(f"crawldb hash {digest} != pinned {pins['crawldb']}")
        if traced and res is not None:
            tracer.collect_counters(spans)
            c["layers"] = cycle_layers(spans, self_times(spans), c, db_in_rows, db_in_bytes)
        cycles.append(c)
        for msg in c["problems"]:
            print(f"perfbench: cycle {i}: {msg}", file=sys.stderr)

    peak_rss = tree_peak_rss_mb()
    spark.stop()

    if args.record_pins:
        record["crawldb"] = cycles[0].get("crawldb_hash")
        pins_all.setdefault(label, {})[str(args.seed)] = record
        with open(args.pins, "w") as f:
            json.dump(pins_all, f, indent=1, sort_keys=True)
            f.write("\n")

    failed = sum(1 for c in cycles if c["problems"])
    untraced = [c for c in cycles if not c["traced"]]
    metrics_e2e = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(c["wall_s"] for c in untraced),
        "fetched_urls_per_s": (sum(c["fetched"] for c in untraced)
                               / sum(c["wall_s"] for c in untraced)),
        "crawl_s": sp_inject.wall + cycles[0]["wall_s"],
        "peak_rss_mb": peak_rss,
        "crawldb_bytes_per_url": cycles[-1].get("crawldb_bytes", 0) / max(
            1, cycles[-1].get("crawldb_rows", 0)),
    }
    settings = {"workload": label, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cores": CORES, "partitions": PARTITIONS,
                "n_docs": w.n_docs, "n_hosts": w.n_hosts, "top_n": w.top_n,
                "write_segments": True,
                **{k: v for k, v in env.items() if k != "PYTHONPATH"}}
    print("settings " + json.dumps(settings, sort_keys=True))
    print(f"samples untraced_cycles={len(untraced)} "
          f"attempted_cycles={len(cycles)} failed_ratio={failed / len(cycles):.4f}")

    if args.trace and "layers" not in cycles[0]:
        print("perfbench: the traced cycle failed; no per-layer metrics", file=sys.stderr)
        return 1
    if args.trace:
        metrics = per_layer(cycles[0]["layers"], sp_session, sp_stage, sp_inject, tracer,
                            start_s)
        metrics["trace.overhead_s"] = cycles[2]["wall_s"] - cycles[1]["wall_s"]
        units = per_layer_names()
    else:
        metrics, units = metrics_e2e, END_TO_END
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    out = os.path.join(WORK, "runs", f"{label}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump({"settings": settings, "cycles": cycles,
                   "end_to_end": metrics_e2e, "metrics": metrics,
                   "spans": [s.__dict__ for s in tracer.spans]}, f, indent=1, default=str)
    print(f"detail {out}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(cycles), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _sum(spans, key: str) -> float:
    return sum(sp.attrs.get(key, 0) for sp in spans)


def layer_base(spans, selfs) -> dict[str, float]:
    return {
        "wall_s": sum(sp.wall for sp in spans),
        "self_s": sum(selfs[sp.sid] for sp in spans),
        "jobs": _sum(spans, "jobs"), "tasks": _sum(spans, "tasks"),
        "executor_run_s": _sum(spans, "executor_run_ms") / 1000.0,
        "scan_bytes": _sum(spans, "scan_bytes"),
        "shuffle_write_bytes": _sum(spans, "shuffle_write_bytes"),
        "shuffle_read_bytes": _sum(spans, "shuffle_read_bytes"),
        "spill_bytes": _sum(spans, "spill_bytes"),
        "py_rows": _sum(spans, "py_rows"), "py_ms": _sum(spans, "py_ms"),
        "py_init_ms": _sum(spans, "py_init_ms"),
    }


def cycle_layers(spans, selfs, c, db_rows: int, db_bytes: int) -> dict[str, dict]:
    """Per-layer metrics of one traced cycle."""
    by = {}
    for sp in spans:
        by.setdefault(sp.layer, []).append(sp)
    out = {layer: layer_base(by.get(layer, []), selfs)
           for layer in ("generate", "fetch", "parse", "updatedb", "catalog", "cycle")}
    rows = {k: v for sp in spans for k, v in sp.attrs.items() if k.startswith("rows.")}
    gen = next(sp for sp in spans if sp.name == "generate")
    generated = gen.attrs["rows.out"]
    out["generate"]["selected_ratio"] = generated / db_rows
    out["fetch"]["success_ratio"] = c.get("fetch_success", 0) / max(1, generated)
    out["parse"]["cache_bytes"] = _sum(by["parse"], "cache_bytes")
    out["parse"]["outlinks_per_doc"] = rows["rows.outlinks"] / max(1, rows["rows.parse_data"])
    seg_rows = rows["rows.crawl_fetch"] + rows["rows.crawl_parse"] + rows["rows.redirects"]
    out["updatedb"]["touched_ratio"] = seg_rows / db_rows
    out["updatedb"]["shuffle_bytes_per_db_byte"] = (
        out["updatedb"]["shuffle_write_bytes"] / db_bytes)
    commits = [sp for sp in by["catalog"] if sp.name == "SnapshotCatalog.commit"]
    out["catalog"]["commit_bytes"] = _sum(commits, "bytes")
    out["catalog"]["commit_files"] = _sum(commits, "files")
    out["catalog"]["segments_commit_s"] = sum(
        sp.wall for sp in commits if sp.attrs["table"] != "crawldb")
    cyc = out["cycle"]
    all_base = layer_base(spans, selfs)
    cyc["self_jobs"], cyc["jobs"] = cyc["jobs"], all_base["jobs"]
    cyc["overhead_s"] = cyc["self_s"]
    cyc["executor_busy_ratio"] = all_base["executor_run_s"] / (cyc["wall_s"] * CORES)
    cyc["self_sum_s"] = all_base["self_s"]  # equals wall_s: self times tile the cycle
    return out


def per_layer(cycle: dict, sp_session, sp_stage, sp_inject, tracer, start_s) -> dict:
    """The ``--trace 1`` metrics: the first (traced) cycle's layers plus the
    one-off session, staging and inject spans."""
    from tracer import self_times

    selfs = self_times(tracer.spans)
    layers = {
        "session": {"wall_s": sp_session.wall, "self_s": selfs[sp_session.sid],
                    "start_s": start_s},
        "workload": {**layer_base([sp_stage], selfs), "stage_s": sp_stage.wall},
        "inject": layer_base([sp_inject], selfs),
        **cycle,
    }
    out = {}
    for name in per_layer_names():
        if name == "trace.overhead_s":
            continue
        layer, m = name.split(".", 1)
        out[name] = float(layers[layer][m])
    return out


if __name__ == "__main__":
    raise SystemExit(main())
