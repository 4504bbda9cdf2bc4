#!/usr/bin/env python3
"""Crawl benchmark: ``plans.crawl.run_crawl`` end to end on ``local[4]``.

    python3 perfbench/run.py --workload paced_resume --seed 3 \
        --seconds 20 --trace 0

Run from the repository root. One driver process, one crawl at a time
(closed loop). The first run in a checkout builds (``build.py``, in a
process of its own): it generates each workload's worlds for world
seeds 0 .. WORLDS-1 with their oracle digests, and a class-data-sharing
archive of the JVM's classes. Every run then starts a fresh Spark
session on that archive and times one checked crawl of the world
``--seed`` selects (world seed = seed mod WORLDS), as the session's
first work; ``--seconds`` is accepted for the command-line contract,
the crawl sets the measured length. ``--trace 1`` times the crawl with
spans and the event log on and compares its throughput with the recent
untraced runs of the same code. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it are diagnostics: the world, the crawl
and the ambient reading. See perfbench/README.md for the workloads and
metrics.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory; the build, untraced throughput history and the
traced runs' spans are kept there between runs, everything else is
removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from datetime import datetime
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench_work")
CRAWL_TIME = datetime(2026, 1, 15, 12, 0, 0)
CPUS = 4

# batch_seconds is the simulated politeness budget per micro-batch.
# Crawl wall time hardly depends on world size here (fixed per-job
# latency dominates: 2,000 and 10,000 urls crawl in about the same
# time), while the build, the oracle and the checks grow with it
# (README.md).
WORKLOADS = {
    # The build crawls batch 0 and stops (first_leg_batches); a run
    # resumes that stopped crawl in its fresh process and times the
    # rest. Batch 0 takes the small sites and the head of the largest
    # one (750 fetches at 0.1 s); 429 back-off halves the budget after
    # that, which leaves the site's ~600-url tail to batches 1 and 2.
    # Batch 0 writes a delta checkpoint and compacts (purge tombstones
    # + batch 0 = 2 generations); the resume reads the batch -1 full
    # snapshot plus that delta; batch 1 writes a full checkpoint and
    # batch 2 a delta, and they compact again.
    "paced_resume": {"n_urls": 4000, "batch_seconds": 75.0,
                     "first_leg_batches": 1, "ckpt_full_every": 2,
                     "compact_every": 2},
    # linked world: the sitemap urls crawl in batch 0, the hidden pages
    # its outlinks reveal in batch 1
    "follow_links": {"n_urls": 3000, "batch_seconds": 600.0,
                     "follow_links": True, "n_hidden": 6},
}
# worlds per workload, generated once per checkout by build.py
WORLDS = 2
# index reads: timed read passes after a first one, until READ_S
# seconds are spent (at least READ_MIN passes)
READ_S = 3.0
READ_MIN = 3
# the traced run's overhead base: recent untraced runs of the same code
HISTORY_RUNS = 10
HISTORY_S = 3600


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _emit(obj) -> None:
    print(json.dumps(obj), flush=True)


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "ftw_crawler_spark",
                                        "plans", "crawl.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")))


def _source_files():
    """The files a build depends on: the program, the oracle and the
    benchmark's build and check code."""
    for dirpath, dirs, files in os.walk(os.path.join(ROOT,
                                                     "ftw_crawler_spark")):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            yield os.path.join(dirpath, name)
    for rel in ("tests/oracle.py", "perfbench/build.py",
                "perfbench/checks.py"):
        yield os.path.join(ROOT, rel)


def build_path() -> str:
    """The build directory of this code and these settings."""
    h = hashlib.sha1(json.dumps([WORKLOADS, WORLDS, CRAWL_TIME.isoformat(),
                                 _session_conf("", None)],
                                sort_keys=True).encode())
    for path in _source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return os.path.join(WORK, "build-" + h.hexdigest()[:12])


def world_path(build_dir: str, workload: str, world_seed: int) -> str:
    return os.path.join(build_dir, "worlds", f"{workload}-w{world_seed}")


def stopped_path(build_dir: str, workload: str, world_seed: int) -> str:
    """The crawl the build stopped after ``first_leg_batches``."""
    return world_path(build_dir, workload, world_seed) + ".stopped"


def archive_path(build_dir: str) -> str:
    return os.path.join(build_dir, "driver.jsa")


def _session_conf(run_dir: str, event_dir: str | None) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = {"spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            # keep the JVM's scratch and perf files inside the checkout;
            # C1 only: a run's JVM lives about a minute and spends it on
            # many small jobs, where C2 compiles cost more than they
            # return (README.md, "Sizing")
            "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + event_dir})
    return conf


def start_session(run_dir: str, event_dir: str | None,
                  archive_in: str | None = None,
                  archive_out: str | None = None):
    """A fresh ``local[4]`` session, up to its first finished job. The
    driver JVM maps the class archive ``archive_in`` if there is one,
    or writes ``archive_out`` as it exits."""
    from ftw_crawler_spark.session import get_spark
    conf = _session_conf(run_dir, event_dir)
    if archive_in and os.path.exists(archive_in):
        conf["spark.driver.extraJavaOptions"] += (
            f" -XX:SharedArchiveFile={archive_in}")
    if archive_out:
        conf["spark.driver.extraJavaOptions"] += (
            f" -XX:ArchiveClassesAtExit={archive_out}")
    spark = get_spark("perfbench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark, timeout: float = 60) -> None:
    """Stop Spark, then the JVM, and wait for both to be gone."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()       # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _ensure_build(build_dir: str) -> float | None:
    """Build into ``build_dir`` unless that is done; returns the build's
    seconds, or None when nothing was built. Stale builds are removed."""
    if os.path.exists(os.path.join(build_dir, "done")):
        return None
    for name in os.listdir(WORK):
        if name.startswith("build-"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    os.makedirs(build_dir)
    t0 = time.perf_counter()
    # its own process, so the timed session's JVM starts as cold as in
    # every other run; its stdout would otherwise precede the result
    subprocess.run([sys.executable, os.path.join(HERE, "build.py"),
                    build_dir], check=True, stdout=sys.stderr)
    shutil.rmtree(os.path.join(build_dir, "session"), ignore_errors=True)
    return time.perf_counter() - t0


class _FirstIndexWatch:
    """Time from start until ``path`` grows: the run's metrics.jsonl
    is appended to once each batch is durable."""

    def __init__(self, path: str):
        self.path, self.seen_at = path, None
        self.size0 = self._size()
        self._stop = threading.Event()
        self.t0 = time.perf_counter()
        self._t = threading.Thread(target=self._poll, daemon=True)
        self._t.start()

    def _size(self) -> int:
        try:
            return os.path.getsize(self.path)
        except OSError:
            return 0

    def _poll(self):
        while not self._stop.is_set():
            if self._size() > self.size0:
                self.seen_at = time.perf_counter() - self.t0
                return
            time.sleep(0.005)

    def stop(self):
        self._stop.set()
        self._t.join()
        return self.seen_at


def crawl_kwargs(wl: dict) -> dict:
    """``run_crawl`` keyword arguments of a workload."""
    kw = {"crawl_time": CRAWL_TIME, "batch_seconds": wl["batch_seconds"],
          "order_mode": "reference"}
    if wl.get("follow_links"):
        kw["follow_links"] = True
    for k in ("ckpt_full_every", "compact_every"):
        if k in wl:
            kw[k] = wl[k]
    return kw


def _crawl(spark, wl: dict, world_dir: str, out_dir: str):
    """The timed crawl: a fresh one, or the resume of the stopped crawl
    copied into ``out_dir``."""
    from ftw_crawler_spark.plans.crawl import run_crawl
    return run_crawl(spark, world_dir, out_dir, **crawl_kwargs(wl))


def _read_pass(result) -> dict:
    """The fixed read pass: full scan of the resolved index plus
    per-site document counts."""
    from pyspark.sql import functions as F
    idx = result.index()
    rows = (idx.groupBy(F.lower(F.parse_url("url", F.lit("HOST")))
                        .alias("site"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.length("SearchableText")).alias("chars"))
            .collect())
    return {r["site"]: r["n"] for r in rows}


def _phase_metrics(rows: list, wall: float) -> dict:
    """crawl.* and linkgraph counts from the run's metrics.jsonl."""
    batches = [r for r in rows if "admitted" in r]
    plan = sum(r.get("sec_frontier_purge", 0) + r.get("sec_annotate", 0)
               for r in rows if r.get("event") == "plan")
    sched = sum(r["sec_schedule"] for r in batches)
    ext = sum(r["sec_extract_sink"] for r in batches)
    maint = sum(r["sec_checkpoint"] for r in batches)
    admitted = sum(r["admitted"] for r in batches)
    indexed = sum(r["indexed"] for r in batches)
    disc = [r for r in rows if r.get("event") == "discovery"]
    cand = sum(r["candidates"] for r in disc)
    enq = sum(r["enqueued"] for r in disc)
    return {"crawl.plan_s": plan, "crawl.schedule_wait_s": sched,
            "crawl.extract_sink_s": ext, "crawl.maintenance_s": maint,
            "crawl.unaccounted_s": wall - plan - sched - ext - maint,
            "crawl.batches": len(batches),
            "crawl.indexed_per_admitted":
            indexed / admitted if admitted else 0.0,
            "linkgraph.candidates": cand, "linkgraph.enqueued": enq,
            "linkgraph.enqueue_ratio": enq / cand if cand else 0.0}


def _timed_crawl(spark, wl, world_dir, out_dir, check, tracer=None):
    """Run, measure and check one crawl. Returns (values, problems)."""
    from ambient import dir_bytes, tree_cpu_seconds
    from ftw_crawler_spark.plans.crawl import load_run_metrics

    # a resumed crawl starts with the stopped crawl's rows
    rows0 = len(load_run_metrics(out_dir))
    watch = _FirstIndexWatch(os.path.join(out_dir, "metrics.jsonl"))
    cpu0 = tree_cpu_seconds()
    t_epoch0 = time.time()
    t0 = time.perf_counter()
    root = tracer.begin("crawl") if tracer else None
    try:
        result = _crawl(spark, wl, world_dir, out_dir)
    finally:
        if tracer:
            tracer.end(root)
    wall = time.perf_counter() - t0
    window = (t_epoch0 * 1e3, time.time() * 1e3)
    cpu = tree_cpu_seconds() - cpu0
    first_index = watch.stop()

    rows = load_run_metrics(out_dir)
    phases = _phase_metrics(rows[rows0:], wall)
    indexed = sum(r["indexed"] for r in rows[rows0:] if "admitted" in r)
    indexed_all = sum(r["indexed"] for r in rows if "admitted" in r)
    t_post = time.perf_counter()
    problems = check(result.index())
    if first_index is None:
        problems.append("no batch became durable")
    passes, pass_cpu = [], []
    while len(passes) <= READ_MIN or sum(passes[1:]) < READ_S:
        c = tree_cpu_seconds()
        t = time.perf_counter()
        per_site = _read_pass(result)
        passes.append(time.perf_counter() - t)
        pass_cpu.append(tree_cpu_seconds() - c)
    live = sum(per_site.values())
    values = {
        "urls_per_s": indexed / wall,
        "first_index_s": first_index or wall,
        "cpu_s_per_kurl": cpu / (indexed / 1000.0),
        "index_read_cpu_s": statistics.median(pass_cpu[1:]),
        "index_bytes_per_doc":
        dir_bytes(os.path.join(out_dir, "index")) / live,
        "state_bytes_per_url": dir_bytes(
            os.path.join(out_dir, "checkpoints"),
            os.path.join(out_dir, "run_meta.json"),
            os.path.join(out_dir, "metrics.jsonl")) / indexed_all,
        "wall_s": wall, "indexed": indexed,
        "check_s": time.perf_counter() - t_post,
        "indexsink.first_read_s": passes[0],
        "indexsink.read_s": statistics.median(passes[1:]),
        "window_ms": window, "root_span": root, **phases}
    return values, problems


def _layer_metrics(tracer, crawl: dict, spark_sums: dict) -> dict:
    from spans import attributed_share, totals
    root = crawl["root_span"]
    inside = [s for s in tracer.spans
              if root["start"] <= s["start"] and s["end"] <= root["end"]]
    tot = totals(inside)

    def secs(*names):
        return sum(tot.get(n, (0.0, 0))[0] for n in names)

    def calls(*names):
        return sum(tot.get(n, (0.0, 0))[1] for n in names)

    wall = crawl["wall_s"]
    out = {k: v for k, v in crawl.items() if "." in k}
    out.update({
        "crawl.bg_wait_s": secs("crawl.bg_wait"),
        "crawl.discover_unit_s": secs("bg._discover_schedule"),
        "sitemaps.build_frontier_s": secs("sitemaps.build_frontier"),
        "incremental.purge_s": secs("incremental.purge_candidates",
                                    "indexsink.append_deletes"),
        "seen.filter_build_s": secs("seen.filter_build"),
        "seen.filter_add_s": secs("seen.filter_add"),
        "seen.filter_adds": calls("seen.filter_add"),
        "seen.serving_form": sum(
            1 for s in inside if s["name"] == "seen.filter_build"
            and s["attrs"].get("relation_form")),
        "linkgraph.candidates_s": secs("linkgraph.candidates"),
        "indexsink.append_s": secs("indexsink.append_upserts"),
        "indexsink.compact_s": secs("indexsink.compact"),
        "indexsink.compactions": calls("indexsink.compact"),
        "checkpoint.write_s": secs("checkpoint.write_full",
                                   "checkpoint.write_delta"),
        "checkpoint.full_writes": calls("checkpoint.write_full"),
        "checkpoint.delta_writes": calls("checkpoint.write_delta"),
        "checkpoint.resume_s": secs("checkpoint.resume"),
        "trace.attributed_share": attributed_share(inside, root),
        "trace.urls_per_s": crawl["urls_per_s"],
    })
    out.update({k: v for k, v in spark_sums.items() if k != "callsites"})
    out["spark.jobs_per_batch"] = (spark_sums["spark.jobs"]
                                   / max(1, crawl["crawl.batches"]))
    out["spark.core_busy_share"] = (spark_sums["spark.executor_run_s"]
                                    / (wall * CPUS))
    return out


def _self_by_name(spans: list) -> dict:
    """Summed self time (duration minus children's coverage) per name."""
    from spans import self_times
    own = self_times(spans)
    out: dict = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return {k: round(v, 3) for k, v in sorted(out.items())}


def _recent_history(path: str) -> list:
    """urls_per_s of the last HISTORY_RUNS untraced runs recorded in
    ``path`` within the last HISTORY_S seconds."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        rows = [json.loads(line) for line in fh]
    now = time.time()
    return [r["urls_per_s"] for r in rows
            if now - r["t"] <= HISTORY_S][-HISTORY_RUNS:]


def main(argv=None) -> int:
    args = _parse(argv)
    if not _program_present():
        print("perfbench: run from the root of an ftw_crawler_spark "
              "checkout (ftw_crawler_spark/ and tests/oracle.py missing)",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-"
                           f"{os.getpid()}")
    conf_dir = os.path.join(WORK, "conf")
    for d in (os.path.join(run_dir, "tmp"), conf_dir):
        os.makedirs(d, exist_ok=True)
    # the JVM launcher, Python workers and tempfile all honour these
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # an empty Spark conf directory (the installed one holds templates
    # only): a class archive needs every class path directory empty
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from ambient import cpu_probe, steal_seconds
    from checks import check_against_oracle, check_follow_links

    build_dir = build_path()
    build_s = _ensure_build(build_dir)
    steal0 = steal_seconds()
    probe_s = cpu_probe()
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    attempted, failed, crawl = 0, 0, None
    tracer = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, event_dir,
                              archive_in=archive_path(build_dir))
        world_seed = args.seed % WORLDS
        world_dir = world_path(build_dir, args.workload, world_seed)
        out_dir = os.path.join(run_dir, "crawl")
        if "first_leg_batches" in wl:
            shutil.copytree(stopped_path(build_dir, args.workload,
                                         world_seed), out_dir)
        setup_s = time.perf_counter() - t0

        with open(world_dir + ".oracle.json") as fh:
            expected = json.load(fh)
        if wl.get("follow_links"):
            check = partial(check_follow_links, n_hidden=wl["n_hidden"],
                            expected=expected,
                            digest_path=world_dir + ".index.json")
        else:
            check = partial(check_against_oracle, expected=expected)
        _emit({"world": {"seed": args.seed, "world_seed": world_seed,
                         "n_urls": wl["n_urls"],
                         "build_s": build_s and round(build_s, 3)}})

        attempted = 1
        patches = None
        if args.trace:
            import spans as tracing
            tracer = tracing.Tracer()
            patches = tracing.install(tracer)
        try:
            values, problems = _timed_crawl(spark, wl, world_dir, out_dir,
                                            check, tracer)
        except Exception as exc:   # noqa: BLE001 — a failed op
            traceback.print_exc()
            values, problems = None, [repr(exc)]
        finally:
            if patches:
                tracing.uninstall(patches)
        failed = 1 if problems else 0
        _emit({"crawl": {"problems": problems,
                         **({k: round(values[k], 4) for k in
                             ("wall_s", "urls_per_s", "first_index_s",
                              "check_s", "indexed", "crawl.batches")}
                            if values else {})}})
        crawl = values if not problems else None
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
    _emit({"ambient": {"steal_s": round(steal_seconds() - steal0, 3),
                       "probe_s": round(probe_s, 4),
                       "stop_s": round(time.perf_counter() - t_stop, 3),
                       "loadavg_1m": os.getloadavg()[0]}})

    from metrics import END_TO_END, PER_LAYER, result_metrics
    # untraced throughput of this build (program code and settings), the
    # base of the traced run's overhead reading
    history_path = os.path.join(build_dir, f"{args.workload}.history.jsonl")
    ok = crawl is not None
    metrics = {}
    if ok and not args.trace:
        values = {name: crawl[name] for name, *_ in END_TO_END
                  if name != "setup_s"}
        values["setup_s"] = setup_s
        metrics = result_metrics(values, [n for n, *_ in END_TO_END])
        with open(history_path, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "t": time.time(),
                                 "urls_per_s": values["urls_per_s"]}) + "\n")
    elif ok:
        import eventlog
        from spans import totals
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        sums = eventlog.aggregate(eventlog.read_log(logs[0]),
                                  [crawl["window_ms"]])
        base = _recent_history(history_path)
        _emit({"trace": {
            "spans": len(tracer.spans),
            "overhead_share": (1.0 - crawl["urls_per_s"]
                               / statistics.median(base) if base else None),
            "overhead_base_runs": len(base),
            **({} if base else {"overhead_note": (
                "no untraced run of this code and workload in the last "
                f"{HISTORY_S // 60} minutes: overhead not measured")}),
            "callsites": {k.replace(ROOT + os.sep, ""): v
                          for k, v in sums["callsites"].items()},
            "span_totals_s": {k: round(v[0], 3) for k, v in
                              sorted(totals(tracer.spans).items())},
            "span_self_s": _self_by_name(tracer.spans)}})
        values = _layer_metrics(tracer, crawl, sums)
        metrics = result_metrics(values, [n for n, *_ in PER_LAYER])
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-"
                                 f"{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    _emit({"correct": ok, "attempted": attempted, "failed": failed,
           "metrics": metrics})
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
