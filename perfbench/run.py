"""End-to-end and per-layer benchmark of the parse -> enrich -> route ->
aggregate pipeline on local[4].

    python3 perfbench/run.py --workload sf01_events --seed 1 --seconds 20 --trace 0

With ``--trace 0`` it times complete reports (``pipeline.run`` plus the
collected anomalies, totals, per-tool counts and log reports) for
``--seconds`` seconds after a warm-up report, and prints ``turns_per_s``,
``setup_s`` and ``driver_peak_rss_mb``. With ``--trace 1`` it runs one
report layer by layer (``layers.py``) and prints the per-layer metrics.
Every report's anomaly keys are checked against an expectation derived
from the generated inputs (``corpus.py``). The last stdout line is one JSON
object; lines before it starting with ``#`` are for people.

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import resource
import shutil
import statistics
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import host
import procs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


@dataclass
class Workload:
    name: str
    kind: str  # "events" (turns view over an events table) or "turns"
    n: int  # events or turns generated
    unique_tokens: bool = False
    n_tools: int = 8
    data: str = ""
    expected: set = field(default_factory=set)
    n_turns: int = 0
    target_rows: int = 0
    target_convs: int = 0
    sample_lines: list = field(default_factory=list)

    def prepared(self, seed: int, data: str) -> "Workload":
        """Write the seeded input under ``data`` and derive the expectation.
        Runs in a child process, so its memory stays out of the driver's
        peak RSS."""
        import corpus

        self.data = data
        if self.kind == "events":
            events = corpus.events_table(seed, self.n)
            corpus.write_events(events, data)
            self.expected = corpus.expected_events_anomalies(events, ROOT)
            turns = corpus.events_turns(events)
        else:
            turns, self.expected = corpus.generated_turns(
                seed, self.n, self.unique_tokens, self.n_tools)
            corpus.write_turns(turns, data)
        target = turns[~turns["is_baseline"]]
        self.n_turns = len(turns)
        self.target_rows = len(target)
        self.target_convs = target["conv_id"].nunique()
        self.sample_lines = target["text"].head(20_000).tolist()
        return self

    def raw_input(self, spark):
        if self.kind == "events":
            return spark.read.parquet(f"{self.data}/events.parquet")
        return spark.read.parquet(self.data)

    def view(self, spark):
        if self.kind == "events":
            from logjuicer_spark import entry_queries

            return entry_queries.turns_view(spark, self.data)
        return spark.read.parquet(self.data)

    def sides(self, spark):
        """(baseline, target) turns, split the way the flagship query does."""
        from pyspark.sql import functions as F

        t = self.view(spark)
        if self.kind == "events":
            baseline = t.filter(F.col("is_baseline") & (F.col("etype") != "error"))
            return (baseline.drop("is_baseline", "etype"),
                    t.filter(~F.col("is_baseline")).drop("is_baseline", "etype"))
        return (t.filter(F.col("is_baseline")).drop("is_baseline"),
                t.filter(~F.col("is_baseline")).drop("is_baseline"))


WORKLOADS = {
    "sf01_events": lambda: Workload("sf01_events", "events", 100_000),
    "gen_unique_40k": lambda: Workload(
        "gen_unique_40k", "turns", 40_000, unique_tokens=True, n_tools=2),
    "gen_templated_210k": lambda: Workload("gen_templated_210k", "turns", 210_000),
}

UNITS = {
    "turns_per_s": "1/s", "setup_s": "s", "driver_peak_rss_mb": "MiB",
}


def layer_unit(name: str) -> str:
    if name == "floor.cpu_mits_per_s":
        return "Mit/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_s") or name.endswith("per_s_core"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes_per_turn"):
        return "B"
    if name.endswith(("ratio", "rate", "share", "over_floor")):
        return "ratio"
    return "count"


def start_spark(work: str, trace: bool):
    """A local[4] session whose temporary files all live under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from logjuicer_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def ungrouped_jobs(sc) -> set:
    return set(sc.statusTracker().getJobIdsForGroup(None))


def spark_work(sc, jobs) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks) for the given job ids."""
    st = sc.statusTracker()
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks:
            stages += 1
            tasks += info.numCompletedTasks
    return len(jobs), stages, tasks


def report(spark, wl: Workload, work_dir: str) -> tuple[tuple, bool, tuple]:
    """One complete report, timed; the clean-up after it is not.
    Returns ((wall, net wall) seconds, correct, (jobs, stages, tasks))."""
    from logjuicer_spark import pipeline

    sc = spark.sparkContext
    before = ungrouped_jobs(sc)
    clock = host.Stopwatch()
    baseline, target = wl.sides(spark)
    out = pipeline.run(spark, target, baseline_turns=baseline,
                       input_rows=wl.n_turns, work_dir=work_dir)
    anomalies = out["anomalies"].select("conv_id", "turn_idx", "before", "after").collect()
    totals = out["totals"].collect()[0]
    out["agg_tool"].collect()
    out["log_reports"].collect()
    times = clock.read()
    work = spark_work(sc, ungrouped_jobs(sc) - before)
    pipeline.release_stage_caches()
    out["routed"].unpersist()
    shutil.rmtree(work_dir, ignore_errors=True)
    correct = (
        {(r["conv_id"], r["turn_idx"]) for r in anomalies} == wl.expected
        and totals["total_anomaly_count"] == len(wl.expected)
        and totals["total_line_count"] == wl.target_rows
    )
    return times, correct, work


def checked_report(spark, wl, work_dir, tally: dict):
    """report(), counting a raise or a wrong anomaly set as a failed run."""
    tally["attempted"] += 1
    try:
        times, ok, work = report(spark, wl, work_dir)
    except Exception as e:  # a failed run is a result, not a crash
        print(f"# run raised {type(e).__name__}: {e}", file=sys.stderr)
        tally["failed"] += 1
        return None, None
    if not ok:
        tally["failed"] += 1
    return times, work


def bench(args, wl: Workload, work: str, ctl: host.HostControl) -> dict:
    import layers  # imports the program, so only once ROOT is on sys.path

    tally = {"attempted": 0, "failed": 0}
    t0 = time.perf_counter()
    with ProcessPoolExecutor(1, mp_context=mp.get_context("spawn")) as pool:
        wl = pool.submit(wl.prepared, args.seed, f"{work}/input").result()
    prep_s = time.perf_counter() - t0
    print(f"# {wl.name} seed={args.seed}: {wl.n_turns} turns, {len(wl.expected)} expected "
          f"anomalies, inputs and expectation in {prep_s:.2f}s")

    # set-up: JVM, session, Python workers and one warm-up report, which is
    # not measured (the first report pays worker imports and JIT and runs
    # 2-3x slower)
    clock = host.Stopwatch()
    spark = start_spark(work, args.trace)
    try:
        session_s = clock.read()[0]
        _, warm_work = checked_report(spark, wl, f"{work}/run-warmup", tally)
        setup_s, setup_net_s = clock.read()
        print(f"# setup {setup_s:.2f}s, net {setup_net_s:.2f}s (session {session_s:.2f}s); "
              f"jobs/stages/tasks per report {warm_work}")
        if args.trace:
            tally["attempted"] += 1
            metrics, ok = layers.traced_metrics(spark, wl, f"{work}/traced", warm_work)
            tally["failed"] += not ok
        else:
            metrics = measured(spark, wl, work, tally, args.seconds)
            metrics["setup_s"] = setup_net_s
    finally:
        stop_spark(spark)
    mits = ctl.mits()
    print(f"# host control {mits:.1f} Mit/s")
    if args.trace:
        metrics.update(layers.event_log_by_layer(f"{work}/eventlog"))
        metrics["floor.cpu_mits_per_s"] = mits
        for line in layers.summary(metrics):
            print(f"# {line}")
        units = {k: layer_unit(k) for k in metrics}
    else:
        units = UNITS
    print(f"# failed_runs {tally['failed']}/{tally['attempted']}")
    return {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }


def measured(spark, wl, work, tally, seconds) -> dict:
    """Complete reports for ``seconds`` of report time: a report starts only
    while the previous one's wall still fits (at least one runs). The
    throughput is taken from the median net wall (``host.Stopwatch``)."""
    walls, nets, works = [], [], []
    while True:
        times, work_counts = checked_report(spark, wl, f"{work}/run-{tally['attempted']}", tally)
        if times is not None:
            walls.append(times[0])
            nets.append(times[1])
            works.append(work_counts)
        elif tally["failed"] >= 3:
            raise RuntimeError("three reports raised; no measurement")
        if walls and sum(walls) + walls[-1] > seconds:
            break
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0  # KiB on Linux
    median = statistics.median(nets)
    print(f"# {len(walls)} measured reports, wall s {[round(w, 3) for w in walls]}, "
          f"net s {[round(w, 3) for w in nets]}, median net {median:.3f} "
          f"(raw {wl.n_turns / statistics.median(walls):.0f} turns/s); "
          f"jobs/stages/tasks {works}")
    return {
        "turns_per_s": wl.n_turns / median,
        "driver_peak_rss_mb": rss,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "logjuicer_spark")):
        print(f"perfbench: no logjuicer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]()
    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"{wl.name}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    procs.adopt_orphans()
    try:
        with host.HostControl(CORES) as ctl:
            result = bench(args, wl, work, ctl)
    finally:
        procs.reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
