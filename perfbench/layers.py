"""The traced run: each layer's public function called in turn, timed here.

Every layer's output is materialised before the next layer starts, so a
layer owns its own time (``run(stage_times=...)`` cannot give that: its
scoring is lazy and shows up in whichever stage first reads the scored
winners). The sequence mirrors ``pipeline.run``'s big path:

    scan -> parse -> model -> enrich (winners, score, join) -> route -> aggregate

Each layer runs under its own Spark job group (floors under ``floor``); the
event log written by the session gives per-layer task time and shuffle
bytes. Floors sit beside the
layers (noop-sink scan, light parse, identity ``mapInPandas`` route, and a
pure-CPU control in ``host.py``), so a layer can be read as a multiple of
its floor.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from logjuicer_spark import model as M, pipeline as P, tokenizer

LAYERS = ("scan", "parse", "model", "enrich", "route", "aggregate")

# the metrics that make up each layer's wall time; ``score`` is enrich's
# scoring pass over the persisted winners
LAYER_TIME = {
    "scan": ("scan.s",),
    "parse": ("parse.s",),
    "model": ("model.train_s",),
    "enrich": ("enrich.winners_s", "enrich.join_s"),
    "score": ("enrich.score_s",),
    "route": ("route.s",),
    "aggregate": ("aggregate.s",),
}


def layer_seconds(m: dict) -> dict[str, float]:
    return {layer: sum(m[k] for k in keys) for layer, keys in LAYER_TIME.items()}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/*") if os.path.isfile(f))


class Tracer:
    """Times layers on the driver and tags their Spark jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.metrics: dict[str, float] = {}

    def timed(self, layer: str, name: str, fn):
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            self.metrics[name] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out


def tokenizer_rates(lines: list[str]) -> dict[str, float]:
    """``tokenizer.process`` in-process on one core: cold (every cache
    empty), warm (per-word caches kept, per-line cache emptied), and the
    per-word cache hit rate of the cold pass."""
    caches = [f for f in vars(tokenizer).values() if hasattr(f, "cache_clear")]
    word_caches = [f for f in caches if f is not tokenizer.process]
    for f in caches:
        f.cache_clear()
    t0 = time.perf_counter()
    for line in lines:
        tokenizer.process(line)
    cold = time.perf_counter() - t0
    hits = sum(f.cache_info().hits for f in word_caches)
    misses = sum(f.cache_info().misses for f in word_caches)
    tokenizer.process.cache_clear()
    t0 = time.perf_counter()
    for line in lines:
        tokenizer.process(line)
    warm = time.perf_counter() - t0
    return {
        "tokenizer.cold_lines_per_s_core": len(lines) / cold,
        "tokenizer.warm_lines_per_s_core": len(lines) / warm,
        "tokenizer.word_cache_hit_rate": hits / max(hits + misses, 1),
    }


def score_kernel_rate(indexes: dict, winners: pd.DataFrame) -> float:
    """``hashing.SparseIndex.score`` in-process on one core over the target
    winners (tool, wtext), tokenized before the clock starts."""
    groups = [
        (indexes[tool], [tokenizer.process(t) for t in g["wtext"]])
        for tool, g in winners.groupby("tool")
        if tool in indexes
    ]
    n = sum(len(lines) for _, lines in groups)
    t0 = time.perf_counter()
    for idx, lines in groups:
        idx.score(lines)
    return n / max(time.perf_counter() - t0, 1e-9)


def event_log_by_layer(log_dir: str) -> dict[str, float]:
    """Per-layer executor task time (s) and shuffle bytes (MB) plus the
    run's GC time and spill, read from the session's event log."""
    stage_group: dict[int, str] = {}
    task_s = {layer: 0.0 for layer in LAYERS}
    shuffle = {layer: 0.0 for layer in LAYERS}
    gc_ms = spill = 0.0
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if group not in task_s:
                        continue
                    task_s[group] += tm.get("Executor Run Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    shuffle[group] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    gc_ms += tm.get("JVM GC Time", 0)
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    out = {}
    for layer in LAYERS:
        out[f"{layer}.task_s"] = task_s[layer]
        out[f"{layer}.shuffle_mb"] = shuffle[layer] / 1e6
    out["run.gc_s"] = gc_ms / 1000.0
    out["run.spill_mb"] = spill / 1e6
    return out


def traced_report(spark, wl, work: str) -> tuple[dict[str, float], set]:
    """One report, layer by layer. Returns the metrics and the anomaly keys."""
    cfg = P.PipelineConfig()
    tr = Tracer(spark)
    m = tr.metrics
    read = spark.read.parquet

    # scan: the input view through a noop sink, against the raw input scan
    tr.timed("floor", "scan.floor_s", lambda: _noop(wl.raw_input(spark)))
    tr.timed("scan", "scan.s", lambda: _noop(wl.view(spark)))
    baseline, target = wl.sides(spark)
    baseline.write.parquet(f"{work}/baseline")
    target.write.parquet(f"{work}/target")

    # parse: the fused tokenize+dkey parse, against the light parse floor
    tr.timed("floor", "parse.light_s", lambda: P.parse(
        read(f"{work}/target"), cfg, columns="light").write.parquet(f"{work}/parsed_light"))
    tr.timed("parse", "parse.s", lambda: P.parse(
        read(f"{work}/target"), cfg, columns="dkey").write.parquet(f"{work}/parsed"))
    P.parse(read(f"{work}/baseline"), cfg, columns="dkey").write.parquet(f"{work}/parsed_b")
    parsed = read(f"{work}/parsed")
    m["parse.rows_out"] = parsed.count()

    # model: the middle trainer, its distributed fallback, the broadcast
    def train():
        indexes, model_df = M.train_winners_collected(
            spark, read(f"{work}/parsed_b"), group_col=cfg.group_col)
        collected = indexes is not None
        if not collected:
            indexes = M.collect_indexes(model_df)
        return indexes, model_df, collected, M.broadcast_indexes(spark, indexes)

    indexes, model_df, collected, bc = tr.timed("model", "model.train_s", train)
    m["model.baseline_winners"] = sum(i.nrows for i in indexes.values())
    m["model.nnz"] = sum(i.nnz for i in indexes.values())
    m["model.collected"] = int(collected)

    # enrich: winners aggregation, scoring over the persisted winners, join
    def winners_agg():
        w = P._winners_raw(parsed, cfg).persist()
        return w, w.count()

    winners, n_winners = tr.timed("enrich", "enrich.winners_s", winners_agg)
    enriched, scored = P.enrich(
        parsed, bc, cfg, model_df=model_df, return_scored=True,
        winners=winners, n_winners=n_winners,
    )
    tr.timed("enrich", "enrich.score_s", scored.count)
    tr.timed("enrich", "enrich.join_s", lambda: enriched.write.parquet(f"{work}/enriched"))
    m["enrich.target_winners"] = n_winners
    m["enrich.dedup_ratio"] = n_winners / max(m["parse.rows_out"], 1)
    sample = winners.select("tool", "wtext").limit(20_000).toPandas()
    m["score.kernel_lines_per_s"] = score_kernel_rate(indexes, sample)

    # route: the strategy decision and walk plus its parquet write, against
    # an identity mapInPandas over the same rows plus the same write
    enriched_ck = read(f"{work}/enriched")

    def route():
        ids = P._dirty_ids_collected(scored, cfg, n_winners)
        dirty = ids if ids is not None else P._dirty_conv_dim(scored, cfg)
        n_dirty = len(ids) if ids is not None else dirty.count()
        n_convs = lambda: int(parsed.agg(F.approx_count_distinct("conv_id")).first()[0])
        P.route(
            enriched_ck, cfg, allow_split=False, clean_split=True,
            dirty_conv_dim=dirty, n_convs=n_convs, n_dirty=n_dirty, n_winners=n_winners,
        ).write.parquet(f"{work}/routed")
        return n_dirty

    m["route.dirty_convs"] = tr.timed("route", "route.s", route)

    def identity(batches):  # nested, so it is pickled by value for the workers
        yield from batches

    tr.timed("floor", "route.floor_s", lambda: enriched_ck.mapInPandas(
        identity, enriched_ck.schema).write.parquet(f"{work}/routed_floor"))
    P.release_stage_caches()
    winners.unpersist()
    m["route.dirty_share"] = m["route.dirty_convs"] / wl.target_convs
    m["sink.bytes_per_turn"] = _dir_bytes(f"{work}/routed") / wl.n_turns

    # aggregate: the report read back from the routed output
    def report():
        routed = read(f"{work}/routed")
        aggs = P.aggregate(routed)
        anomalies = routed.filter(F.col("route") == "anomaly").select(
            "conv_id", "turn_idx", "before", "after").collect()
        for name in ("totals", "agg_tool", "log_reports"):
            aggs[name].collect()
        return anomalies

    anomalies = tr.timed("aggregate", "aggregate.s", report)
    m["route.anomalies"] = len(anomalies)

    m["scan.over_floor"] = m["scan.s"] / m["scan.floor_s"]
    m["parse.tokenize_s"] = m["parse.s"] - m["parse.light_s"]
    m["parse.over_floor"] = m["parse.s"] / m["parse.light_s"]
    m["route.over_floor"] = m["route.s"] / m["route.floor_s"]
    m["run.wall_s"] = sum(layer_seconds(m).values())
    return m, {(r["conv_id"], r["turn_idx"]) for r in anomalies}


def traced_metrics(spark, wl, work: str, report_work) -> tuple[dict, bool]:
    """Tokenizer rates, the traced report and the Spark work of one complete
    report (``report_work``: jobs, stages, tasks). Returns the metrics and
    whether the traced report's anomalies match the expectation."""
    m = tokenizer_rates(wl.sample_lines)
    layer_metrics, keys = traced_report(spark, wl, work)
    m.update(layer_metrics)
    m["run.spark_jobs"], m["run.spark_stages"], m["run.spark_tasks"] = report_work or (0, 0, 0)
    return m, keys == wl.expected


def summary(m: dict) -> list[str]:
    """Layer shares of the traced wall, the two largest, the floor multiples."""
    secs = layer_seconds(m)
    total = sum(secs.values())
    ranked = sorted(secs.items(), key=lambda kv: -kv[1])
    return [
        "layer wall s (share): " + ", ".join(
            f"{k} {v:.2f} ({v / total:.0%})" for k, v in ranked),
        f"largest layers: {ranked[0][0]}, {ranked[1][0]}",
        f"floors: scan x{m['scan.over_floor']:.2f} of noop scan, parse "
        f"x{m['parse.over_floor']:.2f} of light parse, route x{m['route.over_floor']:.2f} "
        f"of identity mapInPandas; host {m['floor.cpu_mits_per_s']:.1f} Mit/s",
    ]
