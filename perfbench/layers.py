"""Metrics from one run's raw records: end-to-end (untraced rounds) and
per-layer (traced rounds). Names and units match BENCHMARK.json."""
import os
from collections import defaultdict

from metrics import (attribute_jobs, batch_growth, dir_bytes, geomean,
                     interval_union, median)

E2E = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "geomean_query_s": "s"}
QUERIES = ["q24_quality_score", "q26_fingerprint", "q70_repetition",
           "q97_contamination_trim", "q124_ann_hnsw"]
SINKS = ["near_dup", "span_dedup", "quality_cutoff"]
MODULES = ["text", "sim", "meta", "ops", "sources", "streaming"]

PER_LAYER = (
    ["spark.jobs", "spark.stages", "spark.tasks", "spark.stage_p50_s", "spark.task_busy_s",
     "spark.core_util", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
     "spark.spill_bytes", "spark.input_bytes", "spark.gc_s", "spark.peak_exec_mem_mb",
     "queries.build_s", "queries.eager_jobs", "queries.exec_s", "queries.text_s",
     "queries.sim_s", "queries.count_gap_s"]
    + [f"queries.{q}.{m}" for q in QUERIES for m in ("s", "stages")]
    + [f"{m}.{k}" for m in MODULES for k in ("job_s", "jobs")]
    + ["pipeline.ingest_s", "pipeline.medallion_s", "pipeline.medallion_driver_s",
       "pipeline.batch_growth", "pipeline.rows_ingested", "pipeline.load_failures",
       "full_load_s", "meta.audit_files", "meta.audit_rows",
       "ops.scd2_expired", "ops.scd2_inserted", "ops.quarantined_rows",
       "ops.dedup_dropped_rows", "sources.snapshot_s", "sources.commits",
       "sources.files_added", "sources.files_removed", "sources.live_files",
       "sources.bytes_written"]
    + [f"streaming.sink_p50_s.{s}" for s in SINKS]
    + ["streaming.replay_p50_s", "streaming.compact_s", "streaming.state_files",
       "streaming.state_bytes", "bench.trace_overhead", "bytes_stored_per_input_byte",
       "heap_peak_mb"])

RATIOS = ("spark.core_util", "pipeline.batch_growth", "bench.trace_overhead",
          "bytes_stored_per_input_byte")


def unit(name):
    if name in E2E:
        return E2E[name]
    if name in RATIOS:
        return "ratio"
    if name.endswith("_bytes") or name.endswith(".bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s") or "_s." in name:
        return "s"
    return "count"


def _dur(x):
    return (x["end_ns"] - x["start_ns"]) / 1e9


def _round_time(ops, r):
    return sum(_dur(o) for o in ops if o["round"] == r and o["kind"] != "count")


def end_to_end(raw, gen_s):
    s = raw["setup"]
    rounds = [x["round"] for x in raw["rounds"] if not x["traced"]]
    ops = [o for o in raw["ops"] if o["round"] in rounds]
    batches = [_dur(o) for o in ops if o["kind"] == "batch"]
    per_query = defaultdict(list)
    for o in ops:
        if o["kind"] == "query":
            per_query[o["name"]].append(_dur(o))
    gq = [median(v) for v in per_query.values()] or batches
    return {
        "setup_s": gen_s + (s["warm_done_ms"] - s["jvm_start_ms"]) / 1000.0,
        "total_s": median([_round_time(raw["ops"], r) for r in rounds]),
        "op_p50_s": median(batches),
        "geomean_query_s": geomean(gq),
    }


def per_layer(raw, workload, input_bytes, work):
    """Every PER_LAYER metric (0 where this workload does not reach the
    layer). Counts and times are per traced round."""
    traced = [x for x in raw["rounds"] if x["traced"]]
    untraced = [x["round"] for x in raw["rounds"] if not x["traced"]]
    tr = {x["round"] for x in traced}
    n = max(1, len(traced))
    ops = raw["ops"]
    spans = raw["spans"]
    span_by_id = {sp["id"]: sp for sp in spans}
    clock = raw["clock"]

    def ns(ms):
        return (ms - clock["epoch_ms"]) * 1_000_000 + clock["nano"]

    def op_of_span(sid):
        sp = span_by_id.get(sid)
        return ops[sp["op"]] if sp and 0 <= sp["op"] < len(ops) else None

    jobs = [j for j in raw["jobs"] if j["end_ms"] >= 0]
    module = attribute_jobs(jobs, spans)
    work_jobs = [j for j in jobs if (op_of_span(j["span"]) or {}).get("kind") != "count"]
    work_ids = {j["id"] for j in work_jobs}
    stages = [st for st in raw["stages"] if st["job"] in work_ids]
    m = {k: 0.0 for k in PER_LAYER}
    m["heap_peak_mb"] = raw["heap_peak_mb"]

    busy = sum(st["busy_ms"] for st in stages) / 1000.0
    traced_time = sum(_round_time(ops, r) for r in tr)
    m.update({
        "spark.jobs": len(work_jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(st["tasks"] for st in stages) / n,
        "spark.stage_p50_s": median([(st["end_ms"] - st["start_ms"]) / 1000.0
                                     for st in stages if st["end_ms"] >= 0]),
        "spark.task_busy_s": busy / n,
        "spark.core_util": busy / (traced_time * raw["cores"]) if traced_time else 0.0,
        "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in stages) / n,
        "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in stages) / n,
        "spark.spill_bytes": sum(st["spill"] for st in stages) / n,
        "spark.input_bytes": sum(st["input"] for st in stages) / n,
        "spark.gc_s": sum(st["gc_ms"] for st in stages) / 1000.0 / n,
        "spark.peak_exec_mem_mb": max([st["peak_mem"] for st in stages] or [0]) / 1048576.0,
    })
    for mod in MODULES:
        iv = [(ns(j["start_ms"]), ns(j["end_ms"])) for j in work_jobs if module[j["id"]] == mod]
        m[f"{mod}.jobs"] = len(iv) / n
        m[f"{mod}.job_s"] = interval_union(iv) / 1e9 / n

    def spans_named(prefix, kinds=None):
        return [sp for sp in spans if sp["name"].startswith(prefix)
                and (kinds is None or (op_of_span(sp["id"]) or {}).get("kind") in kinds)]

    # queries
    qops = [o for o in ops if o["round"] in tr and o["kind"] == "query"]
    if qops:
        m["queries.build_s"] = sum(_dur(sp) for sp in spans_named("queries.build", ("query",))) / n
        build_ids = {sp["id"] for sp in spans_named("queries.build", ("query",))}
        m["queries.eager_jobs"] = sum(j["span"] in build_ids for j in work_jobs) / n
        m["queries.exec_s"] = sum(_dur(sp) for sp in spans_named("queries.exec")) / n
        for fam in ("text", "sim"):
            m[f"queries.{fam}_s"] = sum(_dur(o) for o in qops if o["family"] == fam) / n
        counts = [o for o in ops if o["kind"] == "count"]
        m["queries.count_gap_s"] = (sum(_dur(o) for o in qops) - sum(_dur(o) for o in counts)) / n
        op_index = {id(o): i for i, o in enumerate(ops)}
        stage_count = defaultdict(int)
        for j in work_jobs:
            o = op_of_span(j["span"])
            if o is not None:
                stage_count[op_index[id(o)]] += sum(1 for st in stages if st["job"] == j["id"])
        for q in QUERIES:
            mine = [o for o in qops if o["name"] == q]
            m[f"queries.{q}.s"] = median([_dur(o) for o in mine])
            m[f"queries.{q}.stages"] = (sum(stage_count[op_index[id(o)]] for o in mine)
                                        / max(1, len(mine)))

    # pipeline, meta, ops, sources (medallion)
    c = raw["counters"]
    if workload == "medallion":
        children = defaultdict(list)
        for sp in spans:
            children[sp["parent"]].append(sp["id"])

        def subtree(sid):
            out, todo = [], [sid]
            while todo:
                x = todo.pop()
                out.append(x)
                todo += children[x]
            return set(out)

        per_batch = defaultdict(lambda: defaultdict(float))
        for sp in spans:
            o = op_of_span(sp["id"])
            if o is None or o["kind"] != "batch":
                continue
            key = (o["round"], o["name"])
            if sp["name"] == "pipeline.ingest":
                per_batch[key]["ingest"] += _dur(sp)
            elif sp["name"] == "pipeline.medallion":
                ids = subtree(sp["id"])
                iv = [(ns(j["start_ms"]), ns(j["end_ms"])) for j in work_jobs if j["span"] in ids]
                per_batch[key]["medallion"] += _dur(sp)
                per_batch[key]["driver"] += _dur(sp) - interval_union(iv) / 1e9
        vals = list(per_batch.values())
        m["pipeline.ingest_s"] = median([v["ingest"] for v in vals])
        m["pipeline.medallion_s"] = median([v["medallion"] for v in vals])
        m["pipeline.medallion_driver_s"] = median([v["driver"] for v in vals])
        m["pipeline.batch_growth"] = batch_growth([_dur(o) for o in ops if o["kind"] == "batch"])
        m["full_load_s"] = next(o["s"] for o in raw["warm_ops"] if o["kind"] == "full_load")
        for k in ("pipeline.rows_ingested", "pipeline.load_failures", "meta.audit_rows",
                  "ops.scd2_expired", "ops.scd2_inserted", "ops.quarantined_rows",
                  "ops.dedup_dropped_rows", "sources.commits", "sources.files_added",
                  "sources.files_removed", "sources.live_files"):
            m[k] = c.get(k, 0) / (n if k == "pipeline.rows_ingested" else 1)
        m["sources.snapshot_s"] = median(c.get("sources.snapshot_ns", [])) / 1e9
        state = os.path.join(work, "state")
        m["meta.audit_files"] = dir_bytes(os.path.join(state, "audit"))[0]
        m["sources.bytes_written"] = dir_bytes(os.path.join(state, "silver"),
                                               os.path.join(state, "gold"))[1]
        m["bytes_stored_per_input_byte"] = dir_bytes(state)[1] / input_bytes

    # streaming (corpus)
    if workload == "corpus":
        for s in SINKS:
            m[f"streaming.sink_p50_s.{s}"] = median(
                [_dur(sp) for sp in spans_named(f"streaming.sink.{s}", ("batch",))])
        m["streaming.replay_p50_s"] = median(
            [_dur(o) for o in ops if o["round"] in tr and o["kind"] == "replay"])
        m["streaming.compact_s"] = median(
            [_dur(o) for o in ops if o["round"] in tr and o["kind"] == "compact"])
        last = traced[-1]["dir"]
        files, size = dir_bytes(last)
        m["streaming.state_files"], m["streaming.state_bytes"] = files, size
        m["bytes_stored_per_input_byte"] = size / input_bytes

    overhead_base = median([_round_time(ops, r) for r in untraced])
    m["bench.trace_overhead"] = (median([_round_time(ops, r) for r in tr]) / overhead_base
                                 if overhead_base else 0.0)
    return m
