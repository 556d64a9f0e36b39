"""Output checks and metrics for one benchmark run.

Reads what the JVM harness wrote (`meta.json`, `calls.jsonl`, traced runs
also `spans.jsonl`, plus the workload's result files), checks outputs
against the generator's ground truth, and derives the
end-to-end and per-layer metrics named in BENCHMARK.json.
"""
import glob
import json
import math
import os
import statistics

import pyarrow.parquet as pq

import gen

LAYER_PREFIXES = ("operators.", "streaming.", "sources.")
DEDUP_OPS = ("minHashPairs", "connectedComponents", "simHashPairs", "appendToMinHashStore")
SIM_OPS = ("ensureIvfIndex", "assignCells", "ivfSelfTopK", "appendToIvfIndex")
TEXT_OPS = ("tfIdfTopTerms", "repetitionStats")
STREAMS = ("minHashStoreStream", "ivfIndexStream")
DB_OPS = ("create", "upsert", "deleteWhere", "read", "readSnapshot", "compactSmallFiles",
          "snapshot", "normalize", "recover")
READS = ("sources.ParquetDatabase.read", "sources.ParquetDatabase.readSnapshot")
MUTATES = ("sources.ParquetDatabase.upsert", "sources.ParquetDatabase.deleteWhere")
MAINTAIN = ("sources.ParquetDatabase.compactSmallFiles", "sources.ParquetDatabase.snapshot",
            "sources.ParquetDatabase.normalize")

# Floors for the recall checks, set from the first runs on a 4-core host
# (every seed measured at or above 0.98 and 0.93): a run below either fails.
DEDUP_RECALL_FLOOR = 0.9
KNN_RECALL_FLOOR = 0.85


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _tail(name, unit, xs, scale=1.0):
    """{name_p90_unit: (value, unit)} when at least ten samples lie beyond
    p90; empty when the run has fewer."""
    if len(xs) * 0.1 >= 10:
        return {f"{name}_p90_{unit}": (_pct(xs, 0.9) * scale, unit)}
    return {}


def _read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


# ------------------------------------------------------------------ checks

def check_curation(inputs, out):
    """Per measured cycle: dedup recall on planted pairs, kNN recall@10."""
    truth = json.load(open(f"{inputs}/truth.json"))
    planted = {tuple(sorted(p)) for p in truth["planted_pairs"]}
    sample = truth["knn_sample"]
    exact = {q: set(t) for q, t in zip(sample, truth["knn_top10"])}
    res = {}
    for d in sorted(glob.glob(f"{out}/curation/c*")):
        c = int(os.path.basename(d)[1:])
        r = {}
        if glob.glob(f"{d}/pairs/*.parquet"):
            t = pq.read_table(f"{d}/pairs").to_pydict()
            found = {tuple(sorted(p)) for p in zip(t["d1"], t["d2"])}
            r["dedup_recall"] = len(planted & found) / len(planted)
        if glob.glob(f"{d}/simpairs/*.parquet"):
            t = pq.read_table(f"{d}/simpairs").to_pydict()
            found = {tuple(sorted(p)) for p in zip(t["d1"], t["d2"])}
            r["simhash_recall"] = len(planted & found) / len(planted)
        if glob.glob(f"{d}/knn/*.parquet"):
            t = pq.read_table(f"{d}/knn").to_pydict()
            got = {}
            for q, n in zip(t["qid"], t["nid"]):
                if q in exact:
                    got.setdefault(q, set()).add(n)
            r["knn_recall_at_10"] = statistics.mean(len(exact[q] & got.get(q, set())) / 10 for q in sample)
        res[c] = r
    return res


# ----------------------------------------------------------------- metrics

def evaluate(workload, traced, inputs, out, gen_info, spec):
    """(record, result line). `spec` is BENCHMARK.json: the result line holds
    exactly its end-to-end metrics, or its per-layer metrics when traced."""
    meta = json.load(open(f"{out}/meta.json"))
    calls = _read_jsonl(f"{out}/calls.jsonl")
    spans = _read_jsonl(f"{out}/spans.jsonl") if traced else []
    facts = meta["facts"]
    dur = lambda c: (c["end_ms"] - c["start_ms"]) / 1000.0  # noqa: E731
    measured = [c for c in calls if c["cycle"] >= 0]
    layer = [c for c in measured if c["name"].startswith(LAYER_PREFIXES)]
    finals = [c for c in calls if c["cycle"] == -2 and c["name"].startswith(LAYER_PREFIXES)]
    cycles = [c for c in measured if c["name"] == "cycle"]
    untraced_cycles = [dur(c) for c in cycles if not c["traced"]]
    traced_cycles = [dur(c) for c in cycles if c["traced"]]

    wrong = set()          # ids of calls whose output failed a check
    checks = {}
    e2e = {}               # each workload's own end-to-end metrics, by name
    if workload == "llm-curation":
        per_cycle = check_curation(inputs, out)
        checks = {"per_cycle": per_cycle, "dedup_recall_floor": DEDUP_RECALL_FLOOR,
                  "knn_recall_floor": KNN_RECALL_FLOOR}
        for c in layer:
            r = per_cycle.get(c["cycle"], {})
            if c["name"] == "operators.Dedup.minHashPairs" and r.get("dedup_recall", 0) < DEDUP_RECALL_FLOOR:
                wrong.add(c["id"])
            if c["name"] == "operators.Similarity.ivfSelfTopK" and r.get("knn_recall_at_10", 0) < KNN_RECALL_FLOOR:
                wrong.add(c["id"])
        ticks = [dur(c) for c in measured if c["name"] == "tick" and not c["traced"]]
        docs_per_cycle = gen_info["docs"] + (facts["ticks_per_cycle"] + gen.CUR_STREAM_BATCHES) * gen.CUR_TICK_DOCS
        rate = docs_per_cycle / _median(untraced_cycles, 1e9)
        e2e = {"curate_docs_per_s": (rate, "1/s"), "tick_p50_s": (_median(ticks), "s"),
               "tick_samples": (len(ticks), "count"),
               "call_p50_ms": (_median([dur(c) * 1000 for c in layer if not c["traced"]]), "ms"),
               "dedup_recall": (min((r.get("dedup_recall", 0) for r in per_cycle.values()), default=0), "ratio"),
               "knn_recall_at_10": (min((r.get("knn_recall_at_10", 0) for r in per_cycle.values()), default=0), "ratio")}
        primary_ms, work = _median(ticks) * 1000, rate
    else:
        rc = facts["read_check_failures"]
        checks = {"read_check_failures": rc, "final_check_ok": facts["final_check_ok"]}
        reads = [dur(c) for c in layer if c["name"] in READS and not c["traced"]]
        muts = [dur(c) for c in layer if c["name"] in MUTATES and not c["traced"]]
        creates = [dur(c) for c in layer if c["name"] == "sources.ParquetDatabase.create"
                   and not c["traced"]]
        maint = sum(dur(c) for c in layer + finals if c["name"] in MAINTAIN)
        e2e = {"ingest_rows_per_s": (gen.CRYSTAL_BATCH_ROWS / _median(creates, 1e9), "1/s"),
               "read_p50_ms": (_median(reads) * 1000, "ms"),
               **_tail("read", "ms", reads, 1000.0), "read_samples": (len(reads), "count"),
               "mutate_p50_ms": (_median(muts) * 1000, "ms"), "maintenance_s": (maint, "s"),
               "space_amp": (facts["space_amp"], "ratio")}
        # rows ingested per second of the whole tick loop (mutations, reads
        # and maintenance included), which is what a store's user sees
        rate = gen.CRYSTAL_BATCH_ROWS * len(untraced_cycles) / max(1e-9, sum(untraced_cycles))
        e2e["tick_rows_per_s"] = (rate, "1/s")
        primary_ms, work = _median(reads) * 1000, rate

    attempted = len(layer) + len(finals)
    failed = sum(1 for c in layer + finals if not c["ok"] or c["id"] in wrong)
    if workload == "crystal-store":
        failed += len(facts["read_check_failures"]) + (0 if facts["final_check_ok"] else 1)
    correct = failed == 0 and not meta["failures"]

    # start-up as a user pays it: JVM start to main, the first (cold) session
    # build with its input set-up, and the warm-up; the warm rebuilds that
    # follow in the same JVM are kept as setup_warm_s
    setup_s = meta["jvm_to_main_s"] + meta["setup_reps_s"][0] + meta["warmup_s"]
    e2e.update({"setup_s": (setup_s, "s"),
                "setup_warm_s": (_median(meta["setup_reps_s"][1:]), "s"),
                "peak_rss_gib": (meta["peak_rss_gib"], "GiB"),
                "ops_failed_frac": (failed / max(1, attempted), "ratio")})
    # mean over the measured cycles, which come in whole rounds, so a
    # maintenance tick weighs the same in every run
    cycle_cpu = statistics.fmean([c.get("cpu_s", 0.0) for c in cycles if not c["traced"]])
    e2e["cycle_s"] = (statistics.fmean(untraced_cycles), "s")
    e2e["cycle_cpu_s"] = (cycle_cpu, "s")
    end_to_end = {"setup_s": setup_s, "latency_p50_ms": primary_ms, "work_per_s": work,
                  "cycle_cpu_s": cycle_cpu}

    record = {"workload": workload, "seed": meta["seed"], "trace": traced,
              "host": {"nproc": meta["nproc"], "cpus_used": meta["cpus"],
                       "load1_start": meta["load1_start"], "load1_end": meta["load1_end"],
                       "steal_pct": meta["steal_pct"], "busy_pct": meta["busy_pct"],
                       # quiet-host rule scaled to the host: start load below half the cores
                       "quiet": 0 <= meta["load1_start"] < 0.5 * meta["nproc"]},
              "inputs": gen_info, "checks": checks, "failures": meta["failures"][:20],
              "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
              "cycles": {"untraced": len(untraced_cycles), "traced": len(traced_cycles)},
              "calls": len(layer), "jvm_to_main_s": meta["jvm_to_main_s"],
              "setup_reps_s": meta["setup_reps_s"], "warmup_s": meta["warmup_s"],
              "measure_s": meta["measure_s"], "facts": facts}
    if traced:
        per_layer = layer_metrics(meta, calls, spans, facts, len(traced_cycles))
        record["per_layer"] = per_layer
        metrics = {m["name"]: {"value": per_layer[m["name"]][0], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": end_to_end[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return record, {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def layer_metrics(meta, calls, spans, facts, traced_cycles):
    dur = lambda c: (c["end_ms"] - c["start_ms"]) / 1000.0  # noqa: E731
    tl = [c for c in calls if c["traced"] and c["cycle"] >= 0 and c["name"].startswith(LAYER_PREFIXES)]
    med = lambda name: _median([dur(c) for c in tl if c["name"] == name])  # noqa: E731
    n = max(1, len(tl))
    tot = lambda k: sum(c.get(k, 0.0) for c in tl)  # noqa: E731
    plan = sum(c.get("plan_phases_s", 0.0) for c in tl)
    wall = sum(dur(c) for c in tl)
    m = {
        "session.build_s": (_median(meta["session_build_reps_s"]), "s"),
        "session.warmup_s": (meta["warmup_s"], "s"),
        "catalyst.plan_s": (plan / n, "s"),
        "catalyst.plan_share": (plan / wall if wall else 0.0, "ratio"),
    }
    m.update({
        "spark.jobs_per_call": (tot("jobs") / n, "count"),
        "spark.stages": (tot("stages") / n, "count"),
        "spark.tasks": (tot("tasks") / n, "count"),
        "spark.task_run_s": (tot("task_run_s") / n, "s"),
        "spark.task_cpu_s": (tot("task_cpu_s") / n, "s"),
        "spark.input_bytes": (tot("input_bytes") / n, "bytes"),
        "spark.output_bytes": (tot("output_bytes") / n, "bytes"),
        "spark.shuffle_write_bytes": (tot("shuffle_write_bytes") / n, "bytes"),
        "spark.shuffle_read_bytes": (tot("shuffle_read_bytes") / n, "bytes"),
        "spark.shuffle_fetch_wait_s": (tot("shuffle_fetch_wait_s") / n, "s"),
        "spark.spill_bytes": (tot("spill_bytes") / n, "bytes"),
        "spark.failed_tasks": (tot("failed_tasks"), "count"),
        "driver.self_s": (sum(dur(c) - c.get("job_cover_s", 0.0) for c in tl) / n, "s"),
        "jvm.gc_s": (tot("gc_s") / n, "s"),
    })
    for op in DEDUP_OPS:
        m[f"operators.Dedup.{op}_s"] = (med(f"operators.Dedup.{op}"), "s")
    for op in SIM_OPS:
        m[f"operators.Similarity.{op}_s"] = (med(f"operators.Similarity.{op}"), "s")
    for op in TEXT_OPS:
        m[f"operators.TextAnalysis.{op}_s"] = (med(f"operators.TextAnalysis.{op}"), "s")
    m["operators.Dedup.candidates_per_pair"] = (facts.get("candidates_per_pair", 0.0), "ratio")
    m["operators.Similarity.centroids"] = (facts.get("centroids", 0), "count")
    for s in STREAMS:
        m[f"streaming.DocStreams.{s}_s"] = (med(f"streaming.DocStreams.{s}"), "s")
    batches = [sp.get("duration_ms", 0.0) for sp in spans if sp["name"] == "streaming.batch"]
    stream_calls = [c for c in tl if c["name"].startswith("streaming.")]
    m["streaming.batch_p50_ms"] = (_median(batches), "ms")
    m["streaming.batches"] = (sum(c.get("stream_batches", 0) for c in stream_calls) / max(1, len(stream_calls)), "count")
    traced_all = tl + [c for c in calls if c["cycle"] == -2 and c["name"].startswith(LAYER_PREFIXES)]
    for op in DB_OPS:
        xs = [dur(c) for c in traced_all if c["name"] == f"sources.ParquetDatabase.{op}"]
        m[f"sources.ParquetDatabase.{op}_p50_ms"] = (_median(xs) * 1000, "ms")
    m["sources.files_live"] = (facts.get("files_live", 0), "count")
    m["sources.live_bytes"] = (facts.get("live_bytes", 0), "bytes")
    src_out = sum(c.get("output_bytes", 0.0) for c in tl if c["name"].startswith("sources."))
    ticks = max(1, facts.get("ticks", 0))
    user = facts.get("input_bytes", 0) / ticks * traced_cycles
    m["sources.write_amp"] = (src_out / user if user else 0.0, "ratio")
    m["trace.overhead_frac"] = (trace_overhead(calls), "ratio")
    return m


def trace_overhead(calls):
    """Traced over untraced time of the same calls after the first cycle.

    Traced and untraced calls interleave (crystal-store alternates its
    ticks, llm-curation's traced cycle every other tick), so for each call
    name and label seen both ways the mean traced time is compared with the
    mean untraced time. Cycle 0 is left out: in a workload without warm-up
    it is the cold one."""
    dur = lambda c: (c["end_ms"] - c["start_ms"]) / 1000.0  # noqa: E731
    by = {}
    for c in calls:
        if c["cycle"] > 0 and c["name"].startswith(LAYER_PREFIXES):
            by.setdefault((c["name"], c["label"]), ([], []))[c["traced"]].append(dur(c))
    num = den = 0.0
    for untraced, traced in by.values():
        if untraced and traced:
            num += sum(traced)
            den += len(traced) * statistics.fmean(untraced)
    return num / den - 1.0 if den else 0.0
