"""Per-layer metrics of a traced run.

Spans wrap public graft calls. Each span's counters cover the span
and everything nested in it: jobs billed to it (stats.attribute), the
part of its wall time no job covered (driver_gap_s), planning time of
its SQL executions, executor CPU split by stage kind, shuffle and
spill bytes, input records, and JVM GC time. A span name that repeats
(one per job) reports the median over its occurrences.
"""
import stats

COUNTERS = ("self_s", "wall_s", "jobs", "driver_gap_s", "planning_s",
            "executor_cpu_s", "scan_cpu_s", "exchange_cpu_s", "shuffle_bytes",
            "spill_bytes", "input_records", "gc_s")
UNITS = {"jobs": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
         "input_records": "count"}

ETL_SINKS = ("operators.RetailEtl.writeSummary", "sources.SalesJdbc.upsertInto")
SINK_COUNTERS = ("self_s", "jobs", "driver_gap_s", "planning_s", "scan_cpu_s",
                 "exchange_cpu_s", "shuffle_bytes", "spill_bytes",
                 "input_records", "gc_s")
CURATION_SPANS = ("query.docs_curate_full", "sink.docs_curate_full")
CURATION_COUNTERS = ("self_s", "jobs", "driver_gap_s", "planning_s",
                     "executor_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s")
SHARED = ("shingle_sets", "gopher_flagged", "dup_ngram_occ", "dup_ngram_docs",
          "curate_flags")
KERNELS = ("TextHashes.tokenShingleHashesFused", "TextHashes.minhashSignature",
           "TextChars.deflateRatio", "TextChars.dupNgramCoverage",
           "TextMd5.chunkMd5s", "VectorOps.cosine")
UNIT_COUNTERS = ("wall_s", "jobs", "driver_gap_s", "planning_s",
                 "executor_cpu_s", "shuffle_bytes", "spill_bytes",
                 "input_records", "gc_s", "child_cover_frac")


def unit_of(counter):
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_frac") or counter.endswith("_ratio"):
        return "ratio"
    return UNITS.get(counter, "count")


def names():
    """Every per-layer metric the benchmark reports, in order."""
    out = [(f"unit.{c}", unit_of(c)) for c in UNIT_COUNTERS]
    out += [("unit.heap_peak_mb", "MB"), ("trace.overhead_frac", "ratio")]
    out += [("sources.SalesCsv.read.self_s", "s"),
            ("sources.SalesJdbc.extractOnlineSales.self_s", "s"),
            ("sources.SalesJdbc.extractOnlineSales.jobs", "count"),
            ("operators.RetailEtl.convertTyped.self_s", "s"),
            ("operators.RetailEtl.pipeline.self_s", "s")]
    out += [(f"{s}.{c}", unit_of(c)) for s in ETL_SINKS for c in SINK_COUNTERS]
    out += [("sources.SalesJdbc.upsertInto.update_hit_ratio", "ratio")]
    out += [(f"{s}.{c}", unit_of(c)) for s in CURATION_SPANS
            for c in CURATION_COUNTERS]
    out += [(f"shared.{a}_s", "s") for a in SHARED]
    out += [(f"functions.{k}.rows_per_s", "1/s") for k in KERNELS]
    return out


def span_counters(res):
    """{span id: {counter: value}} over the traced window."""
    spans, jobs = res["spans"], res["jobs"]
    by_job = stats.attribute(jobs, spans)
    under = stats.descendants(spans)
    own = stats.self_times(spans)
    cover = stats.child_cover(spans)
    job_t = {j["id"]: (j["t0"], j["t1"]) for j in jobs}
    stages_of = {}
    for st in res["stages"]:
        stages_of.setdefault(st["job"], []).append(st)
    plan_of = {}
    for p in res["planning"]:
        if str(p["group"]).isdigit():
            plan_of[int(p["group"])] = plan_of.get(int(p["group"]), 0.0) + p["planning_s"]
    out = {}
    for s in spans:
        inside = under[s["id"]]
        js = [j for j, sid in by_job.items() if sid in inside]
        sts = [st for j in js for st in stages_of.get(j, [])]
        c = {"self_s": own[s["id"]], "wall_s": s["t1"] - s["t0"],
             "jobs": len(js),
             "driver_gap_s": stats.driver_gap(s["t0"], s["t1"],
                                              [job_t[j] for j in js]),
             "planning_s": sum(plan_of.get(i, 0.0) for i in inside),
             "executor_cpu_s": sum(st["cpu_s"] for st in sts),
             "scan_cpu_s": sum(st["cpu_s"] for st in sts if st["kind"] == "scan"),
             "exchange_cpu_s": sum(st["cpu_s"] for st in sts
                                   if st["kind"] == "exchange"),
             "shuffle_bytes": sum(st["shuffle_bytes"] for st in sts),
             "spill_bytes": sum(st["spill_bytes"] for st in sts),
             "input_records": sum(st["input_records"] for st in sts),
             "gc_s": s["gc_s"]}
        if s["id"] in cover:
            c["child_cover_frac"] = cover[s["id"]]
        out[s["id"]] = c
    return out


def per_layer(res, workload):
    counters = span_counters(res)
    by_name = {}
    for s in res["spans"]:
        by_name.setdefault(s["name"], []).append(counters[s["id"]])
    units = [counters[s["id"]] for s in res["spans"] if s["parent"] == 0]

    def med(rows, c):
        vals = [r[c] for r in rows if c in r]
        return stats.median(vals) if vals else 0.0

    v = {}
    for c in UNIT_COUNTERS:
        v[f"unit.{c}"] = med(units, c)
    v["unit.heap_peak_mb"] = res["heap_peak_mb"]
    v["trace.overhead_frac"] = (
        stats.median([u["wall_s"] for u in res["traced_units"]]) /
        stats.median([u["wall_s"] for u in res["untraced_units"]]) - 1)
    for name, rows in by_name.items():
        for c in COUNTERS:
            v[f"{name}.{c}"] = med(rows, c)
    if workload == "retail_etl_daily":
        v["sources.SalesJdbc.upsertInto.update_hit_ratio"] = stats.median(
            [u["update_hit_ratio"] for u in res["units"] + res["traced_units"]
             + res["untraced_units"] if "update_hit_ratio" in u])
    shared = {}
    for u in res["units"]:
        for a, t in u.get("shared", {}).items():
            shared.setdefault(a, []).append(t)
    for a, ts in shared.items():
        v[f"shared.{a}_s"] = stats.median(ts)
    for k, r in res.get("layer", {}).get("kernels", {}).items():
        v[f"functions.{k}.rows_per_s"] = r
    return {n: {"value": float(v.get(n, 0.0)), "unit": u} for n, u in names()}
