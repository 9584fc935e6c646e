"""Metric definitions and their computation from a harness result.

Every run reports every metric of its set: the end-to-end set with
--trace 0, the per-layer set with --trace 1. A per-layer metric that
does not apply to the workload reads 0. BENCHMARK.json lists the same
names and units; the self-tests hold the two together.
"""
import querymix
import stats

END_TO_END = {
    "setup_s": "s",           # session + GraftExtensions + warmup, median of the re-starts
    "wall_s": "s",            # the run, first operation to last result
    "retained_heap_mb": "MB",  # driver heap after full GCs at the end of the run
}

SITES = ("Cli", "JsonlSink", "ExcelSink", "Derive", "Quality",  # notion_etl
         "ManifestTable", "MaterializedView", "VersionedTable",  # the commit round
         "Relational", "Sketches", "FileBloomIndex", "FileStats", "StatsPruning",  # queries
         "bench")
ETL_OPS = ("pull", "normalize", "excel_export", "pbi_refresh")
COMMIT_OPS = ("write", "merge_eq", "apply_cdc_eq", "compact_eq", "delete_mor",
              "branch_write", "publish", "mv_refresh")
MT_OPS = COMMIT_OPS + ("read", "vacuum")
QUERY_MODULES = tuple(querymix.QUERIES)

COUNTERS = {  # tracer counters of the traced run
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.physical_s": "s",
    "plan.actions": "count", "sched.stages": "count", "sched.tasks": "count",
    "data.task_s": "s", "data.task_cpu_s": "s", "data.input_bytes": "bytes",
    "data.output_bytes": "bytes", "data.shuffle_read_bytes": "bytes",
    "data.shuffle_write_bytes": "bytes", "data.spill_bytes": "bytes",
    "fs.read_ops": "count", "fs.list_ops": "count", "fs.write_ops": "count",
    "fs.bytes_read": "bytes", "fs.bytes_written": "bytes", "jvm.gc_s": "s",
}
FIGURES = {  # of the traced run, from the job records
    "sched.jobs": "count", "sched.jobs_unlabeled": "count", "sched.job_s": "s",
    "driver.gap_s": "s",
}
PER_LAYER = dict(COUNTERS)
PER_LAYER.update(FIGURES)
# latency at the highest percentile with >= 10 samples beyond; with the
# few operations of a run, the slowest one. Per layer, not end to end:
# one operation's time spreads more than a tenth from run to run.
PER_LAYER["op_tail_ms"] = "ms"
for _s in SITES:
    PER_LAYER[f"site.{_s}.job_s"] = "s"
    PER_LAYER[f"site.{_s}.jobs"] = "count"
for _o in ETL_OPS:
    for _k, _u in (("wall_s", "s"), ("sched.job_s", "s"), ("driver.gap_s", "s"),
                   ("sched.jobs", "count"), ("data.task_s", "s")):
        PER_LAYER[f"cmd.{_o}.{_k}"] = _u
PER_LAYER.update({
    "etl.records_per_s": "1/s",
    "pbi.rows_posted": "count", "pbi.posts": "count", "pbi.modeled_connector_s": "s",
    "excel.bytes": "bytes", "canon.bytes": "bytes",
})
for _o in MT_OPS:
    PER_LAYER[f"mt.{_o}_ms"] = "ms"
PER_LAYER.update({
    "mt.files_live": "count", "mt.files_on_disk": "count", "mt.metadata_bytes": "bytes",
    "mt.commit_p50_ms": "ms", "mt.bytes_stored_per_user_byte": "ratio",
})
for _m in QUERY_MODULES:
    PER_LAYER[f"q.{_m}_s"] = "s"
PER_LAYER["q.query_p50_s"] = "s"
PER_LAYER.update({
    "bench.gen_s": "s", "bench.prepare_s": "s", "bench.first_setup_s": "s",
    "bench.failed_op_ratio": "ratio", "trace.wall_s": "s",
})


def _op_seconds(res, names):
    return [op["seconds"] for op in res["ops"] if op["name"] in names]


def end_to_end(res):
    return {
        "setup_s": stats.median(res["setup_s"]),
        "wall_s": res["wall_s"],
        "retained_heap_mb": res["retained_heap_mb"],
    }


def per_layer(workload, res, outcome, gen_s):
    """The traced run is the same cold run as end to end, with the
    listeners attached; its wall against the untraced runs' `wall_s` is
    the tracing overhead."""
    fig = res["figures"]
    v = dict.fromkeys(PER_LAYER, 0.0)
    layers = res["layers"]
    for k in layers:  # tracer counters and the workload's own figures
        if k in v:
            v[k] = layers[k]
    for k in list(FIGURES) + [f"site.{s}.{k}" for s in SITES for k in ("job_s", "jobs")]:
        v[k] = fig.get(k, 0.0)
    n_bad = sum(not op["ok"] for op in res["ops"])
    v.update({
        "op_tail_ms": stats.tail([op["seconds"] for op in res["ops"]])[0] * 1e3,
        "trace.wall_s": res["wall_s"],
        "bench.gen_s": gen_s, "bench.prepare_s": res["prepare_s"],
        "bench.first_setup_s": res["first_setup_s"],
        "bench.failed_op_ratio": (n_bad + outcome.failed) / (len(res["ops"]) + outcome.attempted),
    })

    if workload == "notion_etl":
        for o in ETL_OPS:
            f = fig["ops"][o]
            for k in ("wall_s", "sched.job_s", "sched.jobs", "data.task_s"):
                v[f"cmd.{o}.{k}"] = f[k]
            v[f"cmd.{o}.driver.gap_s"] = f["wall_s"] - f["sched.job_s"]
        pages = sum(res["outputs"]["pulled"].values())
        v["etl.records_per_s"] = pages / res["wall_s"]
    else:
        for o in MT_OPS:
            v[f"mt.{o}_ms"] = sum(_op_seconds(res, {o})) * 1e3
        v["mt.commit_p50_ms"] = stats.median(_op_seconds(res, set(COMMIT_OPS))) * 1e3
        o = res["outputs"]
        v["mt.bytes_stored_per_user_byte"] = o["stored_bytes"] / o["user_bytes"]
        queries = [op for op in res["ops"] if op["kind"] in QUERY_MODULES]
        for m in QUERY_MODULES:
            v[f"q.{m}_s"] = sum(op["seconds"] for op in queries if op["kind"] == m)
        v["q.query_p50_s"] = stats.median([op["seconds"] for op in queries])
    return v


def top_sites(res, n=10):
    """The traced run's n engine files with the most job time."""
    fig = res["figures"]
    sites = {k[len("site."):-len(".job_s")]: v for k, v in fig.items()
             if k.startswith("site.") and k.endswith(".job_s")}
    return {s: {"job_s": sites[s], "jobs": fig[f"site.{s}.jobs"]}
            for s in sorted(sites, key=sites.get, reverse=True)[:n]}


def render(values):
    units = dict(END_TO_END, **PER_LAYER)
    return {k: {"value": float(x), "unit": units[k]} for k, x in values.items()}
