"""End-to-end and per-layer metrics from one run record (run.json).

Every workload reports every metric. A per-layer metric of a layer the
workload never calls reads 0: on the control workloads that is the
prediction (curation_mix calls no SFC layer; scan_sfc no upsert layer).
"""
import stats

ARMS = ("baseline", "linear", "zorder", "hilbert")
CURATION = ("q72_curation_pipeline", "q29_minhash_lsh", "q85_bm25",
            "q98_pq256_packed", "q77_seq_packing")
READ_KINDS = ("query", "probe")

E2E = {  # name -> unit
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_ms": "ms",
    "query_files_frac": "ratio",
    "query_bytes_frac": "ratio",
    "peak_rss_mb": "MB",
}


def timed(run, kinds):
    """Timed ops of the given kinds that succeeded (warm-up ops are
    checked but not timed)."""
    return [op for op in run["ops"]
            if op["kind"] in kinds and op["error"] is None and not op.get("warmup")]


def files_frac(ops):
    return stats.ratio_of_sums([(s["files"], s["table_files"]) for op in ops for s in op["scans"]])


def bytes_frac(ops):
    return stats.ratio_of_sums([(op["counters"]["input_bytes"],
                                 sum(s["table_bytes"] for s in op["scans"])) for op in ops])


def counted(run):
    """The read ops the fracs are taken over: those of the warm-up pass
    and of the passes every run makes whatever the host's speed
    (`min_passes`), so the fracs are a function of the seed and the
    program only."""
    return [op for op in run["ops"] if op["kind"] in READ_KINDS and op["error"] is None
            and op["pass"] <= run["min_passes"]]


def setup_s(run):
    """Everything before the timed window: input generation, Spark
    session start, the workload's set-up and the warm-up pass."""
    return run["datagen_s"] + run["session_s"] + run["setup_s"] + run["warmup_s"]


def e2e(run):
    return {
        "setup_s": setup_s(run),
        "pass_s": stats.median(run["pass_ms"]) / 1000.0,
        "query_p50_ms": stats.median([op["ms"] for op in timed(run, READ_KINDS)]),
        "query_files_frac": files_frac(counted(run)),
        "query_bytes_frac": bytes_frac(counted(run)),
        "peak_rss_mb": run["rss_peak_mb"],
    }


def _med(xs):
    return stats.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _per_op(ops, counter, scale=1.0):
    return _mean([op["counters"][counter] * scale for op in ops])


def layer(run):
    """Per-layer metrics (name -> (value, unit))."""
    ops = run["ops"]
    done = [op for op in ops if op["error"] is None and not op.get("warmup")]
    reads = timed(run, READ_KINDS)
    upserts = timed(run, ("upsert",))
    spans = run["spans"]
    lay = run["layer"]
    steps = run["setup_steps_ms"]
    m = {}

    def span_ms(name):
        return _med([s["ms"] for s in spans if s["name"] == name and s["op"] >= 0])

    def step_ms(name):
        return steps.get(name, 0.0)

    m["table.open_ms"] = (span_ms("table.open"), "ms")
    m["table.plan_ms"] = (span_ms("table.plan"), "ms")
    m["table.exec_ms"] = (span_ms("table.exec"), "ms")
    m["layout.manifest_read_ms"] = (_med([op["manifest_read_ms"] for op in reads
                                          if "manifest_read_ms" in op]), "ms")
    m["layout.prune_ms"] = (_med([op["prune_ms"] for op in reads if "prune_ms" in op]), "ms")
    for arm in ARMS:
        arm_ops = [op for op in reads if op["arm"] == arm and op["kind"] == "query"]
        m[f"layout.files_kept_frac.{arm}"] = (files_frac(arm_ops) if arm_ops else 0.0, "ratio")
        m[f"scan.p50_ms.{arm}"] = (_med([op["ms"] for op in arm_ops]), "ms")
        m[f"layout.write_ms.{arm}"] = (step_ms(f"layout.write.{arm}"), "ms")
        m[f"layout.file_bytes_cv.{arm}"] = (lay.get(f"file_bytes_cv.{arm}", 0.0), "ratio")
    matched = sum(_matched_rows(op) for op in reads)
    records = sum(op["counters"]["input_records"] for op in reads)
    m["scan.useful_row_frac"] = (matched / records if records else 0.0, "ratio")
    m["curve.key_rows_per_s.zorder"] = (lay.get("curve_key_rows_per_s.zorder", 0.0), "1/s")
    m["curve.key_rows_per_s.hilbert"] = (lay.get("curve_key_rows_per_s.hilbert", 0.0), "1/s")
    m["profile.profile_ms"] = (step_ms("profile.profile"), "ms")
    m["wlg.fill_ms"] = (step_ms("wlg.fill"), "ms")
    m["wlg.sel_err"] = (_sel_err(run), "ratio")
    m["keyindex.build_ms"] = (step_ms("keyindex.build"), "ms")
    m["keyindex.sidecar_bytes_end"] = (lay.get("sidecar_bytes_end", 0), "bytes")
    m["layout.files_rewritten_per_upsert"] = (_mean([op["files_rewritten"] for op in upserts]), "count")
    m["layout.bytes_rewritten_per_upsert"] = (_mean([op["bytes_added"] for op in upserts]), "bytes")
    reclustered = [op for op in upserts if op["reclustered"] == "true"]
    m["layout.recluster_count"] = (len(reclustered), "count")
    m["layout.recluster_upsert_ms"] = (_med([op["ms"] for op in reclustered]), "ms")
    health = lay.get("health_end", 0.0)
    m["layout.health_end"] = (health if health == health else 0.0, "ratio")
    m["layout.files_total_end"] = (lay.get("files_total_end", 0), "count")
    m["layout.manifest_bytes_end"] = (lay.get("manifest_bytes_end", 0), "bytes")
    for name, counter, scale, unit in (
            ("jobs", "jobs", 1, "count"), ("stages", "stages", 1, "count"),
            ("tasks", "tasks", 1, "count"), ("sched_delay_ms", "sched_delay_ms", 1, "ms"),
            ("deser_ms", "deser_ms", 1, "ms"), ("executor_run_ms", "executor_run_ms", 1, "ms"),
            ("executor_cpu_ms", "executor_cpu_ns", 1e-6, "ms"),
            ("input_bytes", "input_bytes", 1, "bytes"),
            ("input_records", "input_records", 1, "count"),
            ("shuffle_read_bytes", "shuffle_read_bytes", 1, "bytes"),
            ("shuffle_write_bytes", "shuffle_write_bytes", 1, "bytes"),
            ("spill_bytes", "spill_bytes", 1, "bytes"), ("task_gc_ms", "task_gc_ms", 1, "ms")):
        m[f"spark.{name}_per_op"] = (_per_op(done, counter, scale), unit)
    m["spark.job_floor_ms"] = (lay.get("job_floor_ms", 0.0), "ms")
    m["plans.exchanges_per_op"] = (_mean([op["exchanges"] for op in done]), "count")
    m["plans.broadcasts_per_op"] = (_mean([op["broadcasts"] for op in done]), "count")
    m["runner.cached_peak_mb"] = (max([op["cached_peak_bytes"] for op in ops] or [0]) / 2**20, "MB")
    m["runner.evictions"] = (sum(op["evictions"] for op in ops), "count")
    m["runner.leaked_caches"] = (sum(op["leaked_caches"] for op in ops), "count")
    for q in CURATION:
        q_ops = [op for op in done if op["name"] == q]
        m[f"queries.{q}.ms"] = (_med([op["ms"] for op in q_ops]), "ms")
        m[f"queries.{q}.jobs"] = (_med([op["counters"]["jobs"] for op in q_ops]), "count")
    # workload-specific end-to-end figures, unbounded here
    # because they do not exist on every workload
    m["layout_write_s"] = (sum(m[f"layout.write_ms.{a}"][0] for a in ARMS) / 1000.0, "s")
    m["upsert_p50_ms"] = (_med([op["ms"] for op in upserts]), "ms")
    m["upsert.small_ms"] = (_med([op["ms"] for op in upserts if not op["bulk"]]), "ms")
    m["upsert.bulk_ms"] = (_med([op["ms"] for op in upserts if op["bulk"]]), "ms")
    m["write_amp"] = (_write_amp(run, upserts), "ratio")
    m["storage_amp"] = (_storage_amp(run), "ratio")
    m["failed_frac"] = (stats.failed_frac(*failures(ops)), "ratio")
    return m


def failures(ops):
    """(attempted, failed): an op fails when it raised or its answer was
    wrong."""
    return len(ops), sum(1 for op in ops if op["error"] is not None or op.get("wrong"))


def _matched_rows(op):
    if "cnt" not in op.get("columns", []):
        return 0
    i = op["columns"].index("cnt")
    return sum(r[i] for r in op["rows"])


def _sel_err(run):
    """Mean relative gap between a range query's achieved selectivity and
    its band's target (plain-shape queries on the baseline arm, whose
    count is the whole table's)."""
    rows = run["layer"].get("source_rows")
    errs = [abs(_matched_rows(op) / rows - op["target_sel"]) / op["target_sel"]
            for op in run["ops"] if op["kind"] == "query" and op.get("arm") == "baseline"
            and "target_sel" in op and op["error"] is None and rows]
    return _mean(errs)


def _write_amp(run, upserts):
    per_row = run["layer"].get("setup_bytes_per_row")
    rows = sum(op.get("batch_rows", 0) for op in upserts)
    if not upserts or not per_row or not rows:
        return 0.0
    return sum(op["bytes_added"] for op in upserts) / (rows * per_row)


def _storage_amp(run):
    lay = run["layer"]
    if "table_bytes_end" not in lay:
        return 0.0
    return lay["table_bytes_end"] / (lay["live_rows_end"] * lay["setup_bytes_per_row"])
