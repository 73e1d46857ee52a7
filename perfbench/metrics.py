"""Metric computation for perfbench/run.py: end-to-end metrics from the
harness's raw measurements, per-layer metrics from its spans, and the
output check against the frozen DuckDB oracle digests."""
import hashlib
import json
import math
import statistics

# End-to-end metrics, reported with --trace 0 (see BENCHMARK.json).
E2E = ["setup_s", "sweep_s", "qps", "query_p50_ms", "query_tail_ms", "rss_peak_mb"]

# Reported in the human-readable report line of every run; in the
# contract JSON only through the per-layer set (they apply to one workload
# or can be 0).
REPORT_ONLY = ["fail_ratio", "land_rows_per_s", "backfill_s", "lake_query_ms",
               "stored_bytes_per_raw_byte"]

LAYERS = ["streaming", "ingest", "pipeline", "io", "validation", "serving",
          "queries", "materialize"]

PER_LAYER = [
    "streaming.land_s", "streaming.batches", "streaming.bytes_landed",
    "ingest.weather_s",
    "pipeline.transform_s", "pipeline.transform_jobs", "pipeline.transform_job_ms",
    "pipeline.transform_task_ms", "validation.jobs",
    "io.catalog_s", "io.partitions_registered", "io.curated_files", "io.curated_bytes",
    "io.partitions", "io.scan_files_read", "io.scan_files_total",
    "pipeline.backfill_s", "io.backfill_files_written", "io.untouched_files_changed",
    "queries.build_ms", "queries.count_over_noop",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.busy_ratio",
    "spark.task_ms", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "materialize.pins", "materialize.pinned_bytes",
] + [f"self_s.{x}" for x in LAYERS] + REPORT_ONLY

UNITS = {
    "setup_s": "s", "sweep_s": "s", "qps": "1/s", "query_p50_ms": "ms",
    "query_tail_ms": "ms", "rss_peak_mb": "MB",
    "fail_ratio": "ratio", "land_rows_per_s": "rows/s", "backfill_s": "s",
    "lake_query_ms": "ms", "stored_bytes_per_raw_byte": "ratio",
    "streaming.land_s": "s", "streaming.batches": "count", "streaming.bytes_landed": "bytes",
    "ingest.weather_s": "s", "pipeline.transform_s": "s", "pipeline.transform_jobs": "count",
    "pipeline.transform_job_ms": "ms", "pipeline.transform_task_ms": "ms",
    "validation.jobs": "count", "io.catalog_s": "s", "io.partitions_registered": "count",
    "io.curated_files": "count", "io.curated_bytes": "bytes", "io.partitions": "count",
    "io.scan_files_read": "count", "io.scan_files_total": "count", "pipeline.backfill_s": "s",
    "io.backfill_files_written": "count", "io.untouched_files_changed": "count",
    "queries.build_ms": "ms", "queries.count_over_noop": "ratio",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.busy_ratio": "ratio", "spark.task_ms": "ms",
    "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "materialize.pins": "count", "materialize.pinned_bytes": "bytes",
}
UNITS.update({f"self_s.{x}": "s" for x in LAYERS})


def tail_percentile(n):
    """Highest whole percentile (at most 99) whose nearest-rank value has at
    least 10 of n samples beyond it, or None when n is too small."""
    p = min(99, (100 * (n - 10)) // n) if n > 0 else 0
    return p if p >= 1 else None


def percentile(values, p):
    """Nearest-rank percentile (p in (0, 100])."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def fail_ratio(ops, checks=()):
    """(attempted, failed) operations. An operation is one query execution,
    one lake read or one lifecycle step; it fails on an error, on a false
    output check, or (queries) on a digest that differs from the oracle's.
    `checks` holds one entry per successful query execution, in order."""
    verdicts = iter(checks)
    attempted = failed = 0
    for o in ops:
        attempted += 1
        wrong = o["kind"] == "query" and o["ok"] and not next(verdicts)["ok"]
        if not o["ok"] or wrong:
            failed += 1
    return attempted, failed


def _norm(rows):
    return [tuple("NULL" if v is None else repr(v) for v in r) for r in rows]


def digest_rows(con, rel):
    """Digest of a relation's rows, columns sorted by name, row order kept
    (the same normalisation as tools/check.py)."""
    cols = sorted(rel.columns)
    rows = _norm(con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall())
    h = hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
    return h, len(rows)


def oracle_check(res, digest_path):
    """Checks every successful query execution against the digests frozen
    for that query (see make_oracle.py): its Dataset.observe digest against
    "spark" and, for warm-pass executions, the rows of the Parquet result it
    wrote, in order, against the DuckDB oracle's "oracle" digest."""
    with open(digest_path) as fh:
        frozen = json.load(fh)
    con = None
    out = []
    for op in res["ops"]:
        if op["kind"] != "query" or not op["ok"]:
            continue
        name, d = op["name"], op["detail"]
        want = frozen.get(d["sf"], {}).get(name)
        if want is None:
            out.append({"name": name, "ok": False,
                        "finding": f"{name}: no frozen oracle digest at {d['sf']}"})
            continue
        finding = None
        if d["digest"] != want["spark"]:
            finding = (f"{name}: result digest {d['digest']} differs from the frozen "
                       f"oracle-checked digest {want['spark']} at {d['sf']}")
        elif "result" in d:
            if con is None:
                import duckdb
                con = duckdb.connect()
            rows, n = digest_rows(con, con.sql(f"SELECT * FROM '{d['result']}/*.parquet'"))
            if rows != want["oracle"]:
                finding = (f"{name}: result rows ({n}, in order) differ from the "
                           f"DuckDB oracle's answer at {d['sf']}")
        out.append({"name": name, "ok": finding is None, "finding": finding})
    return out


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def query_medians(res):
    """Median latency (ms) of each query over its executions in the window."""
    by_q = {}
    for s in res.get("samples", []):
        by_q.setdefault(s["q"], []).append(s["ms"])
    return {q: statistics.median(v) for q, v in by_q.items()}


def end_to_end(res, spec, checks):
    """Every metric of the report line, measured on this run."""
    attempted, failed = fail_ratio(res["ops"], checks)
    m = {"setup_s": res["setup_s"], "rss_peak_mb": res["rss_peak_mb"],
         "fail_ratio": failed / max(1, attempted)}
    p = tail_percentile(spec["min_samples"])
    if "sweep" in res:
        sw = res["sweep"]
        reads = sw["read_ms"]
        m["sweep_s"] = sw["sweep_s"]
        m["qps"] = len(reads) / (sum(reads) / 1e3) if reads else 0.0
        m["query_p50_ms"] = _median(reads)
        m["query_tail_ms"] = percentile(reads, p) if reads else 0.0
        m["lake_query_ms"] = m["query_p50_ms"]
        m["land_rows_per_s"] = sw["rows_landed"] / (sw["land_ms"] / 1e3)
        m["backfill_s"] = sw["backfill_ms"] / 1e3
        m["stored_bytes_per_raw_byte"] = sw["curated_bytes"] / sw["raw_bytes"]
        n = len(reads)
    else:
        # Latency figures are taken over each query's median latency, so
        # every query weighs the same whatever share of the last pass the
        # window cut off, and a query run twice contributes a steadier value.
        lat = list(query_medians(res).values())
        m["sweep_s"] = sum(lat) / 1e3
        m["qps"] = len(res["samples"]) / res["window_s"] if res["window_s"] > 0 else 0.0
        m["query_p50_ms"] = _median(lat)
        m["query_tail_ms"] = percentile(lat, p) if lat else 0.0
        for k in ["land_rows_per_s", "backfill_s", "lake_query_ms", "stored_bytes_per_raw_byte"]:
            m[k] = 0.0
        n = len(lat)
    if n - math.ceil(p / 100.0 * n) < 10:
        res.setdefault("findings", []).append(
            f"only {n} samples: fewer than 10 beyond p{p}")
    return {"metrics": m, "attempted": attempted, "failed": failed}


def count_over_noop(res):
    """count() time over the median noop-sink time, per query."""
    med = query_medians(res)
    return {q: c / med[q] for q, c in res.get("count_ms", {}).items() if q in med}


def _spans(res, name):
    return [s for s in res.get("spans", []) if s["name"] == name]


def _wall_ms(s):
    return s["end_ms"] - s["start_ms"]


def per_layer(res, report, cores):
    """Per-layer metrics of a traced run. Lake figures are those of the timed
    sweep; query figures are per query execution."""
    v = {k: 0.0 for k in PER_LAYER}
    spans = res.get("spans", [])
    top = [s for s in spans if s["parent"] < 0]
    if "sweep" in res:
        sw = res["sweep"]
        n = 1
        units = top
        v["streaming.land_s"] = sum(_wall_ms(s) for s in _spans(res, "streaming.land")) / 1e3
        v["streaming.batches"] = sw["batches_landed"]
        v["streaming.bytes_landed"] = sw["bytes_landed"]
        v["ingest.weather_s"] = sum(_wall_ms(s) for s in _spans(res, "ingest.weather")) / 1e3
        tr = _spans(res, "pipeline.transform_iot") + _spans(res, "pipeline.transform_weather")
        v["pipeline.transform_s"] = sum(_wall_ms(s) for s in tr) / 1e3
        jobs = [j for s in tr for j in s["jobs"]]
        v["pipeline.transform_jobs"] = len(jobs)
        v["pipeline.transform_job_ms"] = sum(j["wall_ms"] for j in jobs)
        v["pipeline.transform_task_ms"] = sum(j["task_ms"] for j in jobs)
        # one validation pass is one action (SQL execution); AQE may run it
        # as several stage jobs
        v["validation.jobs"] = len({j["execution"] for j in jobs
                                    if "Validation.scala" in j["call_site"]}) / max(1, len(tr))
        v["io.catalog_s"] = sum(_wall_ms(s) for s in _spans(res, "io.catalog")) / 1e3
        for k in ["partitions_registered", "curated_files", "curated_bytes", "partitions",
                  "untouched_files_changed", "backfill_files_written",
                  "scan_files_read", "scan_files_total"]:
            v[f"io.{k}"] = sw[k]
        v["pipeline.backfill_s"] = sum(_wall_ms(s) for s in _spans(res, "pipeline.backfill")) / 1e3
    else:
        units = _spans(res, "queries.query")
        n = max(1, len(units))
        v["queries.build_ms"] = _median([s["build_ms"] for s in res["samples"]])
        ratios = count_over_noop(res)
        v["queries.count_over_noop"] = min(ratios.values()) if ratios else 0.0
        v["materialize.pins"] = sum(s["attrs"].get("pins", 0) for s in units) / n
        v["materialize.pinned_bytes"] = sum(s["attrs"].get("pinned_bytes", 0) for s in units) / n
    tot = {}
    for s in units:
        for k, x in s["counts"].items():
            tot[k] = tot.get(k, 0) + x
    for k in ["jobs", "stages", "tasks", "task_ms", "task_cpu_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        v[f"spark.{k}"] = tot.get(k, 0) / n
    for k in ["analysis_ms", "optimization_ms", "planning_ms"]:
        v[f"catalyst.{k}"] = tot.get(k, 0) / n
    wall = sum(_wall_ms(s) for s in units)
    v["spark.busy_ratio"] = tot.get("task_ms", 0) / (wall * cores) if wall else 0.0
    for layer, secs in res.get("self_s", {}).items():
        if f"self_s.{layer}" in v:
            v[f"self_s.{layer}"] = secs
    for k in REPORT_ONLY:
        v[k] = report["metrics"][k]
    return v


def overhead(traced, untraced):
    """Tracing overhead: traced minus untraced end-to-end metrics, or None
    unless the untraced run used the same seed and the same build."""
    if not untraced or any(untraced.get(k) != traced[k] for k in ("seed", "stamp")):
        return None
    return {k: traced["metrics"][k] - untraced["metrics"][k] for k in E2E}
