"""Output checks and metrics of the session benchmark.

`check` and `metrics` turn the JVM harness's record (every query, family
build and phase it timed) into the checks and metrics run.py prints. They
need no Spark, so the benchmark's own tests drive them with hand-made
records.
"""
import os
import statistics

QUERY_FAMILIES = "qdestmp"

# metric name -> unit, for everything the benchmark reports
UNITS = {
    "setup_s": "s", "wall_s": "s", "exec_cpu_s": "s", "driver_cpu_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "build_s": "s", "refresh_s": "s", "fail_frac": "ratio",
    "warehouse_bytes_per_input_byte": "B/B", "peak_rss_mb": "MB", "live_heap_mb": "MB",
    "session.start_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.no_job_s": "s", "spark.exec_run_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B", "spark.gc_s": "s",
    "artifacts.builds": "count", "artifacts.build_s": "s", "artifacts.build_cpu_s": "s",
    "artifacts.refresh_s": "s", "artifacts.refresh_cpu_s": "s", "artifacts.bytes": "B",
    "artifacts.hit_ratio": "ratio", "artifacts.fingerprint_s": "s",
    "artifacts.post_refresh_builds": "count", "artifacts.refresh_missing_families": "count",
    "ingest.s": "s", "ingest.bytes_written": "B", "calendar.s": "s", "clean.s": "s",
    "clean.bytes_written": "B", "export.s": "s", "export.bytes": "B",
    "trace.self_s": "s", "trace.wall_s": "s",
}
for _f in ("",) + tuple(f + "." for f in QUERY_FAMILIES):
    UNITS.update({f"ops.{_f}construct_s": "s", f"ops.{_f}plan_s": "s",
                  f"ops.{_f}exec_s": "s", f"ops.{_f}self_s": "s",
                  f"ops.{_f}cpu_s": "s", f"ops.{_f}jobs": "count"})


def unit(name):
    if name.startswith(("artifacts.build_s.", "artifacts.refresh_s.")):
        return "s"
    return UNITS[name]


def percentile(values, q):
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    return s[max(0, -(-len(s) * q // 100) - 1)]


# per workload: the role of the timed queries, and the role whose answers
# they must equal
TIMED = {"serve": ("window", "reference"), "notebook": ("window", "reference"),
         "build_refresh": ("post_refresh", "scratch")}


def _phase(rec, name):
    return next((p for p in rec["phases"] if p["name"] == name), None)


def _answer(q):
    return (q["rows"], q["digest"])


def oracle_rows(sql_by_name, corpus, tmp):
    """Row count of each query's DuckDB oracle SQL over the corpus parquet,
    or the error text when DuckDB cannot run it."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    con.sql("SET memory_limit='1GB'")
    con.sql(f"SET temp_directory='{tmp}'")
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(corpus, f)}'")
    out = {}
    for name, sql in sql_by_name.items():
        try:
            out[name] = con.sql(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
        except duckdb.Error as e:
            out[name] = f"oracle error: {str(e).splitlines()[0]}"
    return out


def _query_issue(q, oracle, ref, against, first):
    """What is wrong with one query execution, or None. Checked in order:
    it threw; its row count differs from the oracle's; its answer differs
    from the reference role's; it differs from its own earlier pass."""
    if q["error"]:
        return q["error"]
    want = oracle.get(q["name"])
    if isinstance(want, str):
        return want
    if want is not None and q["rows"] != want:
        return f"{q['rows']} rows, oracle {want}"
    if ref is not None:
        if q["name"] not in ref:
            return f"no {against} answer to compare with"
        if _answer(q) != ref[q["name"]]:
            return f"(rows, digest) {_answer(q)} != {against} {ref[q['name']]}"
    seen = first.setdefault((q["role"], q["name"]), _answer(q))
    if seen != _answer(q):
        return f"(rows, digest) {_answer(q)} != earlier pass {seen}"
    return None


def check(rec, oracle=None, reports=(), reference_report=None):
    """Every output check of one run: (operations attempted, problems).
    A problem is one failed operation, described in one line. `oracle`
    maps query name to its oracle row count (see oracle_rows); `reports`
    holds the bytes of each exported report, `reference_report` those of
    the report Pipeline.run wrote."""
    workload = rec["workload"]
    timed, against = TIMED[workload]
    problems = [f"harness: {rec['fatal']}"] if rec.get("fatal") else []
    builds = [p for p in rec["phases"] if p.get("role") in ("build", "reference")]
    problems += [f"{p['name']}: {p['error']}" for p in builds if p.get("error")]
    attempted = sum(1 for p in builds if p["role"] == "build")
    queries = rec["queries"]
    ref = {q["name"]: _answer(q) for q in queries if q["role"] == against and not q["error"]}
    first = {}
    for q in queries:
        attempted += 1
        issue = _query_issue(q, oracle or {}, ref if q["role"] == timed and against else None,
                             against, first)
        if issue:
            problems.append(f"{q['role']} {q['name']}: {issue}")
    if workload == "build_refresh":
        attempted += 1
        if "refresh_returned" not in rec:
            problems.append("refresh: did not return")
    for i, report in enumerate(reports):
        attempted += 1
        if report is None or report != reference_report:
            problems.append(f"export {i + 1}: report differs from the file Pipeline.run wrote")
    return max(attempted, 1), problems


def _query_layers(qs, passes):
    out = {}
    for f in QUERY_FAMILIES:
        fq = [q for q in qs if q["family"] == f]
        for k, src in (("construct_s", "construct_s"), ("plan_s", "plan_s"),
                       ("exec_s", "exec_s"), ("self_s", "no_job_s"),
                       ("cpu_s", "cpu_s"), ("jobs", "jobs")):
            out[f"ops.{f}.{k}"] = sum(q[src] for q in fq) / passes
    for k in ("construct_s", "plan_s", "exec_s", "self_s", "cpu_s", "jobs"):
        out[f"ops.{k}"] = sum(out[f"ops.{f}.{k}"] for f in QUERY_FAMILIES)
    return out


def metrics(rec, launch_epoch_s, input_bytes, failed, attempted):
    """All metrics of one run, keyed by name (see UNITS)."""
    workload = rec["workload"]
    phases = rec["phases"]
    builds = [p for p in phases if p.get("role") == "build"]
    m = {"setup_s": rec["setup_end_epoch_s"] - launch_epoch_s,
         "peak_rss_mb": rec["peak_rss_mb"],
         "live_heap_mb": rec["live_heap_mb"],
         "fail_frac": failed / attempted,
         "session.start_s": rec["session_start_s"],
         "artifacts.fingerprint_s": rec["fingerprint_s"],
         "trace.self_s": rec["trace_self_s"],
         "build_s": sum(p["wall_s"] for p in builds),
         "artifacts.build_s": sum(p["wall_s"] for p in builds),
         "artifacts.build_cpu_s": sum(p["cpu_s"] for p in builds),
         "artifacts.builds": sum(p["builds"] for p in builds),
         "artifacts.bytes": sum(p["bytes"] for p in builds),
         "artifacts.post_refresh_builds": 0,
         "artifacts.refresh_missing_families": 0,
         "ingest.bytes_written": rec.get("ingest_bytes", 0),
         "clean.bytes_written": rec.get("clean_bytes", 0),
         "export.bytes": rec.get("export_bytes", 0)}
    for p in builds:
        m[f"artifacts.build_s.{p['family']}"] = p["wall_s"]
    written = m["artifacts.bytes"] + m["ingest.bytes_written"] + m["clean.bytes_written"]
    timed = [q for q in rec["queries"] if q["role"] == TIMED[workload][0]]
    span = [p for p in phases if p["name"].startswith("pass")] or [_phase(rec, "window")]
    m["wall_s"] = statistics.median(p["wall_s"] for p in span)
    m["exec_cpu_s"] = statistics.median(p["cpu_s"] for p in span)
    for k in ("ingest", "calendar", "clean", "export"):
        steps = [p["wall_s"] for p in phases if p["name"] == k]
        if steps:
            m[f"{k}.s"] = statistics.median(steps)
    if workload == "build_refresh":
        refresh = _phase(rec, "refresh")
        m["refresh_s"] = m["artifacts.refresh_s"] = refresh["wall_s"]
        m["artifacts.refresh_cpu_s"] = refresh["cpu_s"]
        done = sorted(rec.get("refresh_done", []), key=lambda d: d["seen_epoch_s"])
        last = refresh["start"]
        for d in done:
            m[f"artifacts.refresh_s.{d['family']}"] = max(0.0, d["seen_epoch_s"] - last)
            last = max(last, d["seen_epoch_s"])
        written += sum(d["bytes"] for d in done)
        m["artifacts.post_refresh_builds"] = sum(q["builds"] for q in timed)
        # families whose cold build ran, but which the refresh did not return
        built_cold = {p["family"] for p in builds if not p.get("error")}
        m["artifacts.refresh_missing_families"] = len(
            built_cold - set(rec.get("refresh_returned", [])))
    m["warehouse_bytes_per_input_byte"] = written / input_bytes
    by_pass = {}
    for q in timed:
        by_pass[q["pass"]] = by_pass.get(q["pass"], 0.0) + q["driver_cpu_s"]
    m["driver_cpu_s"] = statistics.median(by_pass.values())
    walls = [q["wall_s"] for q in timed]
    m["query_p50_s"] = percentile(walls, 50)
    m["query_p90_s"] = percentile(walls, 90)
    hits = sum(len(q["served"]) for q in timed)
    built = sum(q["builds"] for q in timed)
    m["artifacts.hit_ratio"] = hits / (hits + built) if hits + built else 1.0
    m.update(_query_layers(timed, len(span)))
    for k, src in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                   ("spark.tasks", "tasks"), ("spark.no_job_s", "no_job_s"),
                   ("spark.exec_run_s", "run_s"),
                   ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                   ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
                   ("spark.spill_bytes", "spill_bytes"), ("spark.gc_s", "gc_s")):
        m[k] = sum(p[src] for p in span) / len(span)
    m["trace.wall_s"] = m["wall_s"]
    return m
