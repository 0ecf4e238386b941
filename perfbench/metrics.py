"""Turn a run's raw records into checked metrics.

The harness (``graftbench.Main``) writes one JSON object a line: set-ups,
operations, passes, output checks and, in a traced run, spans, jobs, SQL
executions and planning phases. Everything here is a pure function of
those records, the expected outputs and the lake's ground truth.
"""

import os
import re
import statistics

END_TO_END = [  # name, unit; in the result line
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
    ("heap_retained_mb", "MB"),
]
# printed, not in the result line: a run times 14-16 operations (one
# landing on job_lake), too few for an order statistic with ten samples
# beyond it to sit in the tail
TAIL = ("op_tail_s", "s")
PER_LAYER = [  # name, unit; measured on every workload's traced run
    ("spark.build_s", "s"), ("spark.plan_s", "s"), ("spark.exec_s", "s"),
    ("spark.no_job_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.core_util", "ratio"),
    ("spark.scheduler_delay_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.input_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_write_records", "count"), ("trace.overhead_s", "s"),
    ("trace.reconcile_max_err", "ratio"),
]
# measured on every workload too, but 0 or near it on the query workloads
# at these sizes (the boundary GCs leave tasks little to collect, local
# shuffles do not wait, nothing spills): printed and in the trace file, not
# in the result line
ZERO_PRONE = [("spark.gc_s", "s"), ("spark.fetch_wait_s", "s"),
              ("spark.spill_mb", "MB")]
# span-vs-wall tolerance for one operation (compared from one traced and one
# untraced sample) and for the sum over all operations
RECONCILE_TOLERANCE = 0.25
RECONCILE_TOTAL_TOLERANCE = 0.10
MB = 1024.0 * 1024.0


def tail_rank(n):
    """Index (0-based, ascending order) and percentile rank of the highest
    order statistic with at least ten samples beyond it. With ten samples
    or fewer no rank qualifies and the median stands in."""
    if n > 10:
        i = n - 11
    else:
        i = (n - 1) // 2
    return i, 100.0 * (i + 1) / n


def tail(values):
    v = sorted(values)
    i, rank = tail_rank(len(v))
    return v[i], rank


def median(values):
    return statistics.median(values) if values else None


# ---------------------------------------------------------------------------
# output checks


def query_verdicts(records, expected):
    """name -> None when the query's output matches, else the reason."""
    out = {}
    for r in records:
        if r["kind"] != "check":
            continue
        name, want = r["name"], expected.get(r["name"])
        if r.get("error"):
            out[name] = "check failed: " + r["error"]
        elif want is None:
            out[name] = "no expected output recorded"
        elif (r["rows"], r["fp"]) != (want["rows"], want["fp"]):
            out[name] = "output %s/%s, expected %s/%s" % (
                r["rows"], r["fp"], want["rows"], want["fp"])
        else:
            out[name] = None
    return out


def lake_verdicts(records, truth):
    """(pass, landing) -> None or reason; landing -1 is the rebuild."""
    checks = {(r["pass"], r["landing"]): r for r in records
              if r["kind"] == "lakecheck"}
    out = {}
    cum = 0
    clean = [t["clean"] for t in truth["landings"]]
    for r in records:
        if r["kind"] != "op" or not r["ok"] or r["name"] not in (
                "rebuild", "landing"):
            continue
        k = r.get("landing")
        c = checks.get((r["pass"], k))
        bad = []
        if c is None:
            bad.append("no output check")
        elif c["unresolved"] != 0:
            bad.append("%d fact ids resolve to no dimension" % c["unresolved"])
        if r["name"] == "rebuild":
            t = truth["base"]
            got = (r["n_raw"], r["n_quarantined"], r["n_clean"], r["n_facts"])
            want = (t["raw"], t["malformed"], t["clean"], t["dated"])
            if got != want:
                bad.append("raw/malformed/clean/dated %s, expected %s" % (
                    got, want))
        else:
            cum = sum(clean[: k + 1])
            if r["snapshot_rows"] != cum:
                bad.append("snapshot rows %d, expected %d" % (
                    r["snapshot_rows"], cum))
            if c is not None and c["warehouse_facts"] != cum:
                bad.append("warehouse facts %d, expected %d" % (
                    c["warehouse_facts"], cum))
        out[(r["pass"], k)] = "; ".join(bad) or None
    return out


def classify(records, workload, expected=None, truth=None):
    """Operations split into (good, failed): failed ones threw or failed
    their output check and carry no time into any metric. The operations
    are the timed ones and job_lake's set-up rebuild (pass -1), which is
    checked and counted but timed only as part of set-up."""
    ops = [r for r in records if r["kind"] == "op" and (
        r["pass"] >= 0 or r["name"] == "rebuild")]
    if workload == "job_lake":
        verdict = lake_verdicts(records, truth)
        reason = lambda r: verdict.get((r["pass"], r.get("landing")))
    else:
        verdict = query_verdicts(records, expected)
        reason = lambda r: verdict.get(r["name"], "output not checked")
    good, failed = [], []
    for r in ops:
        why = r["error"] if not r["ok"] else reason(r)
        (failed if why else good).append(dict(r, why=why))
    return good, failed


# ---------------------------------------------------------------------------
# end-to-end metrics


def latency_ops(good, workload):
    """The operations whose latency is reported: queries, or landings."""
    return [r for r in good if r["pass"] >= 0]


def pass_times(good, traced):
    """Pass wall as the sum of its successful operations' time."""
    by = {}
    for r in good:
        if r["traced"] == traced and r["pass"] >= 0:
            by[r["pass"]] = by.get(r["pass"], 0.0) + r["wall_s"]
    return [by[p] for p in sorted(by)]


def end_to_end(records, good, failed, workload):
    setups = [r["s"] for r in records if r["kind"] == "setup"]
    lat = [r["wall_s"] for r in latency_ops(good, workload) if not r["traced"]]
    passes = pass_times(good, traced=False)
    heap = [r["heap_mb"] for r in records if r["kind"] == "setup" or (
        r["kind"] == "pass" and not r["traced"])]
    m, notes = {}, {}
    if setups:
        m["setup_s"] = setups[0]
        notes["setup_s"] = "one set-up"
    if passes:
        m["pass_s"] = median(passes)
        notes["pass_s"] = "median of %d passes" % len(passes)
    if lat:
        m["op_p50_s"] = median(lat)
        notes["op_p50_s"] = "n=%d" % len(lat)
        m["op_tail_s"], rank = tail(lat)
        notes["op_tail_s"] = "p%.1f, n=%d%s" % (
            rank, len(lat), "" if len(lat) > 10 else ", too few for a tail: the middle sample")
    if heap:
        m["heap_retained_mb"] = max(heap)
        notes["heap_retained_mb"] = "max after full GC at %d pass " \
            "boundaries" % len(heap)
    return m, notes


# ---------------------------------------------------------------------------
# traced run


def union_len(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _within(t_ms, lo_ns, hi_ns):
    return lo_ns / 1e6 <= t_ms <= hi_ns / 1e6


def source_modules(root):
    """File name -> module name (``Warehouse.scala`` -> ``sources.Warehouse``)
    from the engine's source tree."""
    out = {}
    base = os.path.join(root, "src", "main", "scala", "graft")
    for d, _, files in os.walk(base):
        pkg = os.path.relpath(d, base).replace(os.sep, ".")
        for f in files:
            if f.endswith(".scala"):
                stem = f[:-6]
                out[f] = stem if pkg == "." else pkg + "." + stem
    return out


SITE = re.compile(r"[ (]([A-Za-z0-9_$]+\.scala):\d+")


def site_file(site):
    m = SITE.search(site or "")
    return m.group(1) if m else None


def per_layer(records, good, workload, root):
    passes = [r for r in records if r["kind"] == "pass" and r["traced"]]
    jobs = [r for r in records if r["kind"] == "job"]
    execs = [r for r in records if r["kind"] == "exec"]
    planning = [r for r in records if r["kind"] == "planning"]
    cores = next((r["n"] for r in records if r["kind"] == "cores"), 1)
    traced_ops = [r for r in good if r["traced"]]

    def jobs_in(lo, hi):
        return [j for j in jobs if _within(j["start_ms"], lo, hi)]

    rows = []
    for p in passes:
        # jobs of the pass's operations, not of the checks between them
        ops = [r for r in traced_ops if r["pass"] == p["pass"]]
        js = [j for r in ops for j in jobs_in(r["start_ns"], r["end_ns"])]
        # the pass's timed work: operations only, not checks or boundary GCs
        wall_s = sum(r["wall_s"] for r in ops)
        idle = sum(r["wall_s"] - union_len(
            [(j["start_ms"], j["end_ms"]) for j in
             jobs_in(r["start_ns"], r["end_ns"])]) / 1e3 for r in ops)
        row = {
            "spark.no_job_s": idle,
            "spark.jobs": len(js),
            "spark.stages": sum(j["stages"] for j in js),
            "spark.tasks": sum(j["tasks"] for j in js),
            "spark.core_util": sum(j["run_ms"] for j in js) / 1e3
            / (wall_s * cores),
            "spark.scheduler_delay_s": sum(j["sched_delay_ms"] for j in js) / 1e3,
            "spark.task_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            "spark.gc_s": sum(j["gc_ms"] for j in js) / 1e3,
            "spark.fetch_wait_s": sum(j["fetch_wait_ms"] for j in js) / 1e3,
            "spark.input_mb": sum(j["input_bytes"] for j in js) / MB,
            "spark.shuffle_write_mb": sum(j["sw_bytes"] for j in js) / MB,
            "spark.shuffle_write_records": sum(j["sw_records"] for j in js),
            "spark.spill_mb": sum(j["spill_bytes"] for j in js) / MB,
        }
        if workload == "job_lake":
            # split each operation by what the listener saw inside it: time
            # in SQL executions is exec, optimizer and planner phases are
            # plan (they may fall inside an execution: a micro-batch is one),
            # and call time covered by neither is build
            b = pl = ex = 0.0
            for r in ops:
                lo, hi = r["start_ns"], r["end_ns"]
                e = [(x["start_ms"], x["end_ms"]) for x in execs
                     if _within(x["start_ms"], lo, hi)]
                q = [(x["start_ms"], x["start_ms"] + x["optimize_ms"] + x["plan_ms"])
                     for x in planning if _within(x["start_ms"], lo, hi)]
                ex += union_len(e) / 1e3
                pl += sum(y - x for x, y in q) / 1e3
                b += r["wall_s"] - union_len(e + q) / 1e3
            row.update({"spark.build_s": b, "spark.plan_s": pl,
                        "spark.exec_s": ex})
        else:
            row.update({k: sum(r[k[6:]] for r in ops)
                        for k in ("spark.build_s", "spark.plan_s", "spark.exec_s")})
        rows.append(row)
    layer = {k: median([r[k] for r in rows]) for k, _ in PER_LAYER + ZERO_PRONE
             if rows and k in rows[0]}

    # overhead and reconciliation compare traced passes with the untraced
    # passes of the same run after the first, which is still warming up
    # (passes alternate, starting untraced; pass 0 ran 15-30% slower than
    # passes 1 and 2, which are within a few % of each other)
    timed = [r for r in good if r["pass"] > 0]
    if not any(not r["traced"] for r in timed):
        timed = [r for r in good if r["pass"] >= 0]
    untraced_pass = median(pass_times(timed, traced=False))
    traced_pass = median(pass_times(timed, traced=True))
    if traced_pass is not None and untraced_pass is not None:
        layer["trace.overhead_s"] = traced_pass - untraced_pass

    # reconciliation: per operation, the traced layers against the
    # untraced wall of the same operation in the same run, and the sums of
    # both over all operations
    spans = [r for r in records if r["kind"] == "span"]
    recon, totals = {}, [0.0, 0.0]
    for name in sorted({r["name"] for r in latency_ops(good, workload)}):
        u = median([r["wall_s"] for r in timed
                    if r["name"] == name and not r["traced"]])
        t = median([layers_sum(r, workload, spans) for r in traced_ops
                    if r["name"] == name])
        if u and t is not None:
            recon[name] = (t - u) / u
            totals[0] += t
            totals[1] += u
    if totals[1]:
        recon["(all operations)"] = (totals[0] - totals[1]) / totals[1]
    layer["trace.reconcile_max_err"] = max((abs(v) for v in recon.values()),
                                           default=0.0)

    detail = workload_layers(records, good, workload, root, jobs)
    return layer, recon, detail


LANDING_CALLS = ("streaming.StreamingPipeline.runOnce",
                 "streaming.StreamingPipeline.runOnceManifest",
                 "sources.ManifestLog.snapshot")


def layers_sum(r, workload, spans):
    """The traced layers of one operation: build + plan + exec of a query,
    or the spans of a landing's three public calls. (A landing's
    build/plan/exec split is derived from its wall and the listener, so it
    cannot be reconciled with the wall.)"""
    if workload == "job_lake":
        trace = "pass-%d" % r["pass"]
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                   if s["trace"] == trace and s["name"] in LANDING_CALLS)
    return r["build_s"] + r["plan_s"] + r["exec_s"]


def workload_layers(records, good, workload, root, jobs):
    """Layer metrics that only one workload exercises (reported in the trace
    file and on stdout, not in the result line)."""
    d = {}
    traced_ops = [r for r in good if r["traced"]]
    if workload != "job_lake":
        mods = {}
        for name in sorted({r["name"] for r in traced_ops}):
            mine = [r for r in traced_ops if r["name"] == name]
            d["op.%s.s" % name] = median([r["wall_s"] for r in mine])
            sw = [sum(j["sw_bytes"] for j in jobs
                      if _within(j["start_ms"], r["start_ns"], r["end_ns"])) / MB
                  for r in mine]
            d["op.%s.shuffle_write_mb" % name] = median(sw)
            m = mine[0].get("module", "?")
            mods[m] = mods.get(m, 0.0) + d["op.%s.s" % name]
        for m, s in sorted(mods.items()):
            d["operators.%s.s" % m] = s
        # Bench's way of summing a suite: each query's fastest run
        fastest = {}
        for r in good:
            fastest[r["name"]] = min(fastest.get(r["name"], r["wall_s"]), r["wall_s"])
        d["ops.sum_of_minima_s"] = sum(fastest.values())
        return d
    mods = source_modules(root)

    def jobs_of(r):
        return [j for j in jobs
                if _within(j["start_ms"], r["start_ns"], r["end_ns"])]

    def by_module(ops, suffix, n):
        by_file = {}
        for j in (j for r in ops for j in jobs_of(r)):
            f = site_file(j["site"])
            # a file outside the engine is the benchmark's own (an action
            # it calls on a frame the engine returned)
            mod = mods.get(f) or ("graftbench." + f[:-6] if f
                                  else "(no call site)")
            by_file[mod] = by_file.get(mod, 0.0) + (
                j["end_ms"] - j["start_ms"]) / 1e3
        for mod, s in sorted(by_file.items()):
            d["%s.%s" % (mod, suffix)] = s / n

    landings = [r for r in traced_ops if r["name"] == "landing"]
    # the set-up rebuild: in a traced run the listener is attached to it
    rebuilds = [r for r in good if r["name"] == "rebuild"]
    by_module(landings, "exec_s", max(len(landings), 1))
    if rebuilds:
        by_module(rebuilds, "rebuild_exec_s", len(rebuilds))
        d["operators.Pipeline.run_s"] = median([r["wall_s"] for r in rebuilds])
        d["sources.JsonLake.read_amp"] = median(
            [sum(j["input_bytes"] for j in jobs_of(r)) / r["lake_bytes"]
             for r in rebuilds])
        d["operators.Pipeline.run_jobs"] = median(
            [len(jobs_of(r)) for r in rebuilds])
    spans = [r for r in records if r["kind"] == "span"]
    for name in LANDING_CALLS:
        v = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == name]
        if v:
            d[name + "_s"] = median(v)
    if landings:
        d["streaming.StreamingPipeline.jobs_per_landing"] = median(
            [len(jobs_of(r)) for r in landings])
    checks = [r for r in records if r["kind"] == "lakecheck" and r["landing"] >= 0]
    if checks:
        data = sum(c["table_data_bytes"] for c in checks)
        if data:
            d["sources.ManifestLog.write_amp"] = sum(
                c["table_data_bytes"] + c["table_other_bytes"] for c in checks) / data
        d["sources.Warehouse.bytes_per_input_byte"] = sum(
            c["warehouse_bytes"] for c in checks) / sum(c["input_bytes"] for c in checks)
    for r in records:
        if r["kind"] == "probe":
            d[r["name"]] = r["s"]
    return d


def self_times(spans):
    """Span id -> self time (s): duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]
                      - union_len(kids.get(s["id"], []))) / 1e9 for s in spans}
