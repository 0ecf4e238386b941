#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the engine and the harness from
source on first use (``.perfbench/build``), generates the inputs
(``.perfbench/data``), runs one JVM with ``local[nproc]``, checks the
outputs and prints every metric by name and unit. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See ``perfbench/README.md``.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("star_analytics", "corpus_curation", "job_lake")
# the relational and corpus tables are fixed (the seed orders the queries),
# so their expected outputs can be kept in expected.json
DATA_SEED = 42
TABLES = {"sf": 0.01, "docs": 800, "vecs": 800}
# the small lake whose one landing warms job_lake's landing path
TINY_LAKE = {"base_offers": 10, "landings": 1, "landing_offers": 40,
             "base_files": 1, "files_per_landing": 1}
RUN_LIMIT_S = 170  # a run's wall-clock limit, build and inputs excluded
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_hash(root):
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(work, "build", "classpath-%s.txt" % source_hash(root))
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    log("[perfbench] building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def cached(path, make):
    """Run make(tmp) once and move tmp to path; later calls reuse path."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, path)
    return path


def inputs(workload, seed, data):
    """Generate (or reuse) the run's inputs; return harness arguments.
    Cached inputs are keyed by the generator's source, so an edit to it
    regenerates them."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        data = os.path.join(data, hashlib.sha256(f.read()).hexdigest()[:12])
    if workload == "job_lake":
        lake = cached(os.path.join(data, "lake-%d" % seed),
                      lambda d: gen.write_lake(d, seed))
        tiny = cached(os.path.join(data, "lake-tiny"),
                      lambda d: gen.write_lake(d, DATA_SEED, **TINY_LAKE))
        return ["--lake", lake, "--tiny-lake", tiny]
    p = TABLES
    return ["--data", cached(
        os.path.join(data, "tables-sf%(sf)s-d%(docs)s-v%(vecs)s" % p),
        lambda d: gen.write_tables(d, p["sf"], p["docs"], p["vecs"], DATA_SEED))]


def driver_mem():
    """The tier-1 rule: half the machine's memory, clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(max(kb // 2097152, 2), 8)
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, workload, args, out, work, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JVM_OPENS
                       for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Xmx" + driver_mem(), "-XX:+UseParallelGC", "-XX:-UsePerfData",
              "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.local.dir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
              "-Dderby.system.home=" + tmp,
              "-cp", cp, "graftbench.Main", "--workload", workload,
              "--out", out] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] harness exceeded the run limit")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("[perfbench] harness exited with %d" % rc)


def steal_s():
    """CPU time the host gave to other guests (s), where the OS reports it."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def fmt(v):
    return repr(float(v)) if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", help="inject a fault: throw:<op> or wrong:<op>")
    ap.add_argument("--write-expected", action="store_true",
                    help="record this run's query outputs in expected.json")
    a = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not os.path.isdir(
            os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] no engine sources next to perfbench/: "
                         "run from the root of a graft checkout")
    work = os.path.join(root, ".perfbench")
    cp = build(root, work)

    t_gen = time.time()
    args = inputs(a.workload, a.seed, os.path.join(work, "data"))
    gen_s = time.time() - t_gen

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "lake-work"))
    out = os.path.join(run_dir, "records.jsonl")
    args += ["--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace),
             "--work", os.path.join(run_dir, "lake-work")]
    if a.fault:
        args += ["--fault", a.fault]
    steal0 = steal_s()
    run_jvm(cp, a.workload, args, out, run_dir, time.time() + RUN_LIMIT_S)
    steal = steal_s() - steal0
    with open(out) as f:
        records = [json.loads(l) for l in f if l.strip()]

    exp_path = os.path.join(HERE, "expected.json")
    with open(exp_path) as f:
        expected_all = json.load(f)
    if a.write_expected:
        expected_all[a.workload] = {
            r["name"]: {"rows": r["rows"], "fp": r["fp"]}
            for r in records if r["kind"] == "check" and "fp" in r}
        with open(exp_path, "w") as f:
            json.dump(expected_all, f, indent=1, sort_keys=True)
            f.write("\n")
    truth = None
    if a.workload == "job_lake":
        with open(os.path.join(args[args.index("--lake") + 1], "truth.json")) as f:
            truth = json.load(f)
    good, failed = metrics.classify(records, a.workload,
                                    expected_all.get(a.workload, {}), truth)
    warm = [r for r in records if r["kind"] == "op" and r["pass"] < 0
            and r["name"] != "rebuild" and not r["ok"]]
    e2e, notes = metrics.end_to_end(records, good, failed, a.workload)
    attempted = len(good) + len(failed)

    print("workload %s seed %d seconds %s trace %d" % (
        a.workload, a.seed, fmt(a.seconds), a.trace))
    for r in failed:
        print("failed %s (pass %d): %s" % (r["name"], r["pass"], r["why"]))
    for r in warm:
        print("warm-up failed %s: %s" % (r["name"], r["error"]))
    for name, unit in metrics.END_TO_END + [metrics.TAIL]:
        if name in e2e:
            print("%s %s %s (%s)" % (name, fmt(e2e[name]), unit, notes[name]))
    print("fail_ratio %s ratio (%d of %d operations)" % (
        fmt(len(failed) / attempted if attempted else 1.0), len(failed), attempted))
    print("input_gen_s %s s (ungated; 0 when the inputs were cached)" % fmt(gen_s))
    print("host_steal_s %s s (ungated; CPU time the host gave other guests "
          "during the run)" % fmt(steal))

    if a.trace:
        layer, recon, detail = metrics.per_layer(records, good, a.workload, root)
        units = dict(metrics.PER_LAYER)
        for name, unit in metrics.PER_LAYER + metrics.ZERO_PRONE:
            if name in layer:
                print("%s %s %s" % (name, fmt(layer[name]), unit))
        for name, v in sorted(recon.items()):
            tol = (metrics.RECONCILE_TOTAL_TOLERANCE if name.startswith("(")
                   else metrics.RECONCILE_TOLERANCE)
            print("reconcile %s %+.3f (tolerance %.2f%s)" % (
                name, v, tol, "" if abs(v) <= tol else ", OUTSIDE"))
        for name, v in sorted(detail.items()):
            print("layer %s %s" % (name, fmt(v)))
        spans = [r for r in records if r["kind"] == "span"]
        self_s = metrics.self_times(spans)
        with open(os.path.join(work, "trace-%s.json" % a.workload), "w") as f:
            json.dump({"per_layer": layer, "reconcile": recon,
                       "workload_layers": detail,
                       "spans": [dict(x, self_s=self_s[x["id"]]) for x in spans]},
                      f, indent=1, sort_keys=True)
        wanted, values = metrics.PER_LAYER, layer
    else:
        wanted, values = metrics.END_TO_END, e2e
        units = dict(wanted)

    correct = (not failed and not warm and attempted > 0
               and all(n in values and values[n] is not None for n, _ in wanted))
    result = {"correct": correct, "attempted": attempted, "failed": len(failed),
              "metrics": {n: {"value": values[n], "unit": units[n]}
                          for n, _ in wanted if values.get(n) is not None}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
