#!/usr/bin/env python3
"""graft benchmark: one closed-loop client driving graft's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles graft
(``src/main/scala``) and the harness (``perfbench/src``) with the Scala
compiler that ships in Spark's ``jars`` directory; the build, the generated
corpus and every output land under ``.bench_build/``. Later runs reuse the
build.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics from alternating untraced and traced
passes. The lines before it print every metric by name with its unit, and
the full per-query breakdown and span tree go to
``.bench_build/out/<workload>-<seed>-trace<t>.json``. See README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = 4
HEAP = "1536m"
DEADLINE_S = 170          # a run must exit within 180 s
FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# The pinned query lists. `catalog_tiny` runs registered SparkEntry queries
# on FIXTURE; `mapreduce_files` runs the graft.core.MapReduce jobs on a
# corpus generated from the seed. `warmup` is the number of untimed passes
# before the timed ones: a cold catalog_tiny pass is about twice a warm one
# and the second is still JIT-compiling; one mapreduce_files pass is enough.
WORKLOADS = {
    "catalog_tiny": {"mode": "queries", "warmup": 2, "queries": [
        "txt_term_freq", "sim_knn_graph", "mr_wordcount", "q_tpch_q3", "q_rollup",
        "txt_langid", "txt_bigrams", "dd_exact", "dd_leakage_split", "ev_session",
        "mm_png_decode", "pipe_shards"]},
    "mapreduce_files": {"mode": "mapreduce", "warmup": 1, "queries": [
        "distinctTokens", "wordCount", "wordCountNReduce"]},
}


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("Spark jars with a Scala compiler not found; set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no graft sources under src/main/scala: run from the repository root")
    res = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/*")))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, res, harness


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xmx1536m", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def build(jars):
    """Compile graft and the harness into .bench_build unless up to date."""
    main, res, harness = sources()
    key = digest_files(main + res + harness)
    stamp = os.path.join(BUILD, "build.stamp")
    classes, hcls = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, hcls
    log("perfbench: compiling graft and the harness ...")
    if os.path.exists(stamp):
        os.remove(stamp)
    for d in (classes, hcls):
        shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    scalac(jars, None, classes, main)
    for r in res:
        shutil.copy(r, classes)
    scalac(jars, classes, hcls, harness)
    with open(stamp, "w") as fh:
        fh.write(key)
    log(f"perfbench: compiled in {time.time() - t:.1f} s")
    return classes, hcls


def fingerprint(classes):
    files = sorted(glob.glob(os.path.join(classes, "**/*.class"), recursive=True))
    return digest_files(files)


# ---------------------------------------------------------------- inputs

def java(jars, cp, main, args, log_path, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        # the serial collector grows the heap from the live data it finds
        # after a collection; G1 grows it from measured GC time, which made
        # VmHWM vary by a fifth between runs of the same workload
        "-XX:+UseSerialGC", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]), main] + args)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in BUILD
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=BUILD, env=env)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"{main} exceeded {timeout:.0f} s; log: {log_path}")
    if p.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"{main} exited {p.returncode}:\n{tail}")


def seeded_corpus(seed):
    """The mapreduce_files corpus for one seed, cached under the generator's
    digest; older corpora pruned."""
    data = os.path.join(BUILD, "data")
    out = os.path.join(data, f"mr-{seed}-{digest_files([gen.__file__])[:12]}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        gen.corpus(out, seed)
        open(os.path.join(out, ".done"), "w").close()
    os.utime(out)
    old = sorted(glob.glob(os.path.join(data, "mr-*")), key=os.path.getmtime)[:-4]
    for d in old:
        shutil.rmtree(d, ignore_errors=True)
    return out


# ---------------------------------------------------------------- checks

def check_queries(samples, goldens):
    """Order-insensitive digest of every sample against the stored golden."""
    bad = []
    for s in samples:
        g = goldens.get(s["q"])
        if s["err"] is not None:
            bad.append((s, s["err"]))
        elif g is None:
            bad.append((s, "no golden digest"))
        elif [s["rows"], s["hash"]] != g:
            bad.append((s, f"digest {s['rows']}/{s['hash']} != golden {g[0]}/{g[1]}"))
    return bad


def check_merged(samples, mrout, counts):
    """Each job must write one merged file, key-sorted and equal to the
    exact counts line for line."""
    bad = []
    expect = {
        "distinctTokens": [f"{w}: " for w in sorted(counts)],
        "wordCount": [f"{w}: {counts[w]}" for w in sorted(counts)],
    }
    expect["wordCountNReduce"] = expect["wordCount"]
    for s in samples:
        if s["err"] is not None:
            bad.append((s, s["err"]))
            continue
        parts = glob.glob(os.path.join(mrout, f"{s['pass']}-{s['q']}", "part-*"))
        if len(parts) != 1:
            bad.append((s, f"{len(parts)} part files, expected one merged file"))
            continue
        with open(parts[0]) as fh:
            lines = fh.read().splitlines()
        s["rows"] = len(lines)
        if lines != expect[s["q"]]:
            first = next((i for i, (a, b) in enumerate(zip(lines, expect[s["q"]])) if a != b),
                         min(len(lines), len(expect[s["q"]])))
            bad.append((s, f"merged output differs from the oracle at line {first} "
                           f"({len(lines)} lines, {len(expect[s['q']])} expected)"))
    return bad


# ---------------------------------------------------------------- metrics

def tail(lat):
    """Highest percentile with at least ten samples beyond it, as (name, value)."""
    xs = sorted(lat)
    n = len(xs)
    if n <= 10:
        return "max", xs[-1]
    return f"p{100.0 * (n - 10) / n:.1f}", xs[n - 11]


def self_times(sample, spans):
    """Split one query span into layer self times (ms) that sum to it.

    Each millisecond goes to the innermost layer active in it: a stage
    (executor), else a job (scheduler), else a QueryExecution (catalyst),
    else the build (ops), else the harness around the call (driver).
    """
    t0, tb, t1 = sample["t0"], sample["tb"], sample["t1"]
    n = max(0, t1 - t0)
    lab = ["driver"] * n
    for i in range(min(n, tb - t0)):
        lab[i] = "ops"
    for kind, layer in (("qe", "catalyst"), ("job", "scheduler"), ("stage", "executor")):
        for s in spans:
            if s["kind"] == kind:
                for i in range(max(0, s["t0"] - t0), min(n, s["t1"] - t0)):
                    lab[i] = layer
    out = dict.fromkeys(("ops", "catalyst", "scheduler", "executor", "driver"), 0)
    for x in lab:
        out[x] += 1
    return out


def job_gap_ms(sample, spans):
    """Query span minus the union of its job intervals."""
    t0, t1 = sample["t0"], sample["t1"]
    busy = [False] * max(0, t1 - t0)
    for s in spans:
        if s["kind"] == "job":
            for i in range(max(0, s["t0"] - t0), min(len(busy), s["t1"] - t0)):
                busy[i] = True
    return busy.count(False)


MB = 1048576.0
LAYER_FIELDS = [
    # (metric, unit, counter, scale)
    ("ops.build_ms", "ms", "build_ms", 1), ("ops.build_jobs", "count", "build_jobs", 1),
    ("catalyst.executions", "count", "executions", 1),
    ("catalyst.analysis_ms", "ms", "analysis_ms", 1),
    ("catalyst.optimization_ms", "ms", "optimization_ms", 1),
    ("catalyst.planning_ms", "ms", "planning_ms", 1),
    ("catalyst.exchanges", "count", "exchanges", 1), ("catalyst.sorts", "count", "sorts", 1),
    ("scheduler.jobs", "count", "jobs", 1), ("scheduler.stages", "count", "stages", 1),
    ("scheduler.tasks", "count", "tasks", 1),
    ("scheduler.driver_gap_ms", "ms", "driver_gap_ms", 1),
    ("shuffle.write_mb", "MB", "shuffle_write_bytes", 1 / MB),
    ("shuffle.write_records", "count", "shuffle_write_records", 1),
    ("shuffle.read_mb", "MB", "shuffle_read_bytes", 1 / MB),
    ("shuffle.write_ms", "ms", "shuffle_write_ns", 1e-6),
    ("shuffle.fetch_wait_ms", "ms", "fetch_wait_ms", 1),
    ("executor.run_ms", "ms", "run_ms", 1), ("executor.cpu_ms", "ms", "cpu_ns", 1e-6),
    ("executor.gc_ms", "ms", "executor_gc_ms", 1), ("executor.deser_ms", "ms", "deser_ms", 1),
    ("storage.spill_mb", "MB", "spill_bytes", 1 / MB),
    ("storage.leaked_blocks", "count", "leaked_blocks", 1),
    ("io.input_mb", "MB", "input_bytes", 1 / MB),
    ("io.input_records", "count", "input_records", 1),
    ("io.output_mb", "MB", "output_bytes", 1 / MB),
    ("io.output_records", "count", "output_records", 1),
    ("jvm.gc_ms", "ms", "jvm_gc_ms", 1), ("check.rows", "count", "rows", 1),
    ("check.mismatches", "count", "mismatch", 1),
]


def per_layer(res, traced_samples, spans_by_q):
    """Per-pass sums of every layer counter; median over the traced passes."""
    by_pass = {}
    for s in traced_samples:
        qspans = spans_by_q.get(f"{s['pass']}/{s['q']}", [])
        s["self_ms"] = self_times(s, qspans)
        s["driver_gap_ms"] = job_gap_ms(s, qspans)
        c = dict(s["c"])
        c.update(build_ms=s["build_ms"], leaked_blocks=s["leaked_blocks"],
                 rows=max(0, s["rows"]), mismatch=int(s["bad"]),
                 driver_gap_ms=s["driver_gap_ms"])
        for k, v in s["self_ms"].items():
            c[f"self_{k}_ms"] = v
        acc = by_pass.setdefault(s["pass"], {})
        for k, v in c.items():
            if k == "cached_peak_bytes":
                acc[k] = max(acc.get(k, 0), v)
            else:
                acc[k] = acc.get(k, 0) + v
    walls = {p["pass"]: p["wall_s"] for p in res["passes"]}
    metrics = {}
    for name, unit, key, scale in LAYER_FIELDS:
        metrics[name] = (statistics.median(a.get(key, 0) * scale for a in by_pass.values()), unit)
    metrics["storage.cached_peak_mb"] = (statistics.median(
        a.get("cached_peak_bytes", 0) / MB for a in by_pass.values()), "MB")
    metrics["executor.busy_frac"] = (statistics.median(
        a.get("run_ms", 0) / (walls[p] * 1000 * CPUS) for p, a in by_pass.items()), "frac")
    for layer in ("ops", "catalyst", "scheduler", "executor", "driver"):
        metrics[f"self.{layer}_ms"] = (statistics.median(
            a.get(f"self_{layer}_ms", 0) for a in by_pass.values()), "ms")
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    metrics["trace.wall_s"] = (statistics.median(traced), "s")
    metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
    return metrics


def end_to_end(res, samples, popen_ms):
    """End-to-end metrics of the timed passes; a per-pass figure is the
    median over the passes. A pass's wall time is measured by the harness
    from its first query's start to its last query's end, the sweeps
    between queries included."""
    walls, cpus, ins = [], [], []
    for p in res["passes"]:
        mine = [s for s in samples if s["pass"] == p["pass"]]
        in_mb = sum(s["c"].get("input_bytes", 0) for s in mine) / MB
        walls.append(p["wall_s"])
        ins.append((in_mb, in_mb / p["wall_s"]))
        cpus.append(sum(s["driver_cpu_s"] + s["c"].get("cpu_ns", 0) / 1e9 for s in mine))
    wall = statistics.median(walls)
    in_mb = statistics.median(x for x, _ in ins)
    lat = [s["lat_s"] for s in samples]
    tname, tval = tail(lat)
    metrics = {
        "setup_s": ((res["first_query_ms"] - popen_ms) / 1000.0, "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tval, "s"),
        "input_mb_per_s": (statistics.median(r for _, r in ins), "MB/s"),
        "query_cpu_s": (statistics.median(cpus), "s"),
        "peak_rss_mb": (res["vm_hwm_kb"] / 1024.0, "MB"),
    }
    notes = {"wall_s": f"median of {len(walls)} timed passes",
             "query_p50_s": f"median of {len(lat)} query samples",
             "query_tail_s": f"{tname} of {len(lat)} query samples",
             "input_mb_per_s": f"{in_mb:.3f} MB read per pass",
             "query_cpu_s": "driver thread plus task threads, median per pass"}
    return metrics, notes


# ---------------------------------------------------------------- main

def run(args):
    t_start = time.time()
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    jars = spark_jars()
    classes, hcls = build(jars)

    names = list(w["queries"])
    random.Random(args.seed).shuffle(names)
    data = seeded_corpus(args.seed) if w["mode"] == "mapreduce" else FIXTURE

    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res_path = os.path.join(run_dir, "result.json")
    mrout = os.path.join(run_dir, "mrout")
    # untimed warm-up passes, then timed passes for --seconds; a traced run
    # makes at least four, so that two are traced and two are not
    stamp0 = fingerprint(classes)
    budget = max(DEADLINE_S - (time.time() - t_start), 4 * args.seconds + 60)
    popen_ms = time.time() * 1000.0
    java(jars, [hcls, classes], "perfbench.Harness", [
        f"mode={w['mode']}", f"cores={CPUS}", f"data={data}", "queries=" + ",".join(names),
        f"warmup={w['warmup']}", f"seconds={args.seconds}",
        f"min_passes={4 if args.trace else 2}", f"max_seconds={budget - 45}",
        f"trace={args.trace}", f"out={res_path}", f"mrout={mrout}"],
        os.path.join(run_dir, "harness.log"), budget)
    with open(res_path) as fh:
        res = json.load(fh)
    samples = res["samples"]
    timed = [s for s in samples if s["pass"] >= 0]
    res["passes"] = [p for p in res["passes"] if p["pass"] >= 0]

    if w["mode"] == "mapreduce":
        with open(os.path.join(data, "counts.json")) as fh:
            bad = check_merged(samples, mrout, json.load(fh))
    else:
        with open(os.path.join(HERE, "goldens.json")) as fh:
            goldens = json.load(fh)
        bad = check_queries(samples, goldens[args.workload])
    bad_ids = {id(s) for s, _ in bad}
    for s in samples:
        s["bad"] = id(s) in bad_ids
    changed = fingerprint(classes) != stamp0
    for s, why in bad[:10]:
        log(f"perfbench: FAIL pass {s['pass']} {s['q']}: {why}")
    if changed:
        log("perfbench: compiled classes changed during the run; run invalid")

    if args.trace:
        for s in timed:
            if s["traced"]:
                q = f"{s['pass']}/{s['q']}"
                res["spans"] += [
                    {"q": q, "kind": "query", "id": "query", "parent": None,
                     "name": s["q"], "t0": s["t0"], "t1": s["t1"]},
                    {"q": q, "kind": "build", "id": "build", "parent": "query",
                     "name": s["q"], "t0": s["t0"], "t1": s["tb"]}]
        spans_by_q = {}
        for sp in res["spans"]:
            spans_by_q.setdefault(sp["q"], []).append(sp)
        traced = [s for s in timed if s["traced"]]
        if not traced:
            raise BenchError("no traced pass ran within the time limit")
        metrics, notes = per_layer(res, traced, spans_by_q), {}
    else:
        metrics, notes = end_to_end(res, timed, popen_ms)

    attempted, failed = len(samples), len(bad)
    artifact = os.path.join(BUILD, "out", f"{args.workload}-{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    with open(artifact, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "order": names,
                   "session_s": (res["session_ready_ms"] - popen_ms) / 1000.0,
                   "warmup_s": (res["first_query_ms"] - res["session_ready_ms"]) / 1000.0,
                   "metrics": metrics, "notes": notes, "passes": res["passes"],
                   "samples": samples, "spans": res["spans"],
                   "classes_changed": changed}, fh)
    shutil.rmtree(mrout, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"passes {len(res['passes'])}  queries/pass {len(names)}")
    for k, (v, unit) in metrics.items():
        extra = f"  ({notes[k]})" if k in notes else ""
        print(f"  {k:28s} {v:14.4f} {unit}{extra}")
    print(f"  {'error_rate':28s} {failed / attempted:14.4f} frac  ({failed} of {attempted})")
    print(f"  artifact: {os.path.relpath(artifact, ROOT)}")
    print(json.dumps({
        "correct": failed == 0 and not changed, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        run(args)
    except BenchError as e:
        log(f"perfbench: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
