#!/usr/bin/env python3
"""The repository's benchmark: one command, every metric by name with its unit.

  python3 perfbench/run.py --workload clinvar-daily --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload board --seed 1 --seconds 10 --trace 1
  python3 perfbench/run.py --check --seed 1     # once-per-invocation checks
  python3 perfbench/run.py --count --seed 1     # board count() beside noop

Run from the repository root. The first run builds the program and the
harness with sbt (offline) into their target/ directories; inputs and
stores live under perfbench/.work/, which is gitignored. The last stdout
line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for the workloads, metrics and layer map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tables  # noqa: E402

CLINVAR_RECORDS = 2000
BOARD_SF = 0.01
WARM_SF = 0.001
WARM_PASSES = 4
# the board's table content is fixed, as TESTDATA.md's seed-42 tables are;
# --seed permutes their rows. Content drawn per seed moved the board's
# wall time by 10% between seeds, which is input, not program, variance
BOARD_TABLE_SEED = 42
RESTORES = 15
BOARD_QUERIES = [
    # a CacheScope-cut composite that is also an 8c/32c inverse scaler
    "q176_prm_sequences",
    # pruned most when timed under count(), at sf 0.01 too
    "q89_span_cut", "q76_span_dedup",
    # the paper's own operators
    "q01_set_merge_agg", "q13_pubmed_agg", "q48_vcf_reconcile",
]
WORKLOADS = ("clinvar-daily", "board")
STEPS = ("load", "annotate", "export")
ENGINE = ("jobs", "stages", "tasks", "task_s", "gc_s", "idle_s", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb", "single_task_stage_s")
LAYERS = ("ingest", "ops", "pipelines", "SparkEntry", "scale", "functions", "harness")

END_TO_END = {"setup_s": "s", "wall_s": "s", "geomean_s": "s"}


def per_layer_units():
    u = {"ingest.parse_s": "s", "ingest.records_per_s": "1/s", "ingest.input_mb": "MB",
         "ops.match_hit_ratio": "ratio", "ops.changed_ratio": "ratio",
         "ops.keep_stale_rows": "count", "ops.publish_buckets_written": "count",
         "ops.publish_rewrite_ratio": "ratio", "ops.bytes_written_mb": "MB",
         "ops.cache_peak_mb": "MB", "ops.store_mb": "MB",
         "pipelines.initial_load_s": "s", "pipelines.base_build_s": "s",
         "pipelines.annotate.rows": "count",
         "pipelines.export.lines": "count", "pipelines.export.single_task_s": "s",
         "board.construct_s": "s", "board.execute_s": "s",
         "jvm.peak_rss_mb": "MB", "jvm.cpu_s": "s",
         "trace.overhead_s": "s", "trace.spans": "count"}
    for s in STEPS:
        u["pipelines.%s.wall_s" % s] = "s"
        u["pipelines.%s.task_s" % s] = "s"
    for q in BOARD_QUERIES:
        u["board.%s.construct_s" % q] = "s"
        u["board.%s.execute_s" % q] = "s"
    for layer in LAYERS:
        u["layer.%s.job_s" % layer] = "s"
    for s in STEPS + ("board",):
        for m in ENGINE:
            u["spark.%s.%s" % (s, m)] = "s" if m.endswith("_s") else (
                "MB" if m.endswith("_mb") else "count")
    return u


def log(msg):
    print(msg, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean of the positive values: a failed query reads 0 and
    is counted in `failed` instead."""
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


# --- build and launch --------------------------------------------------------

def program_files():
    """Files whose change needs a rebuild, relative to the repo root."""
    out = ["build.sbt", "project/build.properties", "perfbench/harness/build.sbt"]
    for top in ("src/main", "perfbench/harness/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(set(out))


def driver_mem():
    """Half the machine's memory in GiB, clamped to 2..8, as the tier-1 command sets it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def base_env():
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    env.setdefault("SPARK_DRIVER_MEM", driver_mem())
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        offline = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s " % repos) + offline
    env.setdefault("SBT_OPTS", offline)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    return env


def build(env):
    """Compiles the program and the harness when their sources changed;
    returns the JVM options: build.sbt's javaOptions and the classpath."""
    digest = hashlib.sha256(env["SPARK_DRIVER_MEM"].encode())
    for rel in program_files():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HARNESS, "target", "launch.txt")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest.hexdigest()):
        log("[bench] building program and harness with sbt")
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launch"],
                           cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit("build failed")
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    with open(launch) as f:
        return ["-Djava.io.tmpdir=" + env["SPARK_LOCAL_DIRS"]] + [l for l in f.read().split("\n") if l]


def launch(opts, main, args, env, log_name):
    """Runs one JVM to its end. Returns its stdout lines, wall seconds,
    CPU seconds and peak resident MB."""
    cmd = ["java"] + opts + [main] + list(args)
    with open(os.path.join(WORK, log_name), "w") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out = p.stdout.read()
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            if p.returncode is None and p.poll() is None:
                p.kill()
                p.wait()
        p.returncode = os.waitstatus_to_exitcode(status)
        wall = time.perf_counter() - t0
    if p.returncode != 0:
        with open(os.path.join(WORK, log_name)) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("%s %s failed with exit code %d" % (main, " ".join(args), p.returncode))
    return {"out": out.splitlines(), "wall_s": wall, "cpu_s": ru.ru_utime + ru.ru_stime,
            "rss_mb": ru.ru_maxrss / 1024.0}


def harness(opts, args, env, log_name):
    """Runs a perfbench.Harness mode; returns its @@ events and the JVM record."""
    r = launch(opts, "perfbench.Harness", args, env, log_name)
    return [json.loads(l[2:]) for l in r["out"] if l.startswith("@@")], r


# --- inputs ------------------------------------------------------------------

def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def clinvar_inputs(seed, records=CLINVAR_RECORDS):
    work = fresh_dir(os.path.join(WORK, "clinvar"))
    expected = gen.generate(os.path.join(ROOT, "data", "fixtures"), work, records, seed)
    return work, expected


def board_inputs(seed):
    work = fresh_dir(os.path.join(WORK, "board"))
    data = os.path.join(work, "sf%g" % BOARD_SF)
    warm = os.path.join(work, "sf%g" % WARM_SF)
    tables.generate(data, BOARD_SF, BOARD_TABLE_SEED, order_seed=seed)
    tables.generate(warm, WARM_SF, BOARD_TABLE_SEED + 1)
    return data, warm


# --- checks ------------------------------------------------------------------

def check_vcf(path, expected_lines):
    """Body lines sorted by chromosome (lexicographic, as the export
    documents) then position, one per exported record."""
    with open(path) as f:
        body = [l for l in f.read().split("\n") if l and not l.startswith("#")]
    keys = [(l.split("\t")[0], int(l.split("\t")[1])) for l in body]
    problems = []
    if keys != sorted(keys):
        problems.append("VCF body is not sorted by chromosome then position")
    if len(body) != expected_lines:
        problems.append("VCF has %d body lines, expected %d" % (len(body), expected_lines))
    return problems, len(body)


def check_counters(counters, expected, entity="variants"):
    return ["%s.%s = %d, planted %d" % (entity, a, counters.get("%s.%s" % (entity, a), 0), n)
            for a, n in sorted(expected.items())
            if counters.get("%s.%s" % (entity, a), 0) != n]


# --- store helpers -----------------------------------------------------------

def tree_files(path):
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def manifest(store):
    p = os.path.join(store, "MANIFEST")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        rows = [l.rstrip("\n").split("\t") for l in f]
    return {r[0]: r[1] for r in rows if len(r) == 2 and "/bucket=" in r[0]}


def build_digest():
    with open(os.path.join(WORK, "build.stamp")) as f:
        return f.read()


def base_store(opts, env, work):
    """The converged day-1 store, built once per program build and day-1
    input and kept under .work/base/<digest>/; returns (path, event, whether
    this call built it)."""
    digest = hashlib.sha256(build_digest().encode())
    dims = os.path.join(work, "dims")
    for path in [os.path.join(work, "day1.xml")] + [
            os.path.join(dims, f) for f in sorted(os.listdir(dims))]:
        with open(path, "rb") as f:
            digest.update(f.read())
    cache = os.path.join(WORK, "base", digest.hexdigest()[:16])
    info = os.path.join(cache, "base.json")
    built = not os.path.exists(info)
    if built:
        events, r = harness(opts, ["base", work], env, "base.log")
        events[-1]["built_s"] = r["wall_s"]
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(cache)
        shutil.move(os.path.join(work, "base"), os.path.join(cache, "base"))
        with open(info, "w") as f:
            json.dump(events[-1], f)
    with open(info) as f:
        return os.path.join(cache, "base"), json.load(f), built


# --- trace -------------------------------------------------------------------

def read_spans(path):
    if not path or not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, reach = 0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if reach is None or a >= reach:
            total, reach = total + b - a, b
        elif b > reach:
            total, reach = total + b - reach, b
    return total


def engine_stats(spans, parent, start_ms, end_ms):
    """Engine totals for the jobs under one step or query phase span,
    plus job time per layer."""
    jobs = [s for s in spans if s["kind"] == "job" and s["parent"] == parent]
    ids = {j["id"] for j in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in ids]

    def total(k):
        return sum(s["attrs"].get(k, 0.0) for s in stages)

    by_layer = {}
    for j in jobs:
        by_layer.setdefault(j["layer"], []).append((j["start"], j["end"]))
    return {
        "jobs": len(jobs), "stages": len(stages), "tasks": total("tasks"),
        "task_s": total("task_ms") / 1000, "gc_s": total("gc_ms") / 1000,
        "idle_s": (end_ms - start_ms - covered([(s["start"], s["end"]) for s in stages])) / 1000,
        "shuffle_read_mb": total("shuffle_read_b") / 1e6,
        "shuffle_write_mb": total("shuffle_write_b") / 1e6,
        "spill_mb": total("spill_b") / 1e6,
        "single_task_stage_s": sum(s["end"] - s["start"] for s in stages
                                   if s["attrs"].get("num_tasks") == 1.0) / 1000,
        "job_s_by_layer": {l: covered(iv) / 1000 for l, iv in by_layer.items()},
    }


def add_layer_jobs(u, stats):
    for st in stats:
        for layer, secs in st["job_s_by_layer"].items():
            key = "layer.%s.job_s" % layer
            if key in u:
                u[key] += secs


# --- workloads ---------------------------------------------------------------

def pipeline(opts, env, work, base, traced):
    """Restores the day-1 store, then runs the day-2 release through the
    Load, Annotate and Export mains, in order, in one fresh JVM."""
    store, vcf = os.path.join(work, "store"), os.path.join(work, "vcf")
    restores = []
    for _ in range(RESTORES):
        os.sync()  # the last JVM's write-back is not this restore's cost
        t0 = time.perf_counter()
        shutil.rmtree(store, ignore_errors=True)
        shutil.copytree(base, store)
        restores.append(time.perf_counter() - t0)
    m0, f0 = manifest(store), tree_files(store)
    spans = os.path.join(work, "trace", "spans.jsonl") if traced else "-"
    events, jvm = harness(opts, ["pipeline", work, spans], env, "pipeline.log")
    m1, f1 = manifest(store), tree_files(store)
    steps = {e["step"]: e for e in events if e["event"] == "step"}
    probe = [e for e in events if e["event"] == "ingest"]
    vcf_file = next(os.path.join(vcf, f) for f in os.listdir(vcf) if f.startswith("part-"))
    return {"restore_s": median(restores), "steps": steps, "spans": spans,
            "publish": {"written": sum(1 for k, v in m1.items() if m0.get(k) != v),
                        "total": len(m1), "bytes": sum(n for p, n in f1.items() if p not in f0)},
            "wall_s": jvm["wall_s"], "cpu_s": jvm["cpu_s"], "rss_mb": jvm["rss_mb"],
            "load": steps["load"]["counters"], "annotate": steps["annotate"]["counters"],
            "vcf": vcf_file, "store_b": sum(tree_files(store).values()),
            "probe": probe[0] if probe else None}


def run_clinvar(opts, env, seed, seconds, trace):
    work, expected = clinvar_inputs(seed)
    base, base_event, built = base_store(opts, env, work)
    # tracing overhead = traced - untraced wall of the three steps, for the
    # same build and seed (the JVM's wall would also hold the traced pass's
    # ingest probe). The untraced figure comes from an earlier untraced run
    # in this checkout, else from an untraced pass run first here, unless
    # this run already spent its time building the day-1 store
    record = os.path.join(WORK, "untraced-steps.json")
    untraced = json.load(open(record)) if os.path.exists(record) else {}
    key = "%s/%d" % (build_digest()[:16], seed)
    need_plain = trace and key not in untraced and not built
    runs, failures, t0 = [], [], time.perf_counter()
    while not runs or time.perf_counter() - t0 < seconds or (need_plain and len(runs) < 2):
        traced = trace and not (need_plain and not runs)
        r = pipeline(opts, env, work, base, traced)
        r["traced"] = traced
        problems = check_counters(r["load"], expected["day2"]["variants"])
        vcf_problems, r["vcf_lines"] = check_vcf(r["vcf"], expected["day2"]["vcf_lines"])
        if problems or vcf_problems:
            failures.append("pass %d: %s" % (len(runs), "; ".join(problems + vcf_problems)))
        runs.append(r)
    plain = [r for r in runs if not r["traced"]]
    if plain:
        untraced[key] = median([steps_wall(r) for r in plain])
        with open(record, "w") as f:
            json.dump(untraced, f)
    timed = plain or runs
    step_s = {s: median([r["steps"][s]["wall_s"] for r in timed]) for s in STEPS}
    m = {"setup_s": runs[0]["restore_s"], "wall_s": median([r["wall_s"] for r in timed]),
         "geomean_s": geomean(step_s.values())}
    summary = {"records": expected["records"], "top_gene_variants": expected["top_gene_variants"],
               "planted": expected["day2"]["variants"], "base_built": built,
               "base_build_s": base_event["built_s"],
               "initial_load_s": base_event["initial_load_s"],
               "store_mb": timed[-1]["store_b"] / 1e6,
               "peak_rss_mb": max(r["rss_mb"] for r in timed),
               "cpu_s": median([r["cpu_s"] for r in timed])}
    for s in STEPS:
        summary["%s_s" % s] = step_s[s]
    layer = clinvar_layers(runs, base_event, untraced.get(key)) if trace else {}
    return m, layer, len(runs) * len(STEPS), failures, summary


def steps_wall(run):
    return sum(run["steps"][s]["wall_s"] for s in STEPS)


def clinvar_layers(runs, base_event, untraced_wall):
    r = [r for r in runs if r["traced"]][-1]
    probe = r["probe"]
    lc = r["load"]
    v = {a: lc.get("variants." + a, 0) for a in ("insert", "update", "delete", "match")}
    changed = sum(n for k, n in lc.items()
                  if k.rsplit(".", 1)[1] in ("insert", "update", "delete"))
    u = {k: 0.0 for k in per_layer_units()}
    spans = read_spans(r["spans"])
    stats = {}
    for s in STEPS:
        st = r["steps"][s]
        stats[s] = engine_stats(spans, st["span"], st["start_ms"], st["end_ms"])
        u["pipelines.%s.wall_s" % s] = st["wall_s"]
        u["pipelines.%s.task_s" % s] = stats[s]["task_s"]
        for k in ENGINE:
            u["spark.%s.%s" % (s, k)] = stats[s][k]
    add_layer_jobs(u, stats.values())
    u.update({
        "ingest.parse_s": probe["parse_s"],
        "ingest.records_per_s": probe["records"] / probe["parse_s"],
        "ingest.input_mb": probe["input_mb"],
        "ops.match_hit_ratio":
            (v["update"] + v["match"]) / max(1, v["insert"] + v["update"] + v["match"]),
        "ops.changed_ratio": changed / max(1, sum(lc.values())),
        "ops.keep_stale_rows": sum(n for k, n in list(lc.items()) + list(r["annotate"].items())
                                   if k.endswith(".keep_stale")),
        "ops.publish_buckets_written": r["publish"]["written"],
        "ops.publish_rewrite_ratio": r["publish"]["written"] / max(1, r["publish"]["total"]),
        "ops.bytes_written_mb": r["publish"]["bytes"] / 1e6,
        "ops.cache_peak_mb": max([0.0] + [x["attrs"].get("cache_peak_b", 0.0)
                                          for x in spans if x["kind"] == "app"]) / 1e6,
        "ops.store_mb": r["store_b"] / 1e6,
        "jvm.peak_rss_mb": r["rss_mb"],
        "jvm.cpu_s": r["cpu_s"],
        "pipelines.initial_load_s": base_event["initial_load_s"],
        "pipelines.base_build_s": base_event["built_s"],
        "pipelines.annotate.rows": sum(r["annotate"].values()),
        "pipelines.export.lines": r["vcf_lines"],
        "pipelines.export.single_task_s": stats["export"]["single_task_stage_s"],
        "trace.overhead_s": steps_wall(r) - untraced_wall if untraced_wall else 0.0,
        "trace.spans": len(spans),
    })
    return u


def run_board(opts, env, seed, seconds, trace, count=False):
    data, warm = board_inputs(seed)
    spans_path = os.path.join(WORK, "board", "trace", "spans.jsonl") if trace else "-"
    args = ["board", data, warm, ",".join(BOARD_QUERIES), str(WARM_PASSES), str(seconds),
            spans_path]
    events, jvm = harness(opts, args + (["count"] if count else []), env, "board.log")
    setup = next(e for e in events if e["event"] == "setup")
    passes = [e for e in events if e["event"] == "pass"]
    failures = ["%s: %s" % (q, r["error"]) for p in passes
                for q, r in sorted(p["queries"].items()) if "error" in r]
    plain = [p for p in passes if not p["traced"]]

    def total(p, phase=None):
        return sum(r["construct_s"] + r["execute_s"] if phase is None else r[phase]
                   for r in p["queries"].values())

    query_s = {q: median([p["queries"][q]["construct_s"] + p["queries"][q]["execute_s"]
                          for p in plain]) for q in BOARD_QUERIES}
    m = {"setup_s": setup["setup_s"], "wall_s": median([total(p) for p in plain]),
         "geomean_s": geomean(query_s.values())}
    summary = {"sf": BOARD_SF, "queries": len(BOARD_QUERIES), "passes": len(passes),
               "construct_s": median([total(p, "construct_s") for p in plain]),
               "execute_s": median([total(p, "execute_s") for p in plain]),
               "peak_rss_mb": jvm["rss_mb"], "cpu_s": median([p["cpu_s"] for p in plain])}
    if count:
        summary["count_s"] = next(e for e in events if e["event"] == "count")["count_s"]
        summary["noop_s"] = query_s
    layer = board_layers(passes, plain, spans_path, total) if trace else {}
    if trace:
        layer["jvm.peak_rss_mb"] = jvm["rss_mb"]
        layer["jvm.cpu_s"] = [p for p in passes if p["traced"]][-1]["cpu_s"]
    return m, layer, len(passes) * len(BOARD_QUERIES), failures, summary


def board_layers(passes, plain, spans_path, total):
    traced = [p for p in passes if p["traced"]][-1]
    spans = read_spans(spans_path)
    by_id = {s["id"]: s for s in spans}
    u = {k: 0.0 for k in per_layer_units()}
    stats = []
    for q, r in traced["queries"].items():
        u["board.%s.construct_s" % q] = r["construct_s"]
        u["board.%s.execute_s" % q] = r["execute_s"]
        for sid in r["spans"]:
            stats.append(engine_stats(spans, sid, by_id[sid]["start"], by_id[sid]["end"]))
    u["board.construct_s"] = total(traced, "construct_s")
    u["board.execute_s"] = total(traced, "execute_s")
    for k in ENGINE:
        u["spark.board.%s" % k] = sum(st[k] for st in stats)
    add_layer_jobs(u, stats)
    u["trace.overhead_s"] = total(traced) - median([total(p) for p in plain])
    u["trace.spans"] = len(spans)
    return u


def require_checkout():
    for rel in ("build.sbt", "src/main/scala/graft/pipelines/LoadMain.scala",
                "data/fixtures/vcv_sample.xml"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise SystemExit("not a checkout of the program: %s is missing" % rel)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            raise SystemExit("%s is required" % tool)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true", help="run the once-per-invocation checks")
    ap.add_argument("--count", action="store_true", help="time board count() beside noop")
    a = ap.parse_args()
    if not (a.check or a.count or a.workload):
        ap.error("one of --workload, --check or --count is required")
    require_checkout()
    os.makedirs(WORK, exist_ok=True)
    env = base_env()
    opts = build(env)
    if a.check:
        import checks
        raise SystemExit(checks.run_all(opts, env, a.seed))
    if a.count:
        _, _, _, failures, summary = run_board(opts, env, a.seed, a.seconds, False, count=True)
        print(json.dumps({"count_s": summary["count_s"], "noop_s": summary["noop_s"],
                          "failed": failures}, indent=1, sort_keys=True))
        return
    runner = run_clinvar if a.workload == "clinvar-daily" else run_board
    m, layer, attempted, failures, summary = runner(opts, env, a.seed, a.seconds, a.trace == 1)
    for f in failures:
        log("[bench] FAILED CHECK %s" % f)
    log("[bench] %s seed=%d %s" % (a.workload, a.seed, json.dumps(summary, sort_keys=True)))
    if a.trace:
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(m[k]), "unit": u} for k, u in END_TO_END.items()}
    failed = len(failures)
    log("[bench] error_rate %.4f (%d failed of %d attempted)"
        % (failed / max(1, attempted), failed, attempted))
    for k in sorted(metrics):
        log("[bench] %-48s %14.4f %s" % (k, metrics[k]["value"], metrics[k]["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
