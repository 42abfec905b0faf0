#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source (`sbt compile` in perfbench/harness, output under .bench_build),
generates the workload's corpus and the seed's churn batches (cached under
.bench_build/data and validated by row counts), runs perfbench.Harness at
local[<cores>], checks every output (DuckDB oracle through tools/check.py's
comparison, inline sweeps for the churn probes, and equality of every later
pass with the checked first pass), and prints one JSON object as the last
line of stdout. The line before it is the run's full summary record.

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from a run whose measured passes alternate traced and untraced.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
TIME_LIMIT_S = 170  # per run, not counting a first build

# Operation lists. Why each workload exists is in README.md.
TPCH = ["q1_agg", "q3_topn", "q9_profit", "q18_large"]
KERNELS = ["q_text_repetition", "q_text_quality", "q_ann_int8"]
PIPELINE = ["q_dedup_cluster"]
WORKLOADS = {
    "datapath": dict(sf=0.05, docs_sf=0.1, ops=TPCH + KERNELS, settle=2),
    "pipeline": dict(sf=0.01, docs_sf=0.01, ops=PIPELINE, churn=True, settle=0),
}
HEAP = "4g"
# The end-to-end metrics of the result line (BENCHMARK.json). The wall-time
# metrics of the passes (cold_pass_s, pass_s, op_p50_s) are in the summary
# line only: on a busy shared host they spread past 0.25 over ten seeds while
# CPU time did not (README.md, "Measured behaviour").
RESULT_METRICS = ["setup_s", "cpu_s", "retained_heap_mb"]
COUNT_METRICS = ["builder.jobs", "exec.jobs", "exec.stages", "exec.tasks",
                 "io.input_bytes", "io.input_records", "io.shuffle_write_bytes",
                 "io.shuffle_read_bytes", "io.spill_bytes", "io.broadcast_bytes",
                 "scan.files", "plan.exchanges", "plan.broadcasts", "plan.smj",
                 "plan.aqe_updates"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build ----

def source_stamp():
    h = hashlib.sha256()
    files = ["build.sbt"] + sorted(glob.glob("project/*.sbt") + glob.glob("project/*.properties"))
    files += sorted(glob.glob("src/main/**/*", recursive=True))
    files += sorted(glob.glob("perfbench/harness/**/*", recursive=True))
    for f in files:
        if os.path.isfile(f) and "/target/" not in f:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """The harness's runtime classpath, compiling first when sources changed."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building engine and harness (sbt compile)")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=os.path.join(BUILD, "tmp"))
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Xmx2g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-Djna.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
        "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy2"),
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]).strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        out.write(r.stdout)
    cp = [line for line in r.stdout.splitlines() if "scala-library" in line]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


# ----------------------------------------------------------------- data ----

def corpus(spec, seed):
    """The workload's corpus for this seed, generated once and validated by
    row counts before every use."""
    sys.path.insert(0, HERE)
    import gen
    import pyarrow.parquet as pq
    key = f"sf{spec['sf']}_docs{spec['docs_sf']}"
    if spec.get("churn"):  # only the churn batches depend on the seed
        key += f"_churn_seed{seed}"
    d = os.path.join(BUILD, "data", key)
    manifest = os.path.join(d, "rows.json")

    def valid():
        if not os.path.exists(manifest):
            return False
        try:
            want = json.load(open(manifest))
            return all(pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows == n
                       for t, n in want.items())
        except Exception:
            return False

    if not valid():
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.monotonic()
        counts = gen.generate(d, spec["sf"], spec["docs_sf"], seed, spec.get("churn", False))
        with open(manifest, "w") as f:
            json.dump(counts, f)
        log(f"generated {key} in {time.monotonic() - t0:.1f}s")
        if not valid():
            fail(f"generated corpus {d} fails its row-count check", 4)
    # keep the data cache small: the newest few corpora only
    kept = sorted(glob.glob(os.path.join(BUILD, "data", "*")), key=os.path.getmtime)
    for old in kept[:-6]:
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(d)
    return d


# ---------------------------------------------------------------- check ----

def tools_check():
    """tools/check.py, the gate's own module, unchanged."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    return check


def check_outputs(rec, data_dir, out_dir):
    """Outputs that disagree with their DuckDB oracle, and outputs that have
    no oracle (checked by pass-to-pass equality only)."""
    import duckdb
    import pyarrow.parquet as pq
    check = tools_check()
    bad, unchecked = {}, []
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    oracle = rec["oracle_sql"]
    for name in rec["checked_outputs"]:
        if name not in oracle:
            unchecked.append(name)
            continue
        tbl = pq.read_table(os.path.join(out_dir, name))
        cols = tbl.column_names
        rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        try:
            res = con.execute(oracle[name])
            duck_cols = [d[0] for d in res.description]
            err = check.compare(name, rows, cols, res.fetchall(), duck_cols)
        except Exception as e:  # the oracle SQL itself failed
            err = f"oracle error: {e}"
        if err:
            bad[name] = err
    return bad, unchecked


# -------------------------------------------------------------- metrics ----

def warm(rec, key, traced):
    """The measured passes (or their operations): those after the cold pass
    and the settling passes, traced or untraced."""
    return [x for x in rec[key] if x["pass"] > rec["settle_passes"] and x["traced"] == traced]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest of p99.9, p99, p95, p90, p75 with at least ten samples above it
    (nearest rank), or None: a short run resolves no tail."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75):
        if n * (1 - p / 100) >= 10:
            return xs[max(0, math.ceil(p / 100 * n) - 1)], p
    return None, None


def end_to_end(rec):
    measured = warm(rec, "passes", traced=False)
    ops = warm(rec, "ops", traced=False)
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["wall_s"])
    t, p = tail([o["wall_s"] for o in ops])
    m = {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "cold_pass_s": (rec["passes"][0]["pass_s"], "s"),
        "pass_s": (median([x["pass_s"] for x in measured]), "s"),
        # each operation runs once per pass: the median over operations of
        # each one's median over passes
        "op_p50_s": (median([median(xs) for xs in per_op.values()]), "s"),
        # the JIT compiler keeps compiling for many passes, so the raw process
        # CPU falls with every pass and would depend on the pass count
        "cpu_s": (median([x["process_cpu_s"] - x["jit_s"] for x in measured]), "s"),
        "retained_heap_mb": (rec["retained_heap_mb"], "MB"),
    }
    return m, {"op_tail_s": t, "op_tail_percentile": p, "op_samples": len(ops),
               "measured_passes": len(measured)}


RATIOS = {"exec.slot_util", "trace.overhead", "churn.bytes_stored_per_input_byte"}


def unit_of(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name and name not in RATIOS:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in RATIOS:
        return "ratio"
    return "rows" if name.endswith("_records") else "count"


def per_layer(rec, cores):
    traced = warm(rec, "passes", traced=True)
    untraced = warm(rec, "passes", traced=False)
    ops = warm(rec, "ops", traced=True)
    per_pass = {}
    for o in ops:
        acc = per_pass.setdefault(o["pass"], {})
        for k, v in o["layers"].items():
            acc[k] = acc.get(k, 0.0) + v
    names = sorted({k for acc in per_pass.values() for k in acc})
    m = {k: median([acc.get(k, 0.0) for acc in per_pass.values()]) for k in names}
    m["exec.slot_util"] = median([per_pass[p["pass"]].get("exec.task_s", 0.0) /
                                  (p["pass_s"] * cores) for p in traced])
    for k in ("Engine.session_s", "Tables.open_s", "StandingIndex.build_s"):
        m[k] = rec["setup"][k]
    m["jvm.gc_s"] = median([p["jvm.gc_s"] for p in traced])
    m["jvm.jit_s"] = median([p["jit_s"] for p in traced])
    m["jvm.heap_after_gc_mb"] = median([p["jvm.heap_after_gc_mb"] for p in traced])
    m["host.calib_s"] = statistics.mean(rec["host.calib_s"])
    m["trace.overhead"] = median([p["pass_s"] for p in traced]) / \
        median([p["pass_s"] for p in untraced]) - 1
    for k in ("DeltaIndex.sync_s", "DeltaIndex.compact_s", "probe.s", "DeltaIndex.live_batches",
              "DeltaIndex.bytes", "DeltaIndex.bytes_written"):
        m[k] = median([p.get(k, 0.0) for p in traced])
    m["churn.bytes_stored_per_input_byte"] = median(
        [p.get("bytes_stored_per_input_byte", 0.0) for p in traced])
    m["churn.write_op_p50_s"] = median([o["wall_s"] for o in ops if o["kind"] == "write"])
    m["churn.read_op_p50_s"] = median([o["wall_s"] for o in ops if o["kind"] == "read"])
    return {k: (v, unit_of(k)) for k, v in m.items()}


def count_repeats(rec):
    """Per count metric: do all traced passes give each op the same value?"""
    by_op = {}
    for o in warm(rec, "ops", traced=True):
        by_op.setdefault(o["name"], []).append(o["layers"])
    out = {}
    for k in COUNT_METRICS:
        differ = sorted(n for n, ls in by_op.items() if len({l.get(k) for l in ls}) > 1)
        out[k] = {"repeats": not differ, "differs_on": differ}
    return out


def op_counts(rec):
    """Per op, the first traced pass's count metrics (for cross-run checks)."""
    out = {}
    for o in warm(rec, "ops", traced=True):
        if o["name"] not in out:
            out[o["name"]] = {k: o["layers"].get(k) for k in COUNT_METRICS}
    return out


# ----------------------------------------------------------------- main ----

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    spec = WORKLOADS[args.workload]
    os.makedirs(BUILD, exist_ok=True)
    classpath = build()
    start = time.monotonic()
    data = corpus(spec, args.seed)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    cmd = ["java"] + [x for p in tools_check().ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath,
            "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", data, "--work", work,
            "--record", record_path, "--churn", "1" if spec.get("churn") else "0",
            "--ops", ",".join(spec["ops"]), "--settle", str(spec["settle"])]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                                env=dict(os.environ, TMPDIR=os.path.join(work, "tmp")))
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S - 10 - (time.monotonic() - start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness ran out of time", 5)
    if rc != 0 or not os.path.exists(record_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"harness exited with {rc}", 5)
    rec = json.load(open(record_path))

    t0 = time.monotonic()
    bad, unchecked = check_outputs(rec, data, os.path.join(work, "outputs"))
    log(f"checked outputs in {time.monotonic() - t0:.1f}s")
    attempted = len(rec["ops"])
    failed_runs = {(f["pass"], f["op"]) for f in rec["failures"]}
    failed_runs |= {(o["pass"], o["name"]) for o in rec["ops"] if o["name"] in bad}
    failed = len(failed_runs)

    e2e, tail_info = end_to_end(rec)
    reported = {**e2e, "op_tail_s": (tail_info.pop("op_tail_s"), "s"),
                "error_rate": (failed / attempted, "ratio")}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": rec["master"], "cores": rec["cores"], "heap_max_mb": rec["heap_max_mb"],
        "confs": rec["confs"], "corpus": os.path.basename(data),
        "failures": rec["failures"][:10],
        "oracle_mismatches": bad, "pass_equality_only": unchecked,
        "host.calib_s": rec["host.calib_s"],
        **tail_info,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }
    if args.trace:
        metrics = per_layer(rec, cores)
        summary["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        summary["counts_repeat_within_run"] = count_repeats(rec)
        counts = op_counts(rec)
        prev_path = os.path.join(BUILD, "records", f"{args.workload}-{args.seed}-counts.json")
        if os.path.exists(prev_path):
            prev = json.load(open(prev_path))
            summary["counts_repeat_across_runs"] = {
                k: sorted(n for n in counts if n in prev and counts[n][k] != prev[n][k])
                for k in COUNT_METRICS}
        os.makedirs(os.path.dirname(prev_path), exist_ok=True)
        with open(prev_path, "w") as f:
            json.dump(counts, f)
    else:
        metrics = {k: e2e[k] for k in RESULT_METRICS}
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    shutil.copy(record_path, os.path.join(
        records, f"{args.workload}-{args.seed}-{args.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
