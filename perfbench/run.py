#!/usr/bin/env python3
"""Churn benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. Inputs
are derived from --seed by gen.py and cached per seed. Every run
gets a fresh work directory with its own java.io.tmpdir, so the ANN and
SemDeDup artifact store, scratch space and the Derby metastore start cold.

The benchmark JVM (perfbench.Main) runs the workload as a single-client
closed loop for --seconds and writes a record; this script checks the
outputs (DuckDB oracles through tools/check_oracle.py; retrain row counts
and metrics against expected_retrain.json) and prints one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The exit code is non-zero when any
output check fails or the run cannot be made.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Pinned, not inherited from the host: the same core count and heap on
# every machine the benchmark runs on.
CPUS = "4"
DRIVER_MEM = "2g"


def jvm_timeout_s(seconds):
    """The benchmark JVM's limit: setup and checks fit in 145 s, and a
    query_mix run may overrun its measured seconds by one pass."""
    return 145 + 2 * seconds


# Input size per workload, as a scale factor of the testdata layout
# (sf 0.01 = 1,500 customers, 15,000 orders, 60,000 lineitems). gen.py
# derives every input from the sf0.01 corpus in base/.
SIZES = {"churn_retrain": "0.01", "query_mix": "0.01"}
# Expected retrain results for the seeds claims are made on.
EXPECTED_RETRAIN = os.path.join(HERE, "expected_retrain.json")
# How far a metric of a fit may move from expected_retrain.json: a
# change of partitioning legitimately moves the seeded train/test split
# and the tree ensembles' sampling; a broken fit or metric moves further.
METRIC_TOL = 0.1
METRIC_KEYS = ["auc", "accuracy", "f1"]
# The query_mix entries: a stratified sample of the registry (see the
# file's header).
MIX_ENTRIES = os.path.join(HERE, "mix_entries.txt")

FITS = ["lr", "fm", "gbt", "gbt_xgb", "rf", "cv_lr"]
MIX_MODULES = ["queries", "encode", "ml", "eval", "io", "llm", "streaming"]
FIT_KEYS = ["wall_ms", "jobs", "tasks", "busy_share", "driver_gap_ms", "gc_ms"]
FIT_CLASSES = ["ml.fit_ms", "ml.save_load_ms", "ml.score_ms", "eval.metrics_ms"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def stamp(patterns):
    """Digest of the files matching `patterns` (relative to the root)."""
    files = []
    for pattern in patterns:
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def pinned_env():
    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=CPUS, SPARK_DRIVER_MEM=DRIVER_MEM,
               COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Builds once per source state; returns (classpath, jvm options)."""
    info = os.path.join(HERE, "target", "runinfo")
    stamp_file = os.path.join(info, "stamp")
    sources = stamp(["build.sbt", "project/*.sbt", "project/build.properties",
                     "src/main/**/*", "perfbench/build.sbt",
                     "perfbench/project/build.properties", "perfbench/src/**/*"])
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == sources):
        log("building the program and the benchmark with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "runInfo"],
            cwd=HERE, env=pinned_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=800)
        if proc.returncode != 0:
            log(proc.stdout[-4000:])
            fail("sbt build failed")
        with open(stamp_file, "w") as fh:
            fh.write(sources)
        log(f"build took {time.time() - t0:.1f} s")
    with open(os.path.join(info, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(info, "javaopts.txt")) as fh:
        opts = [l for l in fh.read().splitlines() if l]
    return cp, opts


def inputs(seed):
    """The inputs of `seed`, generated once per seed and generator state."""
    gen = stamp(["perfbench/gen.py", "perfbench/base/*"])
    out = os.path.join(WORK, "data", f"seed{seed}-{gen[:12]}")
    if not os.path.isdir(out):
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), out,
                        str(seed)], check=True, stdout=sys.stderr)
    return out


def run_jvm(cp, opts, workload, data, work, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = pinned_env()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM's perf counters file would go to /tmp,
    # outside the checkout.
    cmd = (["java"] + opts
           + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
              "perfbench.Main", workload, data, work, str(seconds), str(trace)]
           + ([MIX_ENTRIES] if workload == "query_mix" else []))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    limit = jvm_timeout_s(seconds)
    try:
        rc = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {limit} s")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "record.json")) as fh:
        return json.load(fh)


def oracle_check(data, out_dir, oracles):
    """Runs tools/check_oracle.py over `out_dir`; returns the failing names."""
    if not oracles:
        return []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # no __pycache__ in the checkout
    import check_oracle
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracles, fh)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(data, out_dir)
    failing = []
    for line in buf.getvalue().splitlines():
        if line.startswith(("FAIL ", "ERROR ")):
            log(line)
            failing.append(line.split()[1].rstrip(":"))
    return failing


def check_retrain(rec, data_dir, seed):
    """Returns (messages, failing families).

    - every fit (every fold of cv_lr) splits the whole wide table:
      n_train + n_test equals its rows;
    - for the seeds in expected_retrain.json, the wide table has the
      expected rows and each fit's metrics are within METRIC_TOL of the
      expected ones;
    - each family's AUCs are identical between the two calls of a traced
      run and between runs of one seed in one checkout: the first run
      stores them next to the seed's inputs, so a changed program is
      compared with the program that ran first there.
    """
    bad, families = [], set()
    wide = rec["wide_rows"]
    with open(EXPECTED_RETRAIN) as fh:
        expected = json.load(fh).get(str(seed))
    if expected and wide != expected["wide_rows"]:
        bad.append(f"wide table has {wide} rows, expected {expected['wide_rows']}")
        families.update(FITS)
    seen = {}
    for fit in rec["fits"]:
        fam, rows = fit["family"], fit["rows"]
        for r in rows:
            if r.get("n_train", 0) + r.get("n_test", 0) != wide:
                bad.append(f"{fam}: n_train + n_test != {wide} wide rows: {r}")
                families.add(fam)
        if expected:
            want = expected["fits"][fam]
            for r, w in zip(rows, want):
                for k in METRIC_KEYS:
                    if k in w and not abs(r.get(k, float("nan")) - w[k]) <= METRIC_TOL:
                        bad.append(f"{fam}: {k} {r.get(k)} is not within "
                                   f"{METRIC_TOL} of the expected {w[k]}")
                        families.add(fam)
            if len(rows) != len(want):
                bad.append(f"{fam}: {len(rows)} result rows, expected {len(want)}")
                families.add(fam)
        aucs = [r["auc"] for r in rows]
        if seen.setdefault(fam, aucs) != aucs:
            bad.append(f"{fam}: AUC differs between calls: {seen[fam]} vs {aucs}")
            families.add(fam)
    ref_file = os.path.join(data_dir, "auc.json")
    if os.path.isfile(ref_file):
        with open(ref_file) as fh:
            ref = json.load(fh)
        for fam, aucs in seen.items():
            if ref.get(fam) != aucs:
                bad.append(f"{fam}: AUC {aucs} differs from an earlier run's {ref.get(fam)}")
                families.add(fam)
    elif not bad:
        with open(ref_file, "w") as fh:
            json.dump(seen, fh)
    return bad, families


def end_to_end(rec, ok_ops):
    calls = [o["s"] * 1000.0 for o in ok_ops]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "pass_s": (statistics.median(rec["pass_s"]), "s"),
        "call_p50_ms": (statistics.median(calls), "ms"),
        "call_max_ms": (max(calls), "ms"),
        "live_heap_mb": (rec["live_heap_mb"], "MB"),
    }


def per_layer(rec):
    spans = rec.get("spans", [])
    m = {}
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    for fam in FITS:
        ss = by_name.get(f"ml.{fam}", [])
        for k in FIT_KEYS:
            m[f"ml.{fam}.{k}"] = statistics.median([s[k] for s in ss]) if ss else 0.0
    n_retrains = len(by_name.get("ml.lr", [])) or 1
    for c in FIT_CLASSES:
        m[c] = sum(s["class_ms"].get(c, 0.0) for fam in FITS
                   for s in by_name.get(f"ml.{fam}", [])) / n_retrains
    passes = max(1, len(rec.get("pass_s", [])))
    module_of = {e["name"]: e["module"] for e in rec.get("entries", [])}
    for mod in MIX_MODULES:
        ss = [s for s in spans if module_of.get(s["name"].split(".", 1)[-1]) == mod]
        wall = [s["wall_ms"] for s in ss]
        m[f"{mod}.mix_sum_ms"] = sum(wall) / passes
        m[f"{mod}.mix_p50_ms"] = statistics.median(wall) if ss else 0.0
        m[f"{mod}.plan_ms"] = statistics.median([s["plan_ms"] for s in ss]) if ss else 0.0
        m[f"{mod}.jobs_per_query"] = statistics.mean([s["jobs"] for s in ss]) if ss else 0.0
        m[f"{mod}.tasks_per_query"] = statistics.mean([s["tasks"] for s in ss]) if ss else 0.0
        m[f"{mod}.driver_gap_share"] = (sum(s["driver_gap_ms"] for s in ss) / sum(wall)
                                        if ss and sum(wall) > 0 else 0.0)
    # Tracing overhead: the median over calls of traced against untraced
    # wall time. Each call ran twice in a row, so its two executions are
    # adjacent in the record; the median keeps the first, coldest call
    # from dominating.
    ops = rec["ops"]
    ratios = []
    for x, y in zip(ops[0::2], ops[1::2]):
        t, u = (x, y) if x["traced"] else (y, x)
        if t["ok"] and u["ok"] and t["traced"] and not u["traced"]:
            ratios.append(t["s"] / u["s"])
    m["trace.overhead_pct"] = 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0
    return m


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("share"):
        return "share"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {ROOT}: run from a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    cp, opts = build()
    data = inputs(a.seed)
    work = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rec = run_jvm(cp, opts, a.workload, data, work, a.seconds, a.trace)
        jvm_s = time.time() - t0
        if a.workload == "churn_retrain":
            bad, failed_names = check_retrain(rec, data, a.seed)
        else:
            failing = oracle_check(data, rec["check_dir"], rec["oracles"])
            failed_names = set(failing) | set(rec["warm_failures"])
            bad = [f"oracle {n}" for n in failing] + \
                [f"warm-up {k}: {v}" for k, v in rec["warm_failures"].items()]
        # The tracer measures job-covered time and uncovered time apart;
        # together they must make up the span.
        for s in rec.get("spans", []):
            if abs(s["wall_ms"] - s["job_ms"] - s["driver_gap_ms"]) > 1e-3:
                bad.append(f"span {s['name']}: wall_ms {s['wall_ms']} != job_ms "
                           f"{s['job_ms']} + driver_gap_ms {s['driver_gap_ms']}")
        for b in bad:
            log(f"CHECK FAILED: {b}")
        ops = rec["ops"]
        failed = [o for o in ops if not o["ok"] or o["name"] in failed_names]
        ok_ops = [o for o in ops if o not in failed and not o["traced"]]
        keep = {k: rec[k] for k in ["cores", "driver_heap_mb", "parallel_gc_threads",
                                    "gc", "steal_ms", "measured_s", "setup_s",
                                    "store_s"] if k in rec}
        keep.update(workload=a.workload, seed=a.seed, sf=SIZES[a.workload],
                    ops=len(ops), passes=len(rec["pass_s"]), jvm_s=round(jvm_s, 1),
                    check_s=round(time.time() - t0 - jvm_s, 1))
        log("host: " + json.dumps(keep))
        records = os.path.join(WORK, "records")
        os.makedirs(records, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"
        with open(os.path.join(records, name), "w") as fh:
            json.dump(rec, fh)
        if not ok_ops:
            fail("no call succeeded")
        if a.trace:
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in per_layer(rec).items()}
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in end_to_end(rec, ok_ops).items()}
        correct = not bad and not failed
        print(json.dumps({"correct": correct, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
