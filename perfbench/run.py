#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the engine and the
driver (perfbench/driver) with sbt; later calls reuse the build while the
sources are unchanged. Inputs are generated from --seed (perfbench/gen.py).
Session bring-up of the workload JVM is timed, the workload runs for
--seconds, its outputs are checked, and the last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced run.
Everything the run writes stays under perfbench/.work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170.0

# Input sizes per workload, stated in every artifact. topic_model plants
# as many topics as it fits clusters (K), so every cluster is one topic and
# the LDA split sweeps every cluster on every seed.
WORKLOADS = {
    "topic_model": gen.corpus_params(docs=2000, topics=4, heldout_docs=2000, oov_share=0.2),
    "crawl_admit": gen.corpus_params(docs=1200, topics=12, dup_share=0.1),
}
K = 4

# Spark task slots. The workloads are bound by per-job overhead more than by
# task slots, and two slots leave the other cores to the driver, stream,
# compiler and collector threads, so that a run does not measure the
# scheduler.
CPUS = min(2, os.cpu_count() or 1)

END_TO_END = {
    "docs_per_s": "docs/s", "call_p50_ms": "ms", "setup_s": "s", "peak_rss_mb": "MB",
}

# A fixed, pre-touched heap keeps the resident set from following the
# collector's sizing decisions from run to run.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -------------------------------------------------------------

def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties"]
    for base in ("src/main", "perfbench/driver/src", "perfbench/driver/project"):
        for p in sorted(glob.glob(os.path.join(ROOT, base, "**", "*"), recursive=True)):
            if os.path.isfile(p) and "/target/" not in p:
                files.append(os.path.relpath(p, ROOT))
    files.append("perfbench/driver/build.sbt")
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + driver; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/driver/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a repository checkout")
    stamp = source_stamp()
    cache = os.path.join(WORK, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c["stamp"] == stamp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building engine and driver with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export driver/Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench", "driver"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


# ---- inputs ------------------------------------------------------------

def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs; return (dir, info, gen_s)."""
    params = WORKLOADS[workload]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    info_path = os.path.join(d, "info.json")
    if os.path.exists(info_path):
        with open(info_path) as fh:
            info = json.load(fh)
        if {k: info.get(k) for k in params} == params:
            return d, info, 0.0
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    info = gen.generate(seed, d, params)
    gen_s = time.time() - t0
    with open(info_path, "w") as fh:
        json.dump(info, fh)
    return d, info, gen_s


# ---- engine processes --------------------------------------------------

def java_cmd(classpath, run_dir, traced, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false"]
    if traced:
        cmd += ["-Dspark.callstack.depth=200",
                "-Dspark.sql.streaming.streamingQueryListeners=perfbench.Trace$StreamListener"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args
    return cmd


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


class Engine:
    """One driver JVM: times bring-up to READY and bounds the run."""

    def __init__(self, cmd, log_path, deadline):
        self.t0 = time.time()
        self.ready_s = None
        self.log = open(log_path, "w")
        self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, env=java_env(), cwd=ROOT,
                                  start_new_session=True)
        self.deadline = deadline
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.p.stdout:
            if self.ready_s is None and line.strip() == "READY":
                self.ready_s = time.time() - self.t0
            self.log.write(line)

    def wait(self):
        try:
            code = self.p.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(self.p.pid, signal.SIGKILL)
            self.p.wait()
            code = None
        self.reader.join(timeout=10)
        self.log.close()
        return code


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7] if len(ticks) > 7 else 0, sum(ticks)
    except OSError:
        return 0, 0


def run_engine(classpath, run_dir, traced, args, name, deadline):
    e = Engine(java_cmd(classpath, run_dir, traced, args),
               os.path.join(run_dir, f"{name}.log"), deadline)
    code = e.wait()
    if code != 0:
        with open(os.path.join(run_dir, f"{name}.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{name} JVM {'timed out' if code is None else f'exited with {code}'}", 4)
    if e.ready_s is None:
        fail(f"{name} JVM never became ready", 4)
    return e.ready_s


# ---- output checks -----------------------------------------------------

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_answer(data, name, sql):
    """The DuckDB oracle's rows for `sql` over the inputs in `data`, kept
    beside the inputs under the digest of the SQL text."""
    import duckdb
    import pandas as pd
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data, "oracle", f"{name}-{digest}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/corpus/{t}.parquet'")
    df = canon(con.execute(sql).fetchdf())
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def oracle_checks(run_dir, data, reps):
    """Hash-compare each registry row the crawl workload called with the
    row's DuckDB oracle over the same inputs (as scripts/check.py does).
    Returns (checked, failures)."""
    import pandas as pd
    with open(os.path.join(run_dir, "out", "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    expected = {name: oracle_answer(data, name, sql) for name, sql in oracle.items()}
    checked, failures = 0, []
    for rep in reps:
        for name in sorted(oracle):
            checked += 1
            files = glob.glob(os.path.join(rep["outputs"], name, "*.parquet"))
            if not files:
                failures.append(f"{rep['id']} {name}: no output")
                continue
            got = canon(pd.concat([pd.read_parquet(f) for f in files],
                                  ignore_index=True))
            want = expected[name]
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                failures.append(f"{rep['id']} {name}: shape {got.shape} vs {want.shape}")
                continue
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                failures.append(f"{rep['id']} {name}: {str(e).splitlines()[0]}")
    return checked, failures


# ---- metrics -----------------------------------------------------------

def end_to_end(workload, result, setup_s):
    """The workload's end-to-end figures (untraced repetitions only), plus
    the workload-specific names the artifact records them under."""
    reps = [r for r in result["reps"] if not r["traced"]]
    if not reps:
        fail("no untraced repetition recorded", 5)
    docs = sum(r["docs"] for r in reps)
    if workload == "crawl_admit":
        # throughput is the batch chain; the call is the streamed admission
        rate = docs / sum(r["batch_s"] for r in reps)
        calls_ms = [r["stream_s"] * 1e3 for r in reps]
    else:
        # throughput is the cold build; the calls are the served predicts
        rate = docs / sum(r["wall_s"] for r in reps)
        calls = [c for c in result["calls"] if not c["traced"]]
        calls_ms = [c["wall_s"] * 1e3 for c in calls]
    m = {
        "docs_per_s": rate,
        "call_p50_ms": benchlib.percentile(calls_ms, 50),
        "setup_s": setup_s,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    if workload == "crawl_admit":
        named = {"curate_docs_per_s": rate, "stream_admit_s": m["call_p50_ms"] / 1e3}
    else:
        # about 40 calls per run leave four beyond the p90: too few to hold
        # it steady across runs, so it is recorded here and not reported
        named = {"build_docs_per_s": rate, "predict_p50_ms": m["call_p50_ms"],
                 "predict_p90_ms": benchlib.percentile(calls_ms, 90),
                 "predict_docs_per_s": sum(c["docs"] for c in calls) /
                 sum(c["wall_s"] for c in calls),
                 "predict_calls": len(calls)}
    return m, named


def read_jsonl(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


# per-layer metrics of topic_model's serve phase, taken from its traced
# predict calls; every other metric comes from the traced builds or rounds
SERVE_METRICS = {"features.vectorize_s", "api.predict_s", "api.predict_jobs",
                 "api.driver_s", "plans.codegen_classes", "plans.codegen_ms"}


def per_layer(result, out):
    """Median per-layer metrics over the traced repetitions, the tracing
    overhead, the span coverage and the per-layer self-time table."""
    ix = benchlib.TraceIndex(read_jsonl(f"{out}/spans.jsonl"),
                             read_jsonl(f"{out}/jobs.jsonl"),
                             read_jsonl(f"{out}/stages.jsonl"),
                             read_jsonl(f"{out}/batches.jsonl"))
    reps = result["reps"]
    traced = [r for r in reps if r["traced"]]
    plain = [r for r in reps if not r["traced"]][1:]  # the first pass runs cold
    if not traced or not plain:
        fail("a traced run needs traced and untraced repetitions", 5)

    def rows(rs):
        return [benchlib.rep_layer_metrics(ix, r["id"], r["counters"], {
            "trace.span_coverage_pct": benchlib.span_coverage(ix, r["id"], r["wall_s"]),
            "refine.clusters_split": r.get("clusters_split", 0)}) for r in rs]

    def medians(rs):
        return {k: benchlib.median([row[k] for row in rs]) for k in rs[0]}

    m = medians(rows(traced))
    served = [c for c in result.get("calls", []) if c["traced"]]
    if served:
        m.update({k: v for k, v in medians(rows(served)).items() if k in SERVE_METRICS})
        m["api.load_s"] = result["load_s"]
    m["trace.overhead_pct"] = 100.0 * (
        benchlib.median([r["wall_s"] for r in traced]) /
        benchlib.median([r["wall_s"] for r in plain]) - 1.0)
    table = benchlib.layer_self_table(ix, {r["id"] for r in traced})
    # the serve phase must run no model fit: jobs of the cluster or refine
    # layer during traced predict calls (expected 0)
    fit_jobs = sum(1 for j in ix.jobs
                   if any(ix.rep_of(j) in (c["id"], c["id"] + "/vectorize") for c in served)
                   and ix.job_layer(j) in ("cluster", "refine"))
    return m, table, fit_jobs


# ---- main --------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    classpath = build()
    deadline = time.time() + DEADLINE_S  # a first build is not run time
    data, info, gen_s = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    args = ["--workload", a.workload, "--data", data, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--k", str(K)]

    steal0, total0 = cpu_ticks()
    e0 = time.time()
    setup_s = run_engine(classpath, run_dir, a.trace == 1, args, "engine", deadline)
    engine_s = time.time() - e0
    steal1, total1 = cpu_ticks()

    with open(os.path.join(out, "result.json")) as fh:
        result = json.load(fh)
    failures = list(result["failures"])
    attempted, failed = result["attempted"], result["failed"]
    if a.workload == "crawl_admit":
        n, bad = oracle_checks(run_dir, data, result["reps"])
        attempted += n
        failed += len(bad)
        failures += bad

    if a.trace:
        metrics, table, fit_jobs = per_layer(result, out)
        units = benchlib.per_layer_names()
        extra = {"layer_self_s": table, "serve_fit_jobs": fit_jobs}
        if a.workload == "topic_model":
            attempted += 1
            if fit_jobs:
                failed += 1
                failures.append(f"serve phase ran {fit_jobs} K-means/LDA jobs")
    else:
        metrics, named = end_to_end(a.workload, result, setup_s)
        units = END_TO_END
        extra = {"named_metrics": named}
    if a.workload == "topic_model":
        extra["k"] = K
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "inputs": info, "gen_s": gen_s,
                "setup_s": setup_s, "engine_s": engine_s,
                # CPU time the hypervisor gave to other guests: run-to-run noise
                "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
                "attempted": attempted, "failed": failed,
                "failed_frac": failed / attempted,
                "failures": failures, "reps": result["reps"],
                "calls": result.get("calls", []), **extra, "metrics": metrics}
    with open(os.path.join(run_dir, "artifact.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    # keep the artifact and the trace; drop the bulky per-repetition data
    for d in ("reps", "outputs", "models"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    for f in failures[:20]:
        log(f"FAIL {f}")
    line = benchlib.result_line(failed == 0, attempted, failed, metrics, units)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
