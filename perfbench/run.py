#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <dashboard|stream> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (sbt, offline) on first use,
generates the seeded inputs, runs the workload in one JVM at local[4],
checks the outputs, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separately traced run. Build outputs, inputs and each run's
raw record and summary live under `perfbench/.work/`. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from bench import check, gen, metrics  # noqa: E402

WORKLOADS = ("dashboard", "stream")
TABLE_SEED = 42
TABLE_SF = 0.01
STREAM = {"posts_per_file": 5, "drain_rounds": 4, "interval_ms": 200,
          "max_files_per_trigger": 30}
JVM_TIMEOUT_S = 170
# The heap's limit is fixed and the old generation grows on demand, so peak
# RSS moves with the memory the program retains. The young generation has a
# fixed size: sized adaptively, how far it grew moved peak RSS by ±12%
# between runs of the same inputs.
JVM_OPTS = ["-Xmx2g", "-Xmn768m", "-Duser.timezone=UTC"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) if os.path.exists(
    os.path.join(ROOT, "BENCHMARK.json")) else None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True) if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the benchmark JVM, compiling with sbt when sources changed."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src"),
               os.path.join(HERE, "project", "build.properties")]
    for s in sources:
        if not os.path.exists(s):
            die(f"missing {os.path.relpath(s, ROOT)}: run from a full checkout of the engine")
    stamp = tree_hash(sources)
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(out, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, text=True, timeout=800)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"sbt build failed (see {os.path.relpath(log.name, ROOT)})", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(os.path.join(out, "stamp"), "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def tables(sf):
    """Directory of the seeded parquet tables at scale factor `sf`."""
    stamp = tree_hash([os.path.join(HERE, "bench", "gen.py")])[:12]
    d = os.path.join(WORK, "data", f"sf{sf}-seed{TABLE_SEED}-{stamp}")
    if not os.path.exists(os.path.join(d, "_done")):
        gen.write_tables(d + ".tmp", TABLE_SEED, sf)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.replace(d + ".tmp", d)
        open(os.path.join(d, "_done"), "w").close()
    return d


def stage_stream(run_dir, seed, seconds):
    """Stages the seeded post files and the plan the JVM reads."""
    rate_files = max(1, int(seconds * 1000 / STREAM["interval_ms"]))
    plan = dict(STREAM, rate_files=rate_files)
    texts, _, _ = gen.documents_texts(TABLE_SEED, 5000)
    n = plan["drain_rounds"] * plan["max_files_per_trigger"] + rate_files
    gen.write_stream_posts(os.path.join(run_dir, "stream", "stage"), seed, n,
                           plan["posts_per_file"], texts)
    with open(os.path.join(run_dir, "stream", "plan.properties"), "w") as fh:
        for k, v in plan.items():
            fh.write(f"{k}={v}\n")
    return plan


def run_jvm(cp, args, run_dir, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + JVM_OPTS + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"workload exceeded {budget_s:.0f}s (see {os.path.relpath(log.name, ROOT)})", 1)
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        die(f"JVM exited with {rc}:\n{tail}", 1)


def contended(machine):
    """Busy CPU on the machine not spent by the benchmark's JVM, in cores."""
    span = machine["machine_cpu_s"] / max(1, machine["machine_cores"])
    other = max(0.0, machine["busy_cpu_s"] - machine["own_cpu_s"])
    cores = other / span if span > 0 else 0.0
    return {"other_busy_cores": cores, "contended": cores >= 1.0}


def batch_summary(raw, run_dir, data_dir, trace, record):
    names = raw["checked"]
    if record:
        check.record_expected(os.path.join(run_dir, "results"), names,
                              os.path.join(HERE, "expected.json"))
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    verdicts = check.check_batch(os.path.join(run_dir, "results"), names, data_dir,
                                 os.path.join(data_dir, "oracle-cache.json"), expected)
    executions = raw["pass"]["queries"]
    errors = [f"{q['name']}: {q['error']}" for q in executions if "error" in q]
    failed_names = {q["name"] for q in executions if "error" in q}
    # a query that threw is counted once, as an error
    mismatches = [f"{n}: {v}" for n, v in verdicts.items() if v and n not in failed_names]
    e2e, extra = metrics.batch_end_to_end(raw)
    summary = {"end_to_end": e2e, "notes": extra, "errors": errors, "mismatches": mismatches,
               "attempted": len(executions), "failed": len(errors) + len(mismatches)}
    if trace:
        layers, per_query, rec = metrics.batch_per_layer(raw)
        summary.update(per_layer=layers, per_query=per_query)
        summary["notes"].update(rec)
    return summary


def stream_summary(raw, run_dir, trace):
    sink = metrics.read_sink(os.path.join(run_dir, raw["dir"], "out"))
    rows = check.sink_rows(sink)
    users = {f: [r["user"] for r in rs] for f, rs in rows.items()}
    latencies = metrics.stream_latencies(raw, sink, users)
    e2e, extra = metrics.stream_end_to_end(raw, latencies)
    n_files = raw["backlog_files"] + raw["rate_files"]
    expected_users = [f"f{f}_{i}" for f in range(n_files) for i in range(raw["posts_per_file"])]
    attempted, failures = check.check_stream(expected_users, rows,
                                             os.path.join(run_dir, "results", "stream_sample"))
    failures += raw["errors"]
    summary = {"end_to_end": e2e, "notes": extra, "errors": raw["errors"],
               "mismatches": failures[:50], "attempted": attempted, "failed": len(failures)}
    if trace:
        layers, per_query = metrics.stream_per_layer(raw)
        summary.update(per_layer=layers, per_query=per_query)
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the fingerprints of checked queries without oracle SQL")
    a = ap.parse_args()
    if BENCH is None:
        die("BENCHMARK.json not found next to perfbench/")
    cp = build()
    t_built = time.monotonic()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(os.path.join(run_dir, "results"))
    data_dir = tables(TABLE_SF)
    if a.workload == "stream":
        stage_stream(run_dir, a.seed, a.seconds)
    jvm_start = time.monotonic()
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data_dir, "--work", run_dir,
                 "--out", os.path.join(run_dir, "raw.json")],
            run_dir, JVM_TIMEOUT_S - (jvm_start - t_built))
    raw = json.load(open(os.path.join(run_dir, "raw.json")))
    summary = (stream_summary(raw, run_dir, a.trace) if a.workload == "stream"
               else batch_summary(raw, run_dir, data_dir, a.trace, a.record))
    summary["machine"] = dict(raw["machine"], **contended(raw["machine"]))
    values = summary["per_layer" if a.trace else "end_to_end"]
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    specs = BENCH["per_layer" if a.trace else "end_to_end"]
    missing = [s["name"] for s in specs if s["name"] not in values]
    if missing:
        die(f"metrics not computed for {a.workload}: {', '.join(missing)}", 1)
    out = {s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in specs}
    for k, v in sorted(summary["notes"].items()):
        print(f"{k}: {v}")
    print(f"contended: {summary['machine']['contended']} "
          f"(other busy cores {summary['machine']['other_busy_cores']:.2f})")
    for m in summary["mismatches"][:20]:
        print(f"FAIL {m}")
    print(json.dumps({"correct": summary["failed"] == 0, "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
