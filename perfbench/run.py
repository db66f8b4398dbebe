#!/usr/bin/env python3
"""The repository benchmark: one command per workload, one JSON line out.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (the build is reused while no source file
changes), then every run generates its inputs from ``--seed``, starts one
JVM that sets up a Spark session, warms it, measures for ``--seconds``
and checks every output, and prints the metrics. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
The last line of standard output is the JSON result; the exit code is 0
only when every output check passed.

``--record-results`` recomputes ``registry_results.json`` (the results
the ``registry_hot`` checks compare against) from the generated tables;
run it only when a change is meant to alter those results.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["etl_batch", "ingest_stream", "registry_hot"]
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"),
              ("freshness_p50_ms", "ms"), ("freshness_p95_ms", "ms"), ("peak_rss_mb", "MB")]

REGISTRY_KEYS = ["dedup_ngram_containment", "dedup_ngram_jaccard", "graph_hyperball_reach",
                 "graph_pagerank", "orders_abc_xyz", "orders_association_rules",
                 "sim_profile_allpairs", "text_bigram_lm_perplexity", "pipeline_curation_stages"]
REGISTRY_BUILDS = ["tok-spine", "tok-bigram", "ngram-inv2", "ngram-df2",
                   "graph-directed", "graph-canonical", "graph-both",
                   "bpe-rules-k8", "bpe-state-k8", "brand-profiles"]
# per-layer metrics whose value is a span's self time: (metric, span, scale)
SPAN_METRICS = ([("readers.csv_parse_s", "readers.csv_parse", 1.0),
                 ("pipeline.latest_wins_s", "pipeline.latest_wins", 1.0),
                 ("pipeline.categorize_s", "pipeline.categorize", 1.0),
                 ("pipeline.rollup_s", "pipeline.rollup", 1.0),
                 ("sinks.export_s", "sinks.export", 1.0),
                 ("manifest.commit_ms", "manifest.commit", 1e3)]
                + [(f"key.{k}_s", f"key.{k}", 1.0) for k in REGISTRY_KEYS]
                + [(f"build.{b}_s", f"build.{b}", 1.0) for b in REGISTRY_BUILDS])
PER_LAYER = (
    [("readers.csv_parse_s", "s"), ("readers.rows_in", "count"), ("readers.quarantined_rows", "count"),
     ("pipeline.clean_s", "s"), ("pipeline.latest_wins_s", "s"), ("pipeline.latest_wins.rows_out", "count"),
     ("pipeline.latest_wins.shuffle_mb", "MB"), ("pipeline.categorize_s", "s"), ("pipeline.rollup_s", "s"),
     ("pipeline.rollup.shuffle_mb", "MB"), ("sinks.export_s", "s"), ("sinks.files_out", "count"),
     ("stream.source_ms", "ms"), ("stream.files_per_batch", "count"), ("stream.add_batch_p50_ms", "ms"),
     ("stream.add_batch_p95_ms", "ms"), ("stream.commit_log_ms", "ms"), ("upsert.buckets_touched", "count"),
     ("upsert.write_amp", "ratio"), ("manifest.commit_ms", "ms"), ("manifest.live_dirs", "count"),
     ("manifest.vacuumed_dirs", "count"), ("quarantine.rows", "count"), ("gen.lag_max_ms", "ms"),
     ("stream.backlog_max_files", "count")]
    + [(f"key.{k}_s", "s") for k in REGISTRY_KEYS]
    + [(f"build.{b}_s", "s") for b in REGISTRY_BUILDS]
    + [("checkpoint.live_mb", "MB"),
       ("spark.task_cpu_s", "s"), ("spark.task_run_s", "s"), ("spark.shuffle_write_mb", "MB"),
       ("spark.spill_mb", "MB"), ("spark.jvm_gc_s", "s"), ("spark.tasks", "count"),
       ("host.steal_s", "s"), ("host.cal_ms", "ms"), ("host.gc_harness_s", "s"), ("host.gc_region_s", "s"),
       ("trace.overhead_s", "s")])

# input sizes (see README.md)
INGEST_WARM_FILES, INGEST_LINES = 2, 200
INGEST_RATE = 2.0  # files per second, open loop
REGISTRY_SCALE = 0.5
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Build the program and the harness once per source state.

    Returns the classpath (jars) and a class-data archive of the classes
    a session loads, which every run maps instead of loading them one by
    one: it takes about 4 s off each run's set-up."""
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to the benchmark directory: run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    archive = os.path.join(BUILD, f"classes-{stamp}.jsa")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep) + [archive]):
            return cp, archive
    os.makedirs(BUILD, exist_ok=True)
    # an archive is as large as the classes it holds: keep only the current one
    for name in os.listdir(BUILD):
        if name.startswith(("classes-", "classpath-")):
            os.remove(os.path.join(BUILD, name))
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building the program and the harness (sbt)", file=sys.stderr)
    with open(log, "w") as out:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
                         HERE, BUILD_TIMEOUT_S, out, subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and "perfbench" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp = cps[-1].strip()
    # the archive: classes loaded by a session that runs one small query
    work = os.path.join(BUILD, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(log, "a") as out:
        code = run_group(java_cmd(cp, work, ["--archive", "1", "--work", work], f"-XX:ArchiveClassesAtExit={archive}"),
                         ROOT, BUILD_TIMEOUT_S, out, subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(archive):
        fail(f"class-data archive failed (exit {code}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, archive


def registry_data(scale):
    """The registry tables are seed-independent: generate once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"registry-{scale}-{tag}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.registry_tables(d, scale)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def self_times(spans):
    """Per span: its duration minus the part of it its children cover (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], last), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                last = hi
        out.setdefault(s["name"], []).append(s["end_ms"] - s["start_ms"] - covered)
    return out


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(xs):
    """The highest of p50/p90/p95/p99 with at least ten samples beyond it."""
    best = None
    for p in (50, 90, 95, 99):
        if len(xs) * (1 - p / 100) >= 10:
            s = sorted(xs)
            best = (p, s[min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1)])
    return best


def java_cmd(cp, work, args, archive_flag):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([java, archive_flag, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp]
            + opens + ["perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-results", action="store_true")
    a = ap.parse_args()
    if not a.workload and not a.record_results:
        ap.error("--workload is required")
    cp, archive = build()
    use_archive = f"-XX:SharedArchiveFile={archive}"
    # the build may take long on a fresh checkout; the run's own time limit
    # starts once it is done
    started = time.time()
    # one run at a time: whatever an earlier, interrupted run left goes
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload or 'record'}-{a.seed}")
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    args = ["--work", work]

    if a.record_results:
        out = os.path.join(HERE, "registry_results.json")
        args += ["--record", out, "--registry", registry_data(REGISTRY_SCALE)]
        code = run_group(java_cmd(cp, work, args, use_archive), ROOT, RUN_TIMEOUT_S, None, None)
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(code)

    inputs = os.path.join(run_dir, "inputs")
    result = os.path.join(run_dir, "result.json")
    spans_file = os.path.join(run_dir, "spans.jsonl")
    args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--inputs", inputs, "--result", result, "--spans", spans_file]
    if a.workload == "etl_batch":
        expected = gen.etl_inputs(inputs, a.seed)
        size = f"{expected['input_rows']} CSV rows"
    elif a.workload == "ingest_stream":
        n_files = max(4, math.ceil(INGEST_RATE * a.seconds))
        gen.ingest_inputs(inputs, a.seed, INGEST_WARM_FILES, n_files, INGEST_LINES, INGEST_RATE)
        size = f"{n_files} files x {INGEST_LINES} lines at {INGEST_RATE}/s"
    else:
        args += ["--registry", registry_data(REGISTRY_SCALE),
                 "--expected", os.path.join(HERE, "registry_results.json")]
        size = f"9 keys, tables at {REGISTRY_SCALE} x sf0.01"

    print(f"perfbench: inputs ready at {time.time() - started:.1f} s", file=sys.stderr)
    log = os.path.join(run_dir, "jvm.log")
    remaining = RUN_TIMEOUT_S - (time.time() - started)
    with open(log, "w") as err:
        code = run_group(java_cmd(cp, work, args, use_archive), ROOT, max(30, remaining), err, subprocess.STDOUT)
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{a.workload}: the harness exited with {code}")
    with open(result) as f:
        res = json.load(f)
    print(f"perfbench: harness done at {time.time() - started:.1f} s", file=sys.stderr)

    # keep the last run's artifacts (result, span file) for inspection
    keep = os.path.join(BUILD, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ["result.json", "spans.jsonl", "jvm.log"]:
        if os.path.exists(os.path.join(run_dir, name)):
            shutil.copy(os.path.join(run_dir, name), keep)

    if a.trace:
        layer = {k: v["value"] for k, v in res["per_layer"].items()}
        if os.path.exists(spans_file):
            with open(spans_file) as f:
                spans = [json.loads(l) for l in f if l.strip()]
            selfs = self_times(spans)
            for metric, span, scale in SPAN_METRICS:
                if span in selfs:
                    layer[metric] = median(selfs[span]) / 1e3 * scale
            if "pipeline.ingest_and_clean" in selfs and "readers.csv_parse" in selfs:
                # cleaning fuses with the parse: its cost is the parse+clean
                # span less the parse-only span
                layer["pipeline.clean_s"] = max(0.0, (median(selfs["pipeline.ingest_and_clean"])
                                                      - median(selfs["readers.csv_parse"])) / 1e3)
        # a layer the workload never calls reads 0
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": res["end_to_end"][n]["value"], "unit": u} for n, u in END_TO_END}

    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and not res["problems"]
    env = res["env"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} input: {size}; "
          f"nproc={env['nproc']} xmx_mb={env['xmx_mb']} steal_s={env['steal_s']} cal_ms={env['cal_ms']} "
          f"loadavg={env['loadavg']} gc_harness_s={env['gc_harness_s']} gc_region_s={env['gc_region_s']} "
          f"cpu={env['cpu_model']}")
    for name, samples in res["samples"].items():
        tp = tail_percentile(samples)
        tail = f", p{tp[0]} {tp[1]:.4g}" if tp else ""
        print(f"  samples {name}: median {median(samples):.4g}{tail} (n={len(samples)})")
    for n, m in metrics.items():
        print(f"  {n} = {m['value']:.6g} {m['unit']}")
    print(f"  failed_ratio = {failed / max(1, attempted):.6g} ({failed} of {attempted} operations)")
    for p in res["problems"]:
        print(f"  CHECK FAILED: {p}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
