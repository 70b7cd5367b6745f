#!/usr/bin/env python3
"""Run one benchmark run and print its result as the last stdout line.

  python3 perfbench/run.py --workload ingest|curate|report --seed N \
      --seconds S --trace 0|1

Builds the program and the harness from source on first use (plain
scalac against the Spark jars, into .bench_build/), generates the
seeded inputs into a fresh directory under .bench_work/, starts one
JVM on the compiled classpath, checks the outputs (checks.py) and
removes everything the run created, in the checkout and under /tmp.
With --trace 0 it prints the end-to-end metrics, with --trace 1 the
per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# Spark's jars: $SPARK_HOME/jars, else beside the spark-submit on PATH
_submit = shutil.which("spark-submit")
SPARK_JARS = os.path.join(
    os.environ.get("SPARK_HOME") or
    (os.path.dirname(os.path.dirname(os.path.realpath(_submit))) if _submit else ""),
    "jars")
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORK = os.path.join(REPO, ".bench_work")
HEAP = "2g"
JVM_TIMEOUT_S = 160
CACHE_ROOTS = ["/tmp/graft-artifact-cache", "/tmp/graft-postings-cache",
               "/tmp/graft-ivf-cache", "/tmp/graft-incpostings-cache"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# the operator modules (families) whose queries curate's selection can
# hold: those with a query whose plan needs only documents/embeddings
FAMILIES = ["curation", "dedup", "dedupcluster", "extended", "extended2",
            "incpostings", "ivfindex", "maintenance", "mlops", "multimodal",
            "postingsindex", "relational", "simjoin", "similarity", "textops"]
UNITS = {"setup_s": "s", "docs_per_s": "docs/s", "op_p50_s": "s",
         "cpu_s": "s", "heap_live_mb": "MB", "stored_bytes_per_doc": "B"}
# per-layer metrics: times are totals over the timed phase, counts per op
LAYER_TIMES = [
    "sources.rss_poll_s", "sources.kafka_produce_s", "sources.kafka_consume_s",
    "udfs.enrich_s", "streaming.span_gate_s", "streaming.lsh_gate_s",
    "streaming.decontam_gate_s", "streaming.state_append_s",
    "news.lake_upsert_s", "news.archive_scan_s", "news.r1_s", "news.r2_s",
    "news.r3_s", "news.cluster_s", "news.r5_s", "news.pdf_s"] + [
    f"operators.{f}_s" for f in FAMILIES] + [
    "planner.plan_s", "planner.codegen_s", "executor.cpu_s",
    "executor.sched_delay_s", "jvm.gc_s", "jvm.jit_s"]
LAYER_PER_OP = ["streaming.batches", "executor.jobs", "executor.tasks", "planner.queries",
                "planner.codegen_compiles", "operators.artifacts_built",
                "streaming.state_files", "news.lake_files"]
LAYER_SIZES = {"sources.kafka_mb": "MB/op", "streaming.state_mb": "MB",
               "news.lake_mb": "MB", "news.pdf_kb": "KB",
               "operators.artifact_mb": "MB", "executor.shuffle_mb": "MB",
               "executor.spill_mb": "MB", "executor.input_mb": "MB"}
LAYER_TRACE = {"trace.timed_s": "s", "trace.residual_s": "s",
               "trace.op_p50_s": "s", "trace.replay_s": "s"}


def layer_units():
    u = {m: "s" for m in LAYER_TIMES}
    u.update({m: "count/op" for m in LAYER_PER_OP})
    u.update(LAYER_SIZES)
    u.update(LAYER_TRACE)
    return u


# ----------------------------------------------------------------- build
def _sources():
    main = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    res = sorted(f for f in glob.glob(os.path.join(REPO, "src", "main", "resources", "**"),
                                      recursive=True) if os.path.isfile(f))
    return main, own, res


def build():
    """Compile src/main/scala and the harness once per source state into
    one jar, then train a class-data archive for it (see _train)."""
    main, own, res = _sources()
    if not main or not own or not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: program sources or Spark jars not found")
    h = hashlib.sha256()
    for f in main + own + res:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, stamp)
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = f"{SPARK_JARS}/*"
    for srcs in (main, own):
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", f"{classes}:{cp}"] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("perfbench: build failed")
    shutil.copytree(os.path.join(REPO, "src", "main", "resources"), classes,
                    dirs_exist_ok=True)
    # the class-data archive takes classes from jars only
    with zipfile.ZipFile(os.path.join(classes, "app.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                if f != "app.jar":
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
    _train(classes)
    open(os.path.join(classes, ".done"), "w").close()
    return classes


def _train(classes):
    """Run the report and ingest set-ups once on seed-0 inputs with
    -XX:ArchiveClassesAtExit, so that every later JVM maps the classes
    it loads from the archive instead of loading and verifying them
    again. Without the archive (training failed) runs still work,
    only with a slower set-up."""
    roots_before = {r for r in CACHE_ROOTS if os.path.isdir(r)}
    entries_before = _cache_entries()
    tag = f"train_{os.getpid()}_{time.time_ns()}"
    work = os.path.join(WORK, tag)
    try:
        for w in ("report", "ingest"):
            gen.generate(w, work, 0)
        _jvm(classes, "train", work, -1, 0, _cores(),
             [f"-XX:ArchiveClassesAtExit={classes}/app.jsa"])
    except RuntimeError as e:
        sys.stderr.write(f"perfbench: no class-data archive ({e})\n")
    finally:
        _clean_work(work)
        _clean_tmp(roots_before, entries_before, tag)


# ------------------------------------------------------------------- run
def _cache_entries():
    return {os.path.join(r, e) for r in CACHE_ROOTS if os.path.isdir(r)
            for e in os.listdir(r)}


def _clean_tmp(before_roots, before_entries, tag):
    """Remove the cache entries this run created: the program names them
    after their source path, which holds the run directory's name."""
    for p in _cache_entries() - before_entries:
        if tag in os.path.basename(p):
            shutil.rmtree(p, ignore_errors=True)
    for r in CACHE_ROOTS:
        if r not in before_roots and os.path.isdir(r) and not os.listdir(r):
            os.rmdir(r)


def _cores():
    return max(1, min(2, os.cpu_count() or 1))


def _clean_work(work):
    shutil.rmtree(work, ignore_errors=True)
    if os.path.isdir(WORK) and not os.listdir(WORK):
        os.rmdir(WORK)


def _jvm(classes, workload, work, seconds, trace, cores, flags=None):
    archive = os.path.join(classes, "app.jsa")
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dsun.net.httpserver.nodelay=true"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}/app.jar:{SPARK_JARS}/*", "perfbench.PerfBench",
            workload, work, str(seconds), str(trace), str(cores)]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"JVM exited with {p.returncode}")
    if workload == "train":
        return None
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def _du(paths):
    files = [os.path.join(d, f) for p in paths for d, _, fs in os.walk(p) for f in fs]
    return len(files), sum(os.path.getsize(f) for f in files)


def measure(workload, seed, seconds, trace, inspect=None):
    """One run. `inspect(work, planted, res)` is called on the finished
    run before its directory is removed (self-tests)."""
    cores = _cores()
    classes = build()
    roots_before = {r for r in CACHE_ROOTS if os.path.isdir(r)}
    entries_before = _cache_entries()
    os.makedirs(WORK, exist_ok=True)
    tag = f"{workload}_{seed}_{os.getpid()}_{time.time_ns()}"
    work = os.path.join(WORK, tag)
    try:
        t_setup = time.time()
        planted = gen.generate(workload, work, seed)
        res = _jvm(classes, workload, work, seconds, trace, cores)
        ops = res["ops"]
        failed, docs, correct = checks.CHECKS[workload](work, planted, res)
        if inspect:
            inspect(work, planted, res)
        for o in ops:
            if o["error"]:
                failed.add((o["round"], o["name"]))
        secs = [o["secs"] for o in ops]
        timed = res["timed_s"]
        out = os.path.join(work, workload, "out")
        if workload == "ingest":
            # the lake and gate state hold the warm-up poll too
            polls = len(ops) + 1
            nfile_lake, lake = _du([os.path.join(out, "store")])
            nfile_state, state = _du([os.path.join(out, "seen"), os.path.join(out, "lsh")])
            stored = (lake + state) * len(ops) / polls
        elif workload == "report":
            _, stored = _du([os.path.join(out, o["round"]) for o in ops])
        else:
            _, stored = _du([os.path.join(out, r) for r in {o["round"] for o in ops}])
            stored += res["extra"].get("operators.artifact_mb", 0.0) * 1024 * 1024
        if trace == 0:
            metrics = {
                "setup_s": res["timed_start_ms"] / 1000.0 - t_setup,
                "docs_per_s": docs / timed,
                "op_p50_s": statistics.median(secs),
                "cpu_s": res["layers"]["process_cpu_s"] / len(ops),
                "heap_live_mb": res["heap_live_mb"],
                "stored_bytes_per_doc": stored / docs,
            }
            units = UNITS
        else:
            lay = dict(res["layers"], **res["extra"])
            n = len(ops)
            metrics = {m: lay.get(m, 0.0) for m in LAYER_TIMES}
            metrics.update({m: lay.get(m, 0.0) / n for m in LAYER_PER_OP
                            if m not in ("streaming.state_files", "news.lake_files")})
            metrics.update({m: lay.get(m, 0.0) for m in LAYER_SIZES})
            if workload == "ingest":
                metrics["streaming.state_files"] = nfile_state / polls
                metrics["news.lake_files"] = nfile_lake / polls
                metrics["streaming.state_mb"] = state / 2 ** 20
                metrics["news.lake_mb"] = lake / 2 ** 20
            else:
                metrics["streaming.state_files"] = metrics["news.lake_files"] = 0.0
            if workload == "report":
                pdfs = [os.path.join(out, o["round"], "report.pdf") for o in ops]
                metrics["news.pdf_kb"] = statistics.median(
                    os.path.getsize(p) for p in pdfs) / 1024
            layers = [m for m in LAYER_TIMES if not m.split(".")[0] in ("planner", "executor", "jvm")]
            # the ingest replay is tracing overhead, outside every op
            replay = res["extra"].get("trace.replay_s", 0.0)
            metrics["trace.replay_s"] = replay
            metrics["trace.timed_s"] = timed - replay
            metrics["trace.residual_s"] = timed - replay - sum(metrics[m] for m in layers)
            metrics["trace.op_p50_s"] = statistics.median(secs)
            units = layer_units()
        return {"correct": correct, "attempted": len(ops),
                "failed": len(failed & {(o["round"], o["name"]) for o in ops}),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    finally:
        _clean_work(work)
        _clean_tmp(roots_before, entries_before, tag)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    res = measure(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
