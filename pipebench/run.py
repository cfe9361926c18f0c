#!/usr/bin/env python3
"""Cold end-to-end benchmark of the batch pipeline, `graft.pipeline.Main`.

    python3 pipebench/run.py --workload csv-bulk --seed 1 --seconds 20 --trace 0
    python3 pipebench/run.py --workload all      # every workload, as a table

Run it from the repository root. It builds the engine and the harness
(`pipebench/build.sbt`, once per source change), writes the workload's
inputs from the seed (`gen.py`), and then runs batches until `--seconds`
have passed, each in a fresh driver JVM as a daily scheduler would:
JVM start, session start and code generation are paid on every batch.
One batch runs at a time, on Spark `local[<cores>]` with the pipeline's
own driver pool at its default width.

After every batch, outside the timed region, the artifacts are checked
against the generator's oracle (`check.py`). A batch that exits nonzero,
reports an input-level error or disagrees with the oracle is failed.

`--trace 0` reports the end-to-end metrics (medians over the batches);
`--trace 1` adds one traced batch (`PipeBench trace`) and reports the
per-layer metrics (`trace.py`). The last line of standard output is the
result object; a readable summary goes to standard error.
"""

import argparse
import hashlib
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
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, out_path, env=None):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Returns the exit code (None on timeout) after every process has ended."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # strays the child left behind
            except ProcessLookupError:
                pass


def _env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return env


def fingerprint():
    """Hash of every source the build reads."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath and the
    sources' fingerprint."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline",
                                       "Main.scala")):
        raise BenchError("no pipeline sources under %s/src: run from a repository checkout" % ROOT)
    fp = fingerprint()
    stamp = os.path.join(HERE, "target", "pipebench.classpath")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            saved_fp, cp = f.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip(), fp
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, "build.log")
    log("building engine and harness (sbt) ...")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, out, _env())
    with open(out, errors="replace") as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l]
    if rc != 0 or not lines:
        raise BenchError("build failed (exit %s); see %s" % (rc, out))
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + lines[-1])
    return lines[-1], fp


def java(cp, main, args, run_dir):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd = [exe, "-Xmx2g", "-XX:+UseG1GC", *opens, "-Dspark.ui.enabled=false",
           "-Djava.io.tmpdir=" + tmp, "-cp", cp, main, *args]
    return run_proc(cmd, run_dir, JVM_TIMEOUT_S, os.path.join(run_dir, "jvm.log"), _env())


def _stage(src, run_dir, prior_target=None):
    """A fresh copy of the batch inputs (and of the earlier load) to run on."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    shutil.copytree(os.path.join(src, "input"), os.path.join(run_dir, "input"))
    for f in ("train_hours.csv", "history.parquet"):
        shutil.copy(os.path.join(src, f), run_dir)
    if prior_target:
        shutil.copytree(prior_target, os.path.join(run_dir, "target"))
    # write back the staged (and any earlier batch's) files now, so the
    # flush does not land inside the timed batch
    os.sync()


def prepare_prior(cp, workload, inputs, manifest, fp):
    """Load a workload's earlier batch in its own JVM, once per build; every
    timed batch starts from a copy of the resulting target."""
    with open(gen.__file__, "rb") as f:  # how the rows are planted
        planting = hashlib.sha1(f.read()).hexdigest()
    key = hashlib.sha1((fp + planting + json.dumps(gen.WORKLOADS[workload], sort_keys=True))
                       .encode()).hexdigest()[:12]
    cache_root = os.path.join(WORK, "cache")
    cache = os.path.join(cache_root, "%s-%s" % (workload, key))
    target = os.path.join(cache, "target")
    if os.path.isfile(os.path.join(cache, "ok")):
        return target
    shutil.rmtree(cache_root, ignore_errors=True)
    log("%s: loading the earlier batch (set-up) ..." % workload)
    _stage(os.path.join(inputs, "prior"), cache)
    rc = java(cp, "graft.pipeline.Main", ["input", "export", "target", "archive",
                                          "train_hours.csv", "history.parquet"], cache)
    bad = check.compare(gen.expected({"batches": manifest["batches"][:1]}), check.measure(cache))
    if rc != 0 or bad:
        raise BenchError("earlier load failed (exit %s): %s" % (rc, "; ".join(bad[:5])))
    open(os.path.join(cache, "ok"), "w").close()
    return target


def one_batch(cp, mode, workload, inputs, expected, prior_target):
    """Run one batch in a fresh JVM; check its artifacts against the oracle."""
    run_dir = os.path.join(WORK, workload, mode)
    _stage(inputs, run_dir, prior_target)
    target = os.path.join(run_dir, "target")
    before = set(check.data_files(target))
    result_path = os.path.join(run_dir, "result.json")
    rc = java(cp, "graft.pipeline.PipeBench", [mode, workload, run_dir, result_path], run_dir)
    res = None
    if os.path.isfile(result_path):
        with open(result_path) as f:
            res = json.load(f)
    measured = check.measure(run_dir)
    bad = [] if rc == 0 and res else ["harness exited %s; see %s/jvm.log" % (rc, run_dir)]
    if res and res["exit_code"] != 0:
        bad.append("Main.run exited %d (errors recorded; see %s/jvm.log)" % (res["exit_code"], run_dir))
    bad += check.compare(expected, measured)
    new = [f for f in check.data_files(target) if f not in before]
    out_bytes = sum(os.path.getsize(os.path.join(target, f)) for f in new)
    export = os.path.join(run_dir, "export")
    out_bytes += sum(os.path.getsize(os.path.join(export, f)) for f in check.data_files(export))
    files_out = sum(1 for f in new if not f.startswith("audit" + os.sep))
    return {"res": res, "bad": bad, "measured": measured, "out_bytes": out_bytes,
            "files_out": files_out}


def run_workload(cp, fp, workload, seed, seconds, traced):
    inputs = os.path.join(WORK, workload, "inputs")
    shutil.rmtree(inputs, ignore_errors=True)
    manifest = gen.generate(workload, seed, inputs)
    expected = gen.expected(manifest)
    shape = gen.shape(manifest)
    prior = prepare_prior(cp, workload, inputs, manifest, fp) \
        if gen.WORKLOADS[workload].get("prior") else None

    batches = []
    start = time.monotonic()
    while not batches or time.monotonic() - start < seconds:
        batches.append(one_batch(cp, "run", workload, inputs, expected, prior))
    tb = one_batch(cp, "trace", workload, inputs, expected, prior) if traced else None
    if tb and tb["measured"] != batches[0]["measured"]:
        tb["bad"].append("traced run's output counts differ from the untraced run's")

    runs = batches + ([tb] if tb else [])
    failed = sum(1 for b in runs if b["bad"])
    for b in runs:
        for msg in b["bad"][:10]:
            log("%s: FAILED: %s" % (workload, msg))
    timed = [b["res"] for b in batches if b["res"]]
    batch_s = statistics.median(r["batch_s"] for r in timed) if timed else 0.0
    if traced:
        metrics = trace.per_layer(tb["res"], shape["bytes"], batch_s, tb["files_out"]) \
            if tb["res"] else {}
    else:
        metrics = {
            "batch_s": (batch_s, "s"),
            "rows_per_s": (trace.ratio(shape["data_rows"], batch_s), "rows/s"),
            "setup_s": (statistics.median(r["setup_s"] for r in timed) if timed else 0.0, "s"),
            "out_bytes_per_in_byte": (statistics.median(
                b["out_bytes"] / shape["bytes"] for b in batches), "ratio"),
        }
    return {"correct": failed == 0, "attempted": len(runs), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "shape": shape,
            "batch_s": [r["batch_s"] for r in timed]}


def summary(workload, r):
    log("%s: %d batch(es), run_fail_ratio %.3f, input %s" % (
        workload, r["attempted"], r["failed"] / r["attempted"], json.dumps(r["shape"])))
    log("  untraced batch_s: %s" % ", ".join("%.2f" % x for x in r["batch_s"]))
    for name, m in r["metrics"].items():
        log("  %-32s %14.4f %s" % (name, m["value"], m["unit"]))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        cp, fp = build()
        for scratch in ("tmp", "spark-local"):  # left behind by killed JVMs
            shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)
        names = sorted(gen.WORKLOADS) if a.workload == "all" else [a.workload]
        results = {}
        for w in names:
            results[w] = run_workload(cp, fp, w, a.seed, a.seconds, a.trace == 1)
            summary(w, results[w])
    except BenchError as e:
        log("pipebench: %s" % e)
        return 1
    if a.workload == "all":
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {"%s.%s" % (w, k): m for w, r in results.items()
                           for k, m in r["metrics"].items()}}
    else:
        out = {k: results[a.workload][k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
