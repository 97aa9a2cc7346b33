#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
source when they changed (sbt, perfbench/build.sbt), generates the seeded
inputs, runs one JVM, checks the outputs, prints every metric by name with
its unit, writes the full record under .bench_build/perfbench/records/, and
prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1, the per-layer ones.
Infrastructure errors exit non-zero without a result line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = os.path.join(HERE, "tables", "sf0.01")
WORKLOADS = ("audio_features", "corpus_curation", "iterative_queries")
END_TO_END = ("setup_s", "wall_s")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 150


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped digest matches; returns
    (classpath, jvm flags) from the launch spec the build wrote."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    spec = os.path.join(HERE, "target", "launch.txt")
    if not (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(spec)):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        log = os.path.join(BUILD, "build.log")
        t0 = time.time()
        with open(log, "w") as fh:
            code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "launchSpec"],
                             cwd=HERE, env=env, stdout=fh, timeout=BUILD_TIMEOUT_S)
        if code != 0:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"build failed (exit {code}), log in {log}", 3)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(stamp, "w") as fh:
            fh.write(digest)
    with open(spec) as fh:
        lines = fh.read().splitlines()
    return lines[0], [x for x in lines[1:] if not x.startswith("-Xmx")]


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group and waits for it; on timeout
    the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def write_meta(d, meta):
    with open(os.path.join(d, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def make_inputs(workload, seed, inp):
    """Seeded inputs for one run; returns the generator's ground truth."""
    if workload == "audio_features":
        truth = gen.gen_audio(os.path.join(inp, "audio"), seed)
        truth["input_bytes"] = sum(os.path.getsize(f) for f in truth["files"])
    elif workload == "corpus_curation":
        truth = gen.gen_corpus(inp, seed)
    else:
        # fixed tables, kept in this directory; the seed permutes the query
        # order only
        names = sorted(f for f in os.listdir(TABLES) if f.endswith(".parquet"))
        h = hashlib.sha256()
        for f in names:
            with open(os.path.join(TABLES, f), "rb") as fh:
                h.update(fh.read())
        truth = {"tables_dir": TABLES, "tables": [f[:-8] for f in names],
                 "input_bytes": sum(os.path.getsize(os.path.join(TABLES, f)) for f in names),
                 "digest": h.hexdigest(),
                 "seed_role": "tables fixed (sf 0.01, table seed 42); "
                              "the run seed permutes the query order"}
    write_meta(inp, truth)
    return truth


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fmt(v):
    return "nan" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail("the engine's sources are not here; run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp, jvm_flags = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(inp)
    truth = make_inputs(a.workload, a.seed, inp)

    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + jvm_flags + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--input", inp, "--out", out,
        "--src", os.path.join(ROOT, "src", "main", "scala", "graft")])
    code = run_child(cmd, timeout=RUN_TIMEOUT_S, cwd=run_dir, stdout=sys.stderr)
    rec_path = os.path.join(out, "record.json")
    if code != 0 or not os.path.exists(rec_path):
        fail(f"benchmark JVM failed (exit {code})", 4)
    with open(rec_path) as fh:
        rec = json.load(fh)

    results = checks.run(a.workload, truth, inp, out, os.path.join(BUILD, "oracle-cache"))
    n_bad = sum(1 for r in results if not r["ok"])
    attempted = rec["ops"]["attempted"] + len(results)
    failed = rec["ops"]["failed"] + n_bad
    rec["checks"] = results
    rec["fail_frac"] = failed / attempted
    if rec["per_layer"]:
        rec["per_layer"]["fail_frac"] = rec["fail_frac"]
    rec["git_commit"] = git_commit()
    rec["source_digest"] = open(os.path.join(BUILD, "build.stamp")).read()
    rec["jvm_heap"] = HEAP
    rec["seeds"] = {"this_run": a.seed, "bounds_set_from": "1-10", "held_out": "1001-1003"}

    units = rec["units"]
    names = list(END_TO_END) if a.trace == 0 else sorted(rec["per_layer"])
    source = rec["end_to_end"] if a.trace == 0 else rec["per_layer"]
    metrics = {k: {"value": source[k], "unit": units[k]} for k in names}
    for r in results:
        print(f"check {'ok  ' if r['ok'] else 'FAIL'} {r['name']}: {r['detail']}")
    for k in names:
        print(f"metric {k} = {fmt(source[k])} {units[k]}")
    if a.trace == 0:
        print(f"metric fail_frac = {fmt(rec['fail_frac'])} ratio")
        print(f"metric peak_rss_mb = {fmt(rec['end_to_end']['peak_rss_mb'])} MB")
        if rec["get_samples"]:
            for k in ("get_p50_ms", "get_p95_ms"):
                print(f"metric {k} = {fmt(rec['reads'][k])} ms ({rec['get_samples']} reads)")
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec_out = os.path.join(BUILD, "records", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(rec_out, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(f"record {os.path.relpath(rec_out, ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
