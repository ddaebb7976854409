#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 10 --trace 0

Run from the root of the repository. The first run builds the program and
the harness into one jar (`sbt package` in perfbench/); later runs reuse the
jar while the sources are unchanged. Inputs are generated from --seed and
cached under .perfbench/cache. The program runs in its own JVM with
SPARK_GRAFT_CPUS set to the machine's core count and a heap derived from
its memory. The last line printed is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run that also records
spans (written under .perfbench/spans). Every run's full record, including
the end-to-end figures of traced runs, goes to .perfbench/runs. The exit
code is 0 only when every output check passed. `--workload all` runs each
workload in turn.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# the run must end within 180 s; the JVM gets what is left after this margin
DEADLINE_S = 170
CACHE_KEEP = 6

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Build the jar unless it matches the current sources."""
    want = source_hash()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return want
    log("building the program and the harness (sbt package)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "package"], cwd=HERE,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0 or not os.path.exists(JAR):
        sys.stderr.write(p.stdout[-6000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return want


def machine():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    limit = mem_kb * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            v = f.read().strip()
            if v != "max":
                limit = min(limit, int(v))
    except OSError:
        pass
    ram_mb = limit // (1024 * 1024)
    # a quarter of the memory, within 1..8 GiB: the machine is shared
    heap_mb = max(1024, min(8192, ram_mb // 4))
    return {"cores": cores, "ram_mb": ram_mb, "heap_mb": heap_mb}


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def prune_cache(cache):
    entries = sorted((os.path.join(cache, d) for d in os.listdir(cache)
                      if os.path.exists(os.path.join(cache, d, "_DONE"))),
                     key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")))
    for d in entries[:-CACHE_KEEP]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(workload, data, seconds, trace, tag, started):
    work = os.path.join(STATE, "work", tag)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    spans = os.path.join(STATE, "spans", tag + ".raw.jsonl")
    m = machine()
    spark_home = os.environ.get("SPARK_HOME", "")
    cp = JAR + os.pathsep + os.path.join(spark_home, "jars", "*")
    # a fixed, pre-touched heap, as Spark gives its executors: peak RSS then
    # moves with the program's native and off-heap memory, not with when
    # the collector chose to grow the heap
    cmd = ["java", f"-Xms{m['heap_mb']}m", f"-Xmx{m['heap_mb']}m", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, data, os.path.join(work, "out"),
            str(seconds), str(trace), str(metrics.TAIL[workload][1]), result, spans]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(m["cores"]))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"{workload}: the program did not finish in time")
    try:
        if proc.returncode != 0 or not os.path.exists(result):
            sys.stderr.write(out[-6000:])
            raise SystemExit(f"{workload}: the program exited with {proc.returncode}")
        with open(result) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["machine"] = m
    return rec, spans


def one(workload, seed, seconds, trace, spec):
    head = git_head()
    src = build()
    # the time limit of a run starts after a build, which only a first run makes
    started = time.time()
    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    for d in ("work", "spans", "runs"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    t0 = time.time()
    data = gen.ensure(workload, seed, cache)
    gen_s = time.time() - t0
    prune_cache(cache)
    tag = f"{time.strftime('%Y%m%dT%H%M%S')}-{workload}-s{seed}-t{trace}-{os.getpid()}"
    rec, raw_spans = run_jvm(workload, data, seconds, trace, tag, started)

    e2e = metrics.end_to_end(rec, workload)
    layer = None
    if trace:
        with open(raw_spans) as f:
            spans = [json.loads(line) for line in f]
        os.remove(raw_spans)
        selfs = metrics.self_times(spans)
        with open(os.path.join(STATE, "spans", tag + ".jsonl"), "w") as f:
            for s in spans:
                s["self_ms"] = selfs[s["id"]]
                f.write(json.dumps(s) + "\n")
        stages = [m["name"][len("pipeline."):-len("_s")] for m in spec["per_layer"]
                  if m["name"].startswith("pipeline.") and m["name"].endswith("_s")]
        layer = metrics.per_layer(rec, spans, stages)

    reads = len(rec["samples"].get("read", []))
    tail = metrics.TAIL[workload][0]
    if metrics.samples_beyond(reads, tail) < 10:
        log(f"{workload}: only {reads} reads; fewer than 10 lie beyond the p{tail:g} of read_tail_ms")
    correct = rec["failed"] == 0
    for f in rec["failures"]:
        log(f"{workload}: FAILED {f}")

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = layer if trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"{workload}: no value for {missing}")
    out = {"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}}
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "git_head": head, "source_sha256": src, "generate_s": gen_s,
              "machine": rec["machine"], "jvm_cores": rec["cores"],
              "jvm_max_heap_mb": rec["max_heap_mb"], "spark_version": rec["spark_version"],
              "timing": {k: rec[k] for k in ("session_ready_s", "setup_s", "window_s", "gc_s")},
              "end_to_end": e2e, "per_layer": layer, "result": out,
              "failures": rec["failures"], "values": rec["values"],
              "samples": rec["samples"]}
    with open(os.path.join(STATE, "runs", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(out), flush=True)
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("the program's sources (src/main/scala/graft) are not here: "
                         "run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    todo = names if a.workload == "all" else [a.workload]
    unknown = [w for w in todo if w not in names]
    if unknown:
        raise SystemExit(f"unknown workload {unknown[0]}; one of {names} or all")
    ok = True
    for w in todo:
        ok = one(w, a.seed, seconds, a.trace, spec) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
