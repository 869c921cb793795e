#!/usr/bin/env python3
"""Relationalize benchmark: one workload, one seed, checked outputs.

    python3 relbench/run.py --workload nested_docs --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Each run:

  1. generates the workload's input from the seed (``gen.py``), with the
     manifest of expected outputs;
  2. starts the measuring JVM, timed from launch to a ready session that
     has run one warm-up job;
  3. in the measuring JVM, times one first job, runs untimed warm-up jobs
     for ``--seconds``, then times a fixed number of jobs
     (``relbench.Harness``);
  4. checks every job's output (``check.py``);
  5. prints a summary, then one JSON line with the end-to-end metrics
     (``--trace 0``) or the per-layer metrics (``--trace 1``).

Build outputs and run directories live under ``.bench_build/relbench``.
Metric definitions and the layer/workload interaction table are in
``relbench/README.md``.
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
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("nested_docs", "drift_stream", "catalog_iterative")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "relbench")
HEAP = "3g"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[relbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for top in tops:
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top) else os.walk(top)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"relbench: program source {need} not found under {ROOT}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building program and harness (sbt)")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), capture_output=True, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "relbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("relbench: build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def jvm(classpath, run_dir, args):
    """Run the harness; return (seconds from launch to ready session, result)."""
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "relbench.Harness", "--work", work, "--result", result]
           + args)
    with open(log_path, "w") as out:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness JVM timed out after {JVM_TIMEOUT_S} s")
        finally:  # also when this process is terminated: leave no JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"harness JVM exited with {code}")
    with open(result) as fh:
        res = json.load(fh)
    res["setup_phases_s"] = {k[:-3]: res.pop(k) / 1000.0 - launched
                             for k in ("jvm_start_ms", "main_ms", "session_ms", "ready_ms")}
    return res["setup_phases_s"]["ready"], res


def dir_bytes(path, pattern=lambda f: True):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if pattern(f))
    return total


def is_data_file(f):
    return f.startswith("part-")


def output_bytes(workload, job_dir):
    """Bytes the job wrote for its user: tables (+ DDL), no checksums."""
    if workload == "catalog_iterative":
        return dir_bytes(os.path.join(job_dir, "results"), is_data_file)
    total = dir_bytes(os.path.join(job_dir, "tables"), is_data_file)
    if workload == "drift_stream":
        # live tables only: the schema store and drift log are bookkeeping
        total -= dir_bytes(os.path.join(job_dir, "tables", "_drift_log"), is_data_file)
    return total + dir_bytes(os.path.join(job_dir, "ddl"))


def check_json_job(workload, job_dir, manifest, facts):
    """Problems of one JSON-workload job, and its facts as the check left them."""
    try:
        if workload == "drift_stream":
            return check.check_stream_job(job_dir, manifest, facts), facts
        return check.check_batch_job(job_dir, manifest, facts), facts
    except Exception as e:  # unreadable output is a failed check
        return [f"check error: {e!r}"], facts


def check_jobs(workload, run_dir, input_path, manifest, jobs, workers):
    """Check every job's output (JSON workloads in parallel, after the JVM
    has exited); annotate each job record in place."""
    out = os.path.join(run_dir, "out")
    job_dir = {j["k"]: os.path.join(out, f"job_{j['k']}") for j in jobs}
    for j in jobs:
        j["out_bytes"] = output_bytes(workload, job_dir[j["k"]])
        j["files"] = sum(1 for _, _, fs in os.walk(os.path.join(job_dir[j["k"]], "tables"))
                         for f in fs if is_data_file(f))
        if "error" in j:
            j["problems"] = [j["error"]]
    todo = [j for j in jobs if "error" not in j]
    if workload == "catalog_iterative":
        oracle = check.CatalogOracle(ROOT, out, input_path, manifest)
        for j in todo:
            j["problems"] = oracle.check(job_dir[j["k"]])
    else:
        with ProcessPoolExecutor(max_workers=workers) as pool:
            done = pool.map(check_json_job, [workload] * len(todo),
                            [job_dir[j["k"]] for j in todo], [manifest] * len(todo),
                            [j.get("facts", {}) for j in todo])
            for j, (problems, facts) in zip(todo, done):
                j["problems"], j["facts"] = problems, facts
    for d in job_dir.values():
        shutil.rmtree(d, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(manifest, setup_s, jobs):
    """End-to-end metrics over the timed, untraced jobs that passed their check."""
    timed = [j for j in jobs if j["phase"] == "timed" and not j["traced"] and not j["problems"]]
    job_s = median([j["wall_s"] for j in timed])
    attempted = len(jobs)
    failed = sum(1 for j in jobs if j["problems"])
    return {
        "setup_s": (setup_s, "s"),
        "first_job_s": (jobs[0]["wall_s"], "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (manifest["docs"] / job_s if job_s else 0.0, "docs/s"),
        "out_bytes_per_in_byte": (median([j["out_bytes"] / manifest["input_bytes"] for j in timed]), "ratio"),
        "peak_storage_mb": (median([j["peak_storage_mb"] for j in timed]), "MB"),
    }, {"failed_ratio": (failed / attempted, "ratio")}


def per_layer(workload, manifest, result, jobs, spans):
    """Per-layer metrics: medians over the traced jobs of per-job sums."""
    cores = result["cores"]
    traced = [j for j in jobs if j["phase"] == "timed" and j["traced"]]
    untraced = [j for j in jobs if j["phase"] == "timed" and not j["traced"]]
    by_job = {j["k"]: [s for s in spans if s["job"] == j["k"]] for j in traced}

    def spans_named(k, name):
        return [s for s in by_job[k] if s["name"] == name]

    def med(fn):
        return median([fn(j) for j in traced])

    def wall(name):
        return med(lambda j: sum(s["wall_s"] for s in spans_named(j["k"], name)))

    def eng(name, field):
        return med(lambda j: sum(s["engine"][field] for s in spans_named(j["k"], name)))

    def util(name):
        def one(j):
            ss = spans_named(j["k"], name)
            w = sum(s["wall_s"] for s in ss)
            return sum(s["engine"]["task_run_s"] for s in ss) / (w * cores) if w else 0.0
        return med(one)

    def root(field):
        return med(lambda j: spans_named(j["k"], "job")[0]["engine"][field])

    m = {}
    kernel = result.get("kernel", {})
    for name, unit in (("kernel.docs_per_s", "docs/s"), ("kernel.observe_rows_per_s", "rows/s"),
                       ("kernel.write_rows_per_s", "rows/s"), ("kernel.rows_per_doc", "count")):
        m[name] = (kernel.get(name, 0.0), unit)
    m["rel.apply_s"] = (wall("rel.apply"), "s")
    m["rel.apply_tasks"] = (eng("rel.apply", "tasks"), "count")
    m["rel.apply_core_util"] = (util("rel.apply"), "ratio")
    m["rel.emit_rows"] = (eng("sinks.write", "records_written"), "count")
    m["rel.emit_cached_mb"] = (eng("rel.apply", "stored_mb"), "MB")
    m["rel.tables"] = (med(lambda j: len(spans_named(j["k"], "rel.pass2"))), "count")
    m["rel.pass2_s"] = (wall("rel.pass2"), "s")
    m["rel.pass2_jobs"] = (eng("rel.pass2", "jobs"), "count")
    m["rel.joinback_s"] = (wall("rel.joinback"), "s")
    m["sources.scan_s"] = (wall("sources.scan"), "s")
    m["sinks.write_s"] = (wall("sinks.write"), "s")
    m["sinks.files"] = (med(lambda j: j["files"]) if workload == "nested_docs" else 0.0, "count")
    m["sinks.out_mb"] = (eng("sinks.write", "written_mb"), "MB")

    stream = workload == "drift_stream"

    def batches(j):
        return j.get("facts", {}).get("batches", [])

    def migrate_s(j):
        return median([b["s"] for b in batches(j) if b["batch"] in manifest.get("migration_batches", [])])

    m["stream.batches"] = (med(lambda j: len(batches(j))), "count")
    m["stream.batch_s_p50"] = (med(lambda j: median([b["s"] for b in batches(j)])), "s")
    m["stream.batch_s_max"] = (med(lambda j: max([b["s"] for b in batches(j)], default=0.0)), "s")
    m["stream.migrate_batch_s"] = (med(migrate_s) if stream else 0.0, "s")
    m["stream.bytes_written_per_out_byte"] = (
        med(lambda j: spans_named(j["k"], "job")[0]["engine"]["written_mb"] * 1024 * 1024 / j["out_bytes"])
        if stream else 0.0, "ratio")
    m["stream.drift_rows"] = (med(lambda j: j.get("facts", {}).get("drift_rows", 0)), "count")

    m["ops.q_kcore_s"] = (wall("ops.q_kcore"), "s")
    m["ops.jobs"] = (med(lambda j: sum(s["engine"]["jobs"] for s in by_job[j["k"]]
                                       if s["name"].startswith("ops."))), "count")

    m["spark.jobs"] = (root("jobs"), "count")
    m["spark.tasks"] = (root("tasks"), "count")
    m["spark.task_cpu_s"] = (root("task_cpu_s"), "s")
    m["spark.gc_s"] = (root("gc_s"), "s")
    m["spark.shuffle_mb"] = (root("shuffle_mb"), "MB")
    m["spark.spill_mb"] = (root("spill_mb"), "MB")
    m["spark.max_task_skew"] = (root("max_task_skew"), "ratio")
    m["spark.core_util"] = (util("job"), "ratio")
    m["spark.driver_gap_s"] = (root("driver_gap_s"), "s")
    m["trace.overhead_s"] = (median([j["wall_s"] for j in traced]) - median([j["wall_s"] for j in untraced]), "s")
    return m


def add_self_time(spans):
    """A span's self time: its wall time minus its children's."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    for s in spans:
        s["self_s"] = s["wall_s"] - child.get(s["id"], 0.0)


def cpu_times():
    """(total, idle + iowait, steal) CPU ticks since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[3] + fields[4], fields[7]


def load_report():
    """/proc/loadavg at the start, and the share of all CPUs busy over the
    next half second, before the run starts anything. The load average
    still carries the previous run, so the busy share decides whether the
    run started under external load."""
    with open("/proc/loadavg") as fh:
        loadavg = fh.read().strip()
    total0, idle0, _ = cpu_times()
    time.sleep(0.5)
    total1, idle1, _ = cpu_times()
    busy = 1.0 - (idle1 - idle0) / max(1, total1 - total0)
    return {"loadavg": loadavg, "busy_share": round(busy, 3), "external_load": busy > 0.25}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    load = load_report()
    if load["external_load"]:
        log(f"WARNING: run started under external load ({load})")
    classpath = build()
    # one CPU stays free for the driver thread, the JIT and the GC
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    input_path, manifest = gen.generate(a.workload, a.seed, run_dir)
    log(f"generated {manifest['docs']} docs / {manifest['input_bytes']} bytes in {time.time() - t0:.1f} s")
    with open(os.path.join(run_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)

    out = os.path.join(run_dir, "out")
    cpu0 = cpu_times()
    setup_s, result = jvm(classpath, run_dir, [
        "--cores", str(cores), "--workload", a.workload,
        "--input", input_path, "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace)])
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests while the JVM ran: a slow
    # run with a high share was slowed from outside
    load["steal_share"] = round((cpu1[2] - cpu0[2]) / max(1, cpu1[0] - cpu0[0]), 4)
    jobs = result["jobs"]
    check_jobs(a.workload, run_dir, input_path, manifest, jobs, cores)

    e2e, extra = end_to_end(manifest, setup_s, jobs)
    if a.trace:
        spans_path = os.path.join(out, "spans.json")
        with open(spans_path) as fh:
            spans = json.load(fh)
        add_self_time(spans)
        with open(spans_path, "w") as fh:
            json.dump(spans, fh)
        metrics = per_layer(a.workload, manifest, result, jobs, spans)
    else:
        metrics = e2e
    attempted = len(jobs)
    failed = sum(1 for j in jobs if j["problems"])

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cores": cores, "heap": HEAP, **load,
              "input_bytes": manifest["input_bytes"], "docs": manifest["docs"],
              "setup_phases_s": result["setup_phases_s"],
              "metrics": {**e2e, **extra, **metrics},
              "jobs": [{k: v for k, v in j.items() if k != "facts"} for j in jobs]}
    with open(os.path.join(run_dir, "run.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    for j in jobs:
        for p in j["problems"][:5]:
            log(f"job {j['k']}: {p}")
    print(f"relbench {a.workload} seed={a.seed} cores={cores} docs={manifest['docs']} "
          f"input_bytes={manifest['input_bytes']} jobs={attempted} failed={failed}"
          + (" EXTERNAL-LOAD" if load["external_load"] else ""))
    for name, (value, unit) in {**e2e, **extra}.items() if not a.trace else metrics.items():
        print(f"  {name:36s} {value:14.6g} {unit}")
    print(f"  run record: {os.path.relpath(os.path.join(run_dir, 'run.json'), ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
