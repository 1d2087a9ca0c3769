#!/usr/bin/env python3
"""The engine's benchmark.

    python3 perfbench/run.py --workload riff_bridge --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # both workloads, in turn

Builds the engine and the bench (sbt, offline) on first use, generates the
workload's inputs from the seed, runs the workload in its own JVM on
local[nproc], checks the outputs, and prints each metric by name with its
unit. The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics, or with
`--trace 1` the per-layer metrics of a traced run. Exits non-zero when an
output check fails. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
SETUP_REPS = 5

# riff_bridge: open-loop offered rate, about a quarter of the drain rate on
# 4 cores (at half, latency swung with the host's load); closed-loop drain
# size (20 whole batches, so no short tail batch enters the median) and
# batch; the open loop runs for --seconds
BRIDGE_RATE = 1200
BRIDGE_DRAIN_RECORDS = 30000
BRIDGE_DRAIN_BATCH = 1500
BRIDGE_WARM_RECORDS = 1000
# corpus_cycle: corpus size and the streamed CRUD batches; one amendment
# and one retraction batch per CRUD_SECONDS of --seconds, two ids of each
# amendment class in a batch
CORPUS_DOCS = 1000
CRUD_SECONDS = 5
CRUD_BATCH_IDS = 8

WORKLOADS = ("riff_bridge", "corpus_cycle")

# the end-to-end metrics; units and how each workload defines them
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

PER_LAYER = [
    "serde.decode_ns_per_record", "serde.encode_ns_per_record",
    "functions.uppercase_ns_per_record",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "eos_sink.write_ms",
    "bridge.generator_lag_s", "bridge.backlog_end_records", "bridge.local1_records_per_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.task_deser_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s", "spark.spill_bytes", "spark.job_busy_share",
    "catalyst.plan_ms", "catalyst.exchanges_per_query", "sql.files_written",
    "sql.bytes_written",
    "corpus.stage.quality_s", "corpus.stage.exact_dedup_s", "corpus.stage.near_dup_s",
    "corpus.stage.decontam_s", "corpus.stage.finish_s",
    "api.session_build_s", "functions.register_ms", "sources.artifact_build_s",
    "sources.tmp_bytes_left", "sources.cached_blocks_left", "trace.overhead_s",
]
UNITS = {"_ns_per_record": "ns", "_ms": "ms", "_s": "s", "_per_s": "1/s",
         "_bytes": "bytes", "_share": "ratio", "_per_query": "count", "_left": "count",
         "_records": "count"}


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# --- build -----------------------------------------------------------------

def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the bench with sbt (offline) unless the
    sources are unchanged since the last build; returns the classpath."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos) and "sbt.repository.config" not in opts:
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(WORK, exist_ok=True)
    log("building engine and bench (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(os.path.join(WORK, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    with open(CLASSPATH) as c:
        return c.read().strip()


# --- inputs ----------------------------------------------------------------

def write_probe_frames(inputs, seed):
    texts = gen.corpus(seed, 500)["text"]
    gen.write_frames(os.path.join(inputs, "probe.bin"),
                     gen.riff_frames(seed, 3_000_000_000, 2000, 0, texts))


def make_inputs(workload, seed, seconds, inputs):
    os.makedirs(inputs)
    write_probe_frames(inputs, seed)
    params = {}
    if workload == "riff_bridge":
        texts = gen.corpus(seed, 2000)["text"]
        n_open = BRIDGE_RATE * seconds
        frames = {"warm": gen.riff_frames(seed, 1_000_000_000, BRIDGE_WARM_RECORDS, 0, texts),
                  "open": gen.riff_frames(seed, 0, n_open, 10**9 // BRIDGE_RATE, texts),
                  "drain": gen.riff_frames(seed, n_open, BRIDGE_DRAIN_RECORDS, 0, texts)}
        for name, fr in frames.items():
            gen.write_frames(os.path.join(inputs, f"{name}.bin"), fr)
        params["drain_batch"] = BRIDGE_DRAIN_BATCH
    else:
        docs = gen.corpus(seed, CORPUS_DOCS)
        os.makedirs(os.path.join(inputs, "corpus"))
        gen.write_corpus(os.path.join(inputs, "corpus", "documents.parquet"), docs)
        crud = gen.crud_batches(seed, docs, max(1, seconds // CRUD_SECONDS), CRUD_BATCH_IDS)
        gen.write_amendments(os.path.join(inputs, "amendments.parquet"), crud["amendments"])
        with open(os.path.join(inputs, "crud_batches.txt"), "w") as f:
            for kind in ("amend", "retract"):
                for b in crud[f"{kind}_batches"]:
                    f.write(" ".join([kind] + [str(i) for i in b]) + "\n")
        # the corpus each stream leaves behind, for the from-scratch oracle
        for kind in ("amend", "retract"):
            os.makedirs(os.path.join(inputs, f"world_{kind}"))
            gen.write_corpus(os.path.join(inputs, f"world_{kind}", "documents.parquet"),
                             gen.apply_crud(docs, crud, kind))
    return params


# --- one workload ----------------------------------------------------------

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classpath, wdir, args, budget_s):
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", *JAVA_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(wdir, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(wdir, "index"))
    with open(os.path.join(wdir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(wdir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"bench JVM failed ({rc})")


def end_to_end(workload, r):
    """The four end-to-end metrics from the JVM's raw measurements, plus
    the workload-specific figures they come from (printed by name). A
    metric whose phase failed is left out; the failure is in `failed`."""
    m = {"setup_s": statistics.median(r["setup_s"])}
    extra = {}
    if workload == "riff_bridge":
        if r["drain_batch_s"]:
            m["throughput_per_s"] = r["drain_batch_records"] / statistics.median(r["drain_batch_s"])
            extra["bridge.records_per_s"] = (m["throughput_per_s"], "1/s")
        # a record that never committed is a failed check, not a latency
        done = [i for i, c in enumerate(r["open_commit_s"]) if c is not None]
        if done:
            lat = stats.open_loop_latency([r["open_due_s"][i] for i in done],
                                          [r["open_sent_s"][i] for i in done],
                                          [r["open_commit_s"][i] for i in done])
            m["latency_p50_s"] = statistics.median(lat)
            m["latency_p90_s"], q = stats.tail(lat, 0.9)
            extra.update({"bridge.latency_p50_s": (m["latency_p50_s"], "s"),
                          f"bridge.latency_p{q * 100:g}_s": (m["latency_p90_s"], "s"),
                          "bridge.latency_samples": (len(lat), "count")})
        extra.update({"bridge.open_loop_batches": (r["open_batches"], "count"),
                      "bridge.generator_lag_max_s":
                          (max(stats.generator_lag(r["open_due_s"], r["open_sent_s"])), "s")})
    else:
        n_docs = CORPUS_DOCS
        n_delta = n_docs - ((n_docs - 1) * 2 // 3 + 1)  # the engine's day-1/day-2 cut
        # throughput is the whole cycle's: day-1 build, chain, day-2 path
        # and the streamed CRUD batches, a span long enough to be steady
        if "cycle_s" in r:
            m["throughput_per_s"] = n_docs / r["cycle_s"]
            extra["corpus.cycle_docs_per_s"] = (m["throughput_per_s"], "1/s")
        if "chain_s" in r:
            extra["corpus.chain_docs_per_s"] = (n_docs / r["chain_s"], "1/s")
        if "daily_s" in r:
            extra["corpus.daily_docs_per_s"] = (n_delta / r["daily_s"], "1/s")
        # CRUD latency is the amendment batch's time (each id waits for its
        # whole batch); the tail rule runs on the batch times themselves
        amend = r["amend_batch_s"]
        if amend:
            m["latency_p50_s"] = statistics.median(amend)
            m["latency_p90_s"], q = stats.tail(amend, 0.9)
            extra.update({"corpus.amend_batch_p50_s": (m["latency_p50_s"], "s"),
                          f"corpus.amend_batch_p{q * 100:g}_s": (m["latency_p90_s"], "s"),
                          "corpus.amend_batches": (len(amend), "count")})
        if r["retract_batch_s"]:
            extra["corpus.retract_batch_p50_s"] = (statistics.median(r["retract_batch_s"]), "s")
    return m, extra


def run_workload(workload, seed, seconds, trace, classpath):
    wdir = os.path.join(WORK, workload)
    shutil.rmtree(wdir, ignore_errors=True)
    inputs = os.path.join(wdir, "inputs")
    t0 = time.time()
    params = make_inputs(workload, seed, seconds, inputs)
    log(f"{workload}: inputs for seed {seed} in {time.time() - t0:.1f} s")
    out = os.path.join(wdir, "result.json")
    args = dict(workload=workload, seed=seed, seconds=seconds, trace=trace,
                cpus=nproc(), inputs=inputs, work=os.path.join(wdir, "work"), out=out,
                setup_reps=SETUP_REPS, **params)
    run_jvm(classpath, wdir, args, budget_s=max(30, 170 - (time.time() - START)))
    with open(out) as f:
        r = json.load(f)
    bad = oracle_check(r.get("oracle", {}))
    failed = r["failed"] + len(bad)
    errors = r["errors"] + [f"{k}: {v}" for k, v in sorted(bad.items())]
    for e in errors[:20]:
        log(f"{workload}: FAILED {e}")
    result = {"correct": not errors, "attempted": r["attempted"], "failed": failed}
    if trace:
        layers = r.get("layers", {})
        result["metrics"] = {k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)}
                             for k in PER_LAYER}
        extra = {}
        with open(os.path.join(WORK, f"spans_{workload}.json"), "w") as f:
            json.dump(r.get("spans", []), f)
    else:
        m, extra = end_to_end(workload, r)
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
    shutil.move(os.path.join(wdir, "jvm.log"), os.path.join(WORK, f"{workload}.log"))
    shutil.move(out, os.path.join(WORK, f"{workload}.result.json"))
    shutil.rmtree(wdir, ignore_errors=True)
    return result, extra


def oracle_check(entries):
    if not entries:
        return {}
    import oracle
    return oracle.check_all(entries)


def print_metrics(workload, result, extra):
    for k, v in result["metrics"].items():
        print(f"{workload} {k} = {v['value']:.6g} {v['unit']}")
    for k, (v, unit) in extra.items():
        print(f"{workload} {k} = {v:.6g} {unit}")
    ratio = result["failed"] / max(1, result["attempted"])
    print(f"{workload} failed_ratio = {ratio:.6g} ratio "
          f"({result['failed']} of {result['attempted']})")


START = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"the engine's sources are not here (missing {', '.join(missing)}); "
            "run from a checkout of the repository")
        return 2
    classpath = build()
    results = {}
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        global START
        START = time.time()
        result, extra = run_workload(w, a.seed, a.seconds, a.trace, classpath)
        print_metrics(w, result, extra)
        results[w] = result
    if a.workload == "all":
        # one object for both: counts summed, metrics named <workload>.<metric>
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{w}.{k}": v for w, r in results.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
