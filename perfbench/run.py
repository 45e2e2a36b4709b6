#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library and the benchmark from
source on first use (sbt, into .bench_build/), reads the sf0.1 test
tables from perfbench/data/sf0.1 (checked against its SHA256SUMS), makes
the seeded inputs (key order, ingest batches, request stream), runs the
workload in one JVM with local[nproc] and one
client thread, checks every output, and prints the metrics by name with
their units. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The full record (host
state, every failure message, spans of a traced run) is written under
.bench_build/records/. See perfbench/README.md.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 175

DATA = os.path.join(HERE, "data", "sf0.1")
# workload -> (set-up repetitions, ingest batches to generate); the
# sweep's set-up is a fraction of a second, so it is repeated more often
WORKLOADS = {"sweep_sf0.1": (7, 0), "ingest": (3, 16), "alert_api": (3, 0)}
TIMED_KINDS = ("key", "cycle", "read", "write")

E2E = [("setup_s", "s"), ("kind_geomean_s", "s"), ("ops_per_s", "1/s"),
       ("peak_rss_mb", "MB")]
FAMILIES = ["bm", "q", "ts", "ad", "al", "st", "dd", "sim", "tx", "mm", "ds"]
KERNELS = ["float_dot", "long_array_match_count", "sorted_intersect_count",
           "simhash_bits", "embedding_lsh_buckets", "word_ngrams",
           "quantized_dot14"]
PER_LAYER = (
    [("operators.build_s", "s"), ("operators.build_jobs", "count"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("driver.gap_s", "s"),
     ("exec.job_s", "s"), ("exec.job_share", "ratio"),
     ("exec.executor_cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.failed_tasks", "count"),
     ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
     ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mem_bytes", "bytes"),
     ("sources.read_bytes", "bytes"), ("sources.read_rows", "rows"),
     ("sources.files_read", "count"),
     ("codegen.compiles", "count"), ("codegen.compile_s", "s")]
    + [(f"kernels.{k}_rows_per_s", "rows/s") for k in KERNELS]
    + [(f"family.{f}_s", "s") for f in FAMILIES]
    + [("ingest.open_s", "s"), ("ingest.probe_s", "s"),
       ("ingest.flag_write_s", "s"), ("ingest.append_s", "s"),
       ("ingest.index_rows", "rows"), ("ingest.index_files", "count"),
       ("ingest.flagged_frac", "ratio"),
       ("alert_store.append_s", "s"), ("alert_store.clear_s", "s"),
       ("alert_store.lake_files", "count"),
       ("plans.files_read_frac", "ratio"), ("plans.partitions_read", "count"),
       ("trace.overhead_frac", "ratio")])


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_data():
    """The sf0.1 tables must be the committed copies, byte for byte."""
    sums = os.path.join(DATA, "SHA256SUMS")
    if not os.path.isfile(sums):
        fail(f"input tables not found under {DATA}")
    for line in open(sums):
        want, name = line.split()
        path = os.path.join(DATA, name)
        if not os.path.isfile(path):
            fail(f"input table {name} missing")
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                fail(f"input table {name} differs from its SHA256SUMS entry")


def fingerprint() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env() -> dict:
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source fingerprint. Returns the runtime classpath and
    the JVM class-data-sharing archive made for it."""
    fp = fingerprint()
    cp_file = os.path.join(BUILD, f"classpath-{fp}.txt")
    jsa = os.path.join(BUILD, f"classes-{fp}.jsa")
    if os.path.exists(cp_file) and os.path.exists(jsa):
        return open(cp_file).read().strip(), jsa
    os.makedirs(BUILD, exist_ok=True)
    for stale in glob.glob(os.path.join(BUILD, "classpath-*.txt")) + \
            glob.glob(os.path.join(BUILD, "classes-*.jsa")):
        os.remove(stale)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "perfbench-target" in ln and ln.startswith("/")]
    if r.returncode != 0 or not cp:
        fail(f"build failed (exit {r.returncode}); see {log}", 3)
    # Spark start-up is dominated by loading and verifying a few thousand
    # classes; a class-data-sharing archive recorded from one session
    # start-up halves it for every later run
    train = os.path.join(BUILD, "cds-train")
    try:
        run_jvm(cp[-1], None, ["startup"], train, time.time() + 300,
                [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(jsa):
        fail("class-data-sharing archive was not written", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1], jsa


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(cp, jsa, args, run_dir, deadline, extra=()) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={jsa}"] if jsa else []
    # a fixed heap and young generation: with G1's adaptive sizing the
    # peak resident set wandered by ~20% between identical runs
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m"] + cds + list(extra) + [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("workload run exceeded its time limit", 4)
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = "\n".join(open(log).read().splitlines()[-25:])
        fail(f"workload JVM exited {code}:\n{tail}", 5)


def median(xs):
    """Nearest-rank median, the same rule as the tail percentiles."""
    return stats.percentile(xs, 50.0) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def e2e_metrics(raw, timed):
    secs = [o["secs"] for o in timed]
    by_name = {}
    for o in timed:
        by_name.setdefault(o["name"], []).append(o["secs"])
    tail_v, tail_p, beyond = stats.tail(secs)
    m = {
        "setup_s": median(raw["setup_reps_s"]),
        # kinds with under half the samples of the most frequent kind (the
        # writes of alert_api, one or two a run) are left out: too few for a
        # steady median; they still count in op_p50_s and ops_per_s
        "kind_geomean_s": stats.geomean(
            median(v) for v in by_name.values()
            if 2 * len(v) >= max(map(len, by_name.values()))),
        "ops_per_s": len(secs) / sum(secs),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    # the median and the tail are recorded, not gated: the median of a
    # mix of keys jumps between neighbouring keys, and at one run's sample
    # count the tail is the median on every workload (see README.md)
    notes = {"op_p50_s": median(secs), "op_tail_s": tail_v, "op_tail_percentile": tail_p,
             "op_tail_samples_beyond": beyond, "op_samples": len(secs)}
    return m, notes


def named_metrics(workload, raw, timed):
    """The workload's own end-to-end metrics under their descriptive names."""
    out = []
    if workload == "sweep_sf0.1":
        passes = {}
        for o in timed:
            passes.setdefault(o["pass"], []).append(o["secs"])
        keys = {}
        for o in timed:
            keys.setdefault(o["name"], []).append(o["secs"])
        # a traced run's untraced half holds no full pass
        full = [sum(v) for v in passes.values() if len(v) == len(keys)]
        out += [("sweep_s", median(full), "s")] if full else []
        out += [("key_geomean_s", stats.geomean(median(v) for v in keys.values()), "s")]
    elif workload == "ingest":
        secs = [o["secs"] for o in timed]
        docs = sum(o["attrs"].get("docs", 0.0) for o in timed)
        t, p, b = stats.tail(secs)
        out += [("ingest_docs_per_s", docs / sum(secs), "docs/s"),
                ("ingest_batch_p50_s", median(secs), "s"),
                (f"ingest_batch_tail_s[p{p:g},{b} beyond]", t, "s")]
    else:
        reads = [o["secs"] for o in timed if o["kind"] == "read"]
        writes = [o["secs"] for o in timed if o["kind"] == "write"]
        t, p, b = stats.tail(reads)
        out += [("api_read_p50_s", median(reads), "s"),
                (f"api_read_tail_s[p{p:g},{b} beyond]", t, "s"),
                ("api_write_p50_s", median(writes), "s"),
                ("api_ops_per_s", len(timed) / sum(o["secs"] for o in timed), "ops/s")]
    return out


def layer_metrics(workload, raw, timed):
    traced = [o for o in timed if o["traced"] and o["ok"]]
    plain = [o for o in timed if not o["traced"] and o["ok"]]
    L = lambda k: [o["layers"].get(k, 0.0) for o in traced]  # noqa: E731
    m = {name: 0.0 for name, _ in PER_LAYER}
    simple = {"operators.build_s": "build_s", "operators.build_jobs": "build_jobs",
              "catalyst.analysis_s": "analysis_s",
              "catalyst.optimization_s": "optimization_s",
              "catalyst.planning_s": "planning_s", "exec.jobs": "jobs",
              "exec.stages": "stages", "exec.tasks": "tasks",
              "driver.gap_s": "gap_s", "exec.job_s": "job_s",
              "exec.executor_cpu_s": "executor_cpu_s", "exec.gc_s": "gc_s",
              "exec.shuffle_write_bytes": "shuffle_write_bytes",
              "exec.shuffle_read_bytes": "shuffle_read_bytes",
              "exec.spill_bytes": "spill_bytes",
              "sources.read_bytes": "read_bytes", "sources.read_rows": "read_rows",
              "sources.files_read": "files_read"}
    for name, key in simple.items():
        m[name] = mean(L(key))
    m["exec.failed_tasks"] = sum(L("failed_tasks"))
    m["exec.peak_exec_mem_bytes"] = max(L("peak_exec_mem_bytes"), default=0.0)
    wall = sum(L("wall_s"))
    m["exec.job_share"] = sum(L("job_s")) / wall if wall else 0.0
    m["codegen.compiles"] = sum(o["attrs"]["compiles"] for o in timed)
    m["codegen.compile_s"] = sum(o["attrs"]["compile_s"] for o in timed)
    extra = raw["extra"]
    for k, v in extra.get("kernels_rows_per_s", {}).items():
        m[f"kernels.{k}_rows_per_s"] = v
    if workload == "sweep_sf0.1":
        per_key = {}
        for o in traced:
            per_key.setdefault(o["name"], []).append(o["secs"])
        for k, v in per_key.items():
            fam = k.split("_")[0]
            m[f"family.{fam}_s"] += median(v)
    if workload == "ingest":
        for part in ("open", "probe", "flag_write", "append"):
            m[f"ingest.{part}_s"] = median(L(f"span.ingest.{part}"))
        m["ingest.index_rows"] = float(extra.get("index_rows", 0))
        m["ingest.index_files"] = float(extra.get("index_files", 0))
        docs = sum(o["attrs"].get("docs", 0.0) for o in timed)
        m["ingest.flagged_frac"] = (
            sum(o["attrs"].get("flagged", 0.0) for o in timed) / docs if docs else 0.0)
    if workload == "alert_api":
        m["alert_store.append_s"] = median([o["secs"] for o in timed if o["name"] == "append"])
        m["alert_store.clear_s"] = median([o["secs"] for o in timed if o["name"] == "clear"])
        m["alert_store.lake_files"] = float(extra.get("lake_files", 0))
        reads = [o for o in traced if o["kind"] == "read" and o["attrs"].get("lake_files")]
        m["plans.files_read_frac"] = mean(
            [o["layers"].get("files_read", 0.0) / o["attrs"]["lake_files"] for o in reads])
        m["plans.partitions_read"] = mean([o["layers"].get("partitions_read", 0.0) for o in reads])
    # tracing overhead: per operation name, traced over untraced median
    ratios = []
    for name in {o["name"] for o in traced}:
        t = [o["secs"] for o in traced if o["name"] == name]
        u = [o["secs"] for o in plain if o["name"] == name]
        if t and u:
            ratios.append(median(t) / median(u))
    m["trace.overhead_frac"] = stats.geomean(ratios) - 1.0 if ratios else 0.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a terminated run unwinds through the finally blocks, which stop the
    # JVM and remove the run's scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "SparkEntry.scala")):
        fail(f"library sources not found under {LIB_SRC}: run from the root "
             "of a graft checkout")

    check_data()
    cp, jsa = build()
    deadline = time.time() + DEADLINE_S

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, out = (os.path.join(run_dir, d) for d in ("work", "out"))
    try:
        reps, batches = WORKLOADS[a.workload]
        t0 = time.time()
        if batches:
            import gen  # deferred: numpy/pyarrow load only when there is work
            gen.write_batches(a.seed, DATA, work, batches)
        gen_s = time.time() - t0
        run_jvm(cp, jsa, [a.workload, DATA, work, out, str(a.seed), str(a.seconds),
                     str(a.trace), str(reps)], run_dir, deadline)
        raw = json.load(open(os.path.join(out, "raw.json")))
        ops = raw["ops"]
        oracle_bad = {}
        if a.workload == "sweep_sf0.1":
            import oracle
            verified = [o["name"] for o in ops if o["kind"] == "verify" and o["ok"]]
            res = oracle.check(DATA, os.path.join(out, "verify"),
                               os.path.join(out, "oracle_sql.json"), verified)
            oracle_bad = {k: v for k, v in res.items() if v is not None}
        attempted, failed, failed_frac = stats.failure_counts(ops, oracle_bad)
        timed = [o for o in ops if o["kind"] in TIMED_KINDS]
        ok_untraced = [o for o in timed if o["ok"] and not o["traced"]]
        if not ok_untraced:
            fail("no operation completed", 6)
        e2e, notes = e2e_metrics(raw, ok_untraced)
        # set-up as a caller sees it: JVM start to the first timed
        # operation (session start, noise probes, set-ups, warm-up), after
        # generate_s of input generation; recorded, not gated (one a run)
        named = [("first_timed_op_s", min(o["at"] for o in timed), "s")] + \
            named_metrics(a.workload, raw, ok_untraced)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "generate_s": gen_s,
            "session_start_s": raw["session_start_s"],
            "setup_reps_s": raw["setup_reps_s"], "warmup_s": raw["warmup_s"],
            "host": raw["host"], "codegen": raw["codegen"],
            "attempted": attempted, "failed": failed, "failed_frac": failed_frac,
            "failures": [{"kind": o["kind"], "name": o["name"], "err": o["err"]}
                         for o in ops if not o["ok"]]
                        + [{"kind": "oracle", "name": k, "err": v}
                           for k, v in sorted(oracle_bad.items())],
            "end_to_end": e2e, "end_to_end_notes": notes,
            "named": {n: v for n, v, _ in named},
            "extra": raw["extra"],
            "ops": ops,
        }
        units = dict(E2E)
        for name, _ in E2E:
            print(f"{name} = {e2e[name]:.6g} {units[name]}")
        for name, v, unit in named:
            print(f"{name} = {v:.6g} {unit}")
        print(f"failed_frac = {failed_frac:.6g} ratio ({failed} of {attempted})")
        for f in record["failures"][:10]:
            print(f"FAILED {f['kind']} {f['name']}: {f['err']}")
        h = raw["host"]
        print(f"host: nproc={h['nproc']} loadavg={h['loadavg_start']}->"
              f"{h['loadavg_end']} cpu_probe_s={[round(x, 3) for x in h['cpu_probe_s']]} "
              f"shuffle_probe_s={[round(x, 3) for x in h['shuffle_probe_s']]}")
        if a.trace:
            layers = layer_metrics(a.workload, raw, timed)
            record["per_layer"] = layers
            for name, unit in PER_LAYER:
                print(f"{name} = {layers[name]:.6g} {unit}")
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
        rec_dir = os.path.join(BUILD, "records")
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        spans = os.path.join(out, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(rec_dir, f"{tag}.spans.jsonl"))
        print(f"record: {os.path.relpath(os.path.join(rec_dir, tag + '.json'), ROOT)}"
              f" ({time.time() - t_start:.1f} s)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
