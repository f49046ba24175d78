#!/usr/bin/env python3
"""graftbench: the engine's closed-loop benchmark.

    python3 graftbench/run.py --workload mart_read --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt and records a class-data-sharing archive (both cached
by a hash of the sources); every run then
generates the workload's inputs from the seed, starts one JVM with
`local[k]` Spark (k = min(4, cores) - 1), runs the workload for --seconds in
a closed loop with one client thread, checks the outputs, and prints one
JSON object as the last line of stdout.

--trace 0 prints the end-to-end metrics (tracing off). --trace 1 traces
every other op of each op group, prints the per-layer metrics, and
writes the spans and a per-layer table under graftbench/target/trace/.
See graftbench/README.md.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("mart_read", "cdc_load", "corpus_dedup")
MART_SF = 0.01          # star-schema scale factor for mart_read
JVM_HEAP = "3g"
RUN_LIMIT_S = 160       # a run must end within 180 s
# local[k]: one core stays free for the driver thread, GC and the JIT
# compilers, which the closed loop waits on between jobs
CPUS = max(1, min(4, os.cpu_count() or 1) - 1)

# (name, unit) — must match BENCHMARK.json; selftest.py checks it
END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
    ("op_p90_s", "s"), ("live_heap_mb", "MB"),
]
LAYER_SPANS = [
    "queries.build", "planning.analysis", "planning.optimization",
    "planning.planning", "exec.materialize", "cdc.state",
    "cdc.latest_per_key", "mor.merge", "deltaops.merge", "txtable.compact",
    "txtable.read", "dedup.side", "dedup.pairs", "components.fold",
    "harness.store",
]
PER_LAYER = [(f"{s}_s", "s") for s in LAYER_SPANS] + [
    ("other_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.driver_gap_s", "s"), ("spark.task_skew", "ratio"),
    ("txtable.compact_bytes_rewritten", "bytes"),
    ("txtable.bytes_written_per_change_row", "bytes"),
    ("txtable.files_live", "count"), ("txtable.dv_files_live", "count"),
    ("read.files_scanned_ratio", "ratio"),
    ("plans.minhash_ns_per_row", "ns"), ("dedup.candidates", "count"),
    ("dedup.candidate_yield", "ratio"), ("dedup.planted_recall", "ratio"),
    ("components.labels_changed", "count"),
    ("cache.persisted_rdds_after_release", "count"),
    ("cache.tracked_after_release", "count"),
    ("host.cpu_calib_s", "s"), ("host.spark_calib_s", "s"),
    ("trace.overhead", "ratio"),
    # end-to-end figures of one workload only, or not steady enough
    # to gate (see README.md)
    ("read_p50_s", "s"), ("read_p90_s", "s"), ("rows_per_s", "1/s"),
    ("space_amp", "ratio"), ("ops_failed_ratio", "ratio"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- build

def _source_hash():
    h = hashlib.sha256()
    for base in ("src/main", "project", "graftbench/src", "graftbench/project"):
        top = os.path.join(ROOT, base)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", "graftbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _jar_dirs(entries, d):
    """The classpath with each class directory packed into a jar under
    `d`: a class-data-sharing archive only accepts jars."""
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(d, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for top, dirs, files in os.walk(e):
                    dirs.sort()
                    for f in sorted(files):
                        full = os.path.join(top, f)
                        z.write(full, os.path.relpath(full, e))
            e = jar
        out.append(e)
    return os.pathsep.join(out)


def train_archive(cp, d):
    """Write the JVM's class-data-sharing archive: one short cdc_load run
    over small inputs records the classes it loads. Every later JVM maps
    them instead of loading and verifying them again, which takes
    seconds off each run's JVM start and first Spark jobs."""
    archive = os.path.join(d, "app.jsa")
    run_dir = os.path.join(d, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen.cdc_inputs(0, f"{run_dir}/in", rows=2_000, hot=200, batches=12, batch_rows=50)
        log("recording the class-data-sharing archive")
        run_jvm(cp, [f"-XX:ArchiveClassesAtExit={archive}"], "cdc_load", 0, 1, False,
                f"{run_dir}/in", run_dir, time.time() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(archive):
        raise SystemExit("class-data-sharing archive was not written")
    return archive


def build():
    """Compile engine + benchmark once per source state and record the
    class-data-sharing archive; return the runtime classpath and the
    archive."""
    cache = os.path.join(HERE, "target", "classpath.json")
    key = _source_hash()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("key") == key and os.path.exists(c.get("archive", "")):
            return c["classpath"], c["archive"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export graftbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    d = os.path.join(HERE, "target", "cds")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    cp = _jar_dirs(lines[-1].strip().split(os.pathsep), d)
    archive = train_archive(cp, d)
    with open(cache, "w") as f:
        json.dump({"key": key, "classpath": cp, "archive": archive}, f)
    return cp, archive


# ------------------------------------------------------------ inputs

def generate(workload, seed, d):
    if workload == "mart_read":
        gen.star_schema(seed, d, MART_SF)
    elif workload == "cdc_load":
        gen.cdc_inputs(seed, d)
    else:
        gen.corpus_inputs(seed, d)


# ------------------------------------------------------------ JVM run

def run_jvm(cp, flags, workload, seed, seconds, trace, in_dir, run_dir, deadline):
    work, out = f"{run_dir}/work", f"{run_dir}/out"
    os.makedirs(f"{run_dir}/tmp")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cpus = str(CPUS)
    cmd = [java, *flags, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", in_dir, work, out, cpus]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)   # spark.local.dir stays in the run dir
    t_launch = time.time()
    with open(f"{run_dir}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(f"{out}/result.json") as f:
        return json.load(f), t_launch, out


# ----------------------------------------------------------- metrics

def end_to_end(res, gen_s, t_launch, traced_run=False):
    """Every end-to-end figure, from the timed untraced ops. A traced
    run uses every timed op: a one-cycle window traces each op of a
    group that has only one, such as a cdc_load write."""
    timed = [o for o in res["ops"] if o["timed"]]
    plain = timed if traced_run else [o for o in timed if not o["traced"]]
    done = [o for o in plain if o["ok"]]
    walls = [o["wall_s"] for o in done]
    reads = [o["wall_s"] for o in done if o["kind"] == "read"]
    window = res["window_s"]
    share = len(plain) / len(timed) if timed else 1.0   # untraced share of the window
    rows = sum(o["counters"].get("rows", 0) for o in done)
    m = {
        "setup_s": gen_s + res["window_start_ms"] / 1000.0 - t_launch,
        "ops_per_s": len(done) / (window * share),
        "op_p50_s": stats.percentile(walls, 50),
        "op_p90_s": stats.percentile(walls, 90),
        "live_heap_mb": res["live_heap_mb"],
        "read_p50_s": stats.percentile(reads, 50) if reads else 0.0,
        "read_p90_s": stats.percentile(reads, 90) if reads else 0.0,
        "rows_per_s": rows / (window * share),
        "space_amp": res["finish"].get("space_amp", 0.0),
        "ops_failed_ratio": (len(timed) - sum(o["ok"] for o in timed)) / max(1, len(timed)),
    }
    samples = {"op": (len(walls), stats.beyond(walls, 90)),
               "read": (len(reads), stats.beyond(reads, 90) if reads else 0)}
    return m, samples


def per_layer(res, e2e, recall):
    timed = [o for o in res["ops"] if o["timed"]]
    traced = [o for o in timed if o["traced"] and o["ok"]]
    n = max(1, len(traced))
    by_op = {}
    for s in res["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    tot, per_op = {}, []
    for o in traced:
        st = stats.self_times(by_op.get(o["i"], []), o["start_ns"], o["end_ns"])
        per_op.append((o, st))
        for k, v in st.items():
            tot[k] = tot.get(k, 0.0) + v
    m = {f"{s}_s": tot.get(s, 0.0) / n for s in LAYER_SPANS}
    m["other_s"] = tot.get("other", 0.0) / n

    sp = [o["spark"] for o in traced if o.get("spark")]
    for k in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sum(x[k] for x in sp) / n
    gaps = [o["wall_s"] - stats.union_ns(o["spark"]["job_intervals"], o["start_ns"], o["end_ns"]) / 1e9
            for o in traced if o.get("spark")]
    m["spark.driver_gap_s"] = sum(gaps) / n
    skews = [x["task_skew"] for x in sp if x["jobs"] > 0]
    m["spark.task_skew"] = statistics.median(skews) if skews else 0.0

    def counters(key, ops=traced):
        return [o["counters"][key] for o in ops if key in o["counters"]]

    comp = counters("compact_bytes_rewritten")
    m["txtable.compact_bytes_rewritten"] = statistics.mean(comp) if comp else 0.0
    writes = [o for o in traced if "bytes_written" in o["counters"]]
    rows = sum(o["counters"]["rows"] for o in writes)
    m["txtable.bytes_written_per_change_row"] = \
        sum(o["counters"]["bytes_written"] for o in writes) / rows if rows else 0.0
    for k in ("files_live", "dv_files_live"):
        v = counters(k)
        m[f"txtable.{k}"] = statistics.mean(v) if v else 0.0
    v = counters("files_scanned_ratio")
    m["read.files_scanned_ratio"] = statistics.mean(v) if v else 0.0

    m["plans.minhash_ns_per_row"] = res["finish"].get("minhash_ns_per_row", 0.0)
    ok = [o for o in timed if o["ok"]]
    cand, pairs = counters("candidates", ok), counters("pairs", ok)
    m["dedup.candidates"] = statistics.mean(cand) if cand else 0.0
    m["dedup.candidate_yield"] = sum(pairs) / sum(cand) if cand and sum(cand) else 0.0
    m["dedup.planted_recall"] = recall
    lab = counters("labels_changed", ok)
    m["components.labels_changed"] = statistics.mean(lab) if lab else 0.0

    # the most any op left behind after the release probe
    m["cache.persisted_rdds_after_release"] = max((o["persisted_rdds"] for o in timed), default=0)
    m["cache.tracked_after_release"] = max((o["tracked"] for o in timed), default=0)
    cal = res["calib"]
    m["host.cpu_calib_s"] = statistics.median(cal["start"]["cpu_s"] + cal["end"]["cpu_s"])
    m["host.spark_calib_s"] = statistics.median(cal["start"]["spark_s"] + cal["end"]["spark_s"])

    # trace.overhead: traced over untraced mean op time, per op group,
    # geometric mean over the groups that have both
    ratios = []
    groups = {}
    for o in timed:
        if o["ok"]:
            groups.setdefault(o["group"], {True: [], False: []})[o["traced"]].append(o["wall_s"])
    for g in groups.values():
        if g[True] and g[False]:
            ratios.append(statistics.mean(g[True]) / statistics.mean(g[False]))
    m["trace.overhead"] = statistics.geometric_mean(ratios) if ratios else 1.0
    for k in ("read_p50_s", "read_p90_s", "rows_per_s", "space_amp", "ops_failed_ratio"):
        m[k] = e2e[k]
    return m, per_op


def write_trace(res, per_op, m, workload, seed):
    d = os.path.join(HERE, "target", "trace", f"{workload}-{seed}")
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/spans.json", "w") as f:
        json.dump({"ops": [{k: o[k] for k in ("i", "kind", "name", "start_ns", "end_ns", "wall_s")}
                           for o, _ in per_op],
                   "spans": res["spans"]}, f)
    lines = [f"{'layer':28s} {'self s/op':>10s} {'share':>7s}"]
    total = sum(m[f"{s}_s"] for s in LAYER_SPANS) + m["other_s"]
    for s in LAYER_SPANS + ["other"]:
        v = m[f"{s}_s"]
        if v:
            lines.append(f"{s:28s} {v:10.4f} {v / total:7.1%}")
    lines.append(f"{'sum (= mean traced op wall)':28s} {total:10.4f}")
    walls = [o["wall_s"] for o, _ in per_op]
    if walls:
        lines.append(f"{'mean traced op wall':28s} {statistics.mean(walls):10.4f}")
    with open(f"{d}/layers.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    return d, lines


# -------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found next to graftbench/")
    cp, archive = build()
    deadline = time.time() + RUN_LIMIT_S     # counted after a first run's build

    run_dir = os.path.join(HERE, "target", "run", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # input generation, three times; the median enters setup_s
        gen_times = []
        for rep in range(3):
            t0 = time.perf_counter()
            generate(a.workload, a.seed, f"{run_dir}/in{rep}")
            gen_times.append(time.perf_counter() - t0)
        for rep in (1, 2):
            shutil.rmtree(f"{run_dir}/in{rep}")
        in_dir = f"{run_dir}/in0"
        res, t_launch, out = run_jvm(cp, [f"-XX:SharedArchiveFile={archive}"],
                                     a.workload, a.seed, a.seconds, a.trace,
                                     in_dir, run_dir, deadline)
        t_checks = time.time()
        log(f"inputs {statistics.median(gen_times):.1f} s x3, JVM start "
            f"{res['session_ready_ms'] / 1e3 - t_launch:.1f} s, setup+warm-up "
            f"{(res['window_start_ms'] - res['session_ready_ms']) / 1e3:.1f} s (state "
            f"{res['setup_state_s']:.1f} s), window "
            f"{res['window_s']:.1f} s, finish {t_checks - res['window_start_ms'] / 1e3 - res['window_s']:.1f} s")
        e2e, samples = end_to_end(res, statistics.median(gen_times), t_launch, a.trace)

        timed = [o for o in res["ops"] if o["timed"]]
        recall = 0.0
        if a.workload == "mart_read":
            fails = checks.mart_read(in_dir, out, timed)
        elif a.workload == "cdc_load":
            fails = checks.cdc_load(in_dir, out, timed, res["finish"])
        else:
            fails, recall, missed = checks.corpus_dedup(in_dir, out)
            log(f"planted near-duplicate recall {recall:.4f} ({len(missed)} missed)")
            for dup, src in missed[:10]:
                log(f"planted duplicate {dup} of {src} not in its source's cluster")
        for f in res["failures"]:
            log(f"failed op {f['op']} {f['name']}: {f['class']}: {f['message']}")
        for f in fails[:20]:
            log(f"CHECK FAILED {f}")
        if res["inputs_exhausted"]:
            fails.append("generated inputs ran out before the window ended")
            log("generated inputs ran out before the window ended")

        log(f"checks {time.time() - t_checks:.1f} s")
        attempted = len(timed)
        failed = attempted - sum(o["ok"] for o in timed)
        print(f"workload {a.workload} seed {a.seed} window {res['window_s']:.2f} s, "
              f"{attempted} ops ({samples['op'][0]} completed, "
              f"{samples['op'][1]} beyond p90), checks {'ok' if not fails else 'FAILED'}")
        cal = res["calib"]
        print("  host calibration (start | end): cpu " +
              " ".join(f"{x:.3f}" for x in cal["start"]["cpu_s"]) + " | " +
              " ".join(f"{x:.3f}" for x in cal["end"]["cpu_s"]) + " s, spark " +
              " ".join(f"{x:.3f}" for x in cal["start"]["spark_s"]) + " | " +
              " ".join(f"{x:.3f}" for x in cal["end"]["spark_s"]) + " s")
        units = dict(END_TO_END + PER_LAYER)
        for k in ("setup_s", "ops_per_s", "op_p50_s", "op_p90_s", "read_p50_s",
                  "read_p90_s", "rows_per_s", "space_amp", "live_heap_mb",
                  "ops_failed_ratio"):
            note = ""
            if k == "op_p90_s":
                note = f"  (n={samples['op'][0]}, {samples['op'][1]} beyond)"
            if k == "read_p90_s":
                note = f"  (n={samples['read'][0]}, {samples['read'][1]} beyond)"
            print(f"  {k:18s} {e2e[k]:12.5g} {units[k]}{note}")
        if a.trace:
            m, per_op = per_layer(res, e2e, recall)
            d, lines = write_trace(res, per_op, m, a.workload, a.seed)
            print("\n".join(lines))
            print(f"spans and layer table written to {os.path.relpath(d, ROOT)}")
            names = PER_LAYER
        else:
            m, names = e2e, END_TO_END
        metrics = {k: {"value": float(m[k]), "unit": u} for k, u in names}
        print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
