#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload pk_serving --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1            # every workload

Run from the repository root. The first run builds the engine and the
benchmark from source with the Scala compiler (output under .bench_build/)
and later runs reuse the build while the sources are unchanged. Each
workload runs in its own JVM (graft.perfbench.Main), which writes a raw
record; this script turns it into metrics, prints every metric by name
with its unit, and prints one JSON result as the last line of stdout.
With --trace 0 that line holds the end-to-end metrics, with --trace 1 the
per-layer metrics (see BENCHMARK.json). Exit status is non-zero when an
output check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("pk_serving", "corpus_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
# A window with more CPU steal than this is flagged in the report.
STEAL_WARN_PCT = 5.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Per workload: the headline operation whose median latency is op_ms_p50.
HEADLINE = {
    "pk_serving": "lookup_ms",
    "corpus_dedup": "dedup_pass_ms",
}

END_TO_END = [("setup_s", "s"), ("op_ms_p50", "ms")]

# Named end-to-end metrics: (name, unit, workload, source).
# Printed on every run of their workload; gated only through END_TO_END.
# The state-analytics step and the streaming path run only in a traced
# run, so their metrics come from its traced section (TRACED_ONLY).
NAMED = [
    ("upsert_commit_ms_p50", "ms", "pk_serving", ("p50", "upsert_commit_ms")),
    ("upsert_commit_ms_tail", "ms", "pk_serving", ("tail", "upsert_commit_ms")),
    ("agg_upsert_commit_ms_p50", "ms", "pk_serving", ("p50", "agg_upsert_commit_ms")),
    ("lookup_ms_p50", "ms", "pk_serving", ("p50", "lookup_ms")),
    ("lookup_ms_tail", "ms", "pk_serving", ("tail", "lookup_ms")),
    ("lookup_batch_ms_p50", "ms", "pk_serving", ("p50", "lookup_batch_ms")),
    ("stored_bytes_per_live_row", "B/row", "pk_serving", ("value", "stored_bytes_per_live_row")),
    ("append_commit_ms_p50", "ms", "pk_serving", ("p50", "append_commit_ms")),
    ("freshness_ms_p50", "ms", "pk_serving", ("p50", "freshness_ms")),
    ("freshness_ms_tail", "ms", "pk_serving", ("tail", "freshness_ms")),
    ("state_scan_rows_per_s", "rows/s", "pk_serving", ("p50", "state_scan_rows_per_s")),
    ("state_query_ms_p50", "ms", "pk_serving", ("p50", "state_query_ms")),
    ("compact_s", "s", "pk_serving", ("p50s", "compact_ms")),
    ("dedup_docs_per_s", "docs/s", "corpus_dedup", ("p50", "dedup_docs_per_s")),
]
TRACED_ONLY = ("state_scan_rows_per_s", "state_query_ms_p50", "append_commit_ms_p50",
               "freshness_ms_p50", "freshness_ms_tail")

# Per-layer metrics of a traced run: (name, unit, better, how).
#   ("span", span, field)   median over that span's calls of a field
#                           computed from its Spark jobs (stats.py)
#   ("sample", metric)      median of recorded samples
#   ("max", metric)         maximum of recorded samples
#   ("value", metric)       a recorded scalar
#   ("stage", span)         median per pipeline pass of the time in `span`
# Metrics a workload does not exercise read 0.
PER_LAYER = []


def _layer(name, unit, better, how):
    PER_LAYER.append((name, unit, better, how))


for f, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
             ("job_ms", "ms"), ("driver_ms", "ms"), ("shuffle_bytes", "B")):
    _layer("core.upsert." + f, u, "lower", ("span", "core.upsert", f))
_layer("core.upsert.files_written", "count", "lower", ("sample", "core.upsert.files_written"))
for f, u in (("jobs", "count"), ("tasks", "count"), ("job_ms", "ms"), ("driver_ms", "ms")):
    _layer("core.agg_upsert." + f, u, "lower", ("span", "core.agg_upsert", f))
for f, u in (("jobs", "count"), ("tasks", "count"), ("job_ms", "ms"), ("driver_ms", "ms")):
    _layer("core.lookup." + f, u, "lower", ("span", "core.lookup", f))
_layer("core.lookup.bytes_read", "B", "lower", ("span", "core.lookup", "input_bytes"))
for f, u in (("files_read", "count"), ("rows_scanned_per_row_returned", "ratio")):
    _layer("core.lookup." + f, u, "lower", ("sample", "core.lookup." + f))
_layer("core.lookup_batch.jobs", "count", "lower", ("span", "core.lookup_batch", "jobs"))
for f, u in (("files_read", "count"), ("rows_scanned_per_row_returned", "ratio")):
    _layer("core.lookup_batch." + f, u, "lower", ("sample", "core.lookup_batch." + f))
_layer("core.manifest_read_ms", "ms", "lower", ("sample", "core.manifest_read_ms"))
_layer("core.manifest_bytes", "B", "lower", ("value", "core.manifest_bytes"))
_layer("core.walk_files_ms", "ms", "lower", ("sample", "core.walk_files_ms"))
_layer("core.log_files", "count", "lower", ("value", "core.log_files"))
_layer("core.table_bytes", "B", "lower", ("value", "core.table_bytes"))
for f, u in (("jobs", "count"), ("job_ms", "ms"), ("driver_ms", "ms")):
    _layer("core.append." + f, u, "lower", ("span", "core.append", f))
_layer("core.append.files_written", "count", "lower", ("sample", "core.append.files_written"))
for f, u in (("jobs", "count"), ("job_ms", "ms"), ("driver_ms", "ms"),
             ("bytes_written", "B")):
    _layer("core.compact." + f, u, "lower", ("span", "core.compact", f))
_layer("merge.collapse_rows_per_s", "rows/s", "higher", ("value", "merge.collapse_rows_per_s"))
_layer("merge.log_rows_per_live_row", "ratio", "lower", ("value", "merge.log_rows_per_live_row"))
_layer("merge.scan_compacted_rows_per_s", "rows/s", "higher",
       ("sample", "merge.scan_compacted_rows_per_s"))
_layer("merge.changes_per_upsert_row", "ratio", "lower", ("value", "merge.changes_per_upsert_row"))
_layer("merge.changes_per_agg_upsert_row", "ratio", "lower",
       ("value", "merge.changes_per_agg_upsert_row"))
_layer("plans.lookup.plan_ms", "ms", "lower", ("sample", "plans.lookup.plan_ms"))
_layer("plans.lookup.buckets_read", "count", "lower", ("sample", "plans.lookup.buckets_read"))
_layer("plans.query.plan_ms", "ms", "lower", ("sample", "plans.query.plan_ms"))
for f, u in (("jobs", "count"), ("job_ms", "ms"), ("driver_ms", "ms")):
    _layer("connector.query." + f, u, "lower", ("span", "connector.query", f))
_layer("connector.get_table_ms", "ms", "lower", ("sample", "connector.get_table_ms"))
for key, name in (("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                  ("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                  ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                  ("triggerExecution", "trigger_ms")):
    _layer("streaming.batch." + name, "ms", "lower", ("sample", "streaming.batch." + key))
_layer("streaming.batch.rows", "rows", "higher", ("sample", "streaming.batch.rows"))
_layer("streaming.empty_batch_ratio", "ratio", "lower", ("empty", "streaming.batch.rows"))
_layer("streaming.backlog_rows_max", "rows", "lower", ("max", "streaming.backlog_rows"))
_layer("streaming.gen_late_ms_max", "ms", "lower", ("max", "streaming.gen_late_ms"))
for k in ("shingle_hashes_rows_per_s", "minhash_sig_rows_per_s",
          "sig_agree_pairs_per_s", "jaccard_ge_pairs_per_s"):
    _layer("functions." + k, "1/s", "higher", ("value", "functions." + k))
for st in ("shingle", "sign", "pairs", "components", "canonical"):
    _layer("pipeline.%s_ms" % st, "ms", "lower", ("stage", "pipeline." + st))
_layer("pipeline.candidate_pairs", "count", "lower", ("value", "pipeline.candidate_pairs"))
_layer("pipeline.verified_pairs", "count", "higher", ("value", "pipeline.verified_pairs"))
_layer("pipeline.verify_yield", "ratio", "higher", ("value", "pipeline.verify_yield"))
_layer("pipeline.jobs", "count", "lower", ("span", "pipeline.pass", "jobs"))
_layer("pipeline.shuffle_bytes", "B", "lower", ("span", "pipeline.pass", "shuffle_bytes"))
_layer("host.steal_pct", "%", "lower", ("value", "host.steal_pct"))
_layer("host.gc_ms", "ms", "lower", ("value", "host.gc_ms"))
_layer("host.heap_peak_mb", "MiB", "lower", ("value", "host.heap_peak_mb"))
_layer("trace.overhead_op_ms", "ms", "lower", ("overhead", "ms"))
_layer("trace.overhead_pct", "%", "lower", ("overhead", "pct"))
for n, u, _, _ in NAMED:
    _layer("e2e." + n, u, "higher" if u.endswith("/s") else "lower", ("named", n))
_layer("e2e.failed_ops_ratio", "ratio", "lower", ("failed_ratio",))
_layer("e2e.op_samples", "count", "higher", ("op_samples",))
_layer("e2e.op_tail_pct", "%", "higher", ("op_tail_pct",))


# ---------------------------------------------------------------- metrics

def _finite(xs):
    return [x for x in xs if isinstance(x, (int, float))]


def _samples(sec, name):
    return [math.inf if x == "inf" else x for x in sec["samples"].get(name, [])]


def named_value(sec, source):
    kind, name = source
    if kind == "value":
        return sec["values"].get(name)
    xs = _samples(sec, name)
    if not xs:
        return None
    if kind == "p50":
        return stats.median(xs)
    if kind == "p50s":
        return stats.median(xs) / 1000.0
    return stats.tail(xs)[1]


def end_to_end(workload, sec):
    """The gated end-to-end metrics of one untraced section."""
    op = _samples(sec, HEADLINE[workload])
    if not op:
        sys.stderr.write("%s: no %s sample in the window; raise --seconds\n"
                         % (workload, HEADLINE[workload]))
        sys.exit(3)
    out = {"setup_s": stats.median(_samples(sec, "setup_s")), "op_ms_p50": stats.median(op)}
    if not all(math.isfinite(v) for v in out.values()):
        sys.stderr.write("%s: most operations failed: %s\n" % (workload, out))
        sys.exit(3)
    return out


def span_table(sec):
    """Per span: duration and figures from the Spark jobs in its subtree."""
    children, jobs_of = {}, {}
    for s in sec["spans"]:
        children.setdefault(s["parent"], []).append(s["id"])
    for j in sec["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)
    out = {}
    for s in sec["spans"]:
        ids, todo = [], [s["id"]]
        while todo:
            i = todo.pop()
            ids.append(i)
            todo.extend(children.get(i, []))
        js = [j for i in ids for j in jobs_of.get(i, []) if j["end"] >= 0]
        iv = [(j["start"], j["end"]) for j in js]
        out[s["id"]] = dict(s, **{
            "jobs": len(js), "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "bytes_written": sum(j["output_bytes"] for j in js),
            "input_bytes": sum(j["input_bytes"] for j in js),
            "job_ms": stats.covered(s["start"], s["end"], iv),
            "driver_ms": stats.self_time(s["start"], s["end"], iv)})
    return out


def per_layer(workload, rec):
    tr, un = rec["traced"], rec["untraced"]
    spans = span_table(tr)
    by_name = {}
    for s in spans.values():
        by_name.setdefault(s["name"], []).append(s)
    out = {}
    for name, unit, _, how in PER_LAYER:
        kind, v = how[0], None
        if kind == "span":
            xs = [s[how[2]] for s in by_name.get(how[1], [])]
            v = stats.median(xs) if xs else None
        elif kind == "sample":
            xs = _finite(_samples(tr, how[1]))
            v = stats.median(xs) if xs else None
        elif kind == "max":
            xs = _finite(_samples(tr, how[1]))
            v = max(xs) if xs else None
        elif kind == "empty":
            xs = _samples(tr, how[1])
            v = sum(1 for x in xs if x == 0) / len(xs) if xs else None
        elif kind == "value":
            v = tr["values"].get(how[1])
        elif kind == "stage":
            per_pass = {}
            for s in by_name.get(how[1], []):
                per_pass[s["parent"]] = per_pass.get(s["parent"], 0.0) + s["end"] - s["start"]
            v = stats.median(list(per_pass.values())) if per_pass else None
        elif kind == "overhead":
            a, b = _samples(un, HEADLINE[workload]), _samples(tr, HEADLINE[workload])
            if a and b:
                a, b = stats.median(a), stats.median(b)
                v = b - a if how[1] == "ms" else 100.0 * (b / a - 1.0)
        elif kind == "named":
            src = next(x for x in NAMED if x[0] == how[1])
            if src[2] == workload:
                v = named_value(tr if src[0] in TRACED_ONLY else un, src[3])
        elif kind == "failed_ratio":
            v = un["failed"] / max(1, un["attempted"])
        elif kind == "op_samples":
            v = len(_samples(un, HEADLINE[workload]))
        elif kind == "op_tail_pct":
            v = stats.tail_percentile(len(_samples(un, HEADLINE[workload])))
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            v = 0.0
        out[name] = {"value": v, "unit": unit}
    return out


# ------------------------------------------------------------------ build

def jar_dir(root):
    """The engine's jar directory, read from its build file so the two
    cannot drift apart. It holds Spark and the Scala compiler."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if m is None:
        sys.stderr.write("build.sbt names no unmanagedBase jar directory\n")
        sys.exit(2)
    return m.group(1)


def source_stamp(root, jars):
    h = hashlib.sha256("\n".join(jars).encode())
    for top in ("src/main", "perfbench/src"):
        p = os.path.join(root, top)
        for f in sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile engine + benchmark with the Scala compiler from the jar
    directory, once per source state; returns the runtime classpath.
    No build tool and no dependency resolution: everything it reads is
    the checkout and the jar directory, everything it writes is under
    out_dir."""
    jd = jar_dir(root)
    jars = sorted(os.path.join(jd, f) for f in os.listdir(jd) if f.endswith(".jar"))
    # a jar, not a class directory: class-data sharing maps only jars
    classes = os.path.join(out_dir, "classes.jar")
    cp = os.pathsep.join([classes] + jars)
    stamp = source_stamp(root, jars)
    stamp_file = os.path.join(out_dir, "stamp.txt")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    t0 = time.time()
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    srcs = sorted(os.path.join(d, f) for top in ("src/main/scala", "perfbench/src/main/scala")
                  for d, _, fs in os.walk(os.path.join(root, top))
                  for f in fs if f.endswith(".scala"))
    args_file = os.path.join(tmp, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % a for a in
                          ["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + srcs))
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
         "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args_file],
        cwd=root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.strip().splitlines()[-40:]) +
                         "\nbuild failed\n")
        sys.exit(2)
    res = os.path.join(root, "src/main/resources")
    with zipfile.ZipFile(classes, "a") as z:
        for d, _, fs in os.walk(res):
            for f in fs:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), res))
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    sys.stderr.write("built in %.0f s\n" % (time.time() - t0))
    return cp


# -------------------------------------------------------------------- run

def class_archive_flag(out_dir):
    """Class-data sharing for the JVM's library classes: the first run of a
    build dumps an archive at exit, later runs map it, which cuts JVM and
    Spark start-up by seconds. Class loading only; the archive is dropped
    whenever the build changes."""
    jsa = os.path.join(out_dir, "classes.jsa")
    if os.path.exists(jsa):
        return "-XX:SharedArchiveFile=" + jsa
    return "-XX:ArchiveClassesAtExit=" + jsa


def run_jvm(root, cp, workload, seed, seconds, trace, out_dir):
    work = os.path.join(out_dir, "work-%d-%s" % (os.getpid(), workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [class_archive_flag(out_dir), "-Xmx" + JVM_HEAP, "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "graft.perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--out", out, "--work", work])
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, stdout=lf,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            sys.stderr.write("%s: JVM exit %s\n" % (workload, rc))
            return None
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def checks_of(rec):
    secs = [rec["untraced"]] + ([rec["traced"]] if "traced" in rec else [])
    return [c for s in secs for c in s["checks"]]


def report(workload, rec, trace):
    un = rec["untraced"]
    print("== %s (seed %s, %s s window, %s cores)" % (
        workload, rec["seed"], rec["seconds"], rec["cores"]))
    e2e = end_to_end(workload, un)
    for name, unit in END_TO_END:
        print("  %-28s %14.4f %s" % (name, e2e[name], unit))
    for name, unit, wl, src in NAMED:
        if wl == workload:
            sec = rec.get("traced") if name in TRACED_ONLY else un
            v = named_value(sec, src) if sec else None
            extra = ""
            if src[0] == "tail" and sec:
                n = len(_samples(sec, src[1]))
                extra = "  (p%s of %d samples)" % (stats.tail_percentile(n), n)
            if v is None and name in TRACED_ONLY and not sec:
                extra = "  (traced runs only)"
            print("  %-28s %14s %s%s" % (
                name, "n/a" if v is None else "%.4f" % v, unit, extra))
    print("  %-28s %14.4f ratio" % ("failed_ops_ratio",
                                     un["failed"] / max(1, un["attempted"])))
    print("  host: steal %.2f %%, gc %.0f ms, heap peak %.0f MiB" % (
        un["values"]["host.steal_pct"], un["values"]["host.gc_ms"],
        un["values"]["host.heap_peak_mb"]))
    print("  phases: " + ", ".join("%s %.1f s" % (k[6:-2], v) for k, v in
                                   un["values"].items() if k.startswith("phase.")) +
          "; set-up rounds " + ", ".join("%.2f s" % x for x in _samples(un, "setup_s")))
    if un["values"]["host.steal_pct"] > STEAL_WARN_PCT:
        print("  NOTE: CPU steal above %.0f %% during the window; expect a slow run"
              % STEAL_WARN_PCT)
    bad = [c for c in checks_of(rec) if not c["ok"]]
    print("  checks: %d run, %d failed" % (len(checks_of(rec)), len(bad)))
    for c in bad[:10]:
        print("    FAILED %s: %s" % (c["name"], c["detail"]))
    if trace:
        layers = per_layer(workload, rec)
        for name, m in layers.items():
            print("  %-44s %16.4f %s" % (name, m["value"], m["unit"]))
        metrics = layers
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    attempted = un["attempted"] + rec.get("traced", {}).get("attempted", 0)
    failed = un["failed"] + rec.get("traced", {}).get("failed", 0)
    return not bad, attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/core/GraftTable.scala")):
        sys.stderr.write("run from the repository root: engine sources not found\n")
        sys.exit(2)
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, out_dir)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    ok, attempted, failed, metrics = True, 0, 0, {}
    for w in names:
        rec = run_jvm(root, cp, w, a.seed, a.seconds, a.trace, out_dir)
        if rec is None:
            sys.exit(3)
        c, at, fa, ms = report(w, rec, a.trace)
        ok, attempted, failed = ok and c, attempted + at, failed + fa
        for k, v in ms.items():
            metrics[k if len(names) == 1 else w + "." + k] = v
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
