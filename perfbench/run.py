#!/usr/bin/env python3
"""Benchmark of the graft validation engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload run|checks|stream --seed N \
        --seconds S --trace 0|1

Builds the engine and the JVM program (perfbench/src) from source with the
Scala compiler shipped in $SPARK_HOME/jars, runs one workload in a
local[4] Spark JVM, checks every output against the DuckDB oracle in
oracle.py, and prints one JSON result as the last line of stdout. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record of a run (environment, samples, checks,
spans) goes to perfbench/.work/results/. README.md has the details.
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
from pathlib import Path

import oracle as orc

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = HERE / ".work"


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first spark-submit
    on PATH whose install ships the Scala compiler the build needs."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for h in filter(None, homes):
        if any((Path(h) / "jars").glob("scala-compiler-*.jar")):
            return Path(h) / "jars"
    raise SystemExit("perfbench: no Spark install with jars/scala-compiler-*.jar "
                     "(set SPARK_HOME)")


SPARK_JARS = spark_jars()
WORKLOADS = ("run", "checks", "stream")
RUN_LIMIT_S, BUILD_LIMIT_S = 175, 880

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "wall_s.p50": "s", "peak_mem_mb": "MB",
}
PER_LAYER = {
    "compile.rules": "count", "compile.plan_ms": "ms",
    "sources.scan_s": "s", "sources.scan_bytes": "bytes",
    "validate.violations_s": "s", "validate.violation_rows": "count",
    "verdict.compute_s": "s",
    "resume.pending_s": "s", "resume.manifest_read_s": "s", "resume.commit_s": "s",
    "resume.files_written": "count", "resume.bytes_written": "bytes",
    "unique.summary_s": "s", "unique.shuffle_bytes": "bytes", "unique.task_skew": "ratio",
    "refint.summary_s": "s", "refint.shuffle_bytes": "bytes",
    "stats.compute_s": "s", "drift.against_global_s": "s",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "spark.jobs_per_op": "count", "spark.input_scans_per_op": "count",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "trace.op_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s",
}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit("perfbench: no engine sources under %s/src/main/scala; "
                         "run from the root of a checkout" % ROOT)
    return main + sorted((HERE / "src").glob("*.scala"))


def build():
    """Compile engine + benchmark once per source tree; returns the classes dir
    and the source hash."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    classes = WORK / "build" / key
    if (classes / "perfbench").is_dir():
        return classes, key
    tmp = WORK / "build" / (key + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log("compiling %d sources" % len(srcs))
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss4m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(p) for p in srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S - 60)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    tmp.rename(classes)
    log("compiled in %.1f s" % (time.time() - t0))
    return classes, key


# ---- small helpers -------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else -1.0


def tail(xs):
    """The highest sample with at least ten samples above it (the median
    when there are fewer than eleven samples); returns (value, percentile)."""
    s = sorted(xs)
    if len(s) < 11:
        return median(s), 50.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    return Path("/proc/loadavg").read_text().strip()


def dir_bytes(d):
    return sum(p.stat().st_size for p in Path(d).rglob("*") if p.is_file())


# ---- correctness ---------------------------------------------------------

def check_ops(rep):
    """Check every op's output against the oracle; returns {op id: [errors]}."""
    o = orc.Oracle()
    inp = rep["inputs"]
    errs = {}
    want_run = want_stream = want_checks = None
    for op in rep["ops"]:
        e = [] if op["ok"] else [op["error"]]
        if op["ok"] and op["kind"] == "run":
            want_run = want_run or o.verdicts(inp["code_files"])
            e += orc.check_run_output(o, op["out"], want_run)
        elif op["ok"] and op["kind"] == "query":
            want_stream = want_stream or o.verdicts(inp["stream_in"])
            e += orc.check_stream_output(o, op["out"], want_stream)
            if len(op["batches"]) != rep["env"]["stream_files"]:
                e.append("%d batches for %d stream files"
                         % (len(op["batches"]), rep["env"]["stream_files"]))
        elif op["ok"] and op["kind"] == "checks":
            want_checks = want_checks or {
                "unique": o.unique(inp["code_files"]),
                "refint": o.refint(inp["code_files"], inp["dim_commits"]),
                "stats": o.stats(inp["code_files"]),
                "drift": o.drift(inp["code_files"]),
            }
            e += orc.check_checks_result(op["result"], want_checks)
        errs[op["id"]] = e
    return errs


def plan_guard(rep, workload):
    """The timed plans must still evaluate the rule kernels (sha2, rlike):
    an action that lets Catalyst prune them would time a bare scan."""
    problems = []
    execs = rep["events"]["execs"]
    need = {"run": ("validate", "verdict"), "stream": ("verdict",)}.get(workload, ())
    for layer in need:
        mine = [x for x in execs if x["layer"] == layer]
        if not mine:
            problems.append("no %s execution was observed" % layer)
        for x in mine:
            if x["missing_kernels"]:
                problems.append("%s execution %d lacks %s" % (layer, x["id"], x["missing_kernels"]))
    for i, miss in enumerate((rep.get("probe") or {}).get("compile.missing_kernels", [])):
        if miss:
            problems.append("probe plan %d lacks %s" % (i, miss))
    return problems


# ---- metrics -------------------------------------------------------------

def op_samples(rep, blocks):
    """(walls, rows_per_s) of the ops in `blocks`; for stream a sample of
    wall time is one micro-batch, of rows/s one query."""
    walls, rates = [], []
    for op in rep["ops"]:
        if op["block"] not in blocks:
            continue
        if op["kind"] == "query":
            walls += [b["durations_ms"]["triggerExecution"] / 1e3 for b in op.get("batches", [])]
        else:
            walls.append(op["wall_s"])
        rates.append(op.get("rows", 0) / op["wall_s"])
    return walls, rates


def end_to_end(rep):
    walls, rates = op_samples(rep, ("measure",))
    setup = rep["setup"]
    t, pct = tail(walls)
    m = {
        "setup_s": setup["session_s"] + median(setup["gen_s"]) + sum(setup["warmup_s"]),
        "rows_per_s": median(rates),
        "wall_s.p50": median(walls),
        "peak_mem_mb": rep["peak_rss_mb"],
    }
    return m, {"wall_samples": len(walls), "rate_samples": len(rates), "walls": walls,
               "wall_s.tail": t, "tail_percentile": pct}


def coverage(span, children):
    """Milliseconds of `span` covered by the union of `children`."""
    iv = sorted((max(c["start_ms"], span["start_ms"]), min(c["end_ms"], span["end_ms"]))
                for c in children)
    covered, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def within(x, span, slack=2):
    return x["start_ms"] >= span["start_ms"] - slack and x["end_ms"] <= span["end_ms"] + slack


# Layer of a SQL execution whose plan names no output directory, by the
# engine file the action was called from.
CALL_SITE_LAYERS = {
    "Checkpoint.scala": "resume", "ValidationRun.scala": "resume",
    "StreamingValidator.scala": "resume", "Validator.scala": "validate",
    "Verdict.scala": "verdict",
}


def exec_layers(rep):
    """{execution id: layer}: from the output directories the plan names,
    else from the engine file the action was called from (the execution's
    description is its call site, e.g. "collect at Checkpoint.scala:70")."""
    out = {}
    for x in rep["events"]["execs"]:
        site = x["call_site"].rsplit(" at ", 1)[-1].split(":")[0]
        out[x["id"]] = x["layer"] or CALL_SITE_LAYERS.get(site, "other")
    return out


def build_spans(rep):
    """Span tree of the traced ops: root = op (a micro-batch for stream),
    children = the benchmark's layer calls (checks) or the SQL executions
    Spark ran inside the op, grandchildren = executions inside a call."""
    execs = rep["events"]["execs"]
    layers = exec_layers(rep)
    spans = []

    def add(name, layer, start, end, parent, op_id):
        spans.append({"id": len(spans), "name": name, "layer": layer, "start_ms": start,
                      "end_ms": end, "parent": parent, "op": op_id})
        return spans[-1]

    for op in rep["ops"]:
        if op["block"] != "traced" or not op["ok"]:
            continue
        if op["kind"] == "query":
            roots = [add("batch", "op", b["start_ms"],
                         b["start_ms"] + b["durations_ms"]["triggerExecution"], None, op["id"])
                     for b in op["batches"]]
        else:
            roots = [add(op["kind"], "op", op["start_ms"], op["end_ms"], None, op["id"])]
        for root in roots:
            if op["kind"] == "checks":
                for c in rep["calls"]:
                    if c["op"] == op["id"]:
                        layer = c["name"].split(".")[0]
                        cs = add(c["name"], layer, c["start_ms"], c["end_ms"], root["id"], op["id"])
                        for x in execs:
                            if within(x, cs):
                                add("sql", layer, x["start_ms"], x["end_ms"], cs["id"], op["id"])
            else:
                for x in execs:
                    if within(x, root):
                        add("sql", layers[x["id"]], x["start_ms"], x["end_ms"],
                            root["id"], op["id"])
    return spans


def self_times(spans):
    """Per-layer self time (s) summed over spans, and per-root unattributed
    time (s): a span's duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    per_layer, unattributed = {}, []
    for s in spans:
        own = (s["end_ms"] - s["start_ms"] - coverage(s, kids.get(s["id"], []))) / 1e3
        if s["parent"] is None:
            unattributed.append(own)
        else:
            per_layer[s["layer"]] = per_layer.get(s["layer"], 0.0) + own
    return per_layer, unattributed


def per_layer(rep, workload, spans):
    ev = rep["events"]
    probe = rep.get("probe") or {}
    calls = rep["calls"][rep.get("probe_calls_from", 0):]
    stage_by_id = {}
    for st in ev["stages"]:
        stage_by_id.setdefault(st["id"], []).append(st)

    def jobs_in(span):
        return [j for j in ev["jobs"] if within(j, span)]

    def stages_in(span):
        return [st for j in jobs_in(span) for sid in j["stages"] for st in stage_by_id.get(sid, [])]

    def call_s(name):
        return median([c["dur_s"] for c in calls if c["name"] == name])

    def first_call(name):
        return next((c for c in calls if c["name"] == name), None)

    def shuffle_bytes(name):
        c = first_call(name)
        return float(sum(st["shuffle_write_bytes"] for st in stages_in(c))) if c else -1.0

    def task_skew(name):
        c = first_call(name)
        post = [st for st in stages_in(c) if st["shuffle_read_bytes"] > 0] if c else []
        if not post or not post[0]["task_ms"]:
            return -1.0
        t = post[0]["task_ms"]
        return max(t) / max(statistics.median(t), 1)

    traced_ops = [op for op in rep["ops"] if op["block"] == "traced" and op["ok"]]
    if workload == "stream":
        windows = [{"start_ms": b["start_ms"],
                    "end_ms": b["start_ms"] + b["durations_ms"]["triggerExecution"]}
                   for op in traced_ops for b in op["batches"]]
        batches = [b for op in rep["ops"] if op["block"] in ("untraced", "traced") and op["ok"]
                   for b in op["batches"]]
    else:
        windows = traced_ops
        batches = [b for op in rep["ops"] if op["block"] == "probe" and op["ok"]
                   for b in op["batches"]]
    n = max(len(windows), 1)
    op_jobs = [j for w in windows for j in jobs_in(w)]
    op_execs = [x for w in windows for x in ev["execs"] if within(x, w)]
    op_stages = [st for j in op_jobs for sid in j["stages"] for st in stage_by_id.get(sid, [])]
    roots = [s for s in spans if s["parent"] is None]
    _, unattributed = self_times(spans)
    traced_w, _ = op_samples(rep, ("traced",))
    untraced_w, _ = op_samples(rep, ("untraced",))

    def dur(name):
        # mean, not median: whole-ms durations over a few batches would often
        # give the same median in every run
        xs = [b["durations_ms"].get(name, 0) for b in batches]
        return statistics.fmean(xs) if xs else -1.0

    rules = probe.get("compile.rules") or [-1]
    return {
        "compile.rules": float(rules[0]),
        "compile.plan_ms": median(probe.get("compile.plan_ms", [])),
        "sources.scan_s": call_s("sources.scan"),
        "sources.scan_bytes": float(probe.get("sources.scan_bytes", -1)),
        "validate.violations_s": call_s("validate.violations"),
        "validate.violation_rows": float((probe.get("validate.violation_rows") or [-1])[0]),
        "verdict.compute_s": call_s("verdict.compute"),
        "resume.pending_s": call_s("resume.pending"),
        "resume.manifest_read_s": call_s("resume.manifest_read"),
        "resume.commit_s": call_s("resume.commit"),
        "resume.files_written": float(probe.get("resume.files_written", -1)),
        "resume.bytes_written": float(probe.get("resume.bytes_written", -1)),
        "unique.summary_s": call_s("unique.summary"),
        "unique.shuffle_bytes": shuffle_bytes("unique.summary"),
        "unique.task_skew": task_skew("unique.summary"),
        "refint.summary_s": call_s("refint.summary"),
        "refint.shuffle_bytes": shuffle_bytes("refint.summary"),
        "stats.compute_s": call_s("stats.compute"),
        "drift.against_global_s": call_s("drift.against_global"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "spark.jobs_per_op": len(op_jobs) / n,
        "spark.input_scans_per_op": sum(x["input_scans"] for x in op_execs) / n,
        "spark.task_cpu_s": sum(st["cpu_ns"] for st in op_stages) / 1e9 / n,
        "spark.gc_s": sum(op["gc_ms"] for op in traced_ops) / 1e3 / max(len(traced_ops), 1),
        "trace.op_s": median([(s["end_ms"] - s["start_ms"]) / 1e3 for s in roots]),
        "trace.unattributed_s": median(unattributed),
        "trace.overhead_s": median(traced_w) - median(untraced_w),
    }


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_start = loadavg()

    classes, build_key = build()
    tag = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    run_dir = WORK / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    report_path = run_dir / "report.json"
    # ParallelGC: under G1's adaptive heap sizing the same workload settled
    # into runs up to 40% apart; with ParallelGC runs agree within 5%.
    cmd = (["java", "-XX:+UseParallelGC", "-Xmx3g", "-Xss4m",
            "-Djava.io.tmpdir=%s" % (run_dir / "tmp"), "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", "%s:%s" % (classes, SPARK_JARS / "*"), "perfbench.BenchMain",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(run_dir), "--report", str(report_path)])
    limit = RUN_LIMIT_S - (time.time() - t_start) - 15
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "git_commit": git_commit(), "source_hash": build_key,
              "loadavg_process_start": load_start}
    result_file = results / (tag + ".json")
    jvm_log = run_dir / "jvm.log"
    try:
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = proc.wait(timeout=max(limit, 30))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not report_path.exists():
            record["error"] = "benchmark JVM exited with %s" % rc
            record["jvm_log_tail"] = jvm_log.read_text()[-4000:]
            sys.stderr.write(record["jvm_log_tail"])
            raise SystemExit("perfbench: " + record["error"])
        rep = json.loads(report_path.read_text())
        record["env"] = rep["env"]
        record["loadavg_measure_start"] = rep.get("loadavg_start")
        record["loadavg_measure_end"] = rep.get("loadavg_end")
        record["steal_s_during_measure"] = rep.get("steal_s")

        errs = check_ops(rep)
        guard = plan_guard(rep, a.workload)
        probe_errors = rep.get("probe_errors", [])
        failed_ops = {i: e for i, e in errs.items() if e}
        # Failure accounting: for stream an op is a micro-batch.
        attempted = failed = 0
        for op in rep["ops"]:
            k = max(len(op.get("batches", [])), rep["env"]["stream_files"]) \
                if op["kind"] == "query" else 1
            attempted += k
            failed += k if failed_ops.get(op["id"]) else 0
        attempted += len(probe_errors)
        failed += len(probe_errors)

        if a.trace:
            spans = build_spans(rep)
            metrics = per_layer(rep, a.workload, spans)
            units = PER_LAYER
            layer_self, unattributed = self_times(spans)
            (results / (tag + ".spans.json")).write_text(json.dumps(spans))
            n_ops = max(len(unattributed), 1)
            record["trace"] = {
                "self_s_per_op": {k: v / n_ops for k, v in sorted(layer_self.items())},
                "unattributed_s_per_op": median(unattributed),
                "n_spans": len(spans),
            }
            info = {"traced_ops": len(unattributed), "probe_s": rep.get("probe_s")}
        else:
            metrics, info = end_to_end(rep)
            units = END_TO_END
            in_bytes = dir_bytes(rep["inputs"]["stream_in" if a.workload == "stream"
                                               else "code_files"])
            outs = [op for op in rep["ops"] if op["block"] == "measure" and op.get("out")]
            if outs:
                info["out_bytes_per_in_byte"] = median([dir_bytes(op["out"]) for op in outs]) / in_bytes
            info["setup"] = rep["setup"]
        info["measure_s"] = rep.get("measure_s")
        info["failed_ops_frac"] = failed / max(attempted, 1)
        record.update({
            "info": info, "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            "failures": {str(i): e for i, e in failed_ops.items()},
            "probe_errors": probe_errors, "plan_guard": guard,
        })
        correct = not failed_ops and not guard and not probe_errors
        result = {"correct": correct, "attempted": attempted, "failed": failed,
                  "metrics": record["metrics"]}
        for i, e in list(failed_ops.items())[:5]:
            log("op %s failed: %s" % (i, "; ".join(e)[:600]))
        for g in guard:
            log("plan guard: " + g)
        log("info: " + json.dumps(info))
    finally:
        record["loadavg_process_end"] = loadavg()
        record["elapsed_s"] = time.time() - t_start
        result_file.write_text(json.dumps(record, indent=1, default=str))
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
