#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload prep_small --seed 1 --seconds 20 --trace 0

Builds graft and the harness from source (see build.py), writes the
seeded inputs (gen.py), runs the closed-loop harness in one JVM, checks
every op's outputs against the generator's truth (check.py), and prints
the run record, then one JSON result line. With --trace 0 the result
carries the end-to-end metrics; with --trace 1 the per-layer ones. The
exit code is nonzero when any op fails or fails its output check.
"""

import argparse
import collections
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# The metric names and units the result line reports.
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

HEAP = "2g"
SETUPS = 3
TIME_LIMIT_S = 170
PREP_STAGES = ["fit", "transform_plan", "transform_exec", "inverse_plan", "inverse_exec"]

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- spans


class Op:
    """One op's spans, with inclusive counters and job lists per span."""

    def __init__(self, rec):
        self.rec = rec
        self.spans = {s["id"]: s for s in rec["spans"]}
        self.children = collections.defaultdict(list)
        for s in rec["spans"]:
            self.children[s["parent"]].append(s["id"])

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children[i])
        return out

    def counters(self, span):
        total = collections.Counter()
        for i in self.subtree(span["id"]):
            for k, v in self.spans[i].get("counters", {}).items():
                total[k] = max(total[k], v) if k == "peak_exec_mem_bytes" else total[k] + v
        return total

    def jobs(self, span):
        return [j for i in self.subtree(span["id"]) for j in self.spans[i].get("jobs", [])]

    def driver_s(self, span):
        """Span time during which none of the span's jobs is running."""
        lo, hi = span["start_ms"], span["end_ms"]
        busy, cur_s, cur_e = 0, None, None
        for s, e, _ in sorted((max(s, lo), min(e, hi), f) for s, e, f in self.jobs(span)):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                busy += (cur_e - cur_s) if cur_e is not None else 0
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        busy += (cur_e - cur_s) if cur_e is not None else 0
        return max(0.0, span["dur_s"] - busy / 1e3)

    def self_s(self, span):
        return span["dur_s"] - sum(self.spans[c]["dur_s"] for c in self.children[span["id"]])

    def root(self):
        return self.named("op")[0]


def layer_stats(op, span, nproc):
    """Duration, inclusive counters and driver time of one span."""
    c = op.counters(span)
    dur = span["dur_s"]
    return {
        "s": dur, "jobs": c["jobs"], "stages": c["stages"], "tasks": c["tasks"],
        "driver_s": op.driver_s(span), "task_cpu_s": c["task_cpu_s"],
        "task_run_s": c["task_run_s"], "gc_s": c["gc_s"],
        "slot_idle_share": 1.0 - c["task_run_s"] / (dur * nproc) if dur > 0 else 0.0,
        "shuffle_write_bytes": c["shuffle_write_bytes"], "spill_bytes": c["spill_bytes"],
        "input_bytes": c["input_bytes"], "peak_exec_mem_mb": c["peak_exec_mem_bytes"] / 2**20,
    }


def per_layer(workload, op, nproc, facts, quality):
    """The per-layer metrics of one traced op; layers the workload does
    not call read 0."""
    m = {}
    if workload == "prep_small":
        stats = {g: layer_stats(op, op.named(f"prep.quantile_normal.{g}")[0], nproc)
                 for g in PREP_STAGES}
        for g in PREP_STAGES:
            m[f"prep.quantile_normal.{g}_s"] = stats[g]["s"]
        m["prep.quantile_normal.fit_jobs"] = stats["fit"]["jobs"]
        m.update({
            "prep.fit.driver_s": stats["fit"]["driver_s"],
            "prep.fit.task_cpu_s": stats["fit"]["task_cpu_s"],
            "prep.transform.task_cpu_s": (stats["transform_plan"]["task_cpu_s"]
                                          + stats["transform_exec"]["task_cpu_s"]),
            "prep.transform.shuffle_write_bytes": (stats["transform_plan"]["shuffle_write_bytes"]
                                                   + stats["transform_exec"]["shuffle_write_bytes"]),
            "prep.inverse.task_cpu_s": (stats["inverse_plan"]["task_cpu_s"]
                                        + stats["inverse_exec"]["task_cpu_s"]),
        })
    elif workload == "ts_features":
        s = layer_stats(op, op.named("ts.extract")[0], nproc)
        for k in ["jobs", "driver_s", "task_cpu_s", "shuffle_write_bytes", "spill_bytes",
                  "slot_idle_share", "gc_s"]:
            m[f"ts.extract.{k}"] = s[k]
        m["ts.features_kept"] = facts["features_kept"]
    elif workload == "dedup_knn":
        mh = layer_stats(op, op.named("dedup.minhash")[0], nproc)
        cc = layer_stats(op, op.named("dedup.cc")[0], nproc)
        ab = layer_stats(op, op.named("ann.build")[0], nproc)
        se = layer_stats(op, op.named("ann.search")[0], nproc)
        m.update({
            "dedup.minhash_s": mh["s"], "dedup.minhash.task_cpu_s": mh["task_cpu_s"],
            "dedup.minhash.shuffle_write_bytes": mh["shuffle_write_bytes"],
            "dedup.minhash.pairs_out": facts["pairs_out"],
            "dedup.minhash.pair_precision": quality.get("pair_precision", 0.0),
            "dedup.cc_s": cc["s"], "dedup.cc.jobs": cc["jobs"],
            "ann.build_s": ab["s"], "ann.build.jobs": ab["jobs"],
            "ann.build.shuffle_write_bytes": ab["shuffle_write_bytes"],
            "ann.search_s": se["s"], "ann.search.jobs": se["jobs"],
            "ann.search.driver_s": se["driver_s"],
            "ann.search.slot_idle_share": se["slot_idle_share"],
        })
    sp = layer_stats(op, op.root(), nproc)
    for k in ["jobs", "stages", "tasks", "driver_s", "task_cpu_s", "task_run_s",
              "slot_idle_share", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "peak_exec_mem_mb"]:
        m[f"spark.{k}"] = sp[k]
    return m


def span_report(op):
    """Self time and jobs by call-site file for each span of one op."""
    out = []
    for s in sorted(op.spans.values(), key=lambda s: s["id"]):
        by_file = collections.Counter(f for _, _, f in s.get("jobs", []))
        out.append({"span": s["name"], "parent": op.spans[s["parent"]]["name"] if s["parent"] >= 0 else None,
                    "op": op.rec["op"], "dur_s": round(s["dur_s"], 6),
                    "self_s": round(op.self_s(s), 6), "jobs_by_file": dict(by_file)})
    return out


# ---------------------------------------------------------------- checks


def check_op(workload, rec, data_dir, truth, prep_cache):
    dump = os.path.join(os.path.dirname(data_dir), "out", "dumps", f"op{rec['op']}")
    facts = rec["facts"]
    if workload == "prep_small":
        batch = facts["batch"]
        if batch not in prep_cache:
            prep_cache.clear()
            prep_cache[batch] = check.PrepTruth(data_dir, batch, truth)
        return check.check_prep(truth, prep_cache[batch], dump, facts["encoded_columns"]), {}
    if workload == "ts_features":
        return check.check_ts(data_dir, dump, facts["missing_checked_columns"])
    return check.check_dedup_knn(data_dir, dump)


# ---------------------------------------------------------------- main


def commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(cmd, cwd, log_path, deadline):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=log, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes, jars, digest = build.build(ROOT, build_dir)
    deadline = time.monotonic() + TIME_LIMIT_S

    run_dir = os.path.join(build_dir, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir, tmp_dir = (os.path.join(run_dir, d) for d in ["data", "out", "tmp"])
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    sizes, gen_s = gen.generate(a.workload, a.seed, data_dir)

    nproc = len(os.sched_getaffinity(0))
    # the heap is pre-touched, so rss_peak_mb moves with off-heap growth
    # (metaspace of generated classes, code cache, direct buffers), not
    # with how much of the fixed heap the GC happened to touch
    cmd = ([build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Harness",
              "--workload", a.workload, "--data", data_dir, "--out", out_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--setups", str(SETUPS),
              "--nproc", str(nproc)])
    log_path = os.path.join(run_dir, "harness.log")
    rc = run_harness(cmd, run_dir, log_path, deadline)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")

    run = json.load(open(os.path.join(out_dir, "run.json")))
    ops = [json.loads(line) for line in open(os.path.join(out_dir, "ops.jsonl")) if line.strip()]
    truth = json.load(open(os.path.join(data_dir, "truth.json")))

    prep_cache, failed, quality, failures = {}, 0, collections.defaultdict(list), []
    op_quality = {}
    for rec in ops:
        fails = [f"op {rec['op']}: {rec['error']}"] if rec["error"] else []
        q = {}
        if not rec["error"]:
            f, q = check_op(a.workload, rec, data_dir, truth, prep_cache)
            fails += [f"op {rec['op']}: {x}" for x in f]
        op_quality[rec["op"]] = q
        for k, v in q.items():
            quality[k].append(v)
        failed += bool(fails)
        failures += fails
    ok_ops = [Op(r) for r in ops if not r["error"]]

    def op_s(sel):
        return median([o.root()["dur_s"] for o in ok_ops if sel(o)])

    untraced_s = op_s(lambda o: not o.rec["traced"])
    # workload-specific figures: printed in every run, carried by the
    # traced result (they are in BENCHMARK.json's per_layer list)
    values = {"fail_ratio": failed / len(ops)}
    if a.workload == "prep_small":
        def span_s(o, g):
            return o.named(f"prep.quantile_normal.{g}")[0]["dur_s"]
        values["fit_s_p50"] = median([span_s(o, "fit") for o in ok_ops])
        for kind in ["transform", "inverse"]:
            values[f"{kind}_rows_per_s"] = median([
                sizes["rows_per_batch"] / (span_s(o, f"{kind}_plan") + span_s(o, f"{kind}_exec"))
                for o in ok_ops])
    if a.workload == "dedup_knn":
        values["recall_at_10"] = median(quality["recall_at_10"])
        values["dup_pair_recall"] = median(quality["dup_pair_recall"])

    record = {
        "workload": a.workload, "why": gen.WORKLOADS[a.workload]["why"], "seed": a.seed,
        "trace": a.trace, "seconds": a.seconds, "commit": commit(), "source_digest": digest,
        "input_sizes": sizes, "generation_s": round(gen_s, 3), "nproc": run["nproc"],
        "heap": HEAP, "heap_max_bytes": run["heap_max_bytes"], "java": run["java_version"],
        "session_conf": run["session_conf"], "setup_s_each": run["setup_s"],
        "ops": len(ops), "ops_failed": failed, "measure_s": run["measure_s"],
        "op_s_each": [round(o.root()["dur_s"], 4) for o in ok_ops],
    }
    print("record " + json.dumps(record, sort_keys=True))
    for f in failures[:50]:
        print("FAILED " + f)

    if a.trace:
        traced = [o for o in ok_ops if o.rec["traced"]]
        per_op = [per_layer(a.workload, o, run["nproc"], o.rec["facts"], op_quality[o.rec["op"]])
                  for o in traced]
        for k in sorted({k for m in per_op for k in m}):
            values[k] = median([m.get(k, 0.0) for m in per_op])
        values["trace.overhead_s"] = op_s(lambda o: o.rec["traced"] and o.rec["op"] > 0) - untraced_s
        for span in span_report(traced[0]) if traced else []:
            print("span " + json.dumps(span, sort_keys=True))
        declared = SPEC["per_layer"]
    else:
        values.update({"setup_s": median(run["setup_s"]), "op_s_p50": untraced_s,
                       "rss_peak_mb": run["rss_peak_kb"] / 1024.0})
        declared = SPEC["end_to_end"]
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    for k, v in values.items():
        print(f"metric {k} {v!r} {units[k]}")
    reported = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": reported}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
