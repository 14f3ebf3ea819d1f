#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload osm --seed 3 --seconds 6 --trace 0

Builds the program from source on first use (perfbench/build.py), starts
one JVM on `Graft.session(local[N], N)` with a fixed heap, lets
`perfbench.Harness` run the workload in a fresh per-run directory, checks
the outputs (perfbench/checks.py) and prints, as the last line of
standard output, one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). The run deletes its directory and every
`/tmp/graft_*` directory it created; set PERFBENCH_KEEP=1 to keep the run
directory (JVM log, result.json with every span and job).
"""
import argparse
import glob
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
from faces import FACES, MODULES  # noqa: E402

CORES = max(1, min(4, len(os.sched_getaffinity(0))))
HEAP = "3g"
JVM_TIMEOUT_S = 165
# The reference's extract (BASELINE.md) at 1/80 scale: 506,727 nodes and
# 59,642 ways take ~60 s per load pass on 4 cores, too long to repeat
# within one run.
OSM_SCALE = 80
OSM_NODES, OSM_WAYS = round(506_727 / OSM_SCALE), round(59_642 / OSM_SCALE)
WORKLOADS = ["faces", "osm"]
OSM_OPS = ["load_xml", "load_pbf", "a1_tags", "a2_keys", "a4_users", "a5_street_types",
           "a7_cities", "a10_postcodes", "q1_users", "q2_types",
           "q3_amenities", "q4_top_shops", "q5_top_highways", "way_node_join"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
# The program stages its artifacts in directories named /tmp/graft_*.
TMP_GLOB = "/tmp/graft_*/"


def faces_data_dir():
    """The read-only seed-42 sf0.01 tables, where TESTDATA.md says they are."""
    with open(os.path.join(ROOT, "TESTDATA.md"), encoding="utf-8") as fh:
        m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", fh.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("run: sf0.01 testdata not found")
    return m.group(1).rstrip("/")


def du_mb(dirs):
    total = 0
    for p in dirs:
        for d, _, names in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                         if os.path.isfile(os.path.join(d, n)))
    return total / 1e6


def run_jvm(cp, run_dir, args):
    """Run the harness; return its result.json, or exit on failure."""
    harness_args = [f"{k}={v}" for k, v in args.items()]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={run_dir}/jtmp",
            f"-Dspark.local.dir={run_dir}/spark-local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens",
                                              f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"] + harness_args)
    os.makedirs(f"{run_dir}/jtmp")
    with open(f"{run_dir}/jvm.log", "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result = f"{run_dir}/result.json"
    if code != 0 or not os.path.isfile(result):
        with open(f"{run_dir}/jvm.log", errors="replace") as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(f"harness failed ({code}):\n{tail}\n")
        raise SystemExit(1)
    with open(result, encoding="utf-8") as fh:
        return json.load(fh)


class Trace:
    """Spans and jobs from result.json; a job counts toward every span
    whose [start, end) wall-clock interval holds its submission time."""

    def __init__(self, r):
        self.spans = [dict(zip(("id", "name", "parent", "start", "end", "s"), s))
                      for s in r["spans"]]
        self.jobs = r["jobs"]

    def passes(self, kind):
        return [s for s in self.spans if s["name"] == f"pass:{kind}"]

    def children(self, span, name=None):
        return [s for s in self.spans if s["parent"] == span["id"]
                and (name is None or s["name"] == name)]

    def work(self, span):
        w = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
             "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
             "spill_mb": 0.0}
        for t, st, tasks, run_ms, cpu_ns, gc_ms, sr, sw, sp in self.jobs:
            if span["start"] <= t < span["end"]:
                w["jobs"] += 1
                w["stages"] += st
                w["tasks"] += tasks
                w["run_s"] += run_ms / 1e3
                w["cpu_s"] += cpu_ns / 1e9
                w["gc_s"] += gc_ms / 1e3
                w["shuffle_read_mb"] += sr / 1e6
                w["shuffle_write_mb"] += sw / 1e6
                w["spill_mb"] += sp / 1e6
        return w


def med(xs):
    return statistics.median(xs) if xs else 0.0


def check_outputs(workload, run_dir, r):
    if workload == "osm":
        facts = r["facts"]
        docs = {op: checks.read_docs(f"{run_dir}/verify_{fmt}_docs")
                for op, fmt in (("load_xml", "xml"), ("load_pbf", "pbf"))}
        return {**checks.check_load(facts, docs),
                **checks.check_query(facts, r["observed"])}
    return checks.check_faces(f"{run_dir}/data", f"{run_dir}/faces_out",
                              r["oracle_sql"], r["ops"])


def end_to_end(r, tr):
    timed = tr.passes("timed")
    work = [tr.work(p) for p in timed]
    return {
        "setup_s": (r["setup_s"], "s"),
        "pass_s": (med([p["s"] for p in timed]), "s"),
        "spark_jobs": (med([w["jobs"] for w in work]), "count"),
        "spark_tasks": (med([w["tasks"] for w in work]), "count"),
    }


def per_layer(workload, r, tr, staged):
    """Every per-layer metric; 0 for a layer the workload does not run."""
    traced = tr.passes("traced")
    plain = tr.passes("timed")
    m = {}

    def op_spans(name):
        return [c for p in traced for c in tr.children(p, f"op:{name}")]

    for op in OSM_OPS:
        spans = op_spans(op) if workload == "osm" else []
        m[f"OsmEngine.{op}_s"] = (med([s["s"] for s in spans]), "s")
        m[f"OsmEngine.{op}_jobs"] = (med([tr.work(s)["jobs"] for s in spans]),
                                     "count")
    # analysis on the Spark driver while each audit or query builds its frame
    m["OsmEngine.construct_s"] = (med([
        sum(c["s"] for op in tr.children(p) for c in tr.children(op, "construct"))
        for p in (traced if workload == "osm" else [])]), "s")
    probes = tr.passes("probe")
    for name, key in (("OsmXmlSplit.elements", "xml_rows"),
                      ("PbfSource.elements", "pbf_rows")):
        spans = [c for p in probes for c in tr.children(p, name)]
        m[f"{name}_s"] = (med([s["s"] for s in spans]), "s")
        m[f"{name.split('.')[0]}.rows"] = (r.get(key, 0), "count")
    for name in ("OsmEngine.shape_construct", "OsmEngine.shape_plan",
                 "OsmEngine.shape_exec", "OsmEngine.json_write"):
        spans = [c for p in probes for c in tr.children(p, name)]
        m[f"{name}_s"] = (med([s["s"] for s in spans]), "s")
    m["OsmEngine.json_mb"] = (r.get("json_bytes", 0) / 1e6, "MB")

    face_module = {f: mod for f, mod, _ in FACES}
    for f, _, _ in FACES:
        spans = op_spans(f) if workload == "faces" else []
        m[f"faces.{f}_s"] = (med([s["s"] for s in spans]), "s")
    for mod in MODULES:
        per_pass = {k: [] for k in ("construct", "plan", "exec", "jobs")}
        for p in (traced if workload == "faces" else []):
            sums = dict.fromkeys(per_pass, 0.0)
            for op in tr.children(p):
                if face_module.get(op["name"][3:]) != mod:
                    continue
                sums["jobs"] += tr.work(op)["jobs"]
                for c in tr.children(op):
                    sums[c["name"]] += c["s"]
            for k in per_pass:
                per_pass[k].append(sums[k])
        for k in ("construct", "plan", "exec"):
            m[f"operators.{mod}.{k}_s"] = (med(per_pass[k]), "s")
        m[f"operators.{mod}.jobs"] = (med(per_pass["jobs"]), "count")

    m["Staging.dirs_built"] = (len(staged), "count")
    m["Staging.staged_mb"] = (du_mb(staged), "MB")
    m["Graft.session_s"] = (r["session_s"], "s")
    work = [tr.work(p) for p in traced]
    m["spark.stages"] = (med([w["stages"] for w in work]), "count")
    m["spark.executor_run_s"] = (med([w["run_s"] for w in work]), "s")
    m["spark.cpu_s"] = (med([w["cpu_s"] for w in work]), "s")
    m["spark.gc_s"] = (med([w["gc_s"] for w in work]), "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = (med([w[k] for w in work]), "MB")
    # above 1.0, jobs from outside a pass would have been booked to it
    m["spark.executor_share_max"] = (max(
        (w["run_s"] / (p["s"] * r["cores"]) for w, p in zip(work, traced)),
        default=0.0), "ratio")
    m["jvm.peak_rss_mb"] = (r["peak_rss_mb"], "MB")
    traced_s = med([p["s"] for p in traced])
    plain_s = med([p["s"] for p in plain])
    m["trace.pass_s"] = (traced_s, "s")
    m["trace.plain_pass_s"] = (plain_s, "s")
    m["trace.overhead_s"] = (traced_s - plain_s, "s")
    # self time of a traced pass: what its operation spans do not cover
    m["trace.pass_self_s"] = (med([p["s"] - sum(c["s"] for c in tr.children(p))
                                   for p in traced]), "s")
    return m


def summarise(ops, runs, bad, errors):
    """`correct`, `attempted` and `failed` of a run. `bad` maps each
    operation whose verification output failed a check to its messages;
    such an operation counts as failed in every pass, and the run is not
    correct. `errors` maps an operation to the messages of each call that
    threw; each such call counts as failed."""
    return {
        "correct": not bad,
        "attempted": len(ops) * runs,
        "failed": sum(runs if op in bad else len(errors.get(op, []))
                      for op in ops),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes what it made
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cp = build.build()
    data_dir = faces_data_dir() if a.workload == "faces" else ""
    run_dir = os.path.join(HERE, "out",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = set(glob.glob(TMP_GLOB))
    try:
        r = run_jvm(cp, run_dir, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "dir": run_dir, "cores": CORES,
            "nodes": OSM_NODES, "ways": OSM_WAYS, "data": data_dir,
            "faces": ",".join(f for f, _, _ in FACES)})
        staged = sorted(set(glob.glob(TMP_GLOB)) - before)
        bad = check_outputs(a.workload, run_dir, r)
        tr = Trace(r)
        metrics = (per_layer(a.workload, r, tr, staged) if a.trace
                   else end_to_end(r, tr))
    finally:
        for p in set(glob.glob(TMP_GLOB)) - before:
            shutil.rmtree(p, ignore_errors=True)
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(run_dir, ignore_errors=True)

    errors = r["errors"]
    for op, msgs in bad.items():
        sys.stderr.write(f"check failed: {op}: {msgs[0]}\n")
    for op, msgs in errors.items():
        sys.stderr.write(f"error: {op}: {msgs[0]}\n")
    print(json.dumps({
        **summarise(r["ops"], r["executions"], bad, errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
