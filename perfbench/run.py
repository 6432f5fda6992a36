#!/usr/bin/env python3
"""Layered benchmark of the graft engine (see BENCHMARK.json).

    python3 perfbench/run.py --workload <llm_ops|stream_events>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (build.py), makes the input tables once per
build with the engine's own generator, runs one workload in one JVM
(Spark at local[N], N = half the CPUs this process may use), checks the
outputs, and prints one JSON line: the end-to-end metrics with --trace 0,
the per-layer metrics of a traced run with --trace 1. Everything it writes
stays under perfbench/.build and perfbench/.work.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("llm_ops", "stream_events")
# GenSf's scale multiplies sf0.01 row counts: 1 makes sf0.01 (60k lineitem).
SCALE = 1
SETUP_ROUNDS = 5
# One file per trigger; a warm micro-batch of 2000 rows takes 250-800 ms
# on 2 task threads, so a file a second leaves headroom.
STREAM = {"rows": 2000, "backlog": 9, "interval_ms": 1000, "users": 2000}
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # A run is about a minute, too short for C2: with it, llm_ops passes
    # kept falling (21.7, 21.3, 17.0, 13.7, 12.0 s) and a run measured
    # wherever on that curve the host's load left it. C1 alone is flat
    # after one pass. C1 alone also shrinks the code cache to 48 MB, which
    # filled in about 50 s; its sweeper then evicted and recompiled methods
    # at several cores' worth of CPU. G1's concurrent marking threads ran
    # into whichever operation came next; ParallelGC does its work inside
    # the operation that allocates.
    "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UseCodeCacheFlushing", "-XX:+UseParallelGC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm(jar, args, log_path, timeout, archive_opt):
    """Runs perfbench.Main; its output goes to log_path, [perfbench] lines
    are echoed. Kills the whole process group on timeout."""
    import build
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [archive_opt, f"-Djava.io.tmpdir={tmp}",
                                 "-cp", build.classpath(jar), "perfbench.Main"] + args
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: JVM exited with {rc}")


def prepare(jar, deadline):
    """Once per build: the input tables, made by the engine's own generator
    (GenSf is seed-free: every cell is a hash of its key), and a class-data
    archive recorded while making them, which every later JVM of this
    build maps in place of loading Spark's classes one by one."""
    out = os.path.dirname(jar)
    data = os.path.join(out, "data")
    archive = os.path.join(out, "classes.jsa")
    if not os.path.exists(archive):
        shutil.rmtree(data, ignore_errors=True)
        log(f"generating tables at scale {SCALE}")
        jvm(jar, ["gendata", data + ".dims", data, str(SCALE)],
            os.path.join(out, "gendata.log"), deadline - time.time(),
            f"-XX:ArchiveClassesAtExit={archive}.tmp")
        shutil.rmtree(data + ".dims")
        os.replace(archive + ".tmp", archive)
    return data, f"-XX:SharedArchiveFile={archive}"


def figures(rec):
    """CPU and wall figures of a run's untraced timed passes, in ms.

    `llm_ops` takes each operation's median over the passes: a burst of
    host load, or the order a seed gives, slows an operation in one pass,
    not in most. CPU and pass time sum those medians; latency is the
    median operation's (pooled instead, the middle of 15 samples from 5
    operations of different sizes jumped between operations from run to
    run). `stream_events` sums its shapes' drains and pools its open-loop
    latencies."""
    if "passes" in rec:
        traced = {p["pass"] for p in rec["passes"] if p["traced"]}
        cpu, wall = {}, {}
        for o in rec["ops"]:
            if o["pass"] > 0 and o["pass"] not in traced and o["ok"]:
                cpu.setdefault(o["name"], []).append(o["cpuMs"])
                wall.setdefault(o["name"], []).append(o["ms"])
        walls = [statistics.median(v) for v in wall.values()]
        return {"cpu_ms": sum(statistics.median(v) for v in cpu.values()),
                "wall.pass_ms": sum(walls),
                "wall.latency_p50_ms": statistics.median(walls)}
    shapes = [s for s in rec["shapes"] if s["ok"] and not s["traced"]]
    return {"cpu_ms": sum(s["drain_cpu_ms"] for s in shapes),
            "wall.pass_ms": sum(s["drain_ms"] for s in shapes),
            "wall.latency_p50_ms": statistics.median(
                x for s in shapes for x in s["latencies_ms"])}


def layer_metrics(rec, spans, cores):
    """Per-layer metrics of a traced run, each the median over its traced
    passes of a per-pass sum (maxima where named so)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(root):
        out, todo = [], [root["id"]]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k["id"])
        return out

    def total(ss, kind, key="dur_ms"):
        return sum(s.get(key, 0) for s in ss if s["kind"] == kind)

    per_pass = []
    shapes = [s for s in rec.get("shapes", []) if s.get("traced")]
    control = set(rec.get("control", []))
    for p in (s for s in spans if s["kind"] == "pass"):
        d = under(p)
        # jobs are charged to exec spans (batch) and shape spans (stream);
        # a shape's execution time is its batches' triggerExecution, not
        # its wall time, which also holds the generator's schedule
        execs = [s for s in d if s["kind"] in ("exec", "shape")]
        batches = [s for s in d if s["kind"] == "batch"]
        exec_wall = total(d, "exec") + sum(s["dur_ms"] for s in batches)
        exec_self = exec_wall - total(d, "plan")
        m = {
            "build.ms": total(d, "build"),
            "build.jobs": total(d, "build", "jobs"),
            "build.schema_jobs": total(d, "build", "schema_jobs"),
            "build.task_cpu_ms": total(d, "build", "task_cpu_ms"),
            "api.rdds_left": sum(s.get("rdds_left", 0) for s in d
                                 if s["kind"] in ("query", "pipeline")),
            "plan.analysis_ms": total(d, "plan", "analysis_ms"),
            "plan.optimization_ms": total(d, "plan", "optimization_ms"),
            "plan.planning_ms": total(d, "plan", "planning_ms"),
            "plan.nodes": total(d, "plan", "nodes"),
            "plan.exchanges": total(d, "plan", "exchanges"),
            "plan.scans": total(d, "plan", "scans"),
            "exec.ms": exec_self,
            "exec.core_busy_ratio":
                sum(s["task_run_ms"] for s in execs) / (exec_wall * cores)
                if exec_wall else 0.0,
            "control.ms": sum(s["dur_ms"] for s in d
                              if s["kind"] == "query" and s["name"] in control),
            "control.eager_jobs": sum(s["jobs"] - s["schema_jobs"] for s in d
                                      if s["kind"] == "build" and s["name"] in control),
            "control.builds": sum(1 for s in d
                                  if s["kind"] == "build" and s["name"] in control),
            "pipeline.parse_ms": total(d, "parse"),
            "pipeline.compile_ms": total(d, "compile"),
            "pipeline.compile_jobs": total(d, "compile", "jobs"),
            "pipeline.nodes": total(d, "pipeline", "nodes"),
            "stream.batches": len(batches),
            "stream.trigger_ms": sum(s["dur_ms"] for s in batches),
            "state.rows_updated": sum(s["state_rows_updated"] for s in batches),
            "state.commit_ms": sum(s["state_commit_ms"] for s in batches),
        }
        for k in ("jobs", "stages", "tasks", "task_cpu_ms", "gc_ms",
                  "sched_wait_ms", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
            m[f"exec.{k}"] = sum(s[k] for s in execs)
        for k, phase in (("get_batch_ms", "getBatch"),
                         ("query_planning_ms", "queryPlanning"),
                         ("add_batch_ms", "addBatch"),
                         ("wal_commit_ms", "walCommit"),
                         ("commit_offsets_ms", "commitOffsets")):
            m[f"stream.{k}"] = sum(s.get(f"phase.{phase}", 0) for s in batches)
        m["state.rows_total"] = sum(s.get("state_rows_total", 0) for s in shapes)
        m["state.memory_bytes"] = sum(s.get("state_memory_bytes", 0) for s in shapes)
        m["source.backlog_max_files"] = max(
            [s.get("backlog_max_files", 0) for s in shapes], default=0)
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    for k in ("session_ms", "warm_ms", "input_ms"):
        out[f"setup.{k}"] = statistics.median(r[k] for r in rec["setup"])
    # the first set-up round, counted from JVM start
    out["setup.first_ms"] = sum(rec["setup"][0].values())
    out["generator.late_ms_max"] = max(
        [s.get("late_ms_max", 0) for s in rec.get("shapes", [])], default=0)
    host = rec["host"]
    out["host.foreign_ppm"] = host["foreign_ppm"]
    out["host.steal_ppm"] = host["steal_ppm"]
    out["host.load1"] = host["load1"]
    # the traced pass is compared with the untraced pass after it (llm_ops
    # runs untraced, traced, untraced; stream_events traced, untraced, so
    # there the ratio also holds pass 1's lesser warmth and reads high)
    if "passes" in rec:
        ms = {p["pass"]: p["ms"] for p in rec["passes"]}
    else:
        ms = {}
        for s in rec["shapes"]:
            ms[s["pass"]] = ms.get(s["pass"], 0) + s.get("drain_ms", 0)
    t = 1 if "passes" not in rec else 2
    out["trace.overhead_ratio"] = ms[t] / ms[t + 1]
    out.update((k, v) for k, v in figures(rec).items() if k.startswith("wall."))
    return out


def separation_problems(workload, m):
    """The traced run's self-check: each workload still exercises the
    layers it was chosen for, and the lazy relational control queries of
    llm_ops still build without firing a job."""
    if workload == "llm_ops":
        want = {
            "control queries traced": m["control.builds"] > 0,
            "no build job but schema reads on the control queries":
                m["control.eager_jobs"] == 0,
            "build jobs beyond schema reads on llm_ops":
                m["build.jobs"] > m["build.schema_jobs"],
            "plan.* > 0 on llm_ops": m["plan.nodes"] > 0,
            "pipeline.* > 0 on llm_ops":
                m["pipeline.nodes"] > 0 and m["pipeline.compile_ms"] > 0,
        }
    else:
        want = {
            "stream.batches > 0 on stream_events": m["stream.batches"] > 0,
            "state.rows_total > 0 on stream_events": m["state.rows_total"] > 0,
        }
    return [k for k, ok in want.items() if not ok]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fingerprints", default=os.path.join(HERE, "fingerprints.json"),
                    help="expected pipeline fingerprints")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from a checkout of the repository")
    sys.path.insert(0, HERE)
    import build
    import check
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    jar = build.build()
    data, archive_opt = prepare(jar, start + 880)
    # a first run in a checkout builds; later runs must end within 180 s
    deadline = start + (880 if time.time() - start > 5 else 170)

    # half the CPUs run tasks; the other half keep the JVM's own threads
    # (driver, scheduler, GC, JIT) and the host's other load off them
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    out = os.path.join(WORK, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # the open-loop phases of the four shapes together last about --seconds
    stream = dict(STREAM, open=max(3, round(a.seconds * 1000 / (4 * STREAM["interval_ms"]))))
    args = ["run", f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores}",
            f"data={data}", f"out={out}", f"setup_rounds={SETUP_ROUNDS}",
            f"pipelines={os.path.join(HERE, 'pipelines')}"]
    args += [f"{k}={v}" for k, v in stream.items()]
    jvm(jar, args, os.path.join(out, "jvm.log"), deadline - time.time() - 10, archive_opt)
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)

    failed_ops = {f["op"] for f in rec["failures"]}
    failed = len(rec["failures"])
    if a.workload != "stream_events":
        with open(a.fingerprints) as f:
            fps = json.load(f)
        problems = check.check_batch(rec, os.path.join(out, "check"), data,
                                     os.path.join(os.path.dirname(jar), "oracle"),
                                     fps)
        for name, why in problems.items():
            log(f"CHECK FAILED {name}: {why}")
        failed += len(set(problems) - failed_ops)
    else:
        bad = [s for s in rec["shapes"] if not s["ok"]]
        for s in bad:
            log(f"CHECK FAILED {s['shape']} pass {s['pass']}: stream != batch twin")
        failed += len([s for s in bad if s["shape"] not in failed_ops])

    log("host: " + json.dumps(rec["host"]))
    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        metrics = layer_metrics(rec, spans, cores)
        bad = separation_problems(a.workload, metrics)
        if bad:
            sys.exit(f"perfbench: layer-separation self-check failed on "
                     f"{a.workload}: {bad}")
        log(f"spans: {os.path.join(out, 'spans.jsonl')}")
        result = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                  for m in declared["per_layer"]}
    else:
        f = figures(rec)
        log(f"wall: pass {f['wall.pass_ms']:.0f} ms, "
            f"latency p50 {f['wall.latency_p50_ms']:.0f} ms")
        values = {"setup_s": statistics.median(sum(r.values()) for r in rec["setup"]) / 1000,
                  "cpu_s": f["cpu_ms"] / 1000}
        result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                  for m in declared["end_to_end"]}
    log(f"run took {time.time() - start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": rec["attempted"],
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
