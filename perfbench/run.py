#!/usr/bin/env python3
"""Benchmark for the GraphRAFT question path of graphraftspark.

    python3 perfbench/run.py --workload qa_online --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine from
src/main/scala together with the harness in perfbench/jvm (sbt, offline);
later runs reuse the build while the sources are unchanged. Build output,
run files and logs go under $CARGO_TARGET_DIR (default .bench_build).

Workloads (see README.md): qa_online sends generated questions one at a
time through GraphRaft.run; qa_batch sends them all at once through the
batched TrainingData operators and Metrics.macroAvg. The last stdout line
is one JSON object: correct, attempted, failed and the metrics (end-to-end
ones with --trace 0, per-layer ones with --trace 1). The command exits
non-zero when the outputs fail the DuckDB check.

--selftest runs the workload, then feeds the checker corrupted copies of
the outputs and exits non-zero unless the checker rejects every one.
"""
import argparse
import copy
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

ONLINE_QUESTIONS = 60   # more questions than any run reaches
BATCH_ROUNDS = 5        # one batch pass = BATCH_ROUNDS rounds of every kind
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
MB = 1e6

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END_UNITS = {"setup_s": "s", "setup_cache_mb": "MB", "question_latency_p50_s": "s",
                    "questions_per_s": "1/s"}
PER_LAYER_UNITS = {
    "setup.session_s": "s", "setup.graph_s": "s", "setup.warmup_s": "s",
    "pipeline.match_s": "s", "pipeline.enumerate_s": "s", "pipeline.rank_s": "s",
    "pipeline.retrieve_build_s": "s", "pipeline.retrieve_action_s": "s",
    "pipeline.batch_candidates_s": "s", "pipeline.batch_gate_s": "s",
    "pipeline.batch_sample_s": "s", "pipeline.batch_retrieve_s": "s", "operators.metrics_s": "s",
    "spark.jobs_per_question": "count", "spark.stages_per_question": "count",
    "spark.tasks_per_question": "count", "spark.task_cpu_s_per_question": "s",
    "spark.shuffle_mb_per_question": "MB", "spark.jobs_per_batch": "count",
    "spark.task_cpu_s_per_batch": "s", "spark.shuffle_mb_per_batch": "MB",
    "pipeline.candidates_per_question": "count", "pipeline.retrieved_per_question": "count",
    "pipeline.batch_candidate_rows": "count", "pipeline.gated_ratio": "ratio"}
# traced qa_online runs also time the LOAD steps after the graph build and
# the nine catalog entries (perfbench/jvm CatalogLoad); the IVF store step
# is left out
LOAD_STEPS = ["graph", "adjacency", "graphx", "bucketed", "zorder", "partitioned", "tar",
              "search"]
CATALOG = ["graph_betweenness", "graph_modularity", "graph_scc_bounded", "graph_kcore",
           "cy_shortest_rels", "a5_ir_bootstrap", "dedup_ngram_jaccard", "pipeline_retrieve",
           "j2_onehop"]
for _s in LOAD_STEPS:
    PER_LAYER_UNITS.update({f"sources.{_s}.time_s": "s", f"sources.{_s}.jobs": "count",
                            f"sources.{_s}.written_mb": "MB"})
for _e in CATALOG:
    PER_LAYER_UNITS.update({f"catalog.{_e}.build_s": "s", f"catalog.{_e}.action_s": "s",
                            f"catalog.{_e}.jobs": "count", f"catalog.{_e}.task_cpu_s": "s",
                            f"catalog.{_e}.shuffle_mb": "MB"})

ONLINE_STAGES = ["pipeline.match", "pipeline.enumerate", "pipeline.rank",
                 "pipeline.retrieve_build", "pipeline.retrieve_action"]
BATCH_STAGES = ["pipeline.batch_candidates", "pipeline.batch_gate", "pipeline.batch_sample",
                "pipeline.batch_retrieve", "operators.metrics"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    dirs = [ROOT / "src" / "main", HERE / "jvm"]
    for d in dirs:
        for p in sorted(d.rglob("*")):
            if p.is_file() and "target" not in p.relative_to(d).parts:
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compiles engine + harness; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src/main/scala/graft'}; "
             "run from the root of a graphraftspark checkout")
    stamp, cp_file = source_stamp(), build_dir / "classpath.txt"
    if cp_file.exists() and (build_dir / "stamp").exists() \
            and (build_dir / "stamp").read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.server.autostart=false", "-Xmx3g"]))
    t = time.time()
    with open(build_dir / "build.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime / fullClasspathAsJars"],
                           cwd=HERE / "jvm", env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = (build_dir / "build.log").read_text().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {build_dir / 'build.log'}")
    cp_file.write_text(cps[-1])
    (build_dir / "stamp").write_text(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return cps[-1]


def run_jvm(cp, workload, run_dir, qfile, seconds, trace):
    cpus = len(os.sched_getaffinity(0))
    mem = os.environ.get("SPARK_DRIVER_MEM", "4g")
    cmd = ["java", f"-Xmx{mem}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", cp, "graftbench.Main", workload, str(HERE / "data"), str(qfile),
           str(run_dir), str(seconds), str(trace), str(cpus)]
    (run_dir / "tmp").mkdir()
    with open(run_dir / "jvm.log", "w") as out:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark process exceeded {JVM_TIMEOUT_S} s; see {run_dir / 'jvm.log'}", 1)
    if r.returncode != 0 or not (run_dir / "result.json").exists():
        fail(f"benchmark process failed (exit {r.returncode}); see {run_dir / 'jvm.log'}", 1)
    return json.loads((run_dir / "result.json").read_text())


def read_outputs(workload, run_dir):
    if workload == "qa_online":
        return [json.loads(l) for l in (run_dir / "online.jsonl").read_text().splitlines()]
    p = run_dir / "batch.json"
    return json.loads(p.read_text()) if p.exists() else None


def read_traced(con, res, run_dir):
    """The catalog results and layout read-backs of a traced run."""
    oracle = json.loads((run_dir / "oracle_sql.json").read_text())
    return oracle, check.read_catalog(con, run_dir, CATALOG), \
        check.read_layouts(con, res["load_written"])


def run_check(con, workload, questions, outputs, traced):
    if workload == "qa_online":
        problems = check.check_online(con, questions, outputs)
    else:
        problems = check.check_batch(con, questions, outputs) if outputs \
            else ["no batch pass finished"]
    if traced:
        oracle, catalog, layouts = traced
        problems += check.check_catalog(con, oracle, catalog) + check.check_load(layouts)
    return problems


def end_to_end(workload, res):
    s, t = res["setup"], res["timings"]
    m = {"setup_s": s["total_s"],
         "setup_cache_mb": s["cache_bytes"] / MB}
    if workload == "qa_online":
        lat = t["latencies_s"]
        m["question_latency_p50_s"] = statistics.median(lat)
        m["questions_per_s"] = len(lat) / t["wall_s"]
    else:
        # every question of a pass is answered when the pass ends
        passes = [sum(p) for p in t["pass_stage_s"]]
        m["question_latency_p50_s"] = statistics.median(passes)
        m["questions_per_s"] = t["questions"] / statistics.median(passes)
    return m


def per_layer(workload, res, outputs):
    """Per-layer figures from the spans. A layer the workload never enters
    reads 0. Stage times are self times: a span's duration minus its
    children's."""
    spans = [dict(zip(("id", "parent", "name", "req", "start", "end", "jobs", "stages",
                       "tasks", "cpu_s", "shuffle_b"), s)) for s in res["spans"]]
    child = {}
    for sp in spans:
        child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    for sp in spans:
        sp["self"] = sp["end"] - sp["start"] - child.get(sp["id"], 0.0)
    top = "question" if workload == "qa_online" else "batch"
    roots = [sp for sp in spans if sp["name"] == top and sp["parent"] == -1]
    stages = ONLINE_STAGES if workload == "qa_online" else BATCH_STAGES
    med = lambda xs: statistics.median(xs) if xs else 0.0
    by_root = {r["id"]: {st: 0.0 for st in stages} for r in roots}
    for sp in spans:
        if sp["parent"] in by_root and sp["name"] in stages:
            by_root[sp["parent"]][sp["name"]] += sp["self"]
    m = {"setup.session_s": res["setup"]["session_s"],
         "setup.graph_s": res["setup"]["graph_s"],
         "setup.warmup_s": res["setup"]["warmup_s"]}
    for st in ONLINE_STAGES + BATCH_STAGES:
        m[st + "_s"] = med([v[st] for v in by_root.values()]) if st in stages else 0.0
    n = 1 if workload == "qa_online" else res["timings"]["questions"]
    for key, name, scale in (("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
                             ("cpu_s", "task_cpu_s", 1), ("shuffle_b", "shuffle_mb", MB)):
        per_q = med([r[key] / scale / n for r in roots])
        m[f"spark.{name}_per_question"] = per_q
        if name in ("jobs", "task_cpu_s", "shuffle_mb"):
            m[f"spark.{name}_per_batch"] = per_q * n if workload == "qa_batch" else 0.0
    if workload == "qa_online":
        timed = [r for r in outputs if not r["warmup"]]
        m["pipeline.candidates_per_question"] = statistics.mean(len(r["candidates"]) for r in timed)
        m["pipeline.retrieved_per_question"] = statistics.mean(len(r["retrieved"]) for r in timed)
        m["pipeline.batch_candidate_rows"] = 0.0
        m["pipeline.gated_ratio"] = 0.0
    else:
        m["pipeline.candidates_per_question"] = len(outputs["candidates"]) / n
        m["pipeline.retrieved_per_question"] = len(outputs["retrieved"]) / n
        m["pipeline.batch_candidate_rows"] = float(len(outputs["candidates"]))
        m["pipeline.gated_ratio"] = len(outputs["gated"]) / n
    for step in LOAD_STEPS:
        sps = [sp for sp in spans if sp["name"] == "load" and sp["req"] == step]
        m[f"sources.{step}.time_s"] = sum(sp["end"] - sp["start"] for sp in sps)
        m[f"sources.{step}.jobs"] = sum(sp["jobs"] for sp in sps)
        m[f"sources.{step}.written_mb"] = \
            res["load_written"].get(step, {}).get("bytes", 0) / MB
    for e in CATALOG:
        b = [sp for sp in spans if sp["name"] == "catalog.build" and sp["req"] == e]
        a = [sp for sp in spans if sp["name"] == "catalog.action" and sp["req"] == e]
        m[f"catalog.{e}.build_s"] = sum(sp["end"] - sp["start"] for sp in b)
        m[f"catalog.{e}.action_s"] = sum(sp["end"] - sp["start"] for sp in a)
        m[f"catalog.{e}.jobs"] = sum(sp["jobs"] for sp in a + b)
        m[f"catalog.{e}.task_cpu_s"] = sum(sp["cpu_s"] for sp in a + b)
        m[f"catalog.{e}.shuffle_mb"] = sum(sp["shuffle_b"] for sp in a + b) / MB
    layers = {}
    for sp in spans:
        layer = layers.setdefault(sp["name"], {"calls": 0, "self_s": 0.0, "jobs": 0})
        layer["calls"] += 1
        layer["self_s"] += sp["self"]
        layer["jobs"] += sp["jobs"]
    return m, layers


def corruptions(workload, outputs, traced):
    """(what, corrupted outputs, corrupted traced outputs), one per fault
    the checker must catch."""
    out = []

    def variant(what, edit, on_traced=False):
        o, t = copy.deepcopy(outputs), copy.deepcopy(traced)
        edit(t if on_traced else o)
        out.append((what, o, t))

    if workload == "qa_online":
        variant("one candidate's num_results + 1",
                lambda o: o[0]["candidates"][0].__setitem__(2, o[0]["candidates"][0][2] + 1))
        variant("pattern-found nodes dropped",
                lambda o: o[0].__setitem__("retrieved", [x for x in o[0]["retrieved"]
                                                         if x[3] == ["No pattern"]]))
        variant("last retrieved node dropped", lambda o: o[0]["retrieved"].pop())
        variant("last backfill node dropped", lambda o: next(
            r for r in o if r["retrieved"] and r["retrieved"][-1][3] == ["No pattern"])
            ["retrieved"].pop())
        variant("two backfill nodes swapped", lambda o: next(
            r for r in o if r["retrieved"] and r["retrieved"][-1][3] == ["No pattern"])
            ["retrieved"].reverse())
    else:
        variant("one candidate row's hits + 1",
                lambda o: o["candidates"][0].__setitem__(2, o["candidates"][0][2] + 1))
    if traced:
        variant("one catalog row dropped",
                lambda t: t[1]["graph_kcore"][1].pop(), on_traced=True)
        variant("one z-order row lost",
                lambda t: t[2].__setitem__("zorder", ((t[2]["zorder"][0][0] - 1,
                                                       t[2]["zorder"][0][1]),
                                                      t[2]["zorder"][1])), on_traced=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["qa_online", "qa_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    build_dir.mkdir(parents=True, exist_ok=True)
    cp = build(build_dir)

    run_dir = build_dir / f"run-{a.workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    # qa_online: the warm-up is the first question (low degree) and one
    # question that names no node; qa_batch: one question of every kind
    n_kinds = len(gen.KINDS)
    warm, n = (1, ONLINE_QUESTIONS) if a.workload == "qa_online" \
        else (n_kinds, n_kinds * BATCH_ROUNDS)
    qs = gen.generate(str(HERE / "data"), a.seed, warm + n)
    warmup, questions = qs[:warm], qs[warm:]
    if a.workload == "qa_online":
        warmup.append(gen.unmatched(str(HERE / "data"), a.seed, len(qs)))
    qfile = run_dir / "questions.json"
    qfile.write_text(json.dumps({"warmup": warmup, "questions": questions}))

    res = run_jvm(cp, a.workload, run_dir, qfile, a.seconds, a.trace)
    t_check = time.time()
    outputs = read_outputs(a.workload, run_dir)
    con = check.connect(str(HERE / "data"), str(run_dir / "duckdb-tmp"))
    traced = read_traced(con, res, run_dir) if res["load_written"] else None
    # qa_online's outputs include the warm-up answer; qa_batch's only the timed pass
    checked = warmup + questions if a.workload == "qa_online" else questions
    problems = run_check(con, a.workload, checked, outputs, traced)
    log(f"checked in {time.time() - t_check:.1f} s: {len(problems)} problems")
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    if a.selftest:
        ok = not problems
        log(f"selftest: clean outputs {'pass' if ok else 'FAIL'}")
        for what, bad, bad_traced in corruptions(a.workload, outputs, traced):
            caught = run_check(con, a.workload, checked, bad, bad_traced)
            log(f"selftest: {what}: {'rejected' if caught else 'ACCEPTED'}")
            ok = ok and bool(caught)
        sys.exit(0 if ok else 1)

    if res["attempted"] == res["failed"]:
        fail("every operation failed; see the JVM log", 1)
    e2e = end_to_end(a.workload, res)
    if a.trace:
        metrics, layers = per_layer(a.workload, res, outputs)
        (run_dir / "trace_summary.json").write_text(json.dumps(
            {"traced_end_to_end": e2e, "layers": layers}, indent=1))
        log("traced end-to-end (for the tracing overhead): " + json.dumps(e2e))
        units = PER_LAYER_UNITS
    else:
        metrics, units = e2e, END_TO_END_UNITS
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": float(metrics[k]), "unit": u}
                                  for k, u in units.items()}}, separators=(",", ":")))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
