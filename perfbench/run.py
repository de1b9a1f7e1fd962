"""Benchmark of the plug engine and the operator mix, end to end and by layer.

    python3 perfbench/run.py --workload plug_audit --seed 1 --seconds 4 --trace 0

One run is one JVM (`local[nproc]`, shuffle partitions = nproc) driving one
closed loop: a first pass, then steady passes back to back until `--seconds`
have passed, then an untimed check pass. Every pass is checked against an
independent DuckDB reference; the last line of stdout is the JSON result.
With `--trace 1` the run records spans and reports per-layer metrics
instead of end-to-end ones. See perfbench/README.md.
"""

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import reference  # noqa: E402
import rulegen  # noqa: E402
import spans as spanlib  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PLUG_ROWS = 100_000
MIX_QUERIES = [
    "star_pricing_summary", "text_invidx_phrase3", "ingest_manifest_changes",
    "docs_conformal_gate", "dedup_edit_distance", "sim_pq_topk", "stream_gdpr_erase",
    "docs_quality_blend", "events_bt_rank", "multimodal_phash_dedup"]
WORKLOADS = {"plug_audit": 50, "plug_long_chain": 500, "pipeline_mix": 0}
PREP_REPS = 3
JVM_DEADLINE_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = ["setup_s", "first_pass_s", "pass_s"]


def per_layer_names():
    names = ["plug.validate_s", "plug.build_s", "plug.stage_jobs", "plug.changed_rows",
             "plug.audit_len_mean",
             "catalyst.plan_s", "catalyst.analysis_s", "catalyst.optimization_s",
             "catalyst.planning_s",
             "codegen.compile_s", "codegen.methods", "codegen.max_method_bytes",
             "codegen.huge_methods",
             "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
             "exec.gc_s", "exec.max_task_s", "exec.busy_frac", "exec.shuffle_bytes",
             "exec.spill_bytes",
             "self.plug_s", "self.catalyst_s", "self.codegen_s", "self.exec_s", "self.mix_s",
             "self.harness_s", "trace.pass_s", "trace.overhead_s",
             "input.hit_rate_mean", "input.rewritten_read_share", "peak_rss_mb"]
    for q in MIX_QUERIES:
        names += [f"mix.{q}.{m}" for m in ("build_s", "plan_s", "exec_s", "jobs", "task_s",
                                            "shuffle_bytes", "files_written")]
    return names


def unit(name):
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith("_s") or name == "exec.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_mean", "_share")):
        return "ratio"
    return "count"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return []


def run_jvm(args, work, rules_path, order, t0):
    out = os.path.join(work, "out.json")
    log = os.path.join(work, "jvm.log")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + ["-Xmx2g", "-Dspark.ui.enabled=false",
                               "-Dspark.sql.session.timeZone=UTC",
                               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                               "-cp", build.classpath(), "perfbench.PerfBench"]
           + [f"{k}={v}" for k, v in {
               "workload": args.workload, "data": os.path.join(WORK, "data"),
               "rules": rules_path, "order": ",".join(order), "out": out,
               "result": os.path.join(work, "result"), "work": work,
               "seconds": args.seconds, "cores": args.cores, "trace": args.trace,
               "t0_ms": int(t0 * 1000), "prep_reps": PREP_REPS,
               "min_steady": 4 if args.trace else 1}.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    budget = max(30.0, JVM_DEADLINE_S - (time.time() - t0))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"the JVM ran past {budget:.0f} s; log: {log}")
        finally:  # never leave the JVM behind, also when this process is stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"the JVM failed with code {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def check_passes(res, args, work, rules, order):
    """Verdict per pass plus the reference facts. A pass fails if it threw,
    if its digest differs from the checked result's, or if the checked result
    differs from the reference."""
    passes = res["passes"]
    if not res["check_ok"]:
        return [f"check pass failed: {res['check_error']}"] * len(passes), {}
    work_result = os.path.join(work, "result")
    facts, ref_errors = {}, []
    if args.workload == "pipeline_mix":
        verdicts = reference.mix_check(os.path.join(WORK, "data"), work_result, order)
        facts["oracle"] = verdicts
        ref_errors = [f"{q}: {v}" for q, v in verdicts.items() if v != "ok"]
        ref_digests = dict(kv.split("=", 1) for kv in res["check_digest"].split(","))
    else:
        types = {c: rulegen.ACTION_COLUMNS[c] for c in rulegen.ACTION_COLUMNS}
        ok, facts = reference.plug_check(os.path.join(WORK, "data", "lineitem_plug.parquet"),
                                         work_result, rules, types,
                                         audit=args.workload == "plug_audit")
        if not ok:
            ref_errors = [f"result digest {facts['result_digest']} != reference "
                          f"{facts['reference_digest']}"]
    out = []
    for p in passes:
        errs = list(ref_errors)
        if not p["ok"]:
            errs.append(p["error"])
        elif args.workload == "pipeline_mix":
            got = dict(kv.split("=", 1) for kv in p["digest"].split(","))
            errs += [f"{q}: pass digest differs" for q in order if got.get(q) != ref_digests.get(q)]
        else:
            if p["digest"] != res["check_digest"]:
                errs.append("pass digest differs from the checked result")
            if args.workload == "plug_audit":
                if p["info"]["changed_rows"] != facts["changed_rows"]:
                    errs.append(f"changedRowCount {p['info']['changed_rows']} != "
                                f"reference {facts['changed_rows']}")
                if p["info"]["audit_len_sum"] != facts["audit_len_sum"]:
                    errs.append("audit length differs from the reference")
        out.append("; ".join(errs))
    return out, facts


def end_to_end(res):
    steady = [p["wall_s"] for p in res["passes"] if p["kind"] == "steady"]
    return {"setup_s": res["session_s"] + statistics.median(res["prep_s"]),
            "first_pass_s": res["passes"][0]["wall_s"],
            "pass_s": statistics.median(steady)}


def trace_spans(res):
    """Spans of the run, with Spark jobs as `spark.job` spans and one `run`
    span around every traced pass."""
    spans = [dict(s) for s in res["spans"]]
    next_id = max([s["id"] for s in spans], default=0) + 1
    for j in res["jobs"]:
        spans.append({"id": next_id, "name": "spark.job", "parent": j["span"],
                      "start": j["start"], "end": j["end"], "job": j["id"]})
        next_id += 1
    roots = [s for s in spans if s["parent"] == 0 and s["name"] == "pass"]
    if roots:
        run_span = {"id": next_id, "name": "run", "parent": 0,
                    "start": min(s["start"] for s in roots), "end": max(s["end"] for s in roots)}
        for s in roots:
            s["parent"] = run_span["id"]
        spans.append(run_span)
    return spanlib.attach_orphans(spans)


def layer_metrics(res, spans, facts, rules, cores):
    """Per-layer metrics of the median traced steady pass (the first pass
    when no steady pass was traced), plus run-wide codegen figures."""
    steady = [p for p in res["passes"] if p["kind"] == "steady"]
    traced = sorted((p for p in steady if p["traced"] and p["ok"]), key=lambda p: p["wall_s"])
    untraced = [p["wall_s"] for p in steady if not p["traced"] and p["ok"]]
    pick = traced[len(traced) // 2] if traced else res["passes"][0]
    tree = spanlib.subtree(spans, pick["span"])
    ids = {s["id"] for s in tree}
    stats = [v for k, v in res["span_stats"].items() if int(k) in ids]

    def total(name):
        return sum(s["end"] - s["start"] for s in tree if s["name"] == name)

    def stat(key, rows=stats):
        return sum(r[key] for r in rows)

    exec_s = spanlib.union_length([(s["start"], s["end"]) for s in tree if s["name"] == "spark.job"])
    selfs = spanlib.layer_self_times(spans, pick["span"])
    cg, info = res["codegen"], pick.get("info", {})
    rows = info.get("rows", 0)
    build_ids = {s["id"] for s in tree if s["name"] == "plug.build"}
    m = {
        "plug.validate_s": total("plug.validate"),
        "plug.build_s": total("plug.build"),
        "plug.stage_jobs": stat("jobs", [v for k, v in res["span_stats"].items()
                                         if int(k) in build_ids]),
        "plug.changed_rows": max(0.0, info.get("changed_rows", 0.0)),
        "plug.audit_len_mean": info.get("audit_len_sum", 0.0) / rows if rows else 0.0,
        "catalyst.plan_s": total("catalyst.plan") + sum(
            total(f"mix.{q}.plan") for q in MIX_QUERIES),
        "catalyst.analysis_s": info.get("analysis_s", 0.0),
        "catalyst.optimization_s": info.get("optimization_s", 0.0),
        "catalyst.planning_s": info.get("planning_s", 0.0),
        "codegen.compile_s": cg["compile_s"],
        "codegen.methods": cg["methods"],
        "codegen.max_method_bytes": max(cg["max_method_bytes"], info.get("max_method_bytes", 0)),
        "codegen.huge_methods": cg["huge_methods"],
        "exec.s": exec_s, "exec.jobs": stat("jobs"), "exec.stages": stat("stages"),
        "exec.tasks": stat("tasks"), "exec.task_s": stat("task_s"), "exec.cpu_s": stat("cpu_s"),
        "exec.gc_s": stat("gc_s"),
        "exec.max_task_s": max([r["max_task_s"] for r in stats], default=0.0),
        "exec.busy_frac": stat("task_s") / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_bytes": stat("shuffle_bytes"), "exec.spill_bytes": stat("spill_bytes"),
        "self.mix_s": sum(v for k, v in selfs.items() if k.startswith("mix.")),
        "trace.pass_s": pick["wall_s"],
        "trace.overhead_s": (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(untraced)) if traced and untraced else 0.0,
        "input.hit_rate_mean": facts.get("hit_rate_mean", 0.0),
        "input.rewritten_read_share": rulegen.rewritten_read_share(rules) if rules else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    for layer in ("plug", "catalyst", "codegen", "exec", "harness"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    for q in MIX_QUERIES:
        qs = [s for s in tree if s["name"] == f"mix.{q}"]
        qids = {s["id"] for q_root in qs for s in spanlib.subtree(tree, q_root["id"])}
        qstats = [v for k, v in res["span_stats"].items() if int(k) in qids]
        for stage in ("build", "plan", "exec"):
            m[f"mix.{q}.{stage}_s"] = total(f"mix.{q}.{stage}")
        m[f"mix.{q}.jobs"] = stat("jobs", qstats)
        m[f"mix.{q}.task_s"] = stat("task_s", qstats)
        m[f"mix.{q}.shuffle_bytes"] = stat("shuffle_bytes", qstats)
        m[f"mix.{q}.files_written"] = stat("files_written", qstats)
    return m, selfs, pick["wall_s"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.cores = len(os.sched_getaffinity(0))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))

    try:
        build.build(quiet=True)
    except build.BuildError as e:
        sys.exit(f"perfbench: cannot build the project: {e}")
    datagen.ensure(os.path.join(WORK, "data"), PLUG_ROWS)
    # set-up time starts here: the build and the input tables are made once
    # per checkout, the rules and the JVM once per run
    t0 = time.time()

    work = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rules, order = [], []
    rules_path = os.path.join(work, "rules.jsonl")
    if WORKLOADS[args.workload]:
        rules = rulegen.generate(args.seed, WORKLOADS[args.workload])
        rulegen.write_jsonl(rules, rules_path)
    else:
        order = list(MIX_QUERIES)
        random.Random(f"perfbench-mix-{args.seed}").shuffle(order)
    load_before = loadavg()
    try:
        res = run_jvm(args, work, rules_path, order, t0)
        t_jvm = time.time()
        verdicts, facts = check_passes(res, args, work, rules, order)
    except Exception as e:  # noqa: BLE001 - a run that cannot finish prints no result
        sys.exit(f"perfbench: run failed: {e}")

    attempted, failed = len(verdicts), sum(1 for v in verdicts if v)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={args.cores} loadavg {' '.join(load_before)} -> {' '.join(loadavg())}; "
          f"JVM {t_jvm - t0:.1f} s, reference check {time.time() - t_jvm:.1f} s")
    if rules:
        print(f"  input: {len(rules)} rules over {PLUG_ROWS} rows; mean hit rate "
              f"{facts.get('hit_rate_mean', 0):.3f}, mean audit length per row "
              f"{facts.get('audit_len_mean', 0):.3f}, rules reading a rewritten column "
              f"{rulegen.rewritten_read_share(rules):.2f}")
    else:
        print(f"  input: {len(order)} queries in order {','.join(order)}")
    for v in sorted(set(v for v in verdicts if v)):
        print(f"  FAILED: {v}")
    print(f"  passes attempted {attempted}, failed {failed}, failed_frac {failed / attempted:.3f}")

    if args.trace:
        spans = trace_spans(res)
        values, selfs, traced_total = layer_metrics(res, spans, facts, rules, args.cores)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)
        print(f"  traced pass self time by layer (spans in {os.path.relpath(trace_file, ROOT)}):")
        print(spanlib.summary(selfs, traced_total))
        print(f"  tracing overhead (traced - untraced steady pass): "
              f"{values['trace.overhead_s']:+.3f} s")
        if res["codegen"]["sampled_methods"] < res["codegen"]["methods"]:
            print(f"  codegen method sizes are a sample: {res['codegen']['sampled_methods']} of "
                  f"{res['codegen']['methods']} methods")
        names = per_layer_names()
    else:
        values = end_to_end(res)
        names = END_TO_END
    metrics = {n: {"value": float(values[n]), "unit": unit(n)} for n in names}
    for n in names:
        print(f"  {n:<40} {values[n]:>14.6g} {metrics[n]['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
