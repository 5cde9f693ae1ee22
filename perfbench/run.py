#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload serve-churn --seed 1 --seconds 15 --trace 0

Builds graft and the harness if needed (perfbench/build.py), generates the
workload from the seed (perfbench/workload.py), runs it in one JVM against
real RelayServers over loopback HTTP or graft's query suite, checks every
answer with DuckDB (perfbench/oracle.py) and prints, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, from a traced run with one client. A line before it
carries every metric with its sample count, and the run's settings. The
exit code is non-zero when any operation failed or answered wrongly.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import stats  # noqa: E402
import workload  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# The suite-batch query set: one query per family, leaving out the ones
# that keep trained ANN/BPE state under /tmp, outside the checkout; see
# README.md.
SUITE_FILE = os.path.join(BENCH, "suite_queries.txt")


def data_dir():
    """The sf0.1 data set graft.Bench reads: SPARK_GRAFT_SF_DIR or its
    default there."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', f.read())
    return m.group(1) if m else ""


def heap_gb():
    """A quarter of the host's memory, between 2 and 8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except Exception:
        return None


def fresh_tmp(main_build):
    """The JVM temp dir of this build of graft, emptied except for graft's
    parquet layout cache: like a relay restarting on a host whose /tmp
    survives, every run finds the compacted raw tables there. It is named
    by the build digest, so one tree never reads a layout another wrote."""
    tmp = os.path.join(BENCH, ".work", "tmp", os.path.basename(main_build))
    os.makedirs(tmp, exist_ok=True)
    for name in os.listdir(tmp):
        if name != "graft_layout_cache":
            p = os.path.join(tmp, name)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    return tmp


def run_jvm(classpath, args, work, tmp, heap):
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    cmd = (["java", f"-Xmx{heap}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", os.pathsep.join(classpath), "graftbench.Main"] + args)
    log = open(os.path.join(work, "jvm.log"), "wb")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    finally:
        log.close()
    return code


def fail(msg, work=None):
    if work and os.path.exists(os.path.join(work, "jvm.log")):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(l for l in f.readlines()[-40:]))
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def window_s(res, label):
    a, b = res["windows"][label]
    return (b - a) / 1000.0


def end_to_end(res, ops, workload_name):
    """Every end-to-end metric of a --trace 0 run, with sample counts."""
    timed = [o for o in ops if o["phase"] == "timed"]
    queries = [o for o in timed if o["kind"] != "apply"]
    lat = [o["ms"] for o in queries]
    p50, p95 = stats.percentile(lat, 50), stats.percentile(lat, 95)
    ok = sum(1 for o in queries if o["ok"])
    d = {
        "setup_s": dict(value=stats.median(res["setups_s"]), unit="s",
                        n=len(res["setups_s"])),
        "latency_p50_ms": dict(p50, unit="ms"),
        "latency_p95_ms": dict(p95, unit="ms"),
        "throughput_ops_s": dict(value=ok / window_s(res, "timed"), unit="1/s",
                                 n=ok),
        "failed_share": dict(value=sum(1 for o in timed if not o["ok"]) /
                             max(1, len(timed)), unit="share", n=len(timed)),
        "peak_rss_mb": dict(value=res["vm_hwm_kb_window"] / 1024.0, unit="MB", n=1),
    }
    # process CPU per query operation, over everything the timed loop ran
    d["cpu_ms_per_op"] = dict(value=res["cpu_ms"] / len(queries), unit="ms", n=len(queries))
    if workload_name != "suite-batch":
        first, repeat, sent = [], [], set()
        for o in sorted(queries, key=lambda o: o["start_ms"]):
            pair = (o["sql"], o["user"])
            (repeat if pair in sent else first).append(o["ms"])
            sent.add(pair)
        d["first_text_p50_ms"] = dict(stats.percentile(first, 50), unit="ms")
        d["repeat_text_p50_ms"] = dict(stats.percentile(repeat, 50), unit="ms")
    if workload_name == "serve-churn":
        applies = [o["ms"] for o in timed if o["kind"] == "apply"]
        d["apply_p50_ms"] = dict(stats.percentile(applies, 50), unit="ms")
    return d


def tracing_cost(res, ops, traced):
    """What tracing costs, as the client times it: the same texts were sent
    with spans off ("untraced") and on ("retraced"), so the overhead is the
    median over texts of the paired difference. `trace.replay_ms` is the
    in-process replay a traced serving operation adds after its reply."""
    lat = {ph: {o["tpl"]: o["ms"] for o in ops
                if o["phase"] == ph and o["kind"] != "apply"}
           for ph in ("untraced", "retraced")}
    u, r = lat["untraced"], lat["retraced"]
    return {
        "trace.untraced_p50_ms": stats.median(list(u.values())),
        "trace.traced_p50_ms": stats.median(list(r.values())),
        "trace.overhead_ms": stats.median([r[t] - u[t] for t in u if t in r]),
        "trace.replay_ms": stats.median(
            [s["end_ms"] - s["start_ms"] for s in res["spans"]
             if s["name"] == "replay" and s["op"] in traced]),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workload.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        data = data_dir()
    except OSError as e:
        fail(f"graft sources or BENCHMARK.json not found: {e}")
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"data set not found at '{data}' (set SPARK_GRAFT_SF_DIR)")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build: {e}")

    ncpu = len(os.sched_getaffinity(0))
    clients = min(4, ncpu)
    heap = heap_gb()
    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    tmp = fresh_tmp(classpath[1])
    with open(SUITE_FILE) as f:
        suite = [l.strip() for l in f if l.strip() and not l.startswith("#")]
    plan = workload.plan(a.workload, a.seed, clients, a.seconds, suite)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)

    args = ["--plan", os.path.join(work, "plan.json"), "--out", out,
            "--work", work, "--data", data, "--trace", str(a.trace),
            "--cpus", str(ncpu)]
    prepared = os.path.join(tmp, "graft_layout_cache", "prepared")
    if not os.path.exists(prepared):
        # untimed, once per build: compact the raw tables, so every run's
        # set-up finds them compacted
        code = run_jvm(classpath, ["--workload", "prepare"] + args, work, tmp, heap)
        if code != 0:
            fail(f"preparing the layout cache: JVM exited with {code}", work)
        os.makedirs(os.path.dirname(prepared), exist_ok=True)
        open(prepared, "w").close()

    t_jvm = time.monotonic()
    code = run_jvm(classpath, ["--workload", a.workload] + args, work, tmp, heap)
    if code != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"JVM exited with {code}", work)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    t_check = time.monotonic()

    # join the plan's inputs onto the records, then check every answer
    import oracle
    ops = res["ops"]
    if a.workload == "suite-batch":
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        bad = oracle.check_suite(data, os.path.join(out, "suite"), oracle_sql,
                                 sorted({o["tpl"] for o in ops}))
        wrong = {o["id"]: bad[o["tpl"]] for o in ops if o["tpl"] in bad}
    else:
        lists = [plan["ops"], plan["traced"], plan["untraced"], plan["retraced"]]
        by_id = {p["id"]: p for ps in lists + plan["warmups"] for p in ps}
        for o in ops:
            o.update({k: by_id[o["id"]][k] for k in ("sql", "user", "entity")}
                     if o["id"] in by_id else {"sql": None, "user": None, "entity": None})
        wrong = oracle.check_serving(data, ops, os.path.join(out, "bodies"))
    wall = dict(jvm_s=t_check - t_jvm, check_s=time.monotonic() - t_check)
    for o in ops:
        if o["id"] in wrong:
            o["ok"] = False
            o["err"] = "wrong answer: " + wrong[o["id"]]
    counted = [o for o in ops if o["phase"] != "warmup"]
    failed = [o for o in counted if not o["ok"]]
    warm_failed = [o for o in ops if o["phase"] == "warmup" and not o["ok"]]
    for o in (failed + warm_failed)[:10]:
        sys.stderr.write(f"perfbench: op {o['id']} {o['tpl']} failed: {o['err']}\n")

    if a.trace:
        spec_metrics = spec["per_layer"]
        traced = [o["id"] for o in ops if o["phase"] == "traced"]
        detail = stats.per_layer(res["spans"], res["counts"], traced,
                                 [m["name"] for m in spec_metrics])
        detail.update(tracing_cost(res, ops, set(traced)))
        shown = {k: dict(value=v) for k, v in detail.items()}
    else:
        spec_metrics = spec["end_to_end"]
        shown = end_to_end(res, ops, a.workload)
        detail = {k: v["value"] for k, v in shown.items()}
    metrics = {m["name"]: {"value": detail[m["name"]], "unit": m["unit"]}
               for m in spec_metrics}
    info = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                nproc=ncpu, clients=clients if a.trace == 0 else 1, heap_gb=heap,
                data=data, git_commit=git_commit(),
                build=[os.path.basename(p) for p in classpath[:2]],
                setups_s=res.get("setups_s"), setup_cpu_s=res.get("setup_cpu_s"),
                setup_phases=res.get("setup_phases"), wall=wall,
                spark_conf=res.get("conf"),
                metrics=shown)
    print(json.dumps(info, sort_keys=True))
    correct = not failed and not warm_failed
    print(json.dumps({"correct": correct, "attempted": len(counted),
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(0 if correct else 1)

if __name__ == "__main__":
    main()
