#!/usr/bin/env python3
"""The repository benchmark: one command, one workload seed.

    python3 perfbench/run.py --workload {rel_x10,corpus_sf01,dataflow,all}
        --seed N [--trace 0|1]

Run from the repository root. It builds the engine and the harness
(`perfbench/harness`, sbt, only when a source changed), generates the
seeded fixtures (`fixture.py`), plans the seeded invocation sequence
(`workloads.py`), runs it in a fresh JVM (`graft.perfbench.Harness`),
checks every output, and prints each metric by name with its unit. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A run's length is BENCHMARK.json's run_seconds; --seconds is accepted
for callers that pass it and must equal it.

Everything it makes goes under perfbench/.work/.
"""
import argparse
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

import fixture  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
BENCH_SOURCE = os.path.join("src", "main", "scala", "graft", "Bench.scala")
FIXTURE_SEED = 42
SCALES = {"sf0.001": 0.001, "sf0.1": 0.1, "sf1": 1.0}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout,
    on an error and when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    out = []
    for top in ("src/main", "project", os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out + ["build.sbt", os.path.join(HARNESS, "build.sbt")]


def ensure_build():
    """Compile engine + harness when any source changed; return the classpath."""
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    want = digest_files([p for p in sources() if os.path.isfile(p)])
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = os.path.join(WORK, "build.log")
    with open(out, "w") as f:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export harness/Runtime/fullClasspath"],
                      timeout=800, cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT)
    lines = open(out).read().splitlines()
    if rc != 0 or not lines:
        raise SystemExit(f"build failed (rc={rc}); see {out}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def ensure_fixtures(names):
    """Generate the seeded fixtures `names` once per generator version;
    return {scale: (dir, fingerprint)}. Generation time is workload
    generation, so it is outside every metric."""
    gen = digest_files([os.path.join(HERE, "fixture.py")])[:12]
    base = os.path.join(WORK, "fixtures", f"{gen}-seed{FIXTURE_SEED}")
    out = {}
    for name in names:
        sf = SCALES[name]
        d = os.path.join(base, name)
        done = os.path.join(d, "_fingerprint")
        if not os.path.exists(done):
            log(f"generating fixture {name}")
            shutil.rmtree(d, ignore_errors=True)
            fixture.generate(d, sf, FIXTURE_SEED)
            with open(done, "w") as f:
                f.write(fixture.fingerprint(d))
        out[name] = (d, open(done).read())
    return out


def mem_kib():
    try:
        return next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 0


def heap_flags():
    """A maximum heap of half the host's memory, between 2 and 8 GiB (as
    the test runner sizes it), with up to 3 GiB, about what a corpus run
    grows to, committed and touched at start: the heap then does not grow
    during timing, and first touches of fresh memory fall in set-up."""
    gib = min(max(mem_kib() // 2097152, 2), 8)
    return [f"-Xmx{gib}g", f"-Xms{min(gib, 3)}g", "-XX:+AlwaysPreTouch"]


def host():
    return {"nproc": os.cpu_count(), "mem_gib": round(mem_kib() / 1048576, 1)}


def run_jvm(cp, workload, seed, seconds, trace, fixtures, oracle):
    """One harness run; returns (run dir, sequence)."""
    spec = workloads.SPEC[workload]
    cpus = os.cpu_count()
    warm, seq = workloads.sequence(workload, seed, seconds)
    rdir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    lines = [f"workload {workload}", f"cpus {cpus}", f"trace {trace}",
             f"prebuild {int(spec.prebuild)}", f"settle {spec.settle}",
             f"bench_source {os.path.abspath(BENCH_SOURCE)}"]
    if workload == "dataflow":
        inp = os.path.join(rdir, "input.bin")
        with open(inp, "wb") as f:
            f.write(workloads.dataflow_input(seed))
        lines += [f"input {inp}", "fixture none"]
    else:
        lines += [f"fixture {fixtures[spec.scale][0]}",
                  f"verified {','.join(oracle.known())}"]
    lines += [f"warm {c}" for c in warm] + [f"cell {c}" for c in seq]
    plan = os.path.join(rdir, "plan.txt")
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rdir, "spark-local"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] +
           [f"-Djava.io.tmpdir={rdir}"] + heap_flags() + ["-cp", cp,
            "graft.perfbench.Harness", plan, os.path.join(rdir, "out")])
    os.sync()  # start timing with no writes of earlier steps still in flight
    t0 = time.time()
    with open(os.path.join(rdir, "jvm.log"), "w") as f:
        rc = run_proc(cmd, timeout=900, cwd=rdir, env=env, stdout=f, stderr=subprocess.STDOUT)
    log(f"{workload} harness JVM ran {time.time() - t0:.1f}s")
    if rc != 0:
        tail = open(os.path.join(rdir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"harness exited with {rc}:\n{tail}")
    shutil.rmtree(os.path.join(rdir, "spark-local"), ignore_errors=True)
    return rdir, seq


def read_jsonl(path):
    return [json.loads(l) for l in open(path)] if os.path.exists(path) else []


def check(workload, rdir, invs, run, oracle):
    """Return the failed invocations as (inv, cell, why). The results the
    settle pass wrote are compared with DuckDB first; every timed result
    must then reproduce a checked one exactly."""
    fails = []
    if workload == "dataflow":
        for i in invs:
            if not i["ok"]:
                fails.append((i["inv"], i["cell"], i["error"]))
            elif not i["checksum_ok"]:
                fails.append((i["inv"], i["cell"], "count/checksum differs from the reference"))
        if not run["key_affinity_ok"]:
            fails.append((-1, "routed", "a key reached more than one lane"))
        return fails
    sql = json.load(open(os.path.join(rdir, "out", "oracle_sql.json")))
    oracle.sql.update(sql)
    why = {}
    for cell, digest in run["settled"].items():
        if cell in sql and not oracle.is_verified(cell, digest):
            why[cell] = (digest if digest.startswith("failed") else
                         oracle.check_written(cell, digest, os.path.join(rdir, "out", "results")))
    for i in invs:
        cell = i["cell"]
        if not i["ok"]:
            fails.append((i["inv"], cell, i["error"]))
        elif cell not in sql:
            if i["rows"] <= 0:
                fails.append((i["inv"], cell, "rows-only cell returned 0 rows"))
        elif not oracle.is_verified(cell, i["digest"]):
            fails.append((i["inv"], cell, why.get(cell) or "result differs from the checked result"))
    return fails


def end_to_end(invs, run):
    ok = [i for i in invs if i["ok"]]
    q = [i["construct_s"] + i["action_s"] for i in ok]
    session = sum(i["invocation_s"] - i.get("count_s", 0.0) for i in invs)
    t, pct, beyond, n = metrics.tail(q)
    records = sum(i.get("records_in", 0) for i in ok)
    return {
        "session_s": (session, "s"),
        "query_s.p50": (metrics.median(q), "s"),
        "query_s.tail": (t, "s"),
        "setup_s": (run["setup_s"], "s"),
        "memo_build_s": (sum(run["memo_build_s"].values()), "s"),
        "memo_storage_mb": (run["memo_storage_bytes"] / 2**20, "MB"),
        "retained_heap_mb": (run["retained_heap_bytes"] / 2**20, "MB"),
        "records_per_s": (records / session if session > 0 else 0.0, "1/s"),
        "ops_failed_frac": (None, "ratio"),
    }, {"tail_percentile": pct, "tail_beyond": beyond, "samples": n}


def load_bench():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def measure(workload, seed, seconds, trace, cp, fixtures, oracle):
    """One harness run, checked: (run dir, invocations, run record, failures, sequence)."""
    rdir, seq = run_jvm(cp, workload, seed, seconds, trace, fixtures, oracle)
    invs = read_jsonl(os.path.join(rdir, "out", "invocations.jsonl"))
    run = read_jsonl(os.path.join(rdir, "out", "run.json"))[0]
    return rdir, invs, run, check(workload, rdir, invs, run, oracle), seq


def result_path(workload, seed, trace):
    return os.path.join(WORK, "results", f"{workload}-s{seed}-t{trace}.json")


def run_workload(workload, seed, seconds, trace, cp, fixtures):
    """Untraced: the end-to-end metrics. Traced: the per-layer metrics
    and the tracing overhead (the harness runs each traced invocation
    once more untraced, next to it)."""
    from oracle import Oracle
    scale = workloads.SPEC[workload].scale
    oracle, fp = None, "none"
    if scale:
        d, fp = fixtures[scale]
        oracle = Oracle(WORK, d, fp)
    rdir, invs, run, fails, seq = measure(workload, seed, seconds, trace, cp, fixtures, oracle)
    e2e, tail = end_to_end(invs, run)
    e2e["ops_failed_frac"] = (len(fails) / len(invs) if invs else 1.0, "ratio")
    res = {"workload": workload, "seed": seed, "fixture": fp,
           "attempted": len(invs), "failed": len(fails), "failures": fails,
           "e2e": e2e, "tail": tail, "cells": len(set(seq)), "host": host()}
    if trace:
        out = os.path.join(rdir, "out")
        spans, jobs = read_jsonl(os.path.join(out, "spans.jsonl")), read_jsonl(os.path.join(out, "jobs.jsonl"))
        layer = metrics.per_layer(invs, run, spans, jobs)
        layer["trace.overhead_s"] = metrics.trace_overhead(invs)
        self_s = metrics.self_time_by_name(spans)
        for name in metrics.SPAN_NAMES:
            layer[f"spans.{name}.self_s"] = self_s.get(name, 0.0)
        res.update(layer=layer, spans_file=os.path.join(out, "spans.jsonl"))
    os.makedirs(os.path.dirname(result_path(workload, seed, trace)), exist_ok=True)
    with open(result_path(workload, seed, trace), "w") as f:
        json.dump(res, f, indent=1)
    return res


def report(res, trace):
    wl = res["workload"]
    t = res["tail"]
    print(f"== {wl}  seed={res['seed']}  fixture={res['fixture']}  host={res['host']}  "
          f"cells={res['cells']}  invocations={res['attempted']}")
    if trace:
        print("  figures of this traced run (tracing on; the end-to-end metrics come from --trace 0):")
    for name, (v, unit) in res["e2e"].items():
        extra = ""
        if name == "query_s.tail":
            extra = (f"  (p{t['tail_percentile']:.0f} of {t['samples']} samples, "
                     f"{t['tail_beyond']} beyond)")
        if name == "ops_failed_frac":
            extra = f"  ({res['failed']} of {res['attempted']} attempted)"
        print(f"  {name:<18} {v:>14.6f} {unit}{extra}")
    for inv, cell, why in res["failures"]:
        print(f"  FAILED inv {inv} {cell}: {why}")
    if trace:
        for layer, moves in metrics.LAYER_MOVES.items():
            print(f"  [{layer}] moves {moves}")
            for name in sorted(n for n in res["layer"] if n.split(".")[0] == layer):
                print(f"    {name:<36} {res['layer'][name]:>18.6f}")
        print(f"  spans: {res['spans_file']}")


def result_line(results, trace, bench):
    want = bench["per_layer"] if trace else bench["end_to_end"]
    out = {}
    for res in results:
        pre = "" if len(results) == 1 else res["workload"] + "."
        for m in want:
            v = res["layer"][m["name"]] if trace else res["e2e"][m["name"]][0]
            out[pre + m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": all(r["failed"] == 0 for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results), "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.SPEC) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=None,
                    help="accepted only equal to BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in (BENCH_SOURCE, "build.sbt"):
        if not os.path.isfile(need):
            log(f"{need} not found: run from the root of a full checkout")
            sys.exit(2)
    bench = load_bench()
    seconds = bench["run_seconds"]
    if a.seconds not in (None, seconds):
        log(f"--seconds {a.seconds}: a run lasts BENCHMARK.json's run_seconds ({seconds})")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    names = list(workloads.SPEC) if a.workload == "all" else [a.workload]
    cp = ensure_build()
    scales = {workloads.SPEC[w].scale for w in names} - {None}
    fixtures = ensure_fixtures(sorted(scales | ({"sf0.001"} if scales else set())))
    log(f"build and fixtures ready in {time.time() - t0:.1f}s")
    results = []
    for wl in names:
        res = run_workload(wl, a.seed, seconds, a.trace, cp, fixtures)
        report(res, a.trace)
        results.append(res)
    print(json.dumps(result_line(results, a.trace, bench)))


if __name__ == "__main__":
    main()
