#!/usr/bin/env python3
"""Standing per-round sf1 gate (r11 verdict item 5).

The r11 sf1 sweep caught two scale-weak parameter points and an
oracle-side blowup that no sf<=0.1 run could see, so it graduates from
a one-off to a scripted gate: regenerate the deterministic x10 stress
fixture from the driver's sf0.1, run the FULL oracle sweep over it,
run the bench surface over it, and record a per-cell artifact
(dev/sf1_gate_r{N}.json) the way the driver records CORRECTNESS_r*.

Usage:
  python3 dev/sf1_gate.py --round 12 [--skip-gen] [--skip-bench]
                          [--only qNN ...]

 - --skip-gen    reuse an existing dev/sf1 fixture (gen_sf1.py is
                 deterministic, so regen is only needed after a driver
                 fixture refresh; the artifact records the fixture
                 fingerprint either way).
 - --skip-bench  correctness sweep only.
 - --skip-verify reuse /tmp/graft_sf1_verify engine outputs (passes
                 through to check.py) — retrying a DuckDB-side crash
                 does not need the ~10-min Spark re-dump when the
                 classes haven't changed since the dump.

The DuckDB replay runs in fresh 6-query processes (buffer-pool warmup
over ~100 sf1 queries twice killed the single-process sweep at malloc
level); cells lost to a process death retry solo, and OOM FAILs retry
once at GRAFT_DUCK_MEM=12GB — a LOWER cap, because DuckDB's
unaccounted list allocations scale with the cap (see check.py).
 - --only        restrict both sweeps to the named queries (triage).

Exit code: nonzero iff any correctness FAIL (bench ratios are recorded,
not gated — the per-cell ratio table is what the round review reads).
"""
import json
import os
import re
import subprocess
import sys

from check import java_cmd

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF1 = os.path.join(HERE, "sf1")
ARGS = sys.argv[1:]


def flag(name):
    return f"--{name}" in ARGS


def opt(name, default):
    if f"--{name}" in ARGS:
        return ARGS[ARGS.index(f"--{name}") + 1]
    return default


RND = opt("round", "0")
# Only take NON-flag args after --only: `--only q177 --skip-verify`
# must not swallow the flag into the query roster (a flag "query"
# reaches check.py with zero positional names, which runs the entire
# roster in one process — the exact failure mode chunking avoids).
ONLY = [a for a in (ARGS[ARGS.index("--only") + 1:]
                    if "--only" in ARGS else []) if not a.startswith("--")]
OUT = os.path.join(HERE, f"sf1_gate_r{RND}.json")


def fingerprint(d):
    out = []
    for f in sorted(os.listdir(d)):
        p = os.path.join(d, f)
        out.append(f"{f}:{os.path.getsize(p)}:{int(os.path.getmtime(p))}")
    return ";".join(out)


def main():
    artifact = {"round": int(RND), "fixture": SF1}

    if not flag("skip-gen"):
        print("[sf1_gate] regenerating fixture ...", flush=True)
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen_sf1.py"),
                            "/root/testdata/sf0.1", SF1], cwd=REPO)
        if r.returncode != 0:
            print("[sf1_gate] gen_sf1.py failed"); sys.exit(1)
    artifact["fixture_fingerprint"] = fingerprint(SF1)

    # -- correctness sweep (check.py = the driver's own gate logic) --
    # One Spark dump for the whole roster, then the DuckDB replay in
    # CHUNKED FRESH PROCESSES: the r12 sweep died twice at malloc
    # level ("bad allocation") after ~100 queries of buffer-pool
    # warmup — in-process guards can't catch a dead process, but a
    # 6-query chunk resets the pool and bounds the blast radius to
    # one chunk, whose cells then retry solo (and once more at a
    # LOWER 12GB cap — DuckDB's unaccounted list allocations scale
    # with the cap, so shrinking it spills earlier and survives;
    # measured: q172/q176/q177 die at 48-100GB, pass at 20GB).
    check = [sys.executable, os.path.join(HERE, "check.py"), SF1,
             "/tmp/graft_sf1_verify"]
    if not flag("skip-verify"):
        print("[sf1_gate] engine dump (graft.Verify) ...", flush=True)
        rv = subprocess.run(check + ["--verify-only"] + ONLY,
                            cwd=REPO, capture_output=True, text=True)
        if rv.returncode != 0:
            print("[sf1_gate] VERIFY FAILED"); print(rv.stdout[-3000:])
            sys.exit(1)
    roster = ONLY or json.load(open("/tmp/graft_sf1_verify/_registered.json"))
    print(f"[sf1_gate] oracle sweep ({len(roster)} cells, chunks of 6) ...",
          flush=True)

    def replay(names, env=None):
        """One fresh check.py process; returns (cells, fail lines)."""
        r = subprocess.run(check + ["--skip-verify"] + list(names),
                           cwd=REPO, capture_output=True, text=True,
                           env=dict(os.environ, **(env or {})))
        got, fl = {}, []
        for line in r.stdout.splitlines():
            m = re.match(r"(PASS|FAIL|ROWS-ONLY) (\S+?):? (.*)", line)
            if m:
                got[m.group(2).rstrip(":")] = m.group(1)
                if m.group(1) == "FAIL":
                    fl.append(line.strip())
        return got, fl

    cells, failures, crashed = {}, [], []
    for i in range(0, len(roster), 6):
        chunk = roster[i:i + 6]
        got, fl = replay(chunk)
        cells.update(got); failures += fl
        for name in chunk:           # lost to a process death -> solo retry
            if name not in got:
                got2, fl2 = replay([name])
                cells.update(got2); failures += fl2
                if name not in got2:
                    # A hard process death prints no FAIL line, so it
                    # would never reach the OOM-retry pass below —
                    # give the dead cell the low-cap retry directly
                    # (the malloc-level mode IS the OOM mode).
                    got3, fl3 = replay([name], env={"GRAFT_DUCK_MEM": "12GB"})
                    cells.update(got3); failures += fl3
                    if name not in got3:
                        cells[name] = "CRASH"
                        crashed.append(name)
                        print(f"[sf1_gate] CRASH {name} (died even solo "
                              "at 12GB)", flush=True)
    oom = [f.split()[1].rstrip(":") for f in failures
           if "Out of Memory" in f or "bad allocation" in f]
    if oom:
        # DOWN first, then UP: DuckDB's unaccounted list allocations
        # scale with the cap, so a lower cap spills earlier and
        # survives the list-heavy cells (measured: q172/q176/q177 die
        # at 48-100GB, pass at 20GB) — but PIN-heavy cells (q163's
        # 6.3M-row ranked window genuinely needs the working set) OOM
        # at ANY lower cap and only pass with more memory (measured
        # r12 resumed session: q163 OOM at 24 and 12, PASS at 48GB).
        # One retry in each direction covers both failure modes.
        print(f"[sf1_gate] retrying {len(oom)} OOM cells at 12GB, "
              "then 48GB ...", flush=True)
        for name in oom:
            got, fl = replay([name], env={"GRAFT_DUCK_MEM": "12GB"})
            if got.get(name) == "FAIL" and any(
                    "Out of Memory" in f or "bad allocation" in f for f in fl):
                got, fl = replay([name], env={"GRAFT_DUCK_MEM": "48GB"})
            # The retry's result supersedes the first attempt either
            # way: drop the stale 24GB failure lines for this cell so
            # the artifact never carries two contradictory diagnoses.
            failures = [f for f in failures
                        if not f.startswith(f"FAIL {name}")]
            if got.get(name) and got[name] != "FAIL":
                cells[name] = got[name]
            else:
                failures += fl
    n_pass = sum(1 for v in cells.values() if v == "PASS")
    n_fail = sum(1 for v in cells.values() if v == "FAIL") + len(crashed)
    tail = f"== {n_pass} pass, {n_fail} fail =="
    print(f"[sf1_gate] {tail}", flush=True)
    artifact["correctness"] = {
        "summary": tail,
        "harness_crash": bool(crashed),
        "n_pass": n_pass,
        "n_fail": n_fail,
        "n_rows_only": sum(1 for v in cells.values() if v == "ROWS-ONLY"),
        "cells": cells,
        "failures": failures,
    }

    # -- bench sweep + per-cell decade ratios vs the sf0.1 reference --
    if not flag("skip-bench"):
        print("[sf1_gate] bench sweep ...", flush=True)
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF1)
        if ONLY:
            env["SPARK_GRAFT_ONLY"] = ",".join(ONLY)
        rb = subprocess.run(java_cmd("graft.Bench", [], xmx="24g"),
                            cwd=REPO, env=env, capture_output=True, text=True)
        bench = {}
        for line in rb.stdout.splitlines():
            try:
                j = json.loads(line)
            except ValueError:
                continue
            if j.get("metric") == "total" and "queries" in j:
                bench = j
        if bench:
            ref = json.load(open(os.path.join(HERE, "bench_reference.json")))
            refq = ref.get("queries", {})
            ratios = {}
            for name, dt in bench["queries"].items():
                r0 = refq.get(name)
                if dt and dt > 0 and r0:
                    ratios[name] = round(dt / r0, 2)
            top = sorted(ratios.items(), key=lambda kv: -kv[1])[:12]
            artifact["bench"] = {
                "total_sec": round(bench["value"], 2),
                "n_queries": len(bench["queries"]),
                "n_failed": sum(1 for v in bench["queries"].values() if v < 0),
                "queries": {k: round(v, 3) for k, v in bench["queries"].items()},
                "decade_ratio_vs_sf01_reference": ratios,
                "overall_ratio": round(
                    bench["value"] / ref["value"], 2) if ref.get("value") else None,
                "top_ratios": top,
            }
            print(f"[sf1_gate] bench total {artifact['bench']['total_sec']} s, "
                  f"overall ratio {artifact['bench']['overall_ratio']}, "
                  f"top cells {top[:4]}", flush=True)
        else:
            artifact["bench"] = {"error": rb.stdout[-2000:] + rb.stderr[-2000:]}

    with open(OUT, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"[sf1_gate] wrote {OUT}", flush=True)
    bad = artifact["correctness"]["n_fail"] or artifact["correctness"]["harness_crash"]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
