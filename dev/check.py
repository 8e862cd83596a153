#!/usr/bin/env python3
"""Local dev oracle-check: mimic the driver's t2 gate.

Usage: python3 dev/check.py [sfDir] [outDir] [--skip-verify] [query...]

Runs graft.Verify (Spark) on sfDir -> outDir, then replays every
oracle_sql.json entry in DuckDB over the same parquet tables and
compares: columns sorted by name, row order as produced, exact value
equality (floats compared bitwise).
"""
import json, math, subprocess, sys, os, glob

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSPATH = "target/scala-2.13/classes:/opt/spark/jars/*"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = []
for p in ["java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", p + "=ALL-UNNAMED"]


def java_cmd(main, args, xmx=None, cp=CLASSPATH):
    """argv launching `main` with build.sbt's forked-JVM recipe: the
    JDK 17 --add-opens set, UI off, UTC, and `-Xmx{xmx}` when given.
    Run it with cwd=REPO (the classpath is relative)."""
    return (["java"] + ADD_OPENS +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            ([f"-Xmx{xmx}"] if xmx else []) +
            ["-cp", cp, main] + list(args))


def run_verify(sf_dir, out_dir, only):
    cmd = java_cmd("graft.Verify", [sf_dir, out_dir] + only, xmx="8g")
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode)
        print(r.stderr[-3000:])
        sys.exit(1)


def norm(v):
    if isinstance(v, float):
        return ("f", v.hex() if not math.isnan(v) else "nan")
    return v


# The driver's hash is representation-sensitive: DuckDB sum(BIGINT)
# yields HUGEINT while Spark emits BIGINT, and Python-int comparison
# hides the difference (that blind spot shipped 7 hash-fails in r4).
# Normalize ordinary integer widths, then require the oracle's output
# types to match the Spark parquet's — HUGEINT/UHUGEINT never
# normalize, so an un-cast integer sum now fails locally.
_INT_WIDTHS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "UTINYINT", "USMALLINT", "UINTEGER"}


def norm_type(t):
    t = str(t).upper()
    return "BIGINT" if t in _INT_WIDTHS else t


def type_mismatches(gcols, gtypes, gi, ecols, etypes, ei):
    out = []
    for i, j in zip(gi, ei):
        gt, et = norm_type(gtypes[i]), norm_type(etypes[j])
        if gt != et:
            out.append(f"{ecols[j]}: spark={gtypes[i]} duck={etypes[j]}")
    return out


def dec18_probe():
    """Property-test DuckDB's CAST(x AS DECIMAL(38,18)) against the
    exact driver/Spark recipe BigDecimal.valueOf(x).setScale(18,
    HALF_UP) over adversarial doubles (r10 advice: q171's
    driver-vs-oracle equality leans on the two casts agreeing, which
    was covered only empirically by sf-level hash matches).

    MEASURED contract (not exact equality): DuckDB computes the cast
    as round(x * 1e18) in DOUBLE arithmetic — e.g. 1.1 casts to
    1.100000000000000128 (= the double 1.1*1e18), not the recipe's
    1.100000000000000089 — and the recipe itself quantizes the
    SHORTEST-REPR decimal (BigDecimal.valueOf = Double.toString), not
    the double's exact binary expansion. Each side is within half an
    ulp of the true value (of x, resp. of x*1e18), so the casts agree
    within ~2^-52 relative. The probe asserts exactly that bound:
    |duck - exact| <= ulp(|x|)/2*1e18 + ulp(|x|*1e18)/2 + 1 quanta of
    1e-18. q171 absorbs the divergence because every emitted value is
    floorRounded at <= 9 digits, 7+ orders coarser than the
    ~2e-16-relative disagreement; exact halfway-tie doubles
    (x = odd/2^19 scalings, where HALF_UP and any binary rounding may
    legitimately split) are included."""
    import math as m
    import random
    import struct
    from decimal import Decimal
    rng = random.Random(18)
    cases = []
    # Tie family: x*1e18 is an exact half-integer (x = odd/2^19 * 10^k)
    for k in range(-6, 7):
        for odd in (1, 3, 5, 7, 9, 11):
            cases.append(odd / 2 ** 19 * 10.0 ** k)
    # Random doubles across the magnitudes q171's algebra produces
    for _ in range(4000):
        mag = rng.uniform(-20, 6)
        cases.append(rng.uniform(-1, 1) * 10.0 ** mag)
    cases += [0.0, -0.0, 1.1, -1.1, 1/3, m.pi, 1e-18, -1e-18, 5e-19,
              1e6 - 1e-10, -(1e6 - 1e-10)]
    bits = "\n".join(format(struct.unpack("<Q", struct.pack("<d", c))[0],
                            "016x") for c in cases)
    r = subprocess.run(
        java_cmd("graft.Dec18Probe", [],
                 cp="target/scala-2.13/test-classes:" + CLASSPATH),
        cwd=REPO, input=bits, capture_output=True, text=True)
    if r.returncode != 0:
        print("probe JVM failed (run `sbt Test/compile` first?)")
        print(r.stderr[-2000:])
        sys.exit(1)
    exact = [Decimal(line) for line in r.stdout.split()]
    assert len(exact) == len(cases), (len(exact), len(cases))
    con = duckdb.connect()
    worst = (Decimal(0), None)
    n_exact = n_bounded = 0
    for c, e in zip(cases, exact):
        duck = con.execute("SELECT CAST(? AS DECIMAL(38,18))", [c]).fetchone()[0]
        diff_quanta = abs((duck - e) * Decimal(10) ** 18)
        tol = (Decimal(m.ulp(abs(c))) / 2 * Decimal(10) ** 18 +
               Decimal(m.ulp(abs(c) * 1e18)) / 2 + 1)
        if diff_quanta == 0:
            n_exact += 1
        elif diff_quanta <= tol:
            n_bounded += 1
        else:
            print(f"FAIL dec18-probe x={c!r}: duck={duck} exact={e} "
                  f"diff={diff_quanta} quanta > tol={tol}")
            sys.exit(1)
        rel = diff_quanta / Decimal(max(abs(c), 1e-300)) / Decimal(10) ** 18
        if rel > worst[0]:
            worst = (rel, c)
    print(f"dec18-probe PASS: {len(cases)} cases, {n_exact} exact, "
          f"{n_bounded} within the double-scaled-cast bound; "
          f"worst relative divergence {float(worst[0]):.3e} at x={worst[1]!r} "
          f"(q171 outputs are floorRounded at <= 9 digits, >= 7 orders coarser)")
    sys.exit(0)


def main():
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = pos[0] if len(pos) > 0 else "/root/testdata/sf0.001"
    out_dir = pos[1] if len(pos) > 1 else "/tmp/graft_verify"
    only = pos[2:]
    if "--dec18-probe" in flags:
        dec18_probe()
    if "--skip-verify" not in flags:
        run_verify(sf_dir, out_dir, only)
    if "--verify-only" in flags:
        # sf1_gate splits the Spark dump (one process, full roster)
        # from the DuckDB replay (chunked fresh processes, so one
        # malloc-level death costs a chunk, not the sweep).
        print("verify-only done")
        return
    con = duckdb.connect()
    # Spill instead of dying: an in-memory DuckDB has NO temp
    # directory, so a single big operator (the r12 sf1 gate lost q30's
    # 6.3M-row assignment window to "Failed to allocate" at the
    # default ~80%-of-RAM ceiling after 100 earlier queries had warmed
    # the buffer pool) aborts the whole sweep. A bounded limit plus an
    # explicit temp dir turns that into a slower, spilling query.
    # A LOW cap is the safe direction, not a high one (measured, r12
    # sf1 gate): DuckDB's accounting misses part of what list-heavy
    # operators allocate, and the overshoot scales with the cap — at
    # 48GB and 100GB the q172/q176/q177 sf1 oracles died at system
    # malloc level ("bad allocation"), while at 20GB the SAME queries
    # spill early and pass (q172 in 25 s). GRAFT_DUCK_MEM overrides
    # for triage; the sf1 gate's OOM retry goes DOWN (12GB), not up.
    con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCK_MEM', '24GB')}'")
    os.makedirs(f"{out_dir}/.duck_tmp", exist_ok=True)
    con.execute(f"SET temp_directory='{out_dir}/.duck_tmp'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Iterate the REGISTERED roster, not the outDir listing: a query
    # that failed Spark-side leaves no output dir, and skipping it
    # would under-count failures (that blind spot hid 19 breakages
    # when the events fixture changed physical ts type).
    reg_path = os.path.join(out_dir, "_registered.json")
    if os.path.exists(reg_path):
        registered = json.load(open(reg_path))
    else:
        print("WARNING: no _registered.json in outDir (pre-roster Verify "
              "build or interrupted run) — Spark-side failures are "
              "UNDETECTABLE in this mode")
        registered = sorted(n for n in os.listdir(out_dir)
                            if os.path.isdir(os.path.join(out_dir, n)))
    names = only or registered
    n_pass = n_fail = 0
    for name in names:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            print(f"FAIL {name}: no output dir (Spark-side failure)")
            n_fail += 1
            continue
        files = glob.glob(d + "/*.parquet")
        if not files:
            print(f"FAIL {name}: no output parquet"); n_fail += 1; continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{files[0]}')")
            gcols, gtypes = got.columns, got.types
            grows = got.fetchall()
        except Exception as e:
            # Same survival contract as the oracle side: a truncated or
            # corrupt output parquet is one FAIL, not a dead sweep.
            print(f"FAIL {name}: output parquet unreadable: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            # An empty rows-only result is a broken query, not a pass:
            # the driver's weaker rows-only check requires rows > 0,
            # so mirror that here instead of alarming without failing.
            if grows:
                print(f"ROWS-ONLY {name}: {len(grows)} rows OK")
            else:
                print(f"FAIL {name}: rows-only query returned 0 rows")
                n_fail += 1
            continue
        try:
            # fetchall() inside the guard: execution errors (incl. the
            # OutOfMemoryException that aborted the r12 sf1 sweep at
            # q176 under concurrent load) surface HERE, not at plan
            # time — one sick oracle must cost one FAIL, not the sweep.
            exp = con.sql(oracle[name])
            ecols, etypes = exp.columns, exp.types
            erows = exp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        gi = sorted(range(len(gcols)), key=lambda i: gcols[i])
        ei = sorted(range(len(ecols)), key=lambda i: ecols[i])
        if sorted(gcols) != sorted(ecols):
            print(f"FAIL {name}: cols {sorted(gcols)} != {sorted(ecols)}")
            n_fail += 1; continue
        tmis = type_mismatches(gcols, gtypes, gi, ecols, etypes, ei)
        if tmis:
            print(f"FAIL {name}: column type mismatch (driver hash is "
                  f"representation-sensitive): {'; '.join(tmis)}")
            n_fail += 1; continue
        g = [tuple(norm(r[i]) for i in gi) for r in grows]
        e = [tuple(norm(r[i]) for i in ei) for r in erows]
        if g == e:
            print(f"PASS {name}: {len(g)} rows"); n_pass += 1
        else:
            n_fail += 1
            if len(g) != len(e):
                print(f"FAIL {name}: rowcount {len(g)} != {len(e)}")
                if name.split("_")[0] in ("q62", "q121", "q124", "q136", "q140") \
                        and len(e) == 0:
                    print("  note: EMPTY oracle here is the CC convergence "
                          "canary firing — label propagation did not "
                          "converge within OracleCcRounds (Dedup.scala "
                          "scaladoc). The engine's labels are likely "
                          "CORRECT; bump OracleCcRounds.")
            else:
                k = next(i for i in range(len(g)) if g[i] != e[i])
                print(f"FAIL {name}: first diff at row {k}:")
                print(f"  cols : {sorted(gcols)}")
                print(f"  spark: {g[k]}")
                print(f"  duck : {e[k]}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
