#!/usr/bin/env python3
"""Dev-side correctness harness (mimics the driver's DuckDB-oracle gate).

Usage: python3 scripts/check.py [sfDir] [outDir]
Reads outDir/<name>/ parquet (written by `sbt "runMain graft.Verify sfDir outDir"`)
and outDir/oracle_sql.json, runs each oracle in DuckDB over sfDir tables,
and diffs values column-by-column (columns sorted by name).
NOT part of the shipped Scala library — local tooling only.
"""
import sys, json, glob, os


def bench_compare(old_path, new_path, factor=1.3, floor=1.0):
    """Control-calibrated bench comparison over two SPARK_GRAFT_BENCH_OUT
    dump files (r16 VERDICT item 6): this machine drifts 2-3x in
    stretches, so a raw per-query ratio between two one-shot runs mostly
    measures machine state. The bench's fixed control queries (3
    CPU-bound + 3 IO-bound, always full-rep — Bench.ControlCpu/ControlIo)
    ride every run; a query is flagged REGRESSED only when its new/old
    ratio exceeds `factor` x the CONTROL ratio (and the query is above
    `floor` seconds in either run — sub-second queries are scheduling
    noise). A query whose entry carries `err` in either dump is listed as
    ERRORED instead of compared. Exits non-zero iff calibrated
    regressions exist."""
    old = json.load(open(old_path)); new = json.load(open(new_path))

    def ctl(d):
        # max of the two control sums' ratios is the conservative
        # calibration: a run degraded on EITHER axis legitimately slows
        # queries bound by that axis
        return d.get("control_cpu", 0.0), d.get("control_io", 0.0)

    (ocpu, oio), (ncpu, nio) = ctl(old), ctl(new)
    # unclamped: below 1.0 the new run's machine was faster, which the
    # clamped calibration deliberately does not credit
    raw_ratio = max(ncpu / ocpu if ocpu > 0 else 1.0,
                    nio / oio if oio > 0 else 1.0)
    ctl_ratio = max(raw_ratio, 1.0)
    oqs, nqs = old.get("queries", {}), new.get("queries", {})
    # Bench records a time-to-failure as "sec" for an errored query;
    # that is no timing, so such queries are listed, not compared
    errored = sorted(k for k in set(oqs) & set(nqs)
                     if "err" in oqs[k] or "err" in nqs[k])
    oq = {k: v["sec"] for k, v in oqs.items() if k not in errored}
    nq = {k: v["sec"] for k, v in nqs.items() if k not in errored}
    common = sorted(set(oq) & set(nq))
    regressed, improved = [], []
    for k in common:
        a, b = oq[k], nq[k]
        if max(a, b) < floor or a <= 0:
            continue
        ratio = b / a
        if ratio > factor * ctl_ratio:
            regressed.append((k, a, b, ratio))
        elif ratio < 1 / factor:
            improved.append((k, a, b, ratio))
    for k, a, b, r in sorted(regressed, key=lambda t: -t[3]):
        print(f"REGRESSED {k}: {a:.2f}s -> {b:.2f}s (x{r:.2f}, "
              f"control x{ctl_ratio:.2f}, unclamped x{raw_ratio:.2f})")
    for k, a, b, r in sorted(improved, key=lambda t: t[3]):
        print(f"IMPROVED  {k}: {a:.2f}s -> {b:.2f}s (x{r:.2f})")
    for k in errored:
        errs = [f"{side}: {d[k]['err'][:160]}"
                for side, d in (("old", oqs), ("new", nqs)) if "err" in d[k]]
        print(f"ERRORED   {k} ({'; '.join(errs)})")
    tot_o = sum(oq[k] for k in common); tot_n = sum(nq[k] for k in common)
    print(json.dumps({
        "n_common": len(common), "control_ratio": round(ctl_ratio, 3),
        "control_ratio_unclamped": round(raw_ratio, 3),
        "errored": errored,
        "control_cpu": [ocpu, ncpu], "control_io": [oio, nio],
        "total_old": round(tot_o, 1), "total_new": round(tot_n, 1),
        "n_regressed_calibrated": len(regressed),
        "n_improved": len(improved),
        "only_old": sorted(set(oq) - set(nq)),
        "only_new": sorted(set(nq) - set(oq))}))
    return 1 if regressed else 0


if len(sys.argv) > 1 and sys.argv[1] == "--bench-compare":
    sys.exit(bench_compare(*sys.argv[2:4],
                           *[float(x) for x in sys.argv[4:6]]))

import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracles = json.load(open(f"{out}/oracle_sql.json"))
names = sorted(os.path.basename(d) for d in glob.glob(f"{out}/*") if os.path.isdir(d))
fails = 0
failed_names = set()  # per-query failures already counted in the loop
for name in names:
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"EMPTY   {name} (no parquet written)"); fails += 1; failed_names.add(name); continue
    got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
    nrows = len(got)
    if name not in oracles:
        print(f"ROWSONLY {name}: rows={nrows}")
        continue
    try:
        exp = con.sql(oracles[name]).df()
    except Exception as e:
        print(f"ORACLE-ERR {name}: {str(e)[:200]}"); fails += 1; failed_names.add(name); continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"SCHEMA  {name}: spark={gcols} oracle={ecols}"); fails += 1; failed_names.add(name); continue
    g, e = got[gcols].reset_index(drop=True), exp[gcols].reset_index(drop=True)
    if len(g) != len(e):
        print(f"ROWS    {name}: spark={len(g)} oracle={len(e)}"); fails += 1; failed_names.add(name); continue
    # Dtype guard: the driver's hash tolerates width differences
    # (int32 vs int64) but NOT an oracle aggregate DuckDB widens past
    # 64 bits — sum(BIGINT) -> HUGEINT arrives as pandas object dtype
    # and hash-mismatches even when values are equal. That bit twice
    # (r1 ext_sessionize, r3 ext_star_join) — fail loudly on exactly
    # that shape: one side object, the other numeric.
    dt_bad = [c for c in gcols
              if (str(e[c].dtype) == "object") != (str(g[c].dtype) == "object")]
    if dt_bad:
        print(f"DTYPE   {name}: cols {dt_bad} spark={[str(g[c].dtype) for c in dt_bad]} "
              f"oracle={[str(e[c].dtype) for c in dt_bad]}"
              f" (HUGEINT? wrap the oracle aggregate in CAST(... AS BIGINT))")
        fails += 1
        failed_names.add(name)
        continue
    try:
        ok = g.equals(e)
        if not ok:
            # allow dtype-compat compare
            diff_cols = [c for c in gcols if not g[c].equals(e[c])]
            real = []
            for c in diff_cols:
                import pandas as pd
                a, b = g[c], e[c]
                try:
                    if ((a.isna() == b.isna()).all()
                            and (a.dropna().values == b.dropna().values).all()):
                        continue
                except Exception:
                    pass
                real.append(c)
            if real:
                print(f"VALUES  {name}: diff cols {real}")
                for c in real[:2]:
                    m = (g[c].fillna('\x00') != e[c].fillna('\x00'))
                    print("   spark:", g[c][m].head(3).tolist())
                    print("   duck :", e[c][m].head(3).tolist())
                fails += 1
                failed_names.add(name)
                continue
        print(f"OK      {name}: rows={nrows}")
    except Exception as ex:
        print(f"CMP-ERR {name}: {str(ex)[:200]}"); fails += 1; failed_names.add(name)
missing = set(oracles) - set(names)
if missing:
    print("MISSING query dirs for oracles:", sorted(missing)); fails += 1

# Partial-dump marker written by Verify itself (failures.json): an
# absent file means an OLD dump (pre-round-16) — warn. Count only the
# entries nothing above already counted: an oracle'd write failure
# usually surfaces as a MISSING dir (or an EMPTY one), but a ROWS-ONLY
# query that failed leaves no dir AND no oracle — this is its only
# signal.
fj = f"{out}/failures.json"
if os.path.exists(fj):
    vf = json.load(open(fj))
    for k, v in sorted(vf.items()):
        print(f"VERIFY-FAIL {k}: {v[:160]}")
    fails += len(set(vf) - missing - failed_names)
else:
    print("WARN    no failures.json in dump (old Verify build?)")

# Registry-growth gate (ARCHITECTURE.md 'Gate-budget doctrine'): the
# r13/r14 blank-artifact failure mode was GROWTH-driven — the gate
# outgrew the driver's clock one query at a time, invisibly. Warn
# loudly (not fatally: correctness is unaffected) when the registry
# exceeds the last MEASURED watermark by 5%, prompting a re-measured
# quiet-machine gate wall + ledger update before the driver finds out.
ledger_path = os.path.join(os.path.dirname(__file__), "gate_budget.json")
try:
    ledger = json.load(open(ledger_path))
    wm = ledger["n_queries_watermark"]
    if len(names) > wm * 1.05:
        print(f"GATE-BUDGET: registry grew {len(names)} > 5% past the "
              f"round-{ledger['measured_round']} watermark {wm} — "
              f"re-measure the full gate wall on a quiet machine and "
              f"update scripts/gate_budget.json (see ARCHITECTURE.md "
              f"'Gate-budget doctrine')")
except FileNotFoundError:
    print("WARN    scripts/gate_budget.json missing — growth unchecked")

print(f"\n{len(names)} queries, {fails} failures")
sys.exit(1 if fails else 0)
