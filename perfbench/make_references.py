#!/usr/bin/env python3
"""Regenerates perfbench/references.json. A maintenance tool; the benchmark
itself only reads the file.

    python3 perfbench/make_references.py

Steps:
  1. Build program + harness and the inputs exactly as run.py does.
  2. Run graft.perfbench.Main in dump mode: every gate and memo the
     request sets issue (and the streaming probe's gate) is materialized to
     parquet and fingerprinted twice.
  3. Compare each gate's full output with DuckDB running the gate's oracle
     SQL over the same inputs (scripts/crosscheck.py's comparison), and the
     base gates' row counts with the committed sf0.01 crosscheck artifact.
  4. Compute the parameterized ReportRunner references with DuckDB: q54's
     oracle formulation evaluated for every candidate period.
A gate is referenced only when it is deterministic and DuckDB agrees; the
tool exits non-zero otherwise. Memo artifacts have no oracle: they are
referenced by their deterministic fingerprint, and the gates built on them
are oracle-checked.
"""
import datetime
import importlib.util
import json
import os
import sys

import duckdb

import run

ROWS_ARTIFACT = os.path.join(run.ROOT, "CROSSCHECK_r19opt_sf0.01.json")


def crosscheck_compare():
    path = os.path.join(run.ROOT, "scripts", "crosscheck.py")
    spec = importlib.util.spec_from_file_location("crosscheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def candidate_periods():
    """Mirror of Requests.candidatePeriods."""
    out = []
    for m in range(79):
        y, mo = 1995 + m // 12, 1 + m % 12
        for span in (1, 2, 3, 6, 12):
            start = datetime.date(y, mo, 1)
            ey, emo = y + (mo - 1 + span) // 12, 1 + (mo - 1 + span) % 12
            end = datetime.date(ey, emo, 1) - datetime.timedelta(days=1)
            out.append((start, end))
    return out


def runner_values(base):
    periods = candidate_periods()
    values = ",\n".join(
        f"('{a}/{b}', TIMESTAMP '{a} 00:00:00', TIMESTAMP '{b} 00:00:00')" for a, b in periods)
    sql = f"""
WITH j AS (
  SELECT o_orderdate d, CAST(o_custkey % 100 AS VARCHAR) code,
         o_orderstatus state, o_totalprice v
  FROM read_parquet('{base}/orders.parquet')),
g(gk, f, t) AS (VALUES {values}),
d1 AS (SELECT gk, sum(CASE WHEN d >= f AND d <= t AND state = 'F' THEN v ELSE 0 END) val
       FROM j CROSS JOIN g GROUP BY gk),
d2 AS (SELECT gk, sum(CASE WHEN d <= t AND state = 'F' THEN v ELSE 0 END) val
       FROM j CROSS JOIN g GROUP BY gk),
percode AS (SELECT gk, code, sum(CASE WHEN d >= f AND d <= t THEN v ELSE 0 END) bal
            FROM j CROSS JOIN g GROUP BY gk, code),
c1 AS (SELECT gk, sum(CASE WHEN code LIKE '1%' AND code NOT LIKE '15%' THEN bal
                           WHEN code LIKE '2%' AND bal < 0 THEN bal ELSE 0 END) val
       FROM percode GROUP BY gk)
SELECT d1.gk, round(d1.val, 2), round(d2.val, 2), round(c1.val, 2),
       CASE WHEN d2.val = 0 THEN 0 ELSE round(round(100 * d1.val / d2.val, 2), 2) END
FROM d1 JOIN d2 ON d1.gk = d2.gk JOIN c1 ON d1.gk = c1.gk ORDER BY d1.gk"""
    rows = duckdb.connect().execute(sql).fetchall()
    return {gk: {"D1.bal": float(a), "D2.bal": float(b), "C1.bal": float(c), "A1.bal": float(e)}
            for gk, a, b, c, e in rows}


def main():
    classes = run.build()
    base, x10 = run.inputs()
    dump = os.path.join(run.WORK, "dump")
    run.run_jvm(classes, ["--mode", "dump", "--base", base, "--x10", x10, "--outdir", dump], "dump",
                timeout=3600)
    with open(os.path.join(dump, "fingerprints.json")) as fh:
        fps = json.load(fh)
    compare = crosscheck_compare()
    with open(ROWS_ARTIFACT) as fh:
        committed = json.load(fh)
    refs = {"fingerprint": "count(*) and sum(xxhash64) over all columns, floats rounded to 4 places",
            "gates": {}, "oracle": {}, "runner": {}}
    bad = []
    for data, gates in sorted(fps.items()):
        report = compare(base if data == "base" else x10, os.path.join(dump, data))
        refs["gates"][data] = {}
        for name, fp in sorted(gates.items()):
            entry = report.get(name)
            agrees = entry is not None and entry["rows_match"] and entry["schema_match"] \
                and entry["hash_match"]
            if not fp["deterministic"]:
                bad.append(f"{data}/{name}: not deterministic")
                continue
            if name.startswith("memo_"):
                refs["oracle"][f"{data}/{name}"] = "no oracle; consumers are oracle-checked"
            elif not agrees:
                bad.append(f"{data}/{name}: DuckDB disagrees: {entry}")
                continue
            else:
                note = f"duckdb rows {entry['oracle_rows']}"
                if data == "base" and name in committed:
                    want = committed[name]["oracle_rows"]
                    if want != entry["oracle_rows"]:
                        bad.append(f"{data}/{name}: rows {entry['oracle_rows']} != "
                                   f"committed sf0.01 oracle_rows {want}")
                        continue
                    note += f", matches committed sf0.01 oracle_rows {want}"
                refs["oracle"][f"{data}/{name}"] = note
            refs["gates"][data][name] = {"rows": fp["rows"], "hash": fp["hash"]}
    refs["runner"]["values"] = runner_values(base)
    for b in bad:
        print("REJECTED", b)
    out = os.path.join(run.HERE, "references.json")
    with open(out, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    n = sum(len(g) for g in refs["gates"].values())
    print(f"wrote {os.path.relpath(out, run.ROOT)}: {n} gate/memo references, "
          f"{len(refs['runner']['values'])} runner periods; {len(bad)} rejected")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
