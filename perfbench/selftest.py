#!/usr/bin/env python3
"""Checker self-test: the checkers must pass the program's real outputs
and fail outputs that are wrong on purpose.

usage: python3 perfbench/selftest.py      (from the repository root)

It runs the harness once on small inputs of `etl_large` and `registry`
(no timing is read), then feeds the checkers:
  - the real CSV and the real registry results      -> must pass
  - a CSV with primary/secondary precedence swapped -> must fail
  - the real CSV with one row dropped                -> must fail
  - a CSV whose duplicate keys took the wrong match  -> must fail
  - a run record whose unmatched count is off by one -> must fail
  - a registry result with one value changed         -> must fail
Exits 0 when every expectation holds.
"""
import copy
import json
import os
import shutil
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def write_csv(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (HEADER, DELIMITER ',', QUOTE '\"', "
                f"ESCAPE '\\', NULLSTR '')")


def main():
    cp = run.build()
    root = os.path.join(run.work_dir(), "selftest")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    seed = 7
    etl_dir, reg_dir = os.path.join(root, "etl"), os.path.join(root, "tables")
    os.makedirs(etl_dir)
    os.makedirs(reg_dir)
    m = gen.gen_etl_large(etl_dir, seed, 20_000)
    etl_manifest = os.path.join(etl_dir, "manifest.json")
    with open(etl_manifest, "w") as f:
        json.dump(m, f)
    gen.gen_registry_tables(reg_dir, seed, 0.002)
    reg_manifest = os.path.join(root, "registry.json")
    with open(reg_manifest, "w") as f:
        json.dump({"dir": reg_dir}, f)

    etl = run.run_jvm(cp, "etl_large", etl_manifest, 0, 0, os.path.join(root, "etl_run"))
    reg = run.run_jvm(cp, "registry", reg_manifest, 0, 0, os.path.join(root, "reg_run"))

    pcols, scols = m["primary_cols"], m["secondary_cols"]
    op = next(o for o in etl["ops"] if o["ok"])
    real_csv = op["check"]["csv"]
    con = check._connect()

    def etl_case(mutate_csv=None, mutate_record=None):
        o = copy.deepcopy(op)
        if mutate_csv:
            o["check"]["csv"] = mutate_csv
        if mutate_record:
            mutate_record(o["check"])
        return check.check_etl([o], pcols, scols, inferred=False)

    def wrong_merge(tag, **kw):
        _, sql, _ = check.merge_sql(op["check"]["primary"], op["check"]["secondary"],
                                    pcols, scols, inferred=False, **kw)
        path = os.path.join(root, f"{tag}.csv")
        write_csv(con, sql, path)
        return path

    dropped = os.path.join(root, "dropped.csv")
    with open(real_csv) as f:
        lines = f.readlines()
    with open(dropped, "w") as f:
        f.writelines(lines[:-1])

    results = reg["registry_results"]
    name = "q1_agg"
    changed_dir = os.path.join(root, "changed")
    os.makedirs(changed_dir)
    g = con.execute(f"SELECT * FROM '{results[name]['path']}/*.parquet'")
    cols = [d[0] for d in g.description]
    num = next(c for c, t, *_ in con.execute(
        f"DESCRIBE SELECT * FROM '{results[name]['path']}/*.parquet'").fetchall()
        if t in ("BIGINT", "DOUBLE", "INTEGER"))
    sel = ", ".join(f'"{c}" + (CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS "{c}"' if c == num
                    else f'"{c}"' for c in cols)
    con.execute(f"COPY (SELECT {sel} FROM (SELECT *, row_number() OVER () AS rn FROM "
                f"'{results[name]['path']}/*.parquet')) TO '{changed_dir}/part-0.parquet' "
                "(FORMAT PARQUET)")
    changed = dict(results, **{name: dict(results[name], path=changed_dir)})

    cases = [
        ("real etl CSV", etl_case(), True),
        ("precedence swapped", etl_case(wrong_merge("swapped", precedence="secondary")), False),
        ("one row dropped", etl_case(dropped), False),
        ("duplicate key took the wrong match", etl_case(wrong_merge("lastmatch", order="DESC")), False),
        ("unmatched count off by one",
         etl_case(mutate_record=lambda c: c.update(unmatched=c["unmatched"] + 1)), False),
        ("real registry results", check.check_registry(results, reg_dir), True),
        (f"registry result with one value changed ({name}.{num})",
         check.check_registry(changed, reg_dir), False),
    ]
    ok = True
    for label, failures, should_pass in cases:
        good = (not failures) == should_pass
        ok &= good
        verdict = "passes" if not failures else f"fails ({failures[0][:120]})"
        print(f"{'OK ' if good else 'BAD'} {label}: checker {verdict}")
    shutil.rmtree(root, ignore_errors=True)
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
