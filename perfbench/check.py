"""Independent output checks, in DuckDB.

etl: the merge is recomputed from the generated input files with the
reference pipeline's documented semantics and every CSV the program
wrote is compared against it:
  - primary wins; NULL and NaN count as missing (the secondary fills);
  - a key's first match is its secondary row with the smallest
    remaining columns, ascending, NULLS LAST, in secondary column order;
  - columns come in primary order, then the secondary-only columns in
    secondary order. A primary read without a schema (the `--config`
    path) has its columns in the order Spark's JSON inference gives,
    sorted by name, as `JsonArraySource` documents.
Each CSV must match as an ordered header and a multiset of rows; each
run's merged-row count, unmatched count and ten smallest unmatched ids
must match the recomputation too.

registry: each row's result is compared with its oracle SQL replayed
in DuckDB over the same tables, by the rules of the repository's
oracle gate: declared column types equal, columns compared by name,
rows compared sorted, cells at full precision (repr), NaN equal to NaN.
"""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _connect():
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    return con


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _missing(col, typ):
    """NaN counts as missing, like SQL NULL."""
    if typ == "DOUBLE":
        return f"CASE WHEN isnan({_q(col)}) THEN NULL ELSE {_q(col)} END AS {_q(col)}"
    return _q(col)


def merge_sql(primary_json, secondary_parquet, pcols, scols, inferred,
              order="ASC", precedence="primary"):
    """The reference merge as one DuckDB query. `order` and `precedence`
    exist for the checker self-test, which builds wrong answers with
    them; the check itself always uses the defaults.
    """
    ptypes = ", ".join(f"'{c}': '{t}'" for c, t in pcols)
    p = (f"SELECT {', '.join(_missing(c, t) for c, t in pcols)} FROM "
         f"read_json('{primary_json}', format='array', columns={{{ptypes}}})")
    s0 = (f"SELECT {', '.join(_missing(c, t) for c, t in scols)} "
          f"FROM read_parquet('{secondary_parquet}')")
    rest = ", ".join(f"{_q(c)} {order} NULLS LAST" for c, _ in scols if c != "id")
    s = (f"SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER "
         f"(PARTITION BY id ORDER BY {rest}) AS __rn FROM s0) WHERE __rn = 1")
    pnames = [c for c, _ in pcols]
    if inferred:
        pnames = sorted(pnames)
    snames = [c for c, _ in scols]
    shared = set(pnames) & set(snames)
    out = []
    for c in pnames:
        if c == "id":
            out.append("p.id AS id")
        elif c in shared:
            a, b = ("p", "s") if precedence == "primary" else ("s", "p")
            out.append(f"COALESCE({a}.{_q(c)}, {b}.{_q(c)}) AS {_q(c)}")
        else:
            out.append(f"p.{_q(c)}")
    out += [f"s.{_q(c)}" for c in snames if c != "id" and c not in shared]
    names = pnames + [c for c in snames if c != "id" and c not in shared]
    sql = (f"WITH p AS ({p}), s0 AS ({s0}), s AS ({s}) "
           f"SELECT {', '.join(out)} FROM p LEFT JOIN s ON p.id = s.id")
    unmatched = "SELECT id FROM s0 WHERE id NOT IN (SELECT id FROM p) ORDER BY id"
    return names, sql, f"WITH p AS ({p}), s0 AS ({s0}) {unmatched}"


def read_csv_sql(path, names, types):
    cols = ", ".join(f"'{c}': '{types[c]}'" for c in names)
    # Spark's CSV writer: header row, `"` quotes, `\` escapes, NULL as an
    # empty unquoted field
    return (f"SELECT * FROM read_csv('{path}', header=true, auto_detect=false, "
            f"columns={{{cols}}}, delim=',', quote='\"', escape='\\', "
            f"nullstr='', allow_quoted_nulls=false)")


def check_etl(ops, pcols, scols, inferred, con=None):
    """Checks every successful `Pipeline.run` of a run. Returns a list of
    failure messages (empty when every output is right)."""
    con = con or _connect()
    types = dict(pcols) | dict(scols)
    failures = []
    expected = {}
    for op in ops:
        if not op["ok"]:
            continue
        c = op["check"]
        key = (c["primary"], c["secondary"])
        if key not in expected:
            names, sql, unmatched_sql = merge_sql(c["primary"], c["secondary"], pcols, scols, inferred)
            tbl = f"exp{len(expected)}"
            con.execute(f"CREATE TEMP TABLE {tbl} AS {sql}")
            n = con.execute(f"SELECT count(*) FROM {tbl}").fetchone()[0]
            un = [r[0] for r in con.execute(unmatched_sql).fetchall()]
            expected[key] = (names, tbl, n, un)
        failures += check_one(con, op["name"], c, *expected[key], types)
    return failures


def check_one(con, name, c, names, tbl, n_expected, unmatched, types):
    where = f"{name}: {c['csv']}"
    with open(c["csv"], encoding="utf-8") as f:
        header = f.readline().rstrip("\r\n").split(",")
    if header != names:
        return [f"{where}: header {header} != expected {names}"]
    got = read_csv_sql(c["csv"], names, types)
    n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    diff = con.execute(
        f"SELECT count(*) FROM (({got}) EXCEPT ALL (SELECT * FROM {tbl})"
        f" UNION ALL ((SELECT * FROM {tbl}) EXCEPT ALL ({got})))").fetchone()[0]
    out = []
    if n_got != n_expected or diff:
        out.append(f"{where}: {n_got} rows, expected {n_expected}; {diff} rows differ")
    if c["merged_rows"] != n_expected:
        out.append(f"{where}: merged_rows {c['merged_rows']} != {n_expected}")
    if c["unmatched"] != len(unmatched):
        out.append(f"{where}: unmatched {c['unmatched']} != {len(unmatched)}")
    if list(c["sample"]) != unmatched[:10]:
        out.append(f"{where}: unmatched sample {c['sample']} != {unmatched[:10]}")
    return out


# ── registry ───────────────────────────────────────────────────────

def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _frame(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def check_registry(results, tables_dir, con=None):
    """`results`: row name -> {"path": parquet dir, "oracle": sql}."""
    con = con or _connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    failures = []
    for name, r in sorted(results.items()):
        got_sql = f"SELECT * FROM '{r['path']}/*.parquet'"
        try:
            gtypes = {c[0]: c[1] for c in con.execute(f"DESCRIBE {got_sql}").fetchall()}
            etypes = {c[0]: c[1] for c in con.execute(f"DESCRIBE {r['oracle']}").fetchall()}
            if gtypes != etypes:
                failures.append(f"{name}: types {gtypes} != oracle {etypes}")
                continue
            g = con.execute(got_sql)
            gc, gr = _frame(g.fetchall(), [d[0] for d in g.description])
            e = con.execute(r["oracle"])
            ec, er = _frame(e.fetchall(), [d[0] for d in e.description])
        except Exception as ex:  # an unreadable output or oracle is a failed check
            failures.append(f"{name}: {str(ex).splitlines()[0]}")
            continue
        if gc != ec:
            failures.append(f"{name}: columns {gc} != oracle {ec}")
        elif gr != er:
            bad = sum(a != b for a, b in zip(gr, er)) + abs(len(gr) - len(er))
            failures.append(f"{name}: {bad} of {len(er)} rows differ from the oracle")
    return failures
