"""Seeded input generator for the benchmark's three workloads.

Every input is a pure function of (workload, seed, size): numpy's PCG64
stream seeded with the run's seed drives every draw, and DuckDB writes
the files. The program under test receives only these files.

- etl primaries: JSON arrays (one top-level array of objects, the
  reference's S3 payload) with NULL and NaN cells and keys drawn so
  that some primary keys have no secondary row and some secondary keys
  never occur in the primary.
- etl secondaries: a dimension with duplicate keys (about 10% of keys
  carry a second row), as parquet (etl_large) or as a JDBC table the
  harness loads into in-process Derby (etl_tenants; a TSV feeds the
  load, a parquet copy of the same rows feeds the checker).
- registry tables: the ten fixture tables the registry rows read
  (region ... embeddings), with the column names, types and value
  domains of the repository's sf fixtures, at a chosen scale factor.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# column order of the generated etl inputs (the primary's order is
# deliberately not alphabetical: the merge must keep it)
PRIMARY_COLS = [("id", "BIGINT"), ("order_key", "BIGINT"), ("balance", "DOUBLE"),
                ("priority", "VARCHAR"), ("segment", "VARCHAR"), ("amount", "DOUBLE")]
SECONDARY_COLS = [("id", "BIGINT"), ("cname", "VARCHAR"), ("balance", "DOUBLE"),
                  ("segment", "VARCHAR"), ("region", "VARCHAR")]


def _mask(rng, n, share):
    return rng.random(n) < share


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _with_missing(rng, values, null_share, nan_share=0.0):
    """An arrow array with NULL cells and, for floats, NaN cells (arrow
    keeps the two apart; a pandas column would fold NaN into NULL)."""
    u = rng.random(len(values))
    if nan_share:
        values = values.copy()
        values[(u >= null_share) & (u < null_share + nan_share)] = np.nan
    return pa.array(values, mask=u < null_share)


def merge_inputs(rng, n_primary, key_space, secondary_nan):
    """Primary and secondary rows for one merge, as column dicts.

    Primary keys are uniform over [0, key_space). Secondary keys cover
    [key_space/10, 1.1*key_space) minus a random 5%, so the first tenth
    of primary keys never match and the last tenth of secondary keys
    are never in the primary (the unmatched report). About 10% of
    secondary keys carry a second row whose cname sorts after (or is
    NULL), so the first-match rule decides which row fills.
    """
    ids = rng.integers(0, key_space, n_primary)
    primary = {
        "id": ids,
        "order_key": rng.permutation(n_primary).astype(np.int64) + 10_000_000,
        "balance": _with_missing(rng, _money(rng, n_primary, 0.01, 10000.0), 0.10, 0.05),
        "priority": _with_missing(rng, rng.choice(PRIORITIES, n_primary), 0.03),
        "segment": _with_missing(rng, rng.choice(SEGMENTS, n_primary), 0.08),
        "amount": _with_missing(rng, _money(rng, n_primary, 1.0, 500000.0), 0.0, 0.03),
    }
    lo, hi = key_space // 10, key_space + key_space // 10
    keys = np.arange(lo, hi, dtype=np.int64)
    keys = keys[~_mask(rng, len(keys), 0.05)]
    dups = keys[_mask(rng, len(keys), 0.10)]
    sid = np.concatenate([keys, dups])
    n_s = len(sid)
    is_dup = np.arange(n_s) >= len(keys)
    cname = np.array([f"Customer#{k:09d}" + ("-b" if d else "") for k, d in zip(sid, is_dup)])
    secondary = {
        "id": sid,
        "cname": _with_missing(rng, cname, 0.02),
        "balance": _with_missing(rng, _money(rng, n_s, 0.01, 10000.0), 0.10,
                                 0.05 if secondary_nan else 0.0),
        "segment": _with_missing(rng, rng.choice(SEGMENTS, n_s), 0.05),
        "region": pa.array(rng.choice(REGIONS, n_s)),
    }
    order = pa.array(rng.permutation(n_s))
    secondary = {k: pa.array(v).take(order) for k, v in secondary.items()}
    return primary, secondary


def _register(con, name, cols, data):
    con.register(f"{name}_df", pa.table({c: data[c] for c, _ in cols}))
    casts = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in cols)
    con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT {casts} FROM {name}_df")


def _write_json_array(con, view, path):
    con.execute(f"COPY (SELECT * FROM {view}) TO '{path}' (FORMAT JSON, ARRAY true)")


def _write_parquet(con, sql, path):
    n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    # one row group per file, like the repository's fixture tables
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(n, 1)})")


def gen_etl_large(root, seed, n_primary):
    rng = np.random.default_rng([seed, 1])
    con = duckdb.connect()
    key_space = max(n_primary // 4, 100)
    out = {}
    for tag, n in (("warm", 20_000), ("main", n_primary)):
        p, s = merge_inputs(rng, n, key_space if tag == "main" else 5_000, True)
        _register(con, "p", PRIMARY_COLS, p)
        _register(con, "s", SECONDARY_COLS, s)
        pj = os.path.join(root, f"{tag}_primary.json")
        sp = os.path.join(root, f"{tag}_secondary.parquet")
        _write_json_array(con, "p", pj)
        _write_parquet(con, "SELECT * FROM s", sp)
        out[tag] = {"primary": pj, "secondary": sp, "primary_rows": n}
    return {"workload": "etl_large", "seed": seed,
            "primary_cols": PRIMARY_COLS, "secondary_cols": SECONDARY_COLS, **out}


def gen_etl_tenants(root, seed, n_tenants, rows):
    """Tenants for the `--config` path: schema-less JSON primaries and
    JDBC secondaries. `{OUT}` in each destination is filled per round
    by the harness, so every round's CSVs survive for the checker."""
    rng = np.random.default_rng([seed, 2])
    con = duckdb.connect()
    configs, tenants = {}, []
    for i in range(n_tenants + 1):
        name = "warm" if i == n_tenants else f"t{i:02d}"
        n = rows if name != "warm" else 2_000
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        p, s = merge_inputs(rng, n, max(n // 4, 100), False)
        _register(con, "p", PRIMARY_COLS, p)
        _register(con, "s", SECONDARY_COLS, s)
        pj = os.path.join(d, "primary.json")
        _write_json_array(con, "p", pj)
        _write_parquet(con, "SELECT * FROM s", os.path.join(d, "secondary.parquet"))
        # Derby load file: tab-separated, \N for NULL (no value holds a tab)
        con.execute(f"COPY (SELECT * FROM s) TO '{os.path.join(d, 'secondary.tsv')}' "
                    "(FORMAT CSV, DELIMITER '\t', HEADER false, NULLSTR '\\N', QUOTE '')")
        table = f"T_{name.upper()}"
        cfg = {
            "source": {"type": "json", "path": pj},
            "secondary": {"type": "jdbc", "url": "jdbc:derby:memory:perfbench;create=true",
                          "dbtable": table, "user": "app", "password": "app",
                          "driver": "org.apache.derby.jdbc.EmbeddedDriver"},
            "destination": {"dir": "{OUT}/" + name, "file": "merged.csv"},
            "key": "id"}
        t = {"name": name, "dir": d, "table": table, "primary": pj,
             "secondary": os.path.join(d, "secondary.parquet"),
             "tsv": os.path.join(d, "secondary.tsv"), "primary_rows": n}
        if name == "warm":
            warm = {"configs": {name: cfg}}
            warm_tenant = t
        else:
            configs[name] = cfg
            tenants.append(t)
    for fname, body in (("tenants.json", {"configs": configs}), ("warm.json", warm)):
        with open(os.path.join(root, fname), "w") as f:
            json.dump(body, f, indent=1)
    return {"workload": "etl_tenants", "seed": seed,
            "primary_cols": PRIMARY_COLS, "secondary_cols": SECONDARY_COLS,
            "config": os.path.join(root, "tenants.json"),
            "warm_config": os.path.join(root, "warm.json"),
            "tenants": tenants, "warm": warm_tenant}


# ── registry fixture tables ────────────────────────────────────────

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _frame(**cols):
    import pandas as pd
    return pd.DataFrame(cols)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words edited
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return _frame(doc_id=np.arange(n, dtype=np.int64), text=texts,
                  lang=rng.choice(LANGS, n),
                  source=[f"src{k}" for k in rng.integers(0, 20, n)],
                  n_chars=np.array([len(t) for t in texts], dtype=np.int64))


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + 0.8 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return _frame(vec_id=np.arange(n, dtype=np.int64),
                  embedding=list(v.astype(np.float32)),
                  label=label.astype(np.int32))


def gen_registry_tables(root, seed, sf):
    """The ten fixture tables at scale factor `sf` (sf 0.1 is 600k
    lineitem rows, the repository's bench scale)."""
    rng = np.random.default_rng([seed, 3, int(sf * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 50), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 200), max(int(20_000 * sf), 200)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = ts0 + rng.integers(0, 30 * 86400 * 1_000_000, n_ev).astype("timedelta64[us]")
    ev_ts.sort()
    tables = {
        "region": _frame(r_regionkey=np.arange(5, dtype=np.int32), r_name=REGIONS),
        "nation": _frame(n_nationkey=np.arange(25, dtype=np.int32),
                         n_name=[f"NATION_{i}" for i in range(25)],
                         n_regionkey=(np.arange(25) % 5).astype(np.int32)),
        "customer": _frame(c_custkey=np.arange(n_cust, dtype=np.int64),
                           c_name=[f"Customer#{i:09d}" for i in range(n_cust)],
                           c_nationkey=rng.integers(0, 25, n_cust).astype(np.int32),
                           c_acctbal=_money(rng, n_cust, -999.99, 9999.99),
                           c_mktsegment=rng.choice(SEGMENTS, n_cust)),
        "supplier": _frame(s_suppkey=np.arange(n_supp, dtype=np.int64),
                           s_name=[f"Supplier#{i:09d}" for i in range(n_supp)],
                           s_nationkey=rng.integers(0, 25, n_supp).astype(np.int32),
                           s_acctbal=_money(rng, n_supp, -999.99, 9999.99)),
        "part": _frame(p_partkey=np.arange(n_part, dtype=np.int64),
                       p_name=[f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                         rng.choice(PART_NOUN, n_part))],
                       p_brand=[f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                       p_type=rng.choice(PART_TYPES, n_part),
                       p_size=rng.integers(1, 51, n_part).astype(np.int32),
                       p_retailprice=np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        "orders": _frame(o_orderkey=np.arange(n_ord, dtype=np.int64),
                         o_custkey=rng.integers(0, n_cust, n_ord).astype(np.int64),
                         o_orderstatus=rng.choice(["F", "O", "P"], n_ord),
                         o_totalprice=_money(rng, n_ord, 1000.0, 500000.0),
                         o_orderdate=_days(rng, n_ord, "1995-01-01", 2400),
                         o_orderpriority=rng.choice(PRIORITIES, n_ord)),
        "lineitem": _frame(l_orderkey=rng.integers(0, n_ord, n_line).astype(np.int64),
                           l_partkey=rng.integers(0, n_part, n_line).astype(np.int64),
                           l_suppkey=rng.integers(0, n_supp, n_line).astype(np.int64),
                           l_linenumber=rng.integers(1, 8, n_line).astype(np.int32),
                           l_quantity=rng.integers(1, 51, n_line).astype(np.float64),
                           l_extendedprice=_money(rng, n_line, 900.0, 105000.0),
                           l_discount=rng.integers(0, 11, n_line) / 100.0,
                           l_tax=rng.integers(0, 9, n_line) / 100.0,
                           l_returnflag=rng.choice(["A", "N", "R"], n_line),
                           l_linestatus=rng.choice(["F", "O"], n_line),
                           l_shipdate=_days(rng, n_line, "1995-01-02", 2500)),
        "events": _frame(event_id=np.arange(n_ev, dtype=np.int64), ts=ev_ts,
                         user_id=rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
                         event_type=rng.choice(EVENT_TYPES, n_ev),
                         value=np.round(rng.exponential(50.0, n_ev), 2),
                         props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    con = duckdb.connect()
    for name, df in tables.items():
        con.register("t_df", df)
        sql = "SELECT * FROM t_df"
        if name == "embeddings":
            sql = "SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label FROM t_df"
        _write_parquet(con, sql, os.path.join(root, f"{name}.parquet"))
        con.unregister("t_df")
    return {"dir": root, "sf": sf}
