"""Output check: the program's outputs against the repo's DuckDB oracles.

Values are compared after the normalisation of `tools/check_oracle.py`,
expressed in SQL so that large outputs are compared inside DuckDB:
floats rounded to 9 places, NaN equal to NaN, an exact -0.0 kept apart
from 0.0, booleans as integers, every other value as itself. Rows compare
as multisets over the oracle's columns (the program may return more).
"""
import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pyarrow as pa

FLOATS = {"DOUBLE", "FLOAT", "REAL"}


def _q(c):
    return '"' + c.replace('"', '""') + '"'


def norm_expr(col, dtype):
    """SQL for one column's normalised value, as text."""
    c = _q(col)
    t = str(dtype).upper()
    if t in FLOATS:
        # `+ 0.0` turns a -0.0 produced by rounding into 0.0, as Python's
        # round() does; an exact -0.0 stays distinct, as in check_oracle
        return (f"CASE WHEN isnan({c}) THEN 'NaN' WHEN {c} = 0 THEN CAST({c} AS VARCHAR) "
                f"ELSE CAST(round({c}, 9) + 0.0 AS VARCHAR) END")
    if t == "BOOLEAN":
        return f"CAST(CAST({c} AS INTEGER) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def normalized(con, sql, columns):
    """`sql` projected onto `columns` (sorted), each normalised."""
    rel = con.sql(sql)
    types = dict(zip(rel.columns, rel.types))
    missing = [c for c in columns if c not in types]
    if missing:
        raise ValueError(f"missing columns {missing}")
    cols = ", ".join(f"{norm_expr(c, types[c])} AS {_q(c)}" for c in sorted(columns))
    return f"SELECT {cols} FROM ({sql})"


def compare(con, program_sql, oracle_sql):
    """None when the program's rows equal the oracle's, else a reason."""
    columns = con.sql(oracle_sql).columns
    try:
        p = normalized(con, program_sql, columns)
    except ValueError as e:
        return str(e)
    o = normalized(con, oracle_sql, columns)
    n_p = con.sql(f"SELECT count(*) FROM ({p})").fetchone()[0]
    n_o = con.sql(f"SELECT count(*) FROM ({o})").fetchone()[0]
    if n_p != n_o:
        return f"rows {n_p} != {n_o}"
    extra = con.sql(f"SELECT count(*) FROM ({p} EXCEPT ALL {o})").fetchone()[0]
    if extra:
        return f"{extra} rows differ"
    return None


def digest(con, sql, columns=None):
    """Order-independent digest of the normalised rows of `sql`."""
    columns = columns or con.sql(sql).columns
    n = normalized(con, sql, columns)
    row = " || '|' || ".join(f"coalesce({_q(c)}, '<null>')" for c in sorted(columns))
    rows = con.sql(f"SELECT {row} FROM ({n})").fetchall()
    h = hashlib.sha256()
    for (r,) in sorted(rows):
        h.update(r.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def simhash(text):
    """64-bit simhash of a doc as the dd29 oracle computes it: each distinct
    normalised word's md5 prefix votes on every bit."""
    words = set(re.sub(r"[^a-z0-9 ]", " ", (text or "").lower()).strip().split(" "))
    words = [w for w in words if w] or [""]
    h = np.array([int(hashlib.md5(w.encode()).hexdigest()[:16], 16) for w in words],
                 dtype=np.uint64)
    bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    return int(((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())


def simhash_pairs(con, docs_sql, batch_from, cache, max_hamming=3):
    """The dd29 oracle replayed in numpy: every pair of docs within
    `max_hamming` simhash bits that involves a doc with id >= `batch_from`,
    as an arrow table (id_a, id_b, hamming). `cache` maps doc ids to
    fingerprints across calls; docs never change once written."""
    ids = [d for (d,) in con.sql(f"SELECT doc_id FROM ({docs_sql})").fetchall()]
    todo = [d for d in ids if d not in cache]
    if todo:
        for d, text in con.sql(f"SELECT doc_id, text FROM ({docs_sql}) "
                               f"WHERE doc_id IN ({','.join(map(str, todo))})").fetchall():
            cache[d] = simhash(text)
    ids = np.array(sorted(ids), dtype=np.int64)
    fp = np.array([cache[d] for d in ids], dtype=np.uint64)
    new = np.nonzero(ids >= batch_from)[0]
    x = fp[None, :] ^ fp[new][:, None]
    ham = POPCOUNT[x.view(np.uint8)].reshape(len(new), len(ids), 8).sum(axis=2)
    # each pair once: a batch doc against every doc with a smaller id
    hit = (ham <= max_hamming) & (ids[None, :] < ids[new][:, None])
    k, j = np.nonzero(hit)
    return pa.table({"id_a": pa.array(ids[j], pa.int64()),
                     "id_b": pa.array(ids[new][k], pa.int64()),
                     "hamming": pa.array(ham[k, j], pa.int64())})


def oracle_sql(spec, catalog):
    sql = catalog[spec["query"]]
    for old, new in spec.get("replace", []):
        if old not in sql:
            raise ValueError(f"oracle {spec['query']} has no '{old}' to replace")
        sql = sql.replace(old, new)
    return sql


def with_views(con, views):
    for name, sql in views.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")


def check_run(run, outputs_dir, catalog):
    """Judge every request of a run; returns {request index: reason} for
    the requests whose output is wrong (an empty dict when all hold)."""
    con = duckdb.connect()
    bad = {}
    last = run["last_request"]
    first_digests = {}
    fingerprints = {}
    # oracle results by input spec: same-input requests replay it once
    replayed = {}

    def program(name, i):
        d = f"{outputs_dir}/{name}/request={i}"
        if not os.path.isdir(d):
            return None
        return f"SELECT * FROM read_parquet('{d}/*.parquet', hive_partitioning = false)"

    def empty_like(sql):
        return f"SELECT * FROM ({sql}) WHERE false"

    def same_as_first(names, i):
        for name in names:
            sql = program(name, i)
            got = digest(con, sql) if sql else "0:"
            want = first_digests.get(name)
            if want is None:
                sql0 = program(name, 0)
                want = first_digests[name] = digest(con, sql0) if sql0 else "0:"
            if got != want:
                raise AssertionError(f"{name} differs from request 0")

    def replay(kind, spec, i):
        with_views(con, spec["views"])
        if kind == "oracle":
            key = json.dumps(spec, sort_keys=True)
            if key not in replayed:
                replayed[key] = f"oracle_{len(replayed)}"
                con.execute(f"CREATE TABLE {replayed[key]} AS "
                            f"{oracle_sql(spec, catalog)}")
            expected = f"SELECT * FROM {replayed[key]}"
        elif kind == "simhash_reference":
            ref = simhash_pairs(con, spec["views"]["documents"], spec["batch_from"],
                                fingerprints)
            con.register("simhash_expected", ref)
            expected = "SELECT * FROM simhash_expected"
        else:
            raise ValueError(f"unknown check {kind}")
        got = program(spec["output"], i) or empty_like(expected)
        reason = compare(con, got, expected)
        if reason:
            raise AssertionError(f"{spec['output']} vs {kind}: {reason}")

    for r in run["requests"]:
        i = r["i"]
        if "error" in r:
            continue
        full = i in (0, last)
        kind = "oracle" if full else run["between"]
        try:  # any failure to check is a failed request
            if run["between"] == "same_as_first" and i != 0:
                same_as_first(r["tables"], i)
            if kind != "same_as_first":
                for spec in r["full"] if full else r["between"]:
                    replay(kind, spec, i)
        except Exception as e:
            bad[i] = f"{type(e).__name__}: {e}"
    return bad
