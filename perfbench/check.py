"""Output checks: every checked output is recomputed independently in
DuckDB from the same generated inputs."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

import gen

KEYS = ["geo", "type", "misc", "nature", "time"]
COLUMNS = KEYS + ["consumption", "amount", "nclients", "ncontrats", "ninvoices"]
EXACT = [c for c in COLUMNS if c != "amount"]

# hypercube.sql of the reference, over the three generated tables.
HYPERCUBE_SQL = """
SELECT c.geo, c.type, c.misc, k.nature, i.time,
       CAST(SUM(i.consumption) AS BIGINT) AS consumption,
       SUM(CAST(i.amount AS DOUBLE)) AS amount,
       COUNT(DISTINCT c.id) AS nclients,
       COUNT(DISTINCT k.id) AS ncontrats,
       COUNT(*) AS ninvoices
FROM invoices i
JOIN contracts k ON i.contract = k.id
JOIN clients c ON k.id_client = c.id
GROUP BY c.geo, c.type, c.misc, k.nature, i.time
ORDER BY c.geo, c.type, c.misc, k.nature, i.time
"""


def hypercube_expected(folder):
    """The hypercube of a reference-layout folder, as a DataFrame in
    output order."""
    inv = gen.read_invoices(folder)
    invoices = pd.DataFrame({f: inv[f].astype(inv.dtype[f].newbyteorder("="))
                             for f in ("contract", "time", "amount", "consumption")})
    con = duckdb.connect()
    con.register("invoices", invoices)
    for t in ("clients", "contracts"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_csv_auto('%s')"
                    % (t, os.path.join(folder, t + ".csv").replace("'", "''")))
    return con.execute(HYPERCUBE_SQL).df()


def read_csv_output(out_dir):
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if len(parts) != 1:
        raise ValueError("expected one output file, found %d" % len(parts))
    return pd.read_csv(parts[0])


def check_hypercube(got, expected):
    """None if `got` is the expected hypercube, else the first problem.

    Same rows in the same order as the expected frame, which is sorted
    ascending on (geo, type, misc, nature, time); integer columns exact;
    amount within 0.01 (the output prints 2 decimals of a float32 sum
    whose low bits depend on the addition order)."""
    if list(got.columns) != COLUMNS:
        return "columns %s" % list(got.columns)
    if len(got) != len(expected):
        return "%d rows, expected %d" % (len(got), len(expected))
    for c in EXACT:
        bad = np.flatnonzero(got[c].to_numpy() != expected[c].to_numpy())
        if len(bad):
            return "column %s differs at row %d" % (c, bad[0])
    diff = np.abs(got["amount"].to_numpy() - expected["amount"].to_numpy())
    if not (diff <= 0.01 + 1e-9).all():
        return "amount differs by %.4f at row %d" % (diff.max(), diff.argmax())
    return None


def catalog_views(folder):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(folder, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (name, f.replace("'", "''")))
    return con


def read_parquet_output(out_dir):
    return duckdb.connect().execute(
        "SELECT * FROM read_parquet('%s')"
        % os.path.join(out_dir, "*.parquet").replace("'", "''")).df()


def check_oracle(got, sql, con):
    """None if `got` equals the entry's oracle SQL result exactly (columns
    compared by name, rows in output order), else the problem."""
    want = con.execute(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return "columns %s, expected %s" % (sorted(got.columns), sorted(want.columns))
    cols = sorted(want.columns)
    try:
        pd.testing.assert_frame_equal(
            got[cols].reset_index(drop=True), want[cols].reset_index(drop=True),
            check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0] if str(e) else "values differ"
    return None


# Nodes of the customer-supplier purchase graph q114 ranks.
PAGERANK_NODES_SQL = """
SELECT (SELECT COUNT(DISTINCT o_custkey) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
     + (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
"""


def check_pagerank(got, con):
    """q114 has no oracle: check its invariants, one row per graph node and
    a total rank mass of 1."""
    nodes = con.execute(PAGERANK_NODES_SQL).fetchone()[0]
    if len(got) != nodes:
        return "%d rows, expected %d nodes" % (len(got), nodes)
    mass = float(got["rank"].sum())
    if abs(mass - 1.0) > 1e-6:
        return "rank mass %.9f, expected 1" % mass
    return None
