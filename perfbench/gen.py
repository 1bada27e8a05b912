"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same pair always
writes byte-identical files. Inputs are cached under
`.perfbench/data/<name>/` in the checkout, keyed by seed and size, and
generated before the program starts, so generation time never counts
towards any metric.
"""
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Reference layout of invoices.bin: 16-byte big-endian records
# (id, contract, time, amount, consumption, pad).
INVOICE_DTYPE = np.dtype([
    ("id", ">i4"), ("contract", ">i4"), ("time", "i1"),
    ("amount", ">f4"), ("consumption", ">i2"), ("pad", "i1")])
assert INVOICE_DTYPE.itemsize == 16

# Reference value domains: client type [1,5], geo [1,578], misc [1,6];
# contract nature [1,5]; invoice time [1,36], amount [0,1000) in cents,
# consumption [0,2000].
N_TYPE, N_GEO, N_MISC, N_NATURE, N_TIME = 5, 578, 6, 5, 36


def cached(root, name, build):
    """Return `root/name`, building it with `build(tmpdir)` if absent.

    Built into a temporary sibling and renamed into place, so a crash
    mid-write never leaves a partial input behind that a later run would
    accept.
    """
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def write_hypercube(out, seed, n_clients, n_contracts, n_invoices):
    """`clients.csv`, `contracts.csv` and `invoices.bin` in the reference
    layout, uniform over the reference's value domains."""
    rng = np.random.default_rng(seed)
    clients = {
        "id": np.arange(1, n_clients + 1, dtype=np.int32),
        "type": rng.integers(1, N_TYPE + 1, n_clients, dtype=np.int32),
        "geo": rng.integers(1, N_GEO + 1, n_clients, dtype=np.int32),
        "misc": rng.integers(1, N_MISC + 1, n_clients, dtype=np.int32),
    }
    contracts = {
        "id": np.arange(1, n_contracts + 1, dtype=np.int32),
        "id_client": rng.integers(1, n_clients + 1, n_contracts, dtype=np.int32),
        "nature": rng.integers(1, N_NATURE + 1, n_contracts, dtype=np.int32),
        "start": np.full(n_contracts, 201401, dtype=np.int32),
        "end": np.full(n_contracts, 201612, dtype=np.int32),
    }
    inv = np.zeros(n_invoices, dtype=INVOICE_DTYPE)
    inv["id"] = np.arange(1, n_invoices + 1, dtype=np.int32)
    inv["contract"] = rng.integers(1, n_contracts + 1, n_invoices, dtype=np.int32)
    inv["time"] = rng.integers(1, N_TIME + 1, n_invoices, dtype=np.int8)
    inv["amount"] = (rng.integers(0, 100000, n_invoices) / 100.0).astype(np.float32)
    inv["consumption"] = rng.integers(0, 2001, n_invoices, dtype=np.int16)
    pd.DataFrame(clients).to_csv(os.path.join(out, "clients.csv"), index=False)
    pd.DataFrame(contracts).to_csv(os.path.join(out, "contracts.csv"), index=False)
    inv.tofile(os.path.join(out, "invoices.bin"))


def read_invoices(folder):
    return np.fromfile(os.path.join(folder, "invoices.bin"), dtype=INVOICE_DTYPE)


# -- catalog tables ---------------------------------------------------------

WORDS = ("a the data spark stream batch line column row table key value "
         "query join sort scan filter group agg hash merge window order "
         "part customer vector small big fast slow index shard token").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _documents(rng, n_docs):
    """Word sequences over a small vocabulary; about one document in eight
    is an edited copy of an earlier one, so near-duplicate detection and
    clustering have real pairs and multi-member clusters to find."""
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.125:
            words = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(0, 3)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(8, 100))]
        texts.append(" ".join(words))
    return texts


def catalog_tables(seed, n_customers, n_suppliers, n_orders, n_docs, n_events):
    """The TPC-H-like star schema plus `documents` and `events`, with the
    column names and physical types the catalog entries read."""
    rng = np.random.default_rng(seed)
    i64 = lambda n: np.arange(n, dtype=np.int64)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": i64(n_customers),
        "c_name": ["Customer#%09d" % i for i in range(n_customers)],
        "c_nationkey": rng.integers(0, 25, n_customers, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customers),
        "c_mktsegment": rng.choice(SEGMENTS, n_customers)})
    t["supplier"] = pa.table({
        "s_suppkey": i64(n_suppliers),
        "s_name": ["Supplier#%09d" % i for i in range(n_suppliers)],
        "s_nationkey": rng.integers(0, 25, n_suppliers, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_suppliers)})
    t["orders"] = pa.table({
        "o_orderkey": i64(n_orders),
        "o_custkey": rng.integers(0, n_customers, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 400000.0, n_orders),
        "o_orderdate": _days(rng, n_orders, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    order_of_line = np.repeat(i64(n_orders), lines)
    line_number = (np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    t["lineitem"] = pa.table({
        "l_orderkey": order_of_line,
        "l_partkey": rng.integers(0, 20 * n_suppliers, n_lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n_lines, dtype=np.int64),
        "l_linenumber": line_number.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _days(rng, n_lines, 2500)})
    texts = _documents(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": i64(n_docs),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
        "source": ["src%d" % s for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    gaps = rng.exponential(30_000_000, n_events).astype(np.int64)  # ~30 s apart
    t["events"] = pa.table({
        "event_id": i64(n_events),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 2000, n_events, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        # heavy-tailed, as robust-outlier accounting expects
        "value": np.round(rng.lognormal(3.3, 1.0, n_events), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    return t


def write_catalog(out, seed, **size):
    for name, table in catalog_tables(seed, **size).items():
        pq.write_table(table, os.path.join(out, name + ".parquet"))
