"""Seeded input generator for the graft benchmark.

Every table the program receives is made here from `--seed`: the same seed
gives byte-identical inputs. Shapes and value domains follow the TPC-H-ish
testdata layout of TESTDATA.md (one parquet file per table, `<dir>/<name>.parquet`)
so the catalog's queries and their DuckDB oracle SQL run unchanged.

Three products, one per workload family:
  tables(dir, seed)          the star schema + events + documents + embeddings
  medallion(dir, seed, ...)  two banks' landing drops carved from the tables
  stream(dir, seed, ...)     documents in seeded micro-batch arrival order
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf0.01 (TESTDATA.md); documents and embeddings
# are fixed-size there too.
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

EPOCH_1995 = dt.datetime(1995, 1, 1)
EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base, offsets_us, tz=None):
    """Timestamp column (microseconds; no zone unless `tz`) = base + offsets."""
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base_us + np.asarray(offsets_us, dtype=np.int64),
                    type=pa.timestamp("us", tz=tz))


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(days):
    return np.asarray(days, dtype=np.int64) * 86_400_000_000


def documents(rng, n):
    """Word-salad documents over the testdata vocabulary; ~5% are a copy of
    an earlier document with " dup" appended, so every dedup kernel has
    work to find."""
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    dups = rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)
    for i in dups:
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    ids = np.arange(n, dtype=np.int64)
    return dict(
        doc_id=pa.array(ids),
        text=pa.array(texts),
        lang=pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        source=pa.array([f"src{i % 20}" for i in ids]),
        n_chars=pa.array(np.array([len(t) for t in texts], dtype=np.int64)))


def tables(out, seed, sizes=SIZES):
    """The catalog's ten tables under `out`, from one seed."""
    rng = np.random.default_rng(seed)
    n = sizes
    _write(f"{out}/region.parquet", dict(
        r_regionkey=pa.array(np.arange(5, dtype=np.int32)),
        r_name=pa.array(REGIONS)))
    _write(f"{out}/nation.parquet", dict(
        n_nationkey=pa.array(np.arange(25, dtype=np.int32)),
        n_name=pa.array([f"NATION_{i}" for i in range(25)]),
        n_regionkey=pa.array((np.arange(25) % 5).astype(np.int32))))
    c = n["customer"]
    _write(f"{out}/customer.parquet", dict(
        c_custkey=pa.array(np.arange(c, dtype=np.int64)),
        c_name=pa.array([f"Customer#{i:09d}" for i in range(c)]),
        c_nationkey=pa.array(rng.integers(0, 25, c).astype(np.int32)),
        c_acctbal=pa.array(_money(rng, -999.99, 9999.99, c)),
        c_mktsegment=pa.array(rng.choice(SEGMENTS, c).tolist())))
    s = n["supplier"]
    _write(f"{out}/supplier.parquet", dict(
        s_suppkey=pa.array(np.arange(s, dtype=np.int64)),
        s_name=pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        s_nationkey=pa.array(rng.integers(0, 25, s).astype(np.int32)),
        s_acctbal=pa.array(_money(rng, -999.99, 9999.99, s))))
    p = n["part"]
    _write(f"{out}/part.parquet", dict(
        p_partkey=pa.array(np.arange(p, dtype=np.int64)),
        p_name=pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                         zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        p_brand=pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        p_type=pa.array(rng.choice(PART_TYPES, p).tolist()),
        p_size=pa.array(rng.integers(1, 51, p).astype(np.int32)),
        p_retailprice=pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2))))
    o = n["orders"]
    _write(f"{out}/orders.parquet", dict(
        o_orderkey=pa.array(np.arange(o, dtype=np.int64)),
        o_custkey=pa.array(rng.integers(0, c, o).astype(np.int64)),
        o_orderstatus=pa.array(rng.choice(["F", "O", "P"], o).tolist()),
        o_totalprice=pa.array(_money(rng, 1000.0, 500000.0, o)),
        o_orderdate=_ts(EPOCH_1995, _days_us(rng.integers(0, 2404, o))),
        o_orderpriority=pa.array(rng.choice(PRIORITIES, o).tolist())))
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(f"{out}/lineitem.parquet", dict(
        l_orderkey=pa.array(rng.integers(0, o, li).astype(np.int64)),
        l_partkey=pa.array(rng.integers(0, p, li).astype(np.int64)),
        l_suppkey=pa.array(rng.integers(0, s, li).astype(np.int64)),
        l_linenumber=pa.array(rng.integers(1, 8, li).astype(np.int32)),
        l_quantity=pa.array(qty),
        l_extendedprice=pa.array(np.round(qty * rng.uniform(900.0, 2100.0, li), 2)),
        l_discount=pa.array(rng.integers(0, 11, li) / 100.0),
        l_tax=pa.array(rng.integers(0, 9, li) / 100.0),
        l_returnflag=pa.array(rng.choice(["A", "N", "R"], li).tolist()),
        l_linestatus=pa.array(rng.choice(["F", "O"], li).tolist()),
        l_shipdate=_ts(EPOCH_1995, _days_us(rng.integers(1, 2500, li)))))
    e = n["events"]
    _write(f"{out}/events.parquet", dict(
        event_id=pa.array(np.arange(e, dtype=np.int64)),
        ts=_ts(EPOCH_2024, np.sort(rng.integers(0, 30 * 86_400_000_000, e))),
        user_id=pa.array(rng.integers(0, 150, e).astype(np.int64)),
        event_type=pa.array(rng.choice(EVENT_TYPES, e).tolist()),
        value=pa.array(np.round(rng.exponential(50.0, e), 2) + 0.01),
        props=pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])))
    _write(f"{out}/documents.parquet", documents(rng, n["documents"]))
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centroids = rng.normal(0.0, 0.14 / 8.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.124, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", dict(
        vec_id=pa.array(np.arange(m, dtype=np.int64)),
        embedding=pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        label=pa.array(labels.astype(np.int32))))


CONFIG_HEADER = "source_type,source_system,table_name,is_active,load_mode,watermark_column"


def medallion(out, seed, batches, n_customers=500, n_accounts=5000, txns_per_account=4,
              full_share=0.5, slice_accounts=130, change_share=0.02):
    """Two banks' landing drops for the medallion job.

    Customers split by key parity into bank_a (carries `c_acctbal`) and
    bank_b (does not), as in q36_medallion. Orders become accounts and
    lineitem becomes transactions; each belongs to its owner's bank. Drop 0
    is the full load: every customer and the first `full_share` of the
    accounts with their transactions. Drop b >= 1 lands the next
    `slice_accounts` accounts with their transactions, plus a seeded
    `change_share` of the customers with a changed segment (and balance).
    Drop b lands at 2024-01-01 + b days (`ingest_ts`, the watermark column
    of every entry in `load_config.csv`).

    Data-quality faults are planted and counted: ~1% of customers have a
    blank name (quarantined at drop 0 and never changed later), ~1% of
    transactions have a null or negative amount, ~1% of transaction rows
    are landed twice. Returns the manifest of expected counts per drop.
    """
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n_customers, dtype=np.int64)
    names = np.array([f"Customer#{i:09d}" for i in keys], dtype=object)
    blank = rng.choice(keys, size=n_customers // 100, replace=False)
    names[blank] = "  "
    seg = rng.integers(0, len(SEGMENTS), n_customers)
    bal = _money(rng, -999.99, 9999.99, n_customers)
    owner = rng.integers(0, n_customers, n_accounts).astype(np.int64)
    status = rng.choice(["F", "O", "P"], n_accounts)
    limit = _money(rng, 1000.0, 500000.0, n_accounts)
    opened = rng.integers(0, 2404, n_accounts)
    first = int(n_accounts * full_share)
    assert first + batches * slice_accounts <= n_accounts, "not enough accounts"
    n_drops = 1 + batches
    bounds = [(0, first)] + [(first + (b - 1) * slice_accounts, first + b * slice_accounts)
                             for b in range(1, n_drops)]
    eligible = np.setdiff1d(keys, blank)
    next_txn = 0
    manifest = dict(seed=seed, drops=[])
    for b, (lo, hi) in enumerate(bounds):
        ingest = _ts(EPOCH_2024, [b * 86_400_000_000], tz="UTC")[0]
        if b == 0:
            changed = keys
        else:
            changed = np.sort(rng.choice(eligible, size=int(n_customers * change_share),
                                         replace=False))
            seg[changed] = (seg[changed] + rng.integers(1, len(SEGMENTS), len(changed))) % len(SEGMENTS)
            bal[changed] = np.round(bal[changed] + 100.0, 2)
        acc = np.arange(lo, hi, dtype=np.int64)
        per = rng.poisson(txns_per_account, len(acc))
        t_acc = np.repeat(acc, per)
        nt = len(t_acc)
        t_key = np.arange(next_txn, next_txn + nt, dtype=np.int64)
        next_txn += nt
        amount = np.round(rng.uniform(1.0, 5000.0, nt), 2).astype(object)
        bad = rng.random(nt) < 0.01
        amount[bad & (rng.random(nt) < 0.5)] = None
        amount[bad & np.array([a is not None for a in amount])] = -1.0
        t_ts = rng.integers(0, 86_400_000_000, nt)
        dup = rng.random(nt) < 0.01
        order = np.concatenate([np.arange(nt), np.flatnonzero(dup)])
        drop = dict(batch=b, ingest_us=int(ingest.value), accounts=int(len(acc)),
                    customers_landed=int(len(changed)))
        for bank, parity in (("bank_a", 0), ("bank_b", 1)):
            cm = changed[changed % 2 == parity]
            cust = dict(c_custkey=pa.array(cm), c_name=pa.array(names[cm].tolist()))
            if bank == "bank_a":
                cust["c_acctbal"] = pa.array(bal[cm])
            cust["c_mktsegment"] = pa.array([SEGMENTS[i] for i in seg[cm]])
            cust["ingest_ts"] = pa.array([ingest] * len(cm), type=pa.timestamp("us", tz="UTC"))
            _write(f"{out}/landing/{bank}/customers/drop={b:03d}.parquet", cust)
            am = owner[acc] % 2 == parity
            _write(f"{out}/landing/{bank}/accounts/drop={b:03d}.parquet", dict(
                a_accountkey=pa.array(acc[am]), a_custkey=pa.array(owner[acc][am]),
                a_status=pa.array(status[acc][am].tolist()),
                a_limit=pa.array(limit[acc][am]),
                a_opened=_ts(EPOCH_1995, _days_us(opened[acc][am]), tz="UTC"),
                ingest_ts=pa.array([ingest] * int(am.sum()), type=pa.timestamp("us", tz="UTC"))))
            tm = order[owner[t_acc[order]] % 2 == parity]
            _write(f"{out}/landing/{bank}/transactions/drop={b:03d}.parquet", dict(
                t_txnkey=pa.array(t_key[tm]), t_accountkey=pa.array(t_acc[tm]),
                t_amount=pa.array(amount[tm].tolist(), type=pa.float64()),
                t_ts=_ts(EPOCH_2024 + dt.timedelta(days=b), t_ts[tm], tz="UTC"),
                ingest_ts=pa.array([ingest] * len(tm), type=pa.timestamp("us", tz="UTC"))))
        clean_txn = int((~bad).sum())
        drop.update(
            txn_rows=int(len(order)), txn_clean=clean_txn, txn_quarantined=int(bad.sum()),
            txn_duplicates=int(dup.sum()),
            cust_quarantined=int(len(blank)) if b == 0 else 0,
            scd2_expired=0 if b == 0 else int(len(changed)),
            scd2_inserted=(n_customers - len(blank) if b == 0 else int(len(changed)))
            + int(len(acc)) + clean_txn)
        manifest["drops"].append(drop)
    with open(f"{out}/load_config.csv", "w") as f:
        f.write(CONFIG_HEADER + "\n")
        for bank in ("bank_a", "bank_b"):
            for table in ("customers", "accounts", "transactions"):
                f.write(f"sql,{bank},{table},1,incremental,ingest_ts\n")
    return manifest


def stream(out, seed, n_docs=2000, batch_docs=100):
    """Documents for the streaming sinks, in seeded arrival order: row i of
    `arrivals.parquet` is (doc_id, text, source, batch) with batch =
    position // batch_docs."""
    rng = np.random.default_rng([seed, 2])
    docs = documents(rng, n_docs)
    perm = rng.permutation(n_docs)
    cols = {k: v.take(pa.array(perm)) for k, v in docs.items() if k in ("doc_id", "text", "source")}
    cols["batch"] = pa.array((np.arange(n_docs) // batch_docs).astype(np.int64))
    _write(f"{out}/arrivals.parquet", cols)
    return dict(seed=seed, docs=n_docs, batch_docs=batch_docs,
                batches=(n_docs + batch_docs - 1) // batch_docs)
