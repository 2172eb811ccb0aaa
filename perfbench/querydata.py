"""Seeded generator of the query mix's tables, and the DuckDB row-count oracle.

The tables have the schemas the engine's queries read (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), one parquet file each.
`scale` 1.0 gives the sizes of the engine's sf0.01 test tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the or data query small row slow fast scan table value part "
         "hash merge batch spark line sort window key agg join filter group "
         "order column stream big vector customer").split()


def _ts(rng, start, days, n):
    base = np.datetime64(start, "us")
    micros = rng.integers(0, days * 86400 * 10**6, n)
    return base + micros.astype("timedelta64[us]")


def _day(rng, start, days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    """Return {name: pyarrow.Table} for one seed and scale."""
    rng = np.random.default_rng(seed)
    n = lambda base: max(10, int(base * scale))  # noqa: E731
    n_cust, n_supp, n_part = n(1500), n(100), n(2000)
    n_ord, n_line, n_ev = n(15000), n(60000), n(10000)
    n_docs, n_emb = max(100, n(500)), max(100, n(500))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(segments, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = ["red", "blue", "green", "small", "large", "steel"]
    things = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{colors[a]} {things[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "LARGE", "MEDIUM",
                              "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _day(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day(rng, "1995-01-02", 2498, n_line)})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.sort(_ts(rng, "2024-01-01", 30, n_ev)),
        "user_id": pa.array(rng.integers(0, max(2, n_ev // 67), n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n_ev),
        "value": np.clip(np.round(rng.gamma(1.5, 25.0, n_ev), 2), 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document with a few edits
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 3):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS),
                                                    int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n_docs,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.2, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(dest, seed, scale):
    """Write every table as `<dest>/<name>.parquet`."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))


def oracle_counts(data_dir, oracle_sql):
    """Row count of each query's oracle SQL over the tables in DuckDB."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    counts = {}
    for name, sql in oracle_sql.items():
        counts[name] = con.execute(
            f"SELECT COUNT(*) FROM ({sql.strip().rstrip(';')}) oracle_q"
        ).fetchone()[0]
    con.close()
    return counts
