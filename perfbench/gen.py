"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the schemas and value domains of the repository's synthetic corpus
(FIXTURES.md), scaled by `sf`. The same (seed, sf) always gives the same
bytes' worth of rows and values.

`derive_prev` builds last week's snapshot for the incremental workload from
the current one, with the change classes OsmEtlJobSpec uses: ways added
since prev, one ghost way that exists only in prev, and node price edits.
Rows are chosen by a hash of key and seed.

`expected_counts` is the independent oracle for the OSM lake: row counts per
lake table, written as plain SQL over the generated tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# the tables OsmEtlJob reads
ETL_TABLES = ["region", "nation", "customer", "part", "orders", "lineitem"]
GHOST = 900000001
DAY_US = 86400 * 1000000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, epoch, span, n):
    return (epoch + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def generate(out, seed, sf):
    """Write all ten tables for (seed, sf) under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_line = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": pa.array(REGIONS, pa.string())})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, EPOCH_1995, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_line)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    # the label's centre pulls each vector by 0.04, so the expected same-label
    # cosine is 0.04^2 / (1 + 0.04^2) = 0.0016, the mean measured on the
    # repository's sf0.01 corpus (as is the near-duplicate share above, 4.8%)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.04 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _hit(keys, seed, modulus):
    """Rows chosen by a hash of key and seed (splitmix64 finaliser)."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z % np.uint64(modulus) == 0


def derive_prev(curr, prev, seed):
    """Last week's snapshot: ~1/97 of ways absent (added this week), one
    ghost way present only in prev (deleted this week), ~1/53 of nodes with
    a different price (edited this week)."""
    os.makedirs(prev, exist_ok=True)
    li = pq.read_table(os.path.join(curr, "lineitem.parquet"))
    orders = pq.read_table(os.path.join(curr, "orders.parquet"))
    part = pq.read_table(os.path.join(curr, "part.parquet"))
    first = int(np.min(li["l_orderkey"].to_numpy()))

    def with_ghost(t, key):
        k = t[key].to_numpy()
        kept = t.filter(pa.array(~_hit(k, seed, 97)))
        ghost = t.filter(pa.array(k == first))
        ghost = ghost.set_column(ghost.schema.get_field_index(key), key,
                                 pa.array(np.full(ghost.num_rows, GHOST, np.int64)))
        return pa.concat_tables([kept, ghost])

    pq.write_table(with_ghost(li, "l_orderkey"), os.path.join(prev, "lineitem.parquet"))
    pq.write_table(with_ghost(orders, "o_orderkey"), os.path.join(prev, "orders.parquet"))
    price = part["p_retailprice"].to_numpy()
    edited = _hit(part["p_partkey"].to_numpy(), seed + 1, 53)
    part = part.set_column(part.schema.get_field_index("p_retailprice"), "p_retailprice",
                           pa.array(np.where(edited, price + 7.0, price)))
    pq.write_table(part, os.path.join(prev, "part.parquet"))
    for t in ["customer", "nation", "region"]:
        pq.write_table(pq.read_table(os.path.join(curr, f"{t}.parquet")),
                       os.path.join(prev, f"{t}.parquet"))


def expected_counts(data):
    """Lake rows per table that a correct ETL over `data` must write."""
    import duckdb
    con = duckdb.connect()
    for t in ETL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    assembled = "SELECT DISTINCT l_orderkey FROM lineitem JOIN part ON l_partkey = p_partkey"
    one = lambda sql: int(con.execute(sql).fetchone()[0])
    counts = {
        # a way is written when it assembles and routes to a region
        "ways": one(f"""SELECT count(*) FROM ({assembled}) w
                        JOIN orders ON o_orderkey = w.l_orderkey
                        JOIN customer ON c_custkey = o_custkey
                        JOIN nation ON n_nationkey = c_nationkey
                        JOIN region ON r_regionkey = n_regionkey"""),
        "relations": one(f"""SELECT count(DISTINCT o_custkey) FROM orders
                             WHERE o_orderkey IN ({assembled})"""),
        "areas": one(f"SELECT count(*) FROM ({assembled})"),
        # the default layer style: heavy = size >= 25, premium = price > 1500
        "layers": one("""SELECT count(*) FILTER (WHERE p_size >= 25)
                              + count(*) FILTER (WHERE p_retailprice > 1500) FROM part"""),
    }
    con.close()
    return counts


def etl_input_bytes(data):
    return sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in ETL_TABLES)
