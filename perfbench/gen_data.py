"""The benchmark's input: the project's sf0.01 test fixture, regenerated.

The benchmark runs in a checkout that holds no fixture files, so it rebuilds
the sf0.01 fixture tables (TESTDATA.md) from their generator's recipe: the
same ten tables, the same columns and types, and the same values row for
row. Each draw below comes from one numpy PCG64 stream seeded with 42, in
the order the fixture's generator made them, so the files carry the same
values as the fixture's (checked column by column against the fixture
files; see perfbench/README.md).

Shapes the ops meet:
  * keys are dense from 0; foreign keys are uniform over their parent;
  * `part.p_name` is one of 8 adjectives x 8 nouns;
  * 5% of documents are near-duplicates: a random document's text with
    ` dup` appended, written over another random document, so a copy of a
    copy gets ` dup dup`;
  * embeddings are random unit vectors of dimension 64, labels 0-9
    independent of them;
  * `events.ts` increases with `event_id` over 30 days of 2024, stored as
    INT64 TIMESTAMP(MICROS) without time zone, as in the fixture files.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# sf0.01 row counts; `users` is the number of distinct events.user_id
ROWS = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
            lineitem=60_000, events=10_000, users=150, documents=500,
            embeddings=500)

WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
ADJECTIVES = "red blue small large hot cold old new".split()
NOUNS = "anvil widget gizmo bolt gear plate rod ring".split()
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBEDDING_DIM = 64
DUP_SHARE = 0.05


def _days(start, offsets):
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]")


def tables():
    """The fixture tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(SEED)
    n = ROWS
    pick = lambda values, k, size: np.array(values)[rng.integers(0, k, size)]
    money = lambda lo, hi, size: np.round(rng.uniform(lo, hi, size), 2)
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(SEGMENTS, 5, c)})

    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s)})

    p = n["part"]
    keys = np.arange(p)
    adjectives, nouns = rng.integers(0, 8, p), rng.integers(0, 8, p)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adjectives, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": pick(PART_TYPES, 6, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})

    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pick(["O", "F", "P"], 3, o),
        "o_totalprice": money(1000, 500_000, o),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2405, o)),
                                pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, 5, o)})

    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, li),
        "l_discount": money(0, 0.1, li),
        "l_tax": money(0, 0.08, li),
        "l_returnflag": pick(["R", "A", "N"], 3, li),
        "l_linestatus": pick(["O", "F"], 2, li),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, li)),
                               pa.timestamp("us"))})

    e = n["events"]
    # seconds into the month, made nanoseconds and then truncated to micros
    seconds = np.sort(rng.uniform(0, 30 * 86_400, e))
    ts = (np.datetime64("2024-01-01", "ns")
          + (seconds * 1e9).astype("timedelta64[ns]")).astype("datetime64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": pick(EVENT_TYPES, 5, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(d)]
    n_dups = int(round(DUP_SHARE * d))
    targets = rng.choice(d, n_dups, replace=False)
    for target, source in zip(targets, rng.integers(0, d, n_dups)):
        texts[target] = texts[source] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, len(LANGS), d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def write(out_dir):
    """One single-row-group parquet file per table, as the fixture has."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
