"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the schemas of FIXTURES.md and the row counts,
key ranges and value distributions measured on the fixtures
(perfbench/profile_inputs.py; README.md, "Inputs"). Row counts scale with
`sf` the way the fixtures do (lineitem = 6,000,000 x sf). The same
(seed, sf) always gives the same table contents. Also writes the
`table_rw` op log and its batch files.

Usage: python3 perfbench/gen.py <out_dir> <seed> <sf> <table_rw passes>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, n, lo, hi):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return pa.array((lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]"))
                    .astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    """n documents of 10-99 words drawn uniformly from WORDS; then one in
    twenty, at random positions, is replaced by a copy of another document,
    a different one each time, with the marker " dup" appended. A copy of
    a copy can occur, no two texts are equal, as in the fixtures (see
    README.md, "Inputs")."""
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
             for _ in range(n)]
    used = set()
    for i in rng.choice(n, n // 20, replace=False):
        j = i
        while j == i or j in used:
            j = int(rng.integers(0, n))
        used.add(j)
        texts[i] = texts[j] + " dup"
    return texts


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    # the text and vector tables never shrink below 500 rows (as in the
    # fixtures: 500 at SF 0.001 and 0.01, 5,000 and 2,000 at SF 0.1)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    arrivals = np.cumsum(rng.exponential(1.0, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01T00:00:00",
                  (arrivals / (arrivals[-1] + 1.0) * 30 * DAY_US).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


# table_rw: the op log and its batches. Pass 0 builds up history: small
# appends with a compact after every HISTORY_COMPACT_EVERY of them, so that
# the table has more versions than vacuum keeps (and than the engine's
# 40-entry snapshot cache holds) before the regular passes start. Each
# regular pass is PASS_OPS shuffled (a third appends, a ninth each deletes
# and upserts, a third latest reads, a ninth time-travel reads), then a
# compact and a vacuum.
TABLE_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
              "l_discount", "l_returnflag", "l_shipdate"]
PASS_OPS = (["append"] * 3 + ["delete"] + ["upsert"]
            + ["read_point"] * 2 + ["read_range"] + ["read_version"])
BASE_ROWS, APPEND_ROWS, UPSERT_ROWS, DELETE_KEYS, READ_KEYS = 20_000, 400, 200, 40, 2_000
HISTORY_APPENDS, HISTORY_ROWS, HISTORY_COMPACT_EVERY = 56, 50, 14


def generate_table_rw(data_dir, seed, passes):
    """The history pass and then `passes` regular passes."""
    out = os.path.join(data_dir, "table_rw")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    src = pq.read_table(os.path.join(data_dir, "lineitem.parquet"), columns=TABLE_COLS)

    def rows(keys, bump=False):
        t = src.take(rng.integers(0, src.num_rows, len(keys)))
        if bump:  # an upsert changes the rows it replaces
            t = t.set_column(t.column_names.index("l_quantity"), "l_quantity",
                             pa.array(rng.integers(51, 100, len(keys)).astype(np.float64)))
        return t.add_column(0, "k", pa.array(np.asarray(keys, dtype=np.int64)))

    base = src.slice(0, BASE_ROWS).add_column(0, "k", pa.array(np.arange(BASE_ROWS, dtype=np.int64)))
    pq.write_table(base, os.path.join(out, "base.parquet"))
    live = np.zeros(BASE_ROWS + HISTORY_APPENDS * HISTORY_ROWS
                    + passes * len(PASS_OPS) * max(APPEND_ROWS, UPSERT_ROWS), bool)
    live[:BASE_ROWS] = True
    next_key, n_batch, lines = BASE_ROWS, 0, []

    def write(keys, **kw):
        nonlocal n_batch
        live[keys] = True
        name = f"b{n_batch:05d}.parquet"
        n_batch += 1
        pq.write_table(rows(keys, **kw), os.path.join(out, name))
        return name

    for i in range(HISTORY_APPENDS):
        lines.append((0, "append", write(np.arange(next_key, next_key + HISTORY_ROWS))))
        next_key += HISTORY_ROWS
        if (i + 1) % HISTORY_COMPACT_EVERY == 0:
            lines.append((0, "compact"))
    for p in range(1, passes + 1):
        for kind in rng.permutation(PASS_OPS):
            if kind in ("append", "upsert"):
                if kind == "append":
                    keys = np.arange(next_key, next_key + APPEND_ROWS)
                else:  # half replace live keys, half insert new ones
                    old = rng.choice(np.flatnonzero(live[:next_key]), UPSERT_ROWS // 2, replace=False)
                    keys = np.concatenate([old, np.arange(next_key, next_key + UPSERT_ROWS // 2)])
                next_key += len(keys) if kind == "append" else UPSERT_ROWS // 2
                lines.append((p, kind, write(keys, bump=kind == "upsert")))
            elif kind == "delete":
                lo = int(rng.integers(0, next_key - DELETE_KEYS))
                live[lo:lo + DELETE_KEYS] = False
                lines.append((p, kind, lo, lo + DELETE_KEYS))
            elif kind == "read_point":
                lines.append((p, kind, int(rng.choice(np.flatnonzero(live[:next_key])))))
            else:
                lo = int(rng.integers(0, next_key - READ_KEYS))
                if kind == "read_range":
                    lines.append((p, kind, lo, lo + READ_KEYS))
                else:  # share of the retained versions to step back
                    lines.append((p, kind, f"{rng.random():.6f}", lo, lo + READ_KEYS))
        lines += [(p, "compact"), (p, "vacuum")]
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        f.writelines("\t".join(map(str, line)) + "\n" for line in lines)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
    generate_table_rw(sys.argv[1], int(sys.argv[2]), int(sys.argv[4]))
