"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine is derived from one integer
seed: the relational star schema and the LLM-data corpus (documents,
embeddings) the catalog queries read, the wide tool table and design
grid the ingest workload replicates and fits, and the lookup request
stream. The corpus is bootstrapped from the distributions measured on
the repository's sf0.1 test tables, frozen in profile.json (written by
measure.py, which holds the queries); the relational tables follow the
sf0.01 row counts and TPC-H key fan-outs. Each table draws from its own
splitmix64-keyed stream, so the same seed yields byte-identical parquet
files and two seeds differ.

Usage: python3 perfbench/gen.py <seed> <out_dir>
"""
import datetime as dt
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

MASK = (1 << 64) - 1

# Scale of the generated tables (rows). The relational shape matches
# the sf0.01 test tables; the corpus is 2x that size.
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 1000
N_EMB = 1000

# Ingest: one tool, days x glasses of one wide row per glass, an x and a
# y column per site, and one column (recipe_note) its sink does not store.
TOOL = "t1"
DAYS = 40
GLASSES_PER_DAY = 8
GRID_ROWS, GRID_COLS = 3, 4  # the design grid: rows share dx, columns dy
SITES = GRID_ROWS * GRID_COLS
DAY0 = dt.datetime(2024, 1, 1)
# The last four glasses of every day carry one planted fault each, one
# of every error class the ROT flow flags, so a run that replicates a
# single day still checks all four; the first four fit cleanly.
FAULTS = [-1, -2, -3, -4]

# Lookup stream: a fixed cycle of (kind, width) requests, Zipf ids.
LOOKUP_KINDS = ["raw_subquery", "raw_semijoin", "history", "data", "missing"]
LOOKUP_WIDTHS = [1, 20, 200]
LOOKUP_CYCLES = 400
ZIPF_S = 1.1
MISS_FRAC = 0.05

# The sf0.1 corpus profile (python3 perfbench/measure.py <sf0.1 dir>):
# 10-99 tokens per document, near-uniform over lengths; 30 words of
# near-uniform frequency; en 41%, de/es/fr/zh 14-15% each; 5.0% of
# documents are another document's text with a `dup` token appended,
# 0.16% exact copies; 10 labels of ~200 embeddings each whose per-dimension
# means are ~0 (spread 0.009) around a per-dimension spread of ~0.125,
# every vector of length 1.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile.json")) as _f:
    PROFILE = json.load(_f)


def splitmix64(z):
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


def stream(seed, salt):
    """An independent RNG per (seed, table): the seed is mixed into the
    splitmix key, so tables do not share draws."""
    key = splitmix64((seed & MASK) ^ splitmix64(sum(ord(c) << (8 * (i % 8))
                                                    for i, c in enumerate(salt))))
    return random.Random(key)


def write(table, path):
    # one row group, no dictionary heuristics that depend on the writer's
    # state: the bytes are a function of the rows alone
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy")


def ts_col(values):
    return pa.array(values, type=pa.timestamp("us"))


def gen_relational(seed, out):
    r = stream(seed, "region")
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
          f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{out}/nation.parquet")

    r = stream(seed, "customer")
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    write(pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(N_CUSTOMER)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(N_CUSTOMER)],
        "c_mktsegment": [r.choice(segs) for _ in range(N_CUSTOMER)]}),
        f"{out}/customer.parquet")

    r = stream(seed, "supplier")
    write(pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(N_SUPPLIER)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(N_SUPPLIER)]}),
        f"{out}/supplier.parquet")

    r = stream(seed, "part")
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    write(pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{r.choice(adj)} {r.choice(noun)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(N_PART)],
        "p_type": [r.choice(types) for _ in range(N_PART)],
        "p_size": pa.array([r.randrange(1, 51) for _ in range(N_PART)], pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) / 10.0, 1) for i in range(N_PART)]}),
        f"{out}/part.parquet")

    r = stream(seed, "orders")
    # ~3% of customers place no order: history misses inside the key range
    active = [c for c in range(N_CUSTOMER) if r.random() >= 0.03]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    d0 = dt.datetime(1995, 1, 1)
    odates = [d0 + dt.timedelta(days=r.randrange(2404)) for _ in range(N_ORDERS)]
    write(pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array([r.choice(active) for _ in range(N_ORDERS)], pa.int64()),
        "o_orderstatus": [r.choice("OPF") for _ in range(N_ORDERS)],
        "o_totalprice": [round(r.uniform(1000.0, 500000.0), 2) for _ in range(N_ORDERS)],
        "o_orderdate": ts_col(odates),
        "o_orderpriority": [r.choice(prio) for _ in range(N_ORDERS)]}),
        f"{out}/orders.parquet")

    r = stream(seed, "lineitem")
    cols = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                            "l_returnflag", "l_linestatus", "l_shipdate"]}
    for o in range(N_ORDERS):
        for ln in range(1, r.randrange(1, 8) + 1):
            cols["l_orderkey"].append(o)
            cols["l_partkey"].append(r.randrange(N_PART))
            cols["l_suppkey"].append(r.randrange(N_SUPPLIER))
            cols["l_linenumber"].append(ln)
            cols["l_quantity"].append(float(r.randrange(1, 51)))
            cols["l_extendedprice"].append(round(r.uniform(900.0, 105000.0), 2))
            cols["l_discount"].append(r.randrange(11) / 100.0)
            cols["l_tax"].append(r.randrange(9) / 100.0)
            cols["l_returnflag"].append(r.choice("ANR"))
            cols["l_linestatus"].append(r.choice("OF"))
            cols["l_shipdate"].append(odates[o] + dt.timedelta(days=r.randrange(1, 122)))
    write(pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        **{k: cols[k] for k in ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
                                "l_returnflag", "l_linestatus"]},
        "l_shipdate": ts_col(cols["l_shipdate"])}),
        f"{out}/lineitem.parquet")

    r = stream(seed, "events")
    kinds = ["signup", "click", "error", "view", "purchase"]
    secs = sorted(r.randrange(30 * 86400 * 1000000) for _ in range(N_EVENTS))
    write(pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": ts_col([dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=s) for s in secs]),
        "user_id": pa.array([r.randrange(N_USERS) for _ in range(N_EVENTS)], pa.int64()),
        "event_type": [r.choice(kinds) for _ in range(N_EVENTS)],
        "value": [round(r.expovariate(1 / 50.0), 2) for _ in range(N_EVENTS)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(N_EVENTS)]}),
        f"{out}/events.parquet")


def cum(counts):
    """Keys and cumulative weights of a {key: count} map, in key order."""
    keys = sorted(counts, key=lambda k: (len(k), k))
    acc, cw = 0, []
    for k in keys:
        acc += counts[k]
        cw.append(acc)
    return keys, cw


def gen_corpus(seed, out):
    p = PROFILE
    lens, lens_cw = cum(p["token_len_counts"])
    words, words_cw = cum(p["unigram_counts"])
    langs_k, langs_cw = cum(p["lang_counts"])
    r = stream(seed, "documents")
    texts, langs = [], []
    for i in range(N_DOCS):
        u = r.random()
        if i >= 1 and u < p["near_dup_frac"]:
            texts.append(texts[r.randrange(i)] + " dup")
        elif i >= 1 and u < p["near_dup_frac"] + p["exact_dup_frac"]:
            texts.append(texts[r.randrange(i)])
        else:
            n = int(r.choices(lens, cum_weights=lens_cw)[0])
            texts.append(" ".join(r.choices(words, cum_weights=words_cw, k=n)))
        langs.append(r.choices(langs_k, cum_weights=langs_cw)[0])
    write(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    r = stream(seed, "embeddings")
    labs, labs_cw = cum(p["label_counts"])
    mu, sd = p["label_dim_mu"], p["label_dim_sd"]
    labels, vecs = [], []
    for _ in range(N_EMB):
        lab = int(r.choices(labs, cum_weights=labs_cw)[0])
        v = [m + s * r.gauss(0.0, 1.0) for m, s in zip(mu[lab], sd[lab])]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    write(pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def design_grid():
    """Product A: the complete design grid. C: one site short (-3). E: all
    design points equal, so the rotation is unidentifiable (-4). B has no
    design values at all (-2)."""
    rows = []
    for i in range(1, SITES + 1):
        rows.append(("A", i, ((i - 1) // GRID_COLS) * 100.0, ((i - 1) % GRID_COLS) * 50.0))
    for i in range(1, SITES):
        rows.append(("C", i, ((i - 1) // GRID_COLS) * 100.0, ((i - 1) % GRID_COLS) * 50.0))
    for i in range(1, SITES + 1):
        rows.append(("E", i, 0.0, 0.0))
    return rows


def gen_tools(seed, out):
    grid = {i: (dx, dy) for p, i, dx, dy in design_grid() if p == "A"}
    dv = design_grid()
    write(pa.table({"product": [d[0] for d in dv],
                    "site_idx": pa.array([d[1] for d in dv], pa.int32()),
                    "dx": [d[2] for d in dv], "dy": [d[3] for d in dv]}),
          f"{out}/design_values.parquet")
    truth = {"fits": {}, "faults": {}}
    r = stream(seed, "tool-" + TOOL)
    cols = {"glassid": [], "product": [], "tstamp": []}
    xs = [[] for _ in range(SITES)]
    ys = [[] for _ in range(SITES)]
    for day in range(DAYS):
        for g in range(GLASSES_PER_DAY):
            gid = f"{TOOL}-d{day:03d}-g{g}"
            t = DAY0 + dt.timedelta(days=day, seconds=3600 + 1800 * g + r.randrange(1800))
            sx, sy = round(r.uniform(-2, 2), 4), round(r.uniform(-2, 2), 4)
            theta = round(r.uniform(-200, 200), 2)
            k = g - (GLASSES_PER_DAY - len(FAULTS))
            fault = FAULTS[k] if k >= 0 else 0
            product = {0: "A", -1: "A", -2: "B", -3: "C", -4: "E"}[fault]
            tan = math.tan(theta * 1e-6)
            for i in range(SITES):
                dx, dy = (0.0, 0.0) if fault == -4 else grid[i + 1]
                xs[i].append(None if fault == -1 and i == 7 else -sx + dy * tan)
                ys[i].append(-sy - dx * tan)
            cols["glassid"].append(gid)
            cols["product"].append(product)
            cols["tstamp"].append(t)
            if fault:
                truth["faults"][gid] = fault
            else:
                truth["fits"][gid] = [sx, sy, theta]
    # UTC-adjusted, so Spark reads the tool clock as TIMESTAMP, the type
    # the watermark intervals compare against
    data = {"glassid": cols["glassid"], "product": cols["product"],
            "tstamp": pa.array(cols["tstamp"], type=pa.timestamp("us", tz="UTC"))}
    for i in range(SITES):
        data[f"plfn_al{i + 1}_x"] = pa.array(xs[i], pa.float64())
    for i in range(SITES):
        data[f"plfn_al{i + 1}_y"] = pa.array(ys[i], pa.float64())
    data["recipe_note"] = [f"r{r.randrange(9)}" for _ in cols["glassid"]]
    write(pa.table(data), f"{out}/tool_{TOOL}.parquet")
    with open(f"{out}/ingest_truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)


def zipf_sampler(r, n, s):
    cdf, acc = [], 0.0
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        cdf.append(acc)
    perm = list(range(n))
    r.shuffle(perm)

    def draw():
        u = r.random() * acc
        lo, hi = 0, n - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return perm[lo]
    return draw


def gen_lookups(seed, out):
    """A fixed cycle over every (kind, width) pair, so each run sees the
    same request mix; only the ids depend on the seed. About 5% of ids
    lie past the customer key range, so they miss."""
    r = stream(seed, "lookups")
    draw = zipf_sampler(r, N_CUSTOMER, ZIPF_S)
    with open(f"{out}/lookups.jsonl", "w") as f:
        for _ in range(LOOKUP_CYCLES):
            for width in LOOKUP_WIDTHS:
                for kind in LOOKUP_KINDS:
                    ids = sorted({N_CUSTOMER + r.randrange(N_CUSTOMER)
                                  if r.random() < MISS_FRAC else draw()
                                  for _ in range(width)})
                    f.write(json.dumps({"kind": kind, "ids": ids}) + "\n")


def generate(seed, out):
    """Write every input for `seed` into `out` (created if absent)."""
    os.makedirs(out, exist_ok=True)
    gen_relational(seed, out)
    gen_corpus(seed, out)
    gen_tools(seed, out)
    gen_lookups(seed, out)


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
