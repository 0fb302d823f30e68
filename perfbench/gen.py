"""Seeded input generation for the benchmark.

Everything the engine reads comes from here: the star-schema tables the
registry queries run on (the same shape and value ranges as the project's
sf0.1 testdata), the large per-seed product catalog, and the interactive
request script. Same seed, same bytes; nothing depends on the clock.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seed of the fixed tables: the suite's checksums are recorded against
# them, so they must not change with the run seed.
TABLES_SEED = 42

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()

# FIXTURES.md A4: one phrase per BudgetParser branch, "" for no budget.
BUDGET_PHRASES = [
    "between $300 and 500", "100-200", "100~200", "under $1,250", "below 2k",
    "less than 1.5k", "at most 800", "around 600", "approx 450", "nearly 3kk",
    "$500 budget", "budget 800", "",
]

QA_TEMPLATES = [
    "what is the price", "how good is the rating", "how many reviews",
    "tell me about the title", "is the summary about {w}",
    "does it have {w} {w2}", "{w} {w2} price rating",
]

CATALOG_ROWS = 94_000
CATALOG_DIM = 384
# Small row groups let Spark split the catalog scan over every core.
CATALOG_ROW_GROUP = 8_192


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _documents(rng, n):
    """Texts of 10-100 vocabulary words; 5% near-duplicates carrying the
    marker word "dup" and a few exact duplicates, so dedup work is real."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    near = rng.choice(np.arange(1, n), n // 20, replace=False)
    for i in near:
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    exact = rng.choice(np.arange(n // 2, n), 8, replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n // 2))]
    langs = np.array(["en", "zh", "de", "fr", "es"], dtype=object)
    lang = langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim):
    x = rng.standard_normal((n, dim), dtype=np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(out_dir):
    """The ten registry tables at sf0.1 size (TESTDATA.md)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLES_SEED)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return pa.array(np.array(options, dtype=object)[
            rng.integers(0, len(options), n)].tolist(), pa.string())

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    n = 15_000
    _write(pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n),
    }), f"{out_dir}/customer.parquet")
    n = 1_000
    _write(pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n),
    }), f"{out_dir}/supplier.parquet")
    n = 20_000
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    }), f"{out_dir}/part.parquet")
    n = 150_000
    _write(pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": pick(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500_000, n),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n),
    }), f"{out_dir}/orders.parquet")
    n = 600_000
    _write(pa.table({
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["O", "F"], n),
        "l_shipdate": _days(rng, n, "1995-01-01", "2001-11-04"),
    }), f"{out_dir}/lineitem.parquet")
    n = 100_000
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n))
    _write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), f"{out_dir}/events.parquet")
    _write(_documents(rng, 5_000), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, 2_000, 64), f"{out_dir}/embeddings.parquet")


def write_catalog(out_dir, seed, rows=CATALOG_ROWS):
    """The product catalog at the reference's scale: one document (the
    metaAnalog meta source) and one 384-dim vector per product."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    _write(_documents(rng, rows), f"{out_dir}/documents.parquet",
           CATALOG_ROW_GROUP)
    _write(_embeddings(rng, rows, CATALOG_DIM),
           f"{out_dir}/embeddings.parquet", CATALOG_ROW_GROUP)


def request_script(seed, n_vectors, sessions=3_000):
    """Closed-loop REPL sessions: one recommend, then 1-3 questions on a
    focused rank. Follow-up counts come as shuffled (1, 2, 3) blocks, so
    every three sessions hold the same request mix."""
    rng = np.random.default_rng([seed, 2])
    ops = []
    for s in range(sessions):
        if s % 3 == 0:
            follow = rng.permutation([1, 2, 3])
        words = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                       int(rng.integers(1, 4))))
        budget = BUDGET_PHRASES[int(rng.integers(0, len(BUDGET_PHRASES)))]
        ops.append({"kind": "recommend", "session": s,
                    "vec_id": int(rng.integers(0, n_vectors)),
                    "text": f"{words} {budget}".strip()})
        for _ in range(int(follow[s % 3])):
            w, w2 = (VOCAB[i] for i in rng.integers(0, len(VOCAB), 2))
            q = QA_TEMPLATES[int(rng.integers(0, len(QA_TEMPLATES)))]
            ops.append({"kind": "qa", "session": s,
                        "rank": int(rng.integers(1, 11)),
                        "text": q.format(w=w, w2=w2)})
    return ops


def write_script(path, ops):
    """One tab-separated line per request: kind, session, argument, text."""
    with open(path, "w") as f:
        for op in ops:
            arg = op["vec_id"] if op["kind"] == "recommend" else op["rank"]
            f.write(f"{op['kind']}\t{op['session']}\t{arg}\t{op['text']}\n")


def suite_order(seed, names, last=()):
    """Seed-shuffled query order, then `last` in its given order."""
    rng = np.random.default_rng([seed, 3])
    rest = [n for n in names if n not in last]
    return [rest[i] for i in rng.permutation(len(rest))] + [n for n in last if n in names]
