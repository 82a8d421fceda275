"""Seeded input generator for the graft benchmark.

Everything a run feeds the engine comes from here, as files: the SQL
statement stream (with the answers an in-memory shadow of the table
expects), the 10x-amplified corpus, and the incremental-ingest deltas with
their share of re-crawled copies.
The same (kind, seed, factor) always yields byte-identical inputs, and
finished inputs are cached on disk under that key.
"""

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- SQL stream

SQL_ROWS = 100_000          # the AsyncBenchmark fixture, scaled to 100k rows
SQL_BLOCKS = 100            # more blocks than any run executes
# One block of the mix, in a seeded order; every block holds exactly these
# statements, so two seeds differ in keys, values and order but not in how
# much of each kind they ask for. The reference harness (AsyncBenchmark)
# runs three loops of equal length: inserts, point selects by sequential
# key and point selects by random key, so a block holds one of each. It
# runs no range aggregate, UPDATE or MERGE; each of those gets the weight
# of the reference's own write (one per block), the least that keeps every
# kind in every block.
SQL_BLOCK = [("insert", None), ("point", "seq"), ("point", "random"),
             ("range", None), ("update", None), ("merge", None)]
RANGE_WIDTH = 100           # a short range: one in a thousand rows

SQL_SETUP = [
    "CREATE TABLE test (f1 INT PRIMARY KEY, f2 BIGINT)",
    f"INSERT INTO test SELECT X, X * 10 FROM SYSTEM_RANGE(1, {SQL_ROWS})",
]
CHECKSUM_SQL = ("SELECT COUNT(*), SUM(CAST(f1 AS BIGINT)), SUM(f2), "
                "SUM(MOD(f2, 1000003) * f1) FROM test")


class Shadow:
    """In-memory model of `test(f1 → f2)`: the answers the engine must give."""

    def __init__(self, rows=SQL_ROWS):
        self.t = {k: k * 10 for k in range(1, rows + 1)}

    def point(self, k):
        return self.t.get(k)

    def range(self, lo, hi):
        vals = [self.t[k] for k in range(lo, hi + 1) if k in self.t]
        return [len(vals), sum(vals) if vals else None]

    def apply(self, kind, k, v):
        if kind == "update":
            if k in self.t:
                self.t[k] = v
        elif kind == "insert":
            if k in self.t:
                raise ValueError(f"duplicate key {k}")
            self.t[k] = v
        elif kind == "merge":
            self.t[k] = v
        else:
            raise ValueError(kind)

    def checksum(self):
        return [len(self.t), sum(self.t),
                sum(self.t.values()),
                sum((v % 1000003) * k for k, v in self.t.items())]


def sql_stream(seed, blocks=SQL_BLOCKS, rows=SQL_ROWS):
    """The statement stream: a list of {block, kind, sql, expect} in
    execution order. `expect` is what the shadow holds right before the
    statement (reads) or None (writes). Like the reference, every probe
    hits a present key; MERGE updates a present key in even blocks and
    inserts a new one in odd blocks, so both of its branches run equally."""
    rng = random.Random(seed)
    sh = Shadow(rows)
    next_key = rows + 1
    seq_key = 0
    out = []
    for b in range(blocks):
        block = SQL_BLOCK[:]
        rng.shuffle(block)
        for kind, mode in block:
            st = {"block": b, "kind": kind, "expect": None}
            if kind == "point":
                if mode == "seq":
                    seq_key = seq_key % rows + 1
                    k = seq_key
                else:
                    k = rng.randint(1, rows)
                st["sql"] = f"SELECT f2 FROM test WHERE f1 = {k}"
                st["expect"] = sh.point(k)
            elif kind == "range":
                lo = rng.randint(1, rows - RANGE_WIDTH)
                hi = lo + RANGE_WIDTH - 1
                st["sql"] = ("SELECT COUNT(*), SUM(f2) FROM test "
                             f"WHERE f1 BETWEEN {lo} AND {hi}")
                st["expect"] = sh.range(lo, hi)
            else:
                v = rng.randint(0, 10**12)
                if kind == "update":
                    k = rng.randint(1, rows)
                    st["sql"] = f"UPDATE test SET f2 = {v} WHERE f1 = {k}"
                elif kind == "insert":
                    k = next_key
                    next_key += 1
                    st["sql"] = f"INSERT INTO test VALUES ({k}, {v})"
                else:
                    if b % 2 == 0:
                        k = rng.randint(1, rows)
                    else:
                        k = next_key
                        next_key += 1
                    st["sql"] = f"MERGE INTO test KEY(f1) VALUES ({k}, {v})"
                sh.apply(kind, k, v)
                st["kv"] = (k, v)
            out.append(st)
    return out


def sql_checksum_after(seed, executed, rows=SQL_ROWS):
    """Shadow checksum after the first `executed` statements of the stream."""
    sh = Shadow(rows)
    for st in sql_stream(seed, rows=rows)[:executed]:
        if "kv" in st:
            sh.apply(st["kind"], *st["kv"])
    return sh.checksum()


def write_sql(d, seed):
    with open(os.path.join(d, "setup.sql"), "w") as f:
        f.write("\n".join(SQL_SETUP) + "\n")
    with open(os.path.join(d, "checksum.sql"), "w") as f:
        f.write(CHECKSUM_SQL + "\n")
    with open(os.path.join(d, "stream.tsv"), "w") as f:
        for st in sql_stream(seed):
            f.write(f"{st['block']}\t{st['kind']}\t{st['sql']}\n")


# ---------------------------------------------------------------- corpus

# a small word list, like the one of the engine's own test corpus
VOCAB = ("a the big small fast slow data table row column key value join "
         "merge sort hash scan filter group agg order window stream batch "
         "query spark vector line part customer").split()
LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# base sizes before amplification (factor 10 gives the benchmark corpus)
BASE = {"customer": 60, "orders": 600, "documents": 60, "embeddings": 60}
EMB_DIM = 64


def _text(rng, lo=8, hi=80):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _edit(rng, text, edits):
    """A near copy: `edits` words replaced."""
    w = text.split(" ")
    for _ in range(edits):
        w[rng.randrange(len(w))] = rng.choice(VOCAB)
    return " ".join(w)


def _docs_table(ids, texts, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in ids], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in ids],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_corpus(seed):
    """The unamplified corpus: the tables the four batch queries read."""
    rng = random.Random(seed * 7919 + 1)
    nrng = np.random.default_rng(seed)
    ts = pa.timestamp("us", tz="UTC")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(NATIONS, pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = BASE["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)],
                                pa.int32()),
        "c_acctbal": pa.array([rng.randint(-99999, 999999) / 100
                               for _ in range(nc)], pa.float64()),
        "c_mktsegment": pa.array([rng.choice(["AUTOMOBILE", "BUILDING",
                                              "FURNITURE", "MACHINERY",
                                              "HOUSEHOLD"])
                                  for _ in range(nc)])})
    no = BASE["orders"]
    day0 = 788918400  # 1995-01-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)],
                              pa.int64()),
        "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(no)]),
        "o_totalprice": pa.array([rng.randint(100, 50000000) / 100
                                  for _ in range(no)], pa.float64()),
        "o_orderdate": pa.array([(day0 + rng.randrange(2400) * 86400)
                                 * 1_000_000 for _ in range(no)], ts),
        "o_orderpriority": pa.array([f"{rng.randint(1, 5)}-PRIO"
                                     for _ in range(no)])})
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(no):
        for ln in range(1, rng.randint(1, 7) + 1):
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(2000))
            li["l_suppkey"].append(rng.randrange(100))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(rng.randint(1, 50)))
            li["l_extendedprice"].append(rng.randint(90000, 10500000) / 100)
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append((day0 + rng.randrange(2500) * 86400)
                                    * 1_000_000)
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
             "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
             "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
             "l_discount": pa.float64(), "l_tax": pa.float64(),
             "l_returnflag": pa.string(), "l_linestatus": pa.string(),
             "l_shipdate": ts}
    t["lineitem"] = pa.table({k: pa.array(v, types[k])
                              for k, v in li.items()})
    nd = BASE["documents"]
    texts = []
    for i in range(nd):
        # one doc in eight is a near copy of an earlier one
        if i > 0 and rng.random() < 0.125:
            texts.append(_edit(rng, texts[rng.randrange(i)], 2))
        else:
            texts.append(_text(rng))
    t["documents"] = _docs_table(list(range(nd)), texts, rng)
    ne = BASE["embeddings"]
    centers = nrng.normal(size=(10, EMB_DIM))
    labels = nrng.integers(0, 10, size=ne)
    vecs = centers[labels] + 0.6 * nrng.normal(size=(ne, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in
                               vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.tolist(), pa.int32())})
    return t


# key columns offset per copy (key -> key * factor + copy): primary keys and
# the foreign keys that reference them, never the dimension keys — the
# engine's AmplifyData scheme, so every join cardinality scales exactly
OFFSET_KEYS = {
    "region": [], "nation": [],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def amplify(table, keys, factor):
    if not keys:
        return table
    copies = []
    for i in range(factor):
        c = table
        for k in keys:
            idx = c.schema.get_field_index(k)
            col = np.asarray(c.column(k).to_numpy()) * factor + i
            c = c.set_column(idx, k, pa.array(col, c.schema.field(k).type))
        copies.append(c)
    return pa.concat_tables(copies)


def write_corpus(d, seed, factor):
    for name, table in base_corpus(seed).items():
        pq.write_table(amplify(table, OFFSET_KEYS[name], factor),
                       os.path.join(d, f"{name}.parquet"))


# ---------------------------------------------------------------- ingest

INGEST_INITIAL = 300         # originals that seed the dedup state
INGEST_DELTAS = 8            # more than a run's passes ever reach
FRESH_PER_DELTA = 50
RECRAWL_SHARES = [0.2, 0.3, 0.4, 0.5] * 2   # one per delta, seeded order
RECRAWL_ID0 = 1_000_000      # re-crawled copies get ids from here on


def ingest_inputs(seed):
    """(initial docs, [delta docs...]): each delta is fresh originals plus a
    share of re-crawled copies (exact or lightly edited, new ids) of docs
    ingested before it."""
    rng = random.Random(seed * 104729 + 3)
    n = INGEST_INITIAL + INGEST_DELTAS * FRESH_PER_DELTA
    originals = [_text(rng, 40, 90) for _ in range(n)]
    initial = list(enumerate(originals[:INGEST_INITIAL]))
    seen = [t for _, t in initial]
    shares = RECRAWL_SHARES[:]
    rng.shuffle(shares)
    next_id = RECRAWL_ID0
    deltas = []
    for b in range(INGEST_DELTAS):
        lo = INGEST_INITIAL + b * FRESH_PER_DELTA
        fresh = [(i, originals[i]) for i in range(lo, lo + FRESH_PER_DELTA)]
        n_re = round(FRESH_PER_DELTA * shares[b] / (1 - shares[b]))
        recrawl = []
        for _ in range(n_re):
            src = seen[rng.randrange(len(seen))]
            recrawl.append((next_id, src if rng.random() < 0.5
                            else _edit(rng, src, 1)))
            next_id += 1
        rows = fresh + recrawl
        rng.shuffle(rows)
        deltas.append(rows)
        seen.extend(t for _, t in fresh)
    return initial, deltas


def write_ingest(d, seed):
    rng = random.Random(seed)
    initial, deltas = ingest_inputs(seed)

    def tab(rows):
        return _docs_table([i for i, _ in rows], [t for _, t in rows], rng)
    os.makedirs(d, exist_ok=True)
    pq.write_table(tab(initial), os.path.join(d, "initial.parquet"))
    for b, rows in enumerate(deltas):
        pq.write_table(tab(rows), os.path.join(d, f"delta_{b}.parquet"))


def write_pipeline(d, seed, factor):
    """The 10x corpus, plus the ingest corpus and deltas under ingest/."""
    write_corpus(d, seed, factor)
    write_ingest(os.path.join(d, "ingest"), seed)


# ---------------------------------------------------------------- cache

WRITERS = {
    "sql": lambda d, seed, factor: write_sql(d, seed),
    "pipeline": write_pipeline,
}


def _generator_hash():
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def ensure(root, kind, seed, factor=1):
    """Inputs of `kind` for (seed, factor) under `root`, generated on first
    use or when this generator changed. Returns (dir, generated_now)."""
    d = os.path.join(root, f"{kind}-s{seed}-f{factor}")
    key = {"kind": kind, "seed": seed, "factor": factor,
           "generator": _generator_hash()}
    try:
        with open(os.path.join(d, "DONE")) as f:
            if json.load(f) == key:
                return d, False
    except (OSError, ValueError):
        pass
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    WRITERS[kind](tmp, seed, factor)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump(key, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, True
