#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Every input the benchmark feeds the program comes from here, as parquet
files shaped like the test data of TESTDATA.md (written by pyarrow, so
timestamps are naive TIMESTAMP columns exactly as `graft.Tables.load`
expects them), plus `plan.json` with the digest of every table.

  capture_tick  `capture.parquet`: a 1-minute event stream cut into
                blocks of BLOCK_MINUTES scheduler minutes. Slice sizes
                are heavy-tailed (mostly hundreds of rows, one slice per
                block near 10k), SKIPS_PER_BLOCK minutes per block are
                skipped by the scheduler and recovered by the block's
                backfill. Every block has the same row total, so runs of
                different seeds do the same amount of work.
  ingest_day    `corpus.parquet`: graft.Bench's llm_ingest input, a fixed
                sf0.1-sized documents table (5000) with its embeddings
                (2000), split into days, one `dayNN.parquet` per day.
                Day 0 is fixed history the setup commits; the seed
                splits the other days. From day 1 on each day carries
                replays of earlier days: exact copies under new ids and
                near-dup edits (" dup" appended, the table's own near-dup
                recipe). Every day has the same size
                and the same replay counts for every seed.
  lake          the ten TESTDATA.md tables at about sf0.01, read by the
                capture dashboards. The lake is fixed (LAKE_SEED), so
                query results match `digests.tsv`.

`run.py --selftest` runs this module's determinism test.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - pa.compute
import pyarrow.parquet as pq

VERSION = "10"  # bump when the generated data changes (invalidates caches)

WORDS = ("spark window merge table column vector stream value data small "
         "big slow fast filter hash join group order sort scan query agg "
         "key row batch line part customer the a").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
DIM = 64
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "pipe", "screw", "spring"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]

# capture_tick shape
BLOCK_MINUTES = 15          # one backfill + model run per block
SKIPS_PER_BLOCK = 1         # minutes the scheduler misses per block
SMALL_ROWS_PER_BLOCK = 4200  # rows over the 14 small minutes of a block
BIG_ROWS = 9000             # the one near-10k minute of a block
CAPTURE_BLOCKS = 8          # generated; a run uses as many as fit
CAPTURE_START = np.datetime64("2024-02-01T00:00:00", "us")

# ingest_day shape: graft.Bench's llm_ingest input, the sf0.1 documents
# (5000) and embeddings (2000) tables, generated with the fixed lake's
# recipe at that size and split into days
SF01_SEED = 42
SF01_DOCS = 5000
SF01_EMBEDDINGS = 2000
INGEST_DAYS = 5             # day 0 is history; a run uses as many as fit
REPLAY_SHARE = 0.05         # per day from day 1, exact and near-dup each:
                            # the near-dup variant share of the documents table
INGEST_START = "2024-03-01"

# the fixed lake the capture dashboards read
LAKE_SEED = 20240101
LAKE_EVENTS = 10000
LAKE_DOCS = 500
LAKE_EMBEDDINGS = 400
LAKE_CUSTOMERS = 1500
LAKE_ORDERS = 15000
LAKE_LINEITEMS = 60000
LAKE_PARTS = 2000
LAKE_SUPPLIERS = 100


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _texts(rng, n):
    out = []
    lens = rng.integers(8, 100, size=n)
    for k in lens:
        out.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), size=k)))
    return out


def _embeddings(rng, n, labels):
    centroids = _rng(LAKE_SEED, 99).normal(size=(10, DIM))
    v = centroids[labels] + 0.5 * rng.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _documents(rng, n):
    """Shaped like the test data's documents table: texts of 8-99 words
    from a small vocabulary, 5% near-dup variants (" dup" appended), a
    few exact duplicate pairs, five languages, 20 sources."""
    texts = _texts(rng, n)
    for i in range(0, n, 20):
        if i + 7 < n:
            texts[i + 7] = texts[i] + " dup"
    for i in range(3, n, 125):
        if i + 50 < n:
            texts[i + 50] = texts[i]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(LANGS, size=n, p=LANG_P))),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embedding_table(rng, n):
    """Shaped like the test data's embeddings table: 64-dim unit vectors
    in 10 clusters, `vec_id` a prefix of `doc_id`."""
    labels = rng.integers(0, 10, size=n)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": _emb_array(_embeddings(rng, n, labels)),
        "label": pa.array(labels, pa.int32()),
    })


def _emb_array(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def _events(rng, ids, ts):
    n = len(ids)
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(60.0, size=n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n)]),
    }


def capture_inputs(seed):
    """Per-minute slices for capture_tick. Returns (events table, plan)."""
    rng = _rng(seed, 1)
    minutes, sizes, skipped = [], [], []
    for b in range(CAPTURE_BLOCKS):
        # 14 small minutes (hundreds of rows each, heavy-tailed) that sum
        # to SMALL_ROWS_PER_BLOCK, plus one minute near 10k rows
        w = rng.lognormal(0.0, 0.6, size=BLOCK_MINUTES - 1)
        small = np.floor(w / w.sum() * SMALL_ROWS_PER_BLOCK).astype(int)
        small[np.argmax(small)] += SMALL_ROWS_PER_BLOCK - small.sum()
        # the last minute of a block is the backfill tick, never skipped;
        # the near-10k minute is a plain tick (neither last nor skipped),
        # so every block end does the same work
        skip = set(int(i) for i in rng.choice(BLOCK_MINUTES - 1, size=SKIPS_PER_BLOCK,
                                               replace=False))
        big = int(rng.choice([i for i in range(BLOCK_MINUTES - 1) if i not in skip]))
        rest = iter(rng.permutation(small))
        for i in range(BLOCK_MINUTES):
            minutes.append(b * BLOCK_MINUTES + i)
            sizes.append(BIG_ROWS if i == big else int(next(rest)))
            skipped.append(i in skip)
    sizes = np.array(sizes)
    ids = np.arange(sizes.sum(), dtype=np.int64)
    minute_of_row = np.repeat(np.array(minutes), sizes)
    ts = (CAPTURE_START + (minute_of_row * 60_000_000).astype("timedelta64[us]")
          + rng.integers(0, 60_000_000, size=len(ids)).astype("timedelta64[us]"))
    cols = _events(rng, ids, ts)
    cols["minute"] = pa.array(minute_of_row, pa.int32())
    plan = pa.table({
        "minute": pa.array(minutes, pa.int32()),
        "block": pa.array([m // BLOCK_MINUTES for m in minutes], pa.int32()),
        "rows": pa.array(sizes, pa.int32()),
        "skipped": pa.array(skipped, pa.bool_()),
    })
    return pa.table(cols), plan


def ingest_inputs(seed):
    """graft.Bench's llm_ingest input (documents left-joined to their
    embedding, llm_ingest's synthetic vector where there is none) split
    into INGEST_DAYS days, day 0 fixed and the rest by the seed. From
    day 1 on a day also replays earlier days' documents: exact copies
    under new ids and near-dup edits, REPLAY_SHARE of the day each."""
    fixed = _rng(SF01_SEED, 4)
    docs = _documents(fixed, SF01_DOCS)
    vecs = np.cos(np.arange(SF01_DOCS, dtype=np.float64)[:, None]
                  * np.arange(1, DIM + 1, dtype=np.float64)[None, :])
    emb = _embedding_table(fixed, SF01_EMBEDDINGS)
    vecs[:SF01_EMBEDDINGS] = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    text = docs["text"].to_pylist()
    lang = docs["lang"].to_pylist()
    source = docs["source"].to_pylist()
    rng = _rng(seed, 2)
    per_day = SF01_DOCS // INGEST_DAYS
    replays = int(per_day * REPLAY_SHARE)
    # day 0, the history setup commits, is the same for every seed, so
    # every seed's setup does the same work and builds the same index;
    # the seed splits the other days
    fixed_order = _rng(SF01_SEED, 5).permutation(SF01_DOCS)
    order = np.concatenate([fixed_order[:per_day], rng.permutation(fixed_order[per_day:])])
    rows = []  # (doc_id, source document, day, kind)
    next_id = SF01_DOCS
    for d in range(INGEST_DAYS):
        day = [(int(i), int(i), d, "fresh") for i in order[d * per_day:(d + 1) * per_day]]
        if d > 0:
            earlier = order[:d * per_day]
            pick = rng.choice(earlier, size=2 * replays, replace=False)
            for j, src in enumerate(pick):
                day.append((next_id, int(src), d, "exact" if j < replays else "near"))
                next_id += 1
        rows += [day[i] for i in rng.permutation(len(day))]
    ids, srcs, days, kinds = (list(c) for c in zip(*rows))
    texts = [text[s] + (" dup" if k == "near" else "") for s, k in zip(srcs, kinds)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([lang[s] for s in srcs]),
        "source": pa.array([source[s] for s in srcs]),
        "emb": pa.array(list(vecs[srcs]), type=pa.list_(pa.float64())),
        "day": pa.array(days, pa.int32()),
        "kind": pa.array(kinds),
    }), {"days": INGEST_DAYS, "start": INGEST_START, "docs": len(ids)}


def lake_tables():
    """The fixed lake the analyst queries read."""
    rng = _rng(LAKE_SEED, 3)
    span = 30 * 24 * 3600 * 1_000_000
    offsets = np.sort(rng.integers(0, span, size=LAKE_EVENTS)).astype("timedelta64[us]")
    ev = _events(rng, np.arange(LAKE_EVENTS, dtype=np.int64),
                 np.datetime64("2024-01-01T00:00:00", "us") + offsets)
    docs = _documents(rng, LAKE_DOCS)
    emb = _embedding_table(rng, LAKE_EMBEDDINGS)
    cust = pa.table({
        "c_custkey": pa.array(np.arange(LAKE_CUSTOMERS), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(LAKE_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=LAKE_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, LAKE_CUSTOMERS), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, LAKE_CUSTOMERS)]),
    })
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "D")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(LAKE_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, LAKE_CUSTOMERS, LAKE_ORDERS), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, LAKE_ORDERS)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, LAKE_ORDERS), 2)),
        "o_orderdate": pa.array((d0 + rng.integers(0, 2404, LAKE_ORDERS) * day)
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, LAKE_ORDERS)]),
    })
    n = LAKE_LINEITEMS
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, LAKE_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, LAKE_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, LAKE_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array((d0 + rng.integers(0, 2404, n) * day).astype("datetime64[us]"),
                               pa.timestamp("us")),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(LAKE_PARTS), pa.int64()),
        "p_name": pa.array(["%s %s" % (COLORS[a], NOUNS[b]) for a, b in
                            zip(rng.integers(0, len(COLORS), LAKE_PARTS),
                                rng.integers(0, len(NOUNS), LAKE_PARTS))]),
        "p_brand": pa.array(["Brand#%d" % i for i in rng.integers(1, 26, LAKE_PARTS)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), LAKE_PARTS)]),
        "p_size": pa.array(rng.integers(1, 51, LAKE_PARTS), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(LAKE_PARTS) * 0.1, 2)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(LAKE_SUPPLIERS), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(LAKE_SUPPLIERS)]),
        "s_nationkey": pa.array(rng.integers(0, 25, LAKE_SUPPLIERS), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, LAKE_SUPPLIERS), 2)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    return {"events": pa.table(ev), "documents": docs, "embeddings": emb,
            "customer": cust, "orders": orders, "lineitem": lineitem, "part": part,
            "supplier": supplier, "nation": nation, "region": region}


# small plan tables the harness reads as text (no Spark job before setup)
PLAN_TSV = {
    "capture_tick": {"minutes": ["block", "minute", "rows", "skipped"]},
    "ingest_day": {"corpus": ["day", "doc_id", "kind"]},
}


def generate(workload, seed):
    """(tables by name, plan) for one workload and seed."""
    if workload == "capture_tick":
        t, minutes = capture_inputs(seed)
        return {"capture": t, "minutes": minutes}, {"start": str(CAPTURE_START)}
    if workload == "ingest_day":
        t, plan = ingest_inputs(seed)
        tables = {"corpus": t}
        for d in range(INGEST_DAYS):
            day = t.filter(pa.compute.equal(t["day"], d))
            tables["day%02d" % d] = day.select(["doc_id", "text", "lang", "emb"])
        return tables, plan
    if workload == "lake":
        return lake_tables(), {}
    raise ValueError("unknown workload: %s" % workload)


def digest(table):
    h = hashlib.sha256()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write(out_dir, workload, seed):
    """Write the inputs for (workload, seed) to out_dir once; reuse after."""
    if os.path.exists(os.path.join(out_dir, "plan.json")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables, plan = generate(workload, seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, name + ".parquet"))
    for name, cols in PLAN_TSV.get(workload, {}).items():
        t = tables[name]
        with open(os.path.join(tmp, name + ".tsv"), "w") as f:
            for row in zip(*(t[c].to_pylist() for c in cols)):
                f.write("\t".join(str(int(v)) if isinstance(v, bool) else str(v)
                                   for v in row) + "\n")
    plan["digests"] = {name: digest(t) for name, t in tables.items()}
    with open(os.path.join(tmp, "plan.json"), "w") as f:
        json.dump(plan, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def selftest():
    """Same seed -> identical digests; another seed -> different slices
    with the same totals."""
    ok = True
    for w in ("capture_tick", "ingest_day"):
        a, _ = generate(w, 1)
        b, _ = generate(w, 1)
        c, _ = generate(w, 2)
        name = next(iter(a))
        same = digest(a[name]) == digest(b[name])
        differ = digest(a[name]) != digest(c[name])
        if w == "capture_tick":
            def tot(t):
                rows = t["rows"].to_numpy().reshape(-1, BLOCK_MINUTES)
                skips = t["skipped"].to_numpy(zero_copy_only=False).reshape(-1, BLOCK_MINUTES)
                return rows.sum(axis=1).tolist(), skips.sum(axis=1).tolist()
            ma, mc = a["minutes"], c["minutes"]
            equal_totals = tot(ma) == tot(mc) and len(set(tot(ma)[0])) == 1
            slices_differ = ma["rows"].to_pylist() != mc["rows"].to_pylist()
        else:
            def tot(t):
                days = t["day"].to_numpy()
                kinds = np.array(t["kind"].to_pylist())
                return [(int((days == d).sum()), int(((days == d) & (kinds == "exact")).sum()))
                        for d in range(INGEST_DAYS)]
            equal_totals = tot(a[name]) == tot(c[name])
            slices_differ = a[name]["text"].to_pylist() != c[name]["text"].to_pylist()
        res = same and differ and equal_totals and slices_differ
        ok &= res
        print("%-13s same-seed identical=%s other-seed differs=%s "
              "equal totals=%s different slices=%s" % (w, same, differ, equal_totals,
                                                        slices_differ))
    l1, l2 = lake_tables(), lake_tables()
    lake_same = all(digest(l1[k]) == digest(l2[k]) for k in l1)
    print("lake          fixed lake identical=%s" % lake_same)
    ok &= lake_same
    print("selftest", "PASS" if ok else "FAIL")
    return ok

