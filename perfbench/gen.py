"""Seeded input generator for the pipeline benchmark.

Every workload's inputs come from one integer seed: the same seed writes
byte-identical parquet files. Each generator returns the facts it planted
(null rows, duplicate families, rule violators, ...) so that check.py can
verify the program's outputs without trusting the program.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the and of to in is for on with as by at from that this it be are was "
         "data spark table query join window merge batch stream scan filter order "
         "line value column partition shuffle sort hash group key row index cache "
         "plan stage task driver worker engine corpus token document record field "
         "source sink quality signal budget sequence pack dedup minhash vector "
         "cluster sample shard export import schema format parquet commit offset "
         "state event metric report river mountain garden kitchen window market "
         "teacher student history science music travel weather energy health city "
         "village ocean forest bridge tower castle letter number paper pencil "
         "picture story summer winter autumn spring morning evening friend family").split()
# the Gopher stopword list quality_rules counts
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BOILERPLATE = ("Subscribe to our newsletter for the latest updates and offers",
               "All rights reserved by the original authors of this page",
               "Click here to read more stories from our archive")
SOURCES = ("web", "books", "news", "forum")
LANGS = ("en", "es", "de", "fr")
EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01 in microseconds
EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01 in microseconds


def _write_split(table, directory, n_files):
    """Write `table` as `n_files` parquet files (a multi-file scan)."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(directory, f"part-{i:03d}.parquet"))


def _sentence(rng, n_words):
    words = rng.choice(len(WORDS), n_words)
    out = [WORDS[w] for w in words]
    out[0] = STOPWORDS[rng.integers(len(STOPWORDS))]  # every paragraph has one
    return " ".join(out)


# ---------------------------------------------------------------- etl_enrich

def gen_etl(root, rng, n_lines=60_000, n_orders=6_000, n_files=8,
            names=("lineitem", "orders")):
    """lineitem/orders-shaped parquet with planted nulls, planted exact
    duplicate rows and one hot join key that takes 15% of the lines."""
    hot = int(rng.integers(n_orders))
    orderkey = rng.integers(0, n_orders, n_lines)
    orderkey[rng.random(n_lines) < 0.15] = hot
    order = np.argsort(orderkey, kind="stable")
    orderkey = orderkey[order]
    # line number = position inside the order, so (orderkey, linenumber)
    # is unique before the duplicates are planted
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    run_ids = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_lines]))
    linenumber = (np.arange(n_lines) - starts[run_ids] + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_lines), 2)
    discount = rng.integers(0, 11, n_lines) / 100.0
    tax = rng.integers(0, 9, n_lines) / 100.0
    ship = EPOCH_1992_US + rng.integers(0, 24 * 30, n_lines) * 86_400_000_000
    cols = {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_lines), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(discount, pa.float64()),
        "l_tax": pa.array(tax, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }
    # planted nulls: 0.5% of rows lose their price, another 0.5% their date
    picks = rng.permutation(n_lines)
    n_null = n_lines // 200
    null_price, null_ship = picks[:n_null], picks[n_null:2 * n_null]
    valid = np.ones(n_lines, bool)
    valid[null_price] = False
    cols["l_extendedprice"] = pa.array(price, pa.float64(), mask=~valid)
    valid_ship = np.ones(n_lines, bool)
    valid_ship[null_ship] = False
    cols["l_shipdate"] = pa.array(ship, pa.timestamp("us"), mask=~valid_ship)
    # planted duplicate families among the clean rows: each picked row gets
    # one or two exact copies
    fam_rows = picks[2 * n_null:2 * n_null + n_lines // 200]
    copies = rng.integers(1, 3, len(fam_rows))
    table = pa.table(cols)
    dup_idx = np.repeat(fam_rows, copies)
    table = pa.concat_tables([table, table.take(pa.array(dup_idx))])
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    _write_split(table, os.path.join(root, names[0]), n_files)

    okeys = np.arange(n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_orders // 10, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 4e5, n_orders), 2)),
        "o_orderdate": pa.array(EPOCH_1992_US + rng.integers(0, 2400, n_orders)
                                * 86_400_000_000, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    _write_split(orders, os.path.join(root, names[1]), max(1, n_files // 2))
    return {"lines_written": table.num_rows, "null_rows": 2 * n_null,
            "dup_extras": int(copies.sum()), "dup_families": len(fam_rows),
            "hot_key": hot}


# ---------------------------------------------------------------- documents

def _docs(rng, n_docs, n_exact_fams, n_near_fams, n_violators):
    """Documents with a long-tailed (lognormal) length, HTML paragraphs,
    shared boilerplate paragraphs, planted duplicate families and planted
    Gopher-rule violators. Returns (table, facts)."""
    texts, kinds = [], []
    for _ in range(n_docs):
        n_words = int(min(2000, max(25, rng.lognormal(4.2, 0.8))))
        paras, left = [], n_words
        while left > 0:
            k = min(left, int(rng.integers(20, 80)))
            paras.append(_sentence(rng, k))
            left -= k
        if rng.random() < 0.3:
            paras.append(BOILERPLATE[rng.integers(len(BOILERPLATE))])
        texts.append("</p><p>".join(paras))
        kinds.append("regular")
    ids = rng.permutation(n_docs)
    cursor = 0
    families = []
    # exact families: 2-4 byte-identical copies of one base document
    for _ in range(n_exact_fams):
        base, copies = int(ids[cursor]), int(rng.integers(1, 4))
        members = [base] + [int(i) for i in ids[cursor + 1:cursor + 1 + copies]]
        cursor += 1 + copies
        for m in members:
            texts[m], kinds[m] = texts[base], "copy"
        kinds[min(members)] = "regular"  # dedup keeps the smallest id
        families.append(members)
    # near families: the copies differ only in whitespace and markup spacing,
    # which html_strip's collapse makes identical
    for _ in range(n_near_fams):
        base, copies = int(ids[cursor]), int(rng.integers(1, 3))
        members = [base] + [int(i) for i in ids[cursor + 1:cursor + 1 + copies]]
        cursor += 1 + copies
        spaced = texts[base].replace(" ", "  ").replace("</p><p>", " </p>\t<p> ")
        for m in members:
            texts[m], kinds[m] = spaced, "copy"
        texts[min(members)], kinds[min(members)] = texts[base], "regular"
        families.append(members)
    violators = []
    for v in range(n_violators):
        d = int(ids[cursor]); cursor += 1
        rule = v % 3
        if rule == 0:    # too few words for the n_tokens gate
            texts[d] = _sentence(rng, int(rng.integers(3, 10)))
        elif rule == 1:  # numeric: alpha-word fraction far below 0.55
            nums = " ".join(str(x) for x in rng.integers(100, 99999, 60))
            texts[d] = "the " + nums
        else:            # mean word length above 12
            texts[d] = "the " + " ".join(
                "".join(rng.choice(list("abcdefghij"), 18)) for _ in range(40))
        kinds[d] = "violator"
        violators.append(d)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in rng.integers(0, 4, n_docs)]),
        "source": pa.array([SOURCES[i] for i in rng.integers(0, 4, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    expected = [i for i, k in enumerate(kinds) if k == "regular"]
    return table, {"families": families, "violators": violators,
                   "expected_survivors": expected}


def gen_docs(root, rng, n_docs=800, n_files=8):
    table, facts = _docs(rng, n_docs, n_exact_fams=n_docs // 40,
                         n_near_fams=n_docs // 40, n_violators=n_docs // 30)
    _write_split(table, os.path.join(root, "documents"), n_files)
    return facts


# ---------------------------------------------------------------- many_small

def gen_small(root, rng):
    """sf0.001-sized orders and lineitem and a small event backlog, under
    the names the shipped examples read. Returns the event facts (the
    streaming example is the one checked against planted facts)."""
    # a spark file source reads a directory of part files under the same
    # path the examples name
    gen_etl(root, rng, n_lines=6000, n_orders=1500, n_files=1,
            names=("lineitem.parquet", "orders.parquet"))
    return gen_events(root, rng)


# ---------------------------------------------------------------- events

def gen_events(root, rng, n_files=12, per_file=500, users=20):
    """Event files in time order, one hour of event time per file, with
    events up to 30 minutes out of order — always inside the 2-hour
    watermark delay, so nothing is late."""
    d = os.path.join(root, "events")
    os.makedirs(d, exist_ok=True)
    hour = 3_600_000_000
    eid = 0
    for f in range(n_files):
        base = EPOCH_2024_US + f * hour
        ts = base + rng.integers(0, hour, per_file)
        late = rng.random(per_file) < 0.2
        ts[late] -= rng.integers(0, hour // 2, int(late.sum()))
        t = pa.table({
            "event_id": pa.array(np.arange(eid, eid + per_file), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, per_file), pa.int64()),
            "value": pa.array(np.round(rng.uniform(0, 500, per_file), 2)),
        })
        eid += per_file
        path = os.path.join(d, f"events-{f:04d}.parquet")
        pq.write_table(t, path)
        # distinct, increasing modification times fix the order in which
        # the file stream source discovers the files
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return {"events": eid}


GENERATORS = {"etl_enrich": gen_etl, "curate_docs": gen_docs, "many_small": gen_small}


def generate(workload, root, seed):
    rng = np.random.default_rng(seed)
    return GENERATORS[workload](root, rng)
