"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the same
files and returns the same expected values. The expected values are derived
here, from the generator's own bookkeeping or from DuckDB, never from graft,
so the benchmark's output checks are independent of the code under test.
"""
import hashlib
import os
import shutil
import time
from types import SimpleNamespace
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
ETL_BROKEN_SHARE = 0.02      # truncated JSON lines
ETL_MISSING_ID_SHARE = 0.01  # valid JSON without event_id
ETL_NEGATIVE_SHARE = 0.01    # value < 0 breaks the value rule
CORPUS_EXACT_DUP_SHARE = 0.03
CORPUS_NEAR_DUP_SHARE = 0.03
CORPUS_CONTAMINATED_SHARE = 0.02
CORPUS_VECTOR_DUP_SHARE = 0.02
CORPUS_TOPK = 5              # graft's top-k per query
LAYOUT_FILES = 8


def sizes(toy=False):
    """Input sizes. Toy sizes serve the self-test and the class-data
    training run of the build; they take the same code paths."""
    sf = 0.005 if toy else 0.02  # sf0.1 is 600k lineitems
    return SimpleNamespace(
        etl_days=8,  # one day lands per pass; more than a run uses
        etl_records_per_day=1000 if toy else 5000,
        # day 0 is the warm-up batch: it runs every call a measured batch
        # runs, and as the calls' cost is mostly fixed, a smaller day
        # shortens set-up without leaving code cold
        etl_warmup_records=1000,
        etl_users=2000,
        lake_orders=int(1500000 * sf), lake_lineitems=int(6000000 * sf),
        lake_customers=int(150000 * sf), lake_suppliers=int(10000 * sf),
        lake_parts=int(200000 * sf), lake_events=int(1000000 * sf),
        lake_event_users=int(15000 * sf),
        lake_point_lookups=1, lake_where_lookups=1,
        corpus_docs=800 if toy else 2000, corpus_vocab=4000,
        corpus_vectors=500 if toy else 1000, corpus_dim=64, corpus_clusters=24,
        corpus_queries=16)


# the relational mix; q_interval_join is checked against an equivalent
# day-collapsed DuckDB statement because its declared oracle is a raw
# 10^9-pair range join (about a minute in DuckDB at sf0.1)
LAKE_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_window_running", "q_rank_in_group", "q_range_join", "q_asof_join",
    "q_interval_join", "q_grouping_sets", "q_topk_orders", "q_semi_join",
    "q_anti_join",
]
INTERVAL_JOIN_SQL = """
WITH o AS (SELECT o_orderpriority, epoch_ms(o_orderdate)//1000 AS s, COUNT(*) AS n_ord
           FROM orders GROUP BY 1, 2),
     l AS (SELECT epoch_ms(l_shipdate)//1000 AS p, COUNT(*) AS n_li
           FROM lineitem GROUP BY 1)
SELECT o_orderpriority, CAST(SUM(n_ord * n_li) AS BIGINT) AS n_shipments
FROM o JOIN l ON l.p >= o.s AND l.p < o.s + 30*86400
GROUP BY o_orderpriority ORDER BY o_orderpriority"""

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
LANGS = ["en", "fr", "es", "de", "zh"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _write(table, path):
    pq.write_table(table, path)


def _sha(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- digests
def _canon_column(arr):
    """Canonical text of every cell of one result column, mirrored by
    `Digest.canon` on the Scala side: integers and integral floats in
    decimal, other floats as the decimal text of their IEEE-754 bits,
    timestamps as epoch microseconds, NULL as \\N."""
    t = arr.type
    if pa.types.is_timestamp(t):
        arr = pc.cast(arr.cast(pa.timestamp("us")), pa.int64())
        t = arr.type
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        x = pc.cast(arr, pa.float64()).to_numpy(zero_copy_only=False)
        mask = arr.is_null().to_numpy(zero_copy_only=False)
        x = np.where(x == 0.0, 0.0, x)  # -0.0 and 0.0 read the same
        integral = np.isfinite(x) & (np.floor(x) == x) & (np.abs(x) < 2.0 ** 53)
        out = np.where(integral, np.where(integral, x, 0).astype(np.int64).astype(str),
                       x.view(np.int64).astype(str))
        return pa.array(np.where(mask, "\\N", out).tolist(), pa.string())
    if pa.types.is_boolean(t):
        arr = pc.if_else(arr, "true", "false")
    return pc.fill_null(pc.cast(arr, pa.string()), "\\N")


def digest_table(table):
    """Order-independent digest of a result: columns sorted by name, each
    row as its canonical cells joined by 0x1f, rows sorted, then hashed."""
    names = sorted(table.column_names)
    cols = [_canon_column(table.column(n).combine_chunks()) for n in names]
    if table.num_rows == 0:
        lines = []
    elif len(cols) == 1:
        lines = cols[0].to_pylist()
    else:
        lines = pc.binary_join_element_wise(*cols, "\x1f").to_pylist()
    body = "".join(line + "\n" for line in sorted(lines))
    return hashlib.sha256((",".join(names) + "\n" + body).encode()).hexdigest()


# ---------------------------------------------------------------- etl
def gen_etl(seed, root, sz):
    """Day batches of JSON lines with malformed records, a nested object,
    an embedded JSON string (`props`) and a PII field (`email`). Day d's
    expectations are cumulative over days 0..d, the lake after d lands."""
    _fresh(root)
    oracle_s = 0.0
    rng = _rng(seed, 1)
    types = np.array(["click", "view", "purchase", "signup", "error"])
    countries = np.array(["de", "fr", "us", "br", "jp", "in"])
    base = 1704067200  # 2024-01-01
    latest = {}
    days = []
    events_total = purchases_total = first_eid = 0
    value_sum = Decimal(0)
    for d in range(sz.etl_days):
        n = sz.etl_warmup_records if d == 0 else sz.etl_records_per_day
        step = 86400 // n
        uid = rng.integers(0, sz.etl_users, n)
        etype = types[rng.integers(0, len(types), n)]
        cents = rng.integers(0, 50000, n)
        k = rng.integers(0, 100, n)
        kind = rng.random(n)
        broken = kind < ETL_BROKEN_SHARE
        missing = (kind >= ETL_BROKEN_SHARE) & (
            kind < ETL_BROKEN_SHARE + ETL_MISSING_ID_SHARE)
        negative = (kind >= ETL_BROKEN_SHARE + ETL_MISSING_ID_SHARE) & (
            kind < ETL_BROKEN_SHARE + ETL_MISSING_ID_SHARE + ETL_NEGATIVE_SHARE)
        lines = []
        n_purch = n_ev = 0
        for i in range(n):
            eid = first_eid + i
            ts = base + d * 86400 + i * step
            u = int(uid[i])
            value = Decimal(int(cents[i])).scaleb(-2)
            if negative[i]:
                value = -value - 1
            head = "" if missing[i] else f'{{"event_id": {eid}, '
            line = (f'{head or "{"}"user": {{"id": {u}, "country": "{countries[u % 6]}"}}, '
                    f'"event_type": "{etype[i]}", "value": {float(value)!r}, "ts": {ts}, '
                    f'"props": "{{\\"k\\": {k[i]}, \\"ref\\": \\"r{eid % 97}\\"}}", '
                    f'"email": "user{u}@example.com", "debug": "trace-{eid * 2654435761 % 4294967296:08x}"}}')
            if broken[i]:
                line = line[: len(line) // 2]
            lines.append(line)
            if broken[i] or missing[i] or negative[i]:
                continue
            if etype[i] == "purchase":
                n_purch += 1
                continue
            n_ev += 1
            value_sum += value
            if latest.get(u, (-1,))[0] < ts:
                latest[u] = (ts, eid)
        first_eid += n
        events_total += n_ev
        purchases_total += n_purch
        path = os.path.join(root, f"day-{d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        t0 = time.time()
        snapshot_sha = _sha(f"{u}:{ts}:{e}" for u, (ts, e) in latest.items())
        oracle_s += time.time() - t0
        days.append({
            "path": os.path.abspath(path), "day": f"2024-01-{d + 1:02d}",
            "records": n, "purchases": n_purch, "events": n_ev,
            "quarantined": n - n_purch - n_ev,
            "events_total": events_total, "purchases_total": purchases_total,
            "events_value_sum": str(value_sum), "snapshot_keys": len(latest),
            "snapshot_sha256": snapshot_sha, "bytes_total": dir_bytes(root)})
    return {"days": days, "input_rows": first_eid, "input_bytes": dir_bytes(root),
            "oracle_s": oracle_s}


# ---------------------------------------------------------------- lake
def _ts(days_since_epoch_s):
    return pa.array(days_since_epoch_s.astype("int64") * 1000000,
                    type=pa.timestamp("us"))


def gen_lake(seed, root, oracles, sz):
    """sf0.1-shaped star schema plus events, the seeded lookup list, and
    the expected digests computed by DuckDB."""
    _fresh(root)
    rng = _rng(seed, 2)
    day = 86400
    t1995 = 788918400
    span_days = 2400
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{root}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{root}/nation.parquet")
    nc = sz.lake_customers
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.integers(-99999, 999999, nc) / 100.0, 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]}), f"{root}/customer.parquet")
    ns = sz.lake_suppliers
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.integers(-99999, 999999, ns) / 100.0, 2)}),
        f"{root}/supplier.parquet")
    npart = sz.lake_parts
    adj = np.array(["large", "small", "red", "blue", "hot", "cold", "shiny", "dull"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "pipe", "nut"])
    ptype = np.array(["LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptype[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, npart) / 10.0, 2)}),
        f"{root}/part.parquet")
    no = sz.lake_orders
    odate = t1995 + rng.integers(0, span_days, no) * day
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.integers(100000, 50000000, no) / 100.0, 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}), f"{root}/orders.parquet")
    nl = sz.lake_lineitems
    lok = np.sort(rng.integers(0, no, nl))
    starts = np.r_[0, np.nonzero(np.diff(lok))[0] + 1]
    sizes = np.diff(np.r_[starts, nl])
    # 1-based line number within each order
    linenum = (np.arange(nl) - np.repeat(starts, sizes) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + rng.integers(0, 110000, nl) / 100.0), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(t1995 + rng.integers(1, span_days + 90, nl) * day)}),
        f"{root}/lineitem.parquet")
    # the copy set-up lays out: lineitem is already sorted by order key, so
    # contiguous slices give each file a narrow order-key range
    lineitem = pq.read_table(f"{root}/lineitem.parquet")
    os.makedirs(f"{root}/lineitem_laid_out")
    step = -(-nl // LAYOUT_FILES)
    for i in range(LAYOUT_FILES):
        _write(lineitem.slice(i * step, step),
               f"{root}/lineitem_laid_out/part-{i:05d}.parquet")
    ne = sz.lake_events
    t2024 = 1704067200
    ts_us = np.sort(t2024 * 1000000 + rng.integers(0, 30 * day * 1000000, ne))
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, sz.lake_event_users, ne), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": np.round(rng.integers(0, 56000, ne) / 100.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{root}/events.parquet")

    t0 = time.time()
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet')")

    def run(sql):
        table = con.execute(sql).fetch_arrow_table()
        return digest_table(table), table.num_rows

    queries = {}
    for q in LAKE_QUERIES:
        sha, n = run(INTERVAL_JOIN_SQL if q == "q_interval_join" else oracles[q])
        queries[q] = {"sha256": sha, "rows": n}
    lookups = []
    agg = ("SELECT COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) "
           "AS DOUBLE) AS sum_qty FROM lineitem WHERE ")
    for i in range(sz.lake_point_lookups):
        keys = sorted(int(x) for x in rng.choice(no, 3, replace=False))
        sha, n = run(agg + f"l_orderkey IN ({','.join(map(str, keys))})")
        lookups.append({"name": f"point_{i}", "orderkeys": keys, "sha256": sha})
    for i in range(sz.lake_where_lookups):
        lo = int(rng.integers(0, no - no // 8))
        parts = sorted(int(x) for x in rng.choice(npart, 40, replace=False))
        sha, n = run(agg + f"l_orderkey BETWEEN {lo} AND {lo + no // 8} AND "
                     f"l_partkey IN ({','.join(map(str, parts))})")
        lookups.append({"name": f"where_{i}", "orderkey_lo": lo,
                        "orderkey_hi": lo + no // 8, "partkeys": parts, "sha256": sha})
    con.close()
    oracle_s = time.time() - t0
    return {"queries": queries, "lookups": lookups,
            "input_rows": 5 + 25 + nc + ns + npart + no + nl + ne,
            "input_bytes": dir_bytes(root), "oracle_s": oracle_s}


# ---------------------------------------------------------------- corpus
def gen_corpus(seed, root, sz):
    """Documents with injected exact duplicates, near duplicates and
    benchmark contamination; clustered embeddings with injected near-copy
    vectors; a seeded external query batch for the ANN tier."""
    _fresh(root)
    rng = _rng(seed, 3)
    nd = sz.corpus_docs
    syll = ["ka", "lo", "mi", "ra", "to", "ne", "su", "vi", "da", "pe", "go", "ri"]
    vocab = sorted({"".join(syll[j] for j in rng.integers(0, 12, 3 + i % 2))
                    for i in range(sz.corpus_vocab * 2)})[:sz.corpus_vocab]
    vocab = np.array(vocab)
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    texts = []
    for i in range(nd):
        n_words = int(rng.integers(40, 90))
        words = vocab[rng.choice(len(vocab), n_words, p=zipf)].tolist()
        for j in np.nonzero(rng.random(n_words) < 0.15)[0]:
            words[j] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        texts.append(words)
    bench = np.arange(nd) % 11 == 0
    candidates = np.nonzero(~bench & (np.arange(nd) > nd // 10))[0]
    picked = rng.permutation(candidates)
    n_exact = int(nd * CORPUS_EXACT_DUP_SHARE)
    n_near = int(nd * CORPUS_NEAR_DUP_SHARE)
    n_cont = int(nd * CORPUS_CONTAMINATED_SHARE)
    exact = sorted(int(x) for x in picked[:n_exact])
    near = sorted(int(x) for x in picked[n_exact:n_exact + n_near])
    cont = sorted(int(x) for x in picked[n_exact + n_near:n_exact + n_near + n_cont])
    langs = np.array(LANGS)[rng.integers(0, 5, nd)]
    langs[rng.random(nd) < 0.02] = "xx"
    sources = [i for i in range(nd // 10) if not bench[i]]
    for i in exact:
        src = sources[int(rng.integers(0, len(sources)))]
        texts[i] = list(texts[src])
        langs[i] = langs[src]  # an exact copy is a copy of the whole record
    for i in near:
        words = list(texts[sources[int(rng.integers(0, len(sources)))]])
        words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts[i] = words
    bench_ids = np.nonzero(bench)[0]
    for i in cont:
        b = texts[int(bench_ids[int(rng.integers(0, len(bench_ids)))])]
        at = int(rng.integers(0, len(texts[i]) - 12))
        texts[i] = texts[i][:at] + b[:12] + texts[i][at + 12:]
    joined = [" ".join(w) for w in texts]
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": joined,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in joined], pa.int64())}),
        f"{root}/documents.parquet")

    nv, dim = sz.corpus_vectors, sz.corpus_dim
    cents = rng.normal(size=(sz.corpus_clusters, dim))
    label = rng.integers(0, sz.corpus_clusters, nv)
    vecs = cents[label] + 0.6 * rng.normal(size=(nv, dim))
    n_vdup = int(nv * CORPUS_VECTOR_DUP_SHARE)
    vdup = sorted(int(x) for x in rng.choice(np.arange(nv // 2, nv), n_vdup, replace=False))
    vsrc = [int(x) for x in rng.integers(0, nv // 2, n_vdup)]
    for i, j in zip(vdup, vsrc):
        vecs[i] = vecs[j] + 0.01 * rng.normal(size=dim)
        label[i] = label[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), emb_type),
        "label": pa.array(label, pa.int32())}), f"{root}/embeddings.parquet")
    qsrc = rng.choice(nv, sz.corpus_queries, replace=False)
    qv = vecs[qsrc] + 0.2 * rng.normal(size=(sz.corpus_queries, dim)).astype(np.float32)
    qv = (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype(np.float32)
    qids = 10 ** 9 + np.arange(sz.corpus_queries)
    _write(pa.table({
        "query_id": pa.array(qids, pa.int64()),
        "embedding": pa.array(list(qv), emb_type)}), f"{root}/queries.parquet")
    t0 = time.time()
    # exact top-k by cosine (the vectors are unit length), ties to the
    # smaller id, as graft's exact tier orders them
    sims = qv.astype(np.float64) @ vecs.astype(np.float64).T
    order = np.lexsort((np.broadcast_to(np.arange(nv), sims.shape), -sims), axis=1)
    exact_topk = [[int(q), [int(x) for x in row[:CORPUS_TOPK]]]
                  for q, row in zip(qids, order)]
    oracle_s = time.time() - t0
    return {"docs": nd, "benchmark_ids": int(bench.sum()),
            "exact_dup_ids": exact, "near_dup_ids": near, "contaminated_ids": cont,
            "vector_dup_pairs": [[j, i] for i, j in zip(vdup, vsrc)],
            "queries": sz.corpus_queries, "k": CORPUS_TOPK, "exact_topk": exact_topk,
            "input_rows": nd + nv + sz.corpus_queries, "input_bytes": dir_bytes(root),
            "oracle_s": oracle_s}


def generate(workload, seed, root, oracles, toy=False):
    """Write one workload's inputs under `root` and return its expected
    values; `oracle_s` in them is the time spent computing those values
    (DuckDB, digests, exact search), which set-up time leaves out."""
    sz = sizes(toy)
    if workload == "etl_landing":
        return gen_etl(seed, root, sz)
    if workload == "lake_queries":
        return gen_lake(seed, root, oracles, sz)
    if workload == "corpus_curation":
        return gen_corpus(seed, root, sz)
    raise ValueError(f"unknown workload {workload}")
