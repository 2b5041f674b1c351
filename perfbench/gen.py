"""Seeded input generator for the benchmark.

Writes the ten fixture-shaped tables (TPC-H-ish star schema, `events`,
`documents`, `embeddings`) and a `system.runtime.queries`-shaped query log
as parquet. Every value is drawn from one numpy generator seeded by the
caller, so the same (seed, sizes) always yields the same content; `digest`
hashes that content (not the parquet bytes) so it is stable across writers.
`perfbench/run.py` calls `generate`.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PROFILED = ("lineitem", "orders", "customer", "part", "supplier")

# one row group per ~64k rows, so a table spans several scan tasks
ROW_GROUP = 65536


def _ts(days_from, days_to, rng, n, whole_days=True):
    """Naive microsecond timestamps (read by Spark as TIMESTAMP_NTZ)."""
    lo = (np.datetime64(days_from, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)
    hi = (np.datetime64(days_to, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)
    if whole_days:
        us = rng.integers(lo, hi, n) * 86_400_000_000
    else:
        us = rng.integers(lo * 86_400_000_000, hi * 86_400_000_000, n)
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _sample(rng, values, k):
    """`k` distinct items of `values`."""
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), k, replace=False)])


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(),
                    pa.string())


def tables(seed, sf):
    """The ten fixture tables at scale `sf` (sf=1 → 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = n_ord * 4
    n_events = max(1000, int(1_000_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, [f"{a} {b}" for a in adjectives for b in nouns], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 2000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-02", rng, n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", "2001-11-05", rng, n_line)})
    ts = np.sort(_ts("2024-01-01", "2024-01-31", rng, n_events, whole_days=False)
                 .cast(pa.int64()).to_numpy())
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_events // 66), n_events), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
             "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
             "value", "vector", "window"]
    n_docs = 500
    texts = []
    for i in range(n_docs):
        words = np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), rng.integers(10, 100))]
        if i % 20 == 19:  # a near-duplicate of the previous document
            words = np.asarray(texts[-1].split() + ["dup"], dtype=object)
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(500, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(500), pa.int64()),
        # "element" is the list item name parquet readers give back
        "embedding": pa.array(emb.astype(np.float32).tolist(),
                              pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32())})
    return out


# Columns and joins the query texts reference.
_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                 "l_shipdate"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
}
_JOINS = {
    "lineitem": [("orders", "l_orderkey = o_orderkey"), ("part", "l_partkey = p_partkey"),
                 ("supplier", "l_suppkey = s_suppkey")],
    "orders": [("customer", "o_custkey = c_custkey"), ("lineitem", "o_orderkey = l_orderkey")],
    "customer": [("nation", "c_nationkey = n_nationkey")],
    "part": [("lineitem", "p_partkey = l_partkey")],
    "supplier": [("nation", "s_nationkey = n_nationkey")],
}
_GROUPABLE = {"l_returnflag", "l_linestatus", "l_linenumber", "o_orderstatus",
              "o_orderpriority", "c_mktsegment", "c_nationkey", "p_brand", "p_type",
              "p_size", "s_nationkey"}
_DATES = {"l_shipdate", "o_orderdate"}
_STRINGS = {"l_returnflag": "NAR", "l_linestatus": "FO", "o_orderstatus": "FOP"}


def _predicate(rng, c):
    if c in _DATES:
        y = int(rng.integers(1995, 2002))
        m = int(rng.integers(1, 13))
        return f"{c} >= DATE '{y}-{m:02d}-01'"
    if c in _STRINGS:
        return f"{c} = '{_STRINGS[c][rng.integers(len(_STRINGS[c]))]}'"
    if c in ("c_mktsegment",):
        return f"{c} = 'BUILDING'"
    if c in ("c_name", "s_name", "p_name", "p_brand", "p_type", "o_orderpriority"):
        return f"{c} LIKE '%{int(rng.integers(0, 100))}%'"
    op = ("<", ">", ">=", "=")[rng.integers(4)]
    return f"{c} {op} {int(rng.integers(1, 100_000))}"


def _text(rng, trino):
    t = PROFILED[rng.choice(5, p=[0.4, 0.25, 0.15, 0.12, 0.08])]
    cols = list(_COLS[t])
    join = ""
    if rng.random() < 0.35:
        other, cond = _JOINS[t][rng.integers(len(_JOINS[t]))]
        join = f" JOIN {other} ON {cond}"
        cols += _COLS.get(other, [])
    where_cols = _sample(rng, cols, int(rng.integers(0, 3)))
    group = [c for c in cols if c in _GROUPABLE]
    if group and rng.random() < 0.4:
        g = group[rng.integers(len(group))]
        measure = cols[rng.integers(len(cols))]
        items = [g, "count(*)", f"max({measure})"]
        tail = f" GROUP BY {g}"
    else:
        items = _sample(rng, cols, int(rng.integers(1, 4)))
        tail = ""
    if trino and rng.random() < 0.5:
        # Trino-only forms the introspector has to translate
        items = [c if "(" in c else f'"{c}"' for c in items]
    select = ", ".join(items)
    where = " AND ".join(_predicate(rng, c) for c in where_cols)
    sql = f"SELECT {select} FROM {t}"
    if trino and rng.random() < 0.3:
        sql += f" TABLESAMPLE BERNOULLI ({int(rng.integers(1, 50))})"
    sql += join
    if where:
        sql += f" WHERE {where}"
    sql += tail
    if rng.random() < 0.45:
        n = int(rng.integers(1, 1000))
        sql += f" FETCH FIRST {n} ROWS ONLY" if trino else f" LIMIT {n}"
    return sql


def query_texts(seed, n_texts, trino_share=0.15):
    """`n_texts` distinct SQL texts over the profiled tables' real columns."""
    rng = np.random.default_rng([seed, 2])
    seen, out = set(), []
    while len(out) < n_texts:
        s = _text(rng, rng.random() < trino_share)
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def query_log(seed, rows, n_texts):
    """A `system.runtime.queries`-shaped log: Zipf-skewed text frequencies and
    an interactive/batch mix of exec/CPU/IO/memory figures."""
    texts = query_texts(seed, n_texts)
    rng = np.random.default_rng([seed, 3])
    p = 1.0 / np.arange(1, n_texts + 1) ** 1.1
    idx = rng.choice(n_texts, rows, p=p / p.sum())
    interactive = rng.random(rows) < 0.7
    exec_ms = np.where(interactive, rng.lognormal(6.0, 1.0, rows),
                       rng.lognormal(11.0, 0.8, rows)).astype(np.int64)
    cpu = (exec_ms * rng.uniform(0.3, 0.95, rows)).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    create = np.sort(start + rng.integers(0, 30 * 86_400_000_000, rows))
    return pa.table({
        "query_id": pc.binary_join_element_wise(
            "q", pc.cast(pa.array(np.arange(rows)), pa.string()), ""),
        "query": pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()),
                                                pa.array(texts, pa.string())),
        "create_time": pa.array(create, pa.timestamp("us", tz="UTC")),
        "execution_time_ms": exec_ms,
        "cpu_time_ms": cpu,
        "scheduled_time_ms": (cpu * rng.uniform(1.0, 1.6, rows)).astype(np.int64),
        "input_bytes": rng.lognormal(np.where(interactive, 14.0, 20.0), 1.5).astype(np.int64),
        "peak_memory_bytes": rng.lognormal(np.where(interactive, 16.0, 22.0), 1.0).astype(np.int64),
        "peak_total_memory_bytes": rng.lognormal(np.where(interactive, 16.5, 22.5), 1.0)
        .astype(np.int64)})


def digest(named_tables):
    """SHA-256 over the tables' content, in name order. Schema metadata and
    dictionary encoding are storage details and do not count."""
    h = hashlib.sha256()
    for name in sorted(named_tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        t = named_tables[name]
        t = pa.table({c: (t[c].cast(t[c].type.value_type)
                          if pa.types.is_dictionary(t[c].type) else t[c]) for c in t.column_names})
        t = t.combine_chunks()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def generate(out_dir, seed, sf, log_rows, log_texts):
    """Write every input under `out_dir`; return the content digest."""
    os.makedirs(out_dir, exist_ok=True)
    named = tables(seed, sf)
    if log_rows:
        named["query_log"] = query_log(seed, log_rows, log_texts)
    for name, t in named.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP)
    return digest(named)
