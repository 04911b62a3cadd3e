"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, scale): the same seed writes
the same bytes. Inputs land in a directory keyed by the generator version
and the seed, so a repeated seed reuses them and a changed recipe never
reads a stale copy.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any recipe below changes: it is part of every input directory name.
VERSION = 7

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
P_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = "en en en en de es fr zh".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US = 1_000_000
DAY_US = 86_400 * US
EPOCH_1995 = 788_918_400 * US  # 1995-01-01T00:00:00
EPOCH_2024 = 1_704_067_200 * US  # 2024-01-01T00:00:00


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def star_schema(out, seed, sf):
    """The star-schema test tables (region ... embeddings) the registered
    micro queries read, with the column names, types and value domains of
    the engine's test data. Row counts scale with `sf` (lineitem = 6 M x sf)."""
    rng = np.random.default_rng([seed, 1])
    n = lambda base, lo=1: max(lo, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb = n(50_000, 500), n(20_000, 500)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    days = (2001 - 1995) * 365 + 212
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, days, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, days, n_line) * DAY_US)})
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(10, n(15_000)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for _ in range(n_doc):
        text = " ".join(words[rng.integers(0, len(words), rng.integers(10, 90))])
        if rng.random() < 0.05:
            text += " dup" * int(rng.integers(1, 3))
        texts.append(text)
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


# ---- rest ------------------------------------------------------------------

KINDS = [f"k{i}" for i in range(8)]
REST_DAYS = 7
REST_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
REST_COLUMNS = ["k", "kind", "value", "_time", "_idem"]


def ms_to_iso(ms):
    """`yyyy-MM-dd HH:mm:ss.SSS` in UTC, the precision Spark's JSON output keeps."""
    s, frac = divmod(int(ms), 1000)
    return np.datetime64(s, "s").astype(str).replace("T", " ") + f".{frac:03d}"


def rest_rows(rng, n, day=None):
    """`n` rows of (k, kind, value, time in ms). With `day`, every row
    falls on that day of the week the tables cover, so one ingest batch
    writes one file."""
    if day is None:
        t = REST_T0_MS + rng.integers(0, REST_DAYS * 86_400_000, n)
    else:
        t = REST_T0_MS + day * 86_400_000 + rng.integers(0, 86_400_000, n)
    return (rng.integers(0, 1000, n), rng.integers(0, len(KINDS), n),
            np.round(rng.uniform(1, 1000, n), 3), t)


def rest_batch(rng, n, day, tag, dup_share=0.1):
    """One ingest batch: rows with unique `_idem` keys, of which about
    `dup_share` are then sent twice (same key, same values), so the
    server's in-batch dedup has work. Returns (payload, distinct rows)."""
    k, kind, value, t = rest_rows(rng, n, day)
    rows = [[str(k[i]), KINDS[kind[i]], repr(float(value[i])), ms_to_iso(t[i]),
             f"{tag}-{i}"] for i in range(n)]
    distinct = [(int(k[i]), KINDS[kind[i]], float(value[i]), int(t[i])) for i in range(n)]
    dups = [rows[int(i)] for i in rng.choice(n, int(n * dup_share), replace=False)]
    return {"columns": REST_COLUMNS, "data": rows + dups}, distinct


def rest_preload(seed):
    """The preload both tables receive: one batch of 2000 rows over the
    whole week. Returns the batches and their rows."""
    payload, rows = rest_batch(np.random.default_rng([seed, 2]), 2000, None, "p", 0.0)
    return [payload], rows


def rest_inputs(out, seed):
    """The preload and the dashboard requests over the static table."""
    with open(f"{out}/preload.json", "w") as f:
        json.dump(rest_preload(seed)[0], f)
    with open(f"{out}/dashboards.json", "w") as f:
        json.dump([{"query": q, "use_cache": True} for q in DASHBOARDS], f)


DASHBOARDS = [
    "SELECT kind, count(*) AS n, sum(value) AS s FROM static GROUP BY kind",
    "SELECT kind, max(value) AS m FROM static GROUP BY kind",
    "SELECT date_trunc('DAY', _time) AS d, count(*) AS n FROM static GROUP BY d",
    "SELECT k, count(*) AS n FROM static GROUP BY k ORDER BY n DESC, k LIMIT 10",
]


# ---- stream ----------------------------------------------------------------

STREAM_EVENTS = 8_000  # more than a 60 s closed loop of 50-event blocks commits
STREAM_BACKLOG = 12_000
# Set-up commits one block of 2000 events, then 8 blocks of 50 (Stream.scala).
STREAM_WARM = 2_400
STREAM_T0_MS = 1_709_287_200_000  # 2024-03-01T10:00:00Z


def _events(rng, n, prefix, dup_share=0.1, null_time_share=0.05):
    """`n` JSON events. Event times run forward with jitter of up to a
    minute, so they arrive out of order; some carry no `_time` (the
    pipeline defaults it); about `dup_share` repeat an event of the last
    500 with the same idem key."""
    out = []
    t = STREAM_T0_MS + np.arange(n) * 100 + rng.integers(-60_000, 60_000, n)
    for i in range(n):
        if out and rng.random() < dup_share:
            out.append(out[int(rng.integers(max(0, len(out) - 500), len(out)))])
            continue
        ev = {"_idem": f"{prefix}{i}",
              "_time": None if rng.random() < null_time_share else
              np.datetime64(int(t[i]), "ms").astype(str) + "Z",
              "user_id": int(rng.integers(0, 5000)),
              "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
              "value": float(np.round(rng.uniform(0, 100), 2))}
        out.append(json.dumps(ev, separators=(",", ":")))
    return out


def stream_inputs(out, seed):
    rng = np.random.default_rng([seed, 3])
    for name, n, prefix in (("warm", STREAM_WARM, "w"), ("events", STREAM_EVENTS, "e"),
                            ("backlog", STREAM_BACKLOG, "b")):
        with open(f"{out}/{name}.jsonl", "w") as f:
            f.write("\n".join(_events(rng, n, prefix, 0.0 if name == "warm" else 0.1)) + "\n")
