"""Load generator of the rest workload: three closed-loop HTTP clients
against the benchmark JVM's RestServer, with an ingest ledger that checks
every answer.

  ingest     posts seeded 50-row batches (some rows twice, same _idem key)
             into `live`;
  adhoc      sends time-bounded filter, aggregate and top-k searches over
             `live` with seeded ranges that never repeat;
  dashboard  re-issues the fixed `use_cache` aggregates over `static`.

Counts and sums of `live` must lie between what was acknowledged before
the request was sent and what was sent before the reply arrived.
"""
import http.client
import json
import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np

import gen

BATCH_ROWS = 50
T0 = time.perf_counter()
# Requests replayed in-process by a traced run (HTTP share of the RTT).
REPLAY_SEARCHES = 6
REPLAY_INGESTS = 3


def iso_ms(s):
    """Milliseconds since the epoch of a Spark JSON or generator timestamp."""
    s = s.replace("T", " ").replace("Z", "")
    if "+" in s:
        s = s[:s.index("+")]
    d = datetime.fromisoformat(s)
    return int(round((d - datetime(1970, 1, 1)).total_seconds() * 1000))


class Ledger:
    """Rows of `live` in ingest order. Batch b holds rows [ends[b-1], ends[b])."""

    def __init__(self, preload):
        self.lock = threading.Lock()
        self.k, self.kind, self.value, self.t = [], [], [], []
        self.ends = []
        self.acked = 0  # batches acknowledged
        self.sent = 0   # batches sent
        self.add(preload)
        self.acked = self.sent = 1

    def add(self, rows):
        with self.lock:
            for k, kind, value, t in rows:
                self.k.append(k); self.kind.append(kind)
                self.value.append(value); self.t.append(t)
            self.ends.append(len(self.k))

    def arrays(self):
        with self.lock:
            return (np.array(self.k), np.array(self.kind), np.array(self.value),
                    np.array(self.t), list(self.ends))


class Client(threading.Thread):
    def __init__(self, name, port, stop_at, step):
        super().__init__(name=name, daemon=True)
        self.port, self.stop_at, self.step = port, stop_at, step
        self.lat = []          # round trips (ms) of successful requests
        self.log = []          # (start s, ms, kind) of successful requests
        self.rtt = 0.0
        self.what = name
        self.failures = []
        self.attempted = 0
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def post(self, path, body):
        """Send one request; its round trip, from the first byte sent to
        the last byte read, is kept in `rtt` (ms)."""
        data = json.dumps(body).encode()
        t0 = time.perf_counter()
        self.conn.request("POST", path, data, {"Content-Type": "application/json"})
        r = self.conn.getresponse()
        out = r.status, r.read()
        self.rtt = (time.perf_counter() - t0) * 1000
        return out

    def run(self):
        i = 0
        while time.time() < self.stop_at:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                ok = self.step(self, i)
            except Exception as e:  # a dropped connection is a failed request
                ok = f"{type(e).__name__}: {e}"
                self.conn.close()
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            if ok is True:
                self.lat.append(self.rtt)
                self.log.append((round(t0 - T0, 3), round(self.rtt, 1), self.what))
            else:
                self.failures.append(f"{self.name} request {i}: {ok}")
            i += 1
        self.conn.close()


def adhoc_request(rng, i):
    """Request i of the ad-hoc stream: filter, aggregate or top-k over a
    seeded millisecond range (so no two requests are alike)."""
    kind = gen.KINDS[int(rng.integers(0, len(gen.KINDS)))]
    lo = gen.REST_T0_MS + int(rng.integers(0, gen.REST_DAYS * 86_400_000 - 3_600_000))
    hi = lo + int(rng.integers(3_600_000, 2 * 86_400_000))
    t0, t1 = gen.ms_to_iso(lo), gen.ms_to_iso(hi)
    shape = ("filter", "aggregate", "topk")[i % 3]
    if shape == "filter":
        v = float(np.round(rng.uniform(0, 900), 3))
        return shape, (kind, lo, hi, v), {
            "query": f"SELECT k, kind, value, _time FROM live WHERE kind = '{kind}' AND value > {v}",
            "start_time": t0, "end_time": t1, "limit": 50}
    where = f"kind = '{kind}' AND _time >= '{t0}' AND _time < '{t1}'"
    if shape == "aggregate":
        return shape, (kind, lo, hi, None), {
            "query": f"SELECT count(*) AS n, sum(value) AS s FROM live WHERE {where}"}
    return shape, (kind, lo, hi, None), {
        "query": f"SELECT k, kind, value, _time FROM live WHERE {where} "
                 "ORDER BY value DESC LIMIT 10"}


def check_adhoc(ledger, shape, params, rows, acked, sent):
    """None if `rows` is a correct answer given the ledger, else why not."""
    kind, lo, hi, v = params
    K, KIND, VAL, T, ends = ledger.arrays()
    m = (KIND == kind) & (T >= lo) & (T < hi)
    if v is not None:
        m &= VAL > v
    n_lo, n_hi = ends[acked - 1], ends[sent - 1]
    lower, upper = m[:n_lo], m[:n_hi]
    present = set(zip(K[:n_hi][upper].tolist(), VAL[:n_hi][upper].tolist(),
                      T[:n_hi][upper].tolist()))
    if shape == "aggregate":
        n, s = rows[0]["n"], rows[0].get("s") or 0.0
        if not lower.sum() <= n <= upper.sum():
            return f"count {n} outside [{lower.sum()}, {upper.sum()}]"
        s_lo, s_hi = VAL[:n_lo][lower].sum(), VAL[:n_hi][upper].sum()
        if not s_lo - 1e-6 * (1 + s_lo) <= s <= s_hi + 1e-6 * (1 + s_hi):
            return f"sum {s} outside [{s_lo}, {s_hi}]"
        return None
    cap = 50 if shape == "filter" else 10
    if len(rows) > cap or len(rows) < min(cap, int(lower.sum())):
        return f"{len(rows)} rows, expected between {min(cap, int(lower.sum()))} and {cap}"
    for r in rows:
        key = (r["k"], r["value"], iso_ms(r["_time"]))
        if r["kind"] != kind or key not in present:
            return f"row {r} is not an ingested row matching the filter"
    if shape == "topk":
        vals = [r["value"] for r in rows]
        if vals != sorted(vals, reverse=True):
            return "top-k rows not in descending order"
        if lower.any() and (not vals or vals[0] < VAL[:n_lo][lower].max()):
            return "top-k misses a larger acknowledged value"
    return None


def dashboard_answers(preload_rows):
    """Expected result of each dashboard, from the preload."""
    K = np.array([r[0] for r in preload_rows]); KIND = np.array([r[1] for r in preload_rows])
    VAL = np.array([r[2] for r in preload_rows]); T = np.array([r[3] for r in preload_rows])
    day = (T - gen.REST_T0_MS) // 86_400_000
    by_kind = lambda f: {kind: f(KIND == kind) for kind in gen.KINDS}
    counts = {int(k): int((K == k).sum()) for k in np.unique(K)}
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return [
        {(r,): v for r, v in by_kind(lambda m: (int(m.sum()), float(VAL[m].sum()))).items()},
        {(r,): v for r, v in by_kind(lambda m: float(VAL[m].max())).items()},
        {(int(d),): int((day == d).sum()) for d in np.unique(day)},
        {(k,): n for k, n in top},
    ]


def dashboard_got(i, rows):
    """A dashboard reply in the shape of `dashboard_answers`."""
    if i == 0:
        return {(r["kind"],): (r["n"], r["s"]) for r in rows}
    if i == 1:
        return {(r["kind"],): r["m"] for r in rows}
    if i == 2:
        return {((iso_ms(r["d"]) - gen.REST_T0_MS) // 86_400_000,): r["n"] for r in rows}
    return {(r["k"],): r["n"] for r in rows}


def close(a, b):
    if isinstance(a, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= 1e-6 * (1 + abs(a))
    return a == b


def drive(proc, inp, run, seed, seconds, deadline):
    """Wait for the JVM's server, run the three clients for `seconds`, tell
    the JVM to finish, and return the client-side figures (None if the
    JVM died first)."""
    ready = os.path.join(run, "ready.json")
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            return None
        time.sleep(0.05)
    time.sleep(0.05)
    with open(ready) as f:
        port = json.load(f)["port"]
    preload_rows = gen.rest_preload(seed)[1]
    with open(os.path.join(inp, "dashboards.json")) as f:
        dashboards = json.load(f)
    expected = dashboard_answers(preload_rows)
    ledger = Ledger(preload_rows)
    rng_ingest = np.random.default_rng([seed, 4])
    rng_adhoc = np.random.default_rng([seed, 5])
    user_bytes = [0]
    replay_search, replay_ingest = [], []

    def ingest(c, i):
        payload, distinct = gen.rest_batch(rng_ingest, BATCH_ROWS, i % gen.REST_DAYS, f"i{i}")
        if len(replay_ingest) < REPLAY_INGESTS:
            replay_ingest.append(payload)
        ledger.add(distinct)
        with ledger.lock:
            ledger.sent += 1
        status, body = c.post("/dae/v1/ingest/tables/live", payload)
        user_bytes[0] += len(json.dumps(payload["data"]))
        if status != 200:
            return f"HTTP {status}: {body[:200]!r}"
        with ledger.lock:
            ledger.acked += 1
        committed = json.loads(body)["committed"]
        return True if committed == len(distinct) else \
            f"committed {committed} of {len(distinct)} distinct rows"

    def adhoc(c, i):
        shape, params, req = adhoc_request(rng_adhoc, i)
        c.what = shape
        if len(replay_search) < REPLAY_SEARCHES:
            replay_search.append(req)
        with ledger.lock:
            acked = ledger.acked
        status, body = c.post("/dae/v1/search", req)
        with ledger.lock:
            sent = ledger.sent
        if status != 200:
            return f"HTTP {status}: {body[:200]!r}"
        why = check_adhoc(ledger, shape, params, json.loads(body)["rows"], acked, sent)
        return True if why is None else f"{shape}: {why}"

    def dashboard(c, i):
        j = i % len(dashboards)
        status, body = c.post("/dae/v1/search", dashboards[j])
        if status != 200:
            return f"HTTP {status}: {body[:200]!r}"
        got = dashboard_got(j, json.loads(body)["rows"])
        exp = expected[j]
        if got.keys() != exp.keys() or not all(close(exp[k], got[k]) for k in exp):
            return f"dashboard {j} differs from the preload"
        return True

    start = time.time()
    stop_at = start + seconds
    clients = [Client("ingest", port, stop_at, ingest), Client("adhoc", port, stop_at, adhoc),
               Client("dashboard", port, stop_at, dashboard)]
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=max(1, deadline - time.time()))
    elapsed = time.time() - start
    with open(os.path.join(run, "replay_search.jsonl"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in replay_search) + "\n")
    with open(os.path.join(run, "replay_ingest.json"), "w") as f:
        json.dump(replay_ingest, f)
    with open(os.path.join(run, "load.json"), "w") as f:
        json.dump({"ingest_user_bytes": user_bytes[0]}, f)
    with open(os.path.join(run, "client.json"), "w") as f:
        json.dump({c.name: c.log for c in clients}, f)
    proc.stdin.write("done\n")
    proc.stdin.flush()

    ing, adh, dash = clients

    def pct(xs, p):
        return float(np.percentile(xs, p)) if xs else 0.0

    ops = sum(len(c.lat) for c in clients)
    e2e = {"latency_ms": pct(adh.lat, 50), "ops_per_s": ops / elapsed}
    named = {"search_p50_ms": e2e["latency_ms"], "search_p95_ms": pct(adh.lat, 95),
             "dash_p50_ms": pct(dash.lat, 50), "ingest_p50_ms": pct(ing.lat, 50),
             "ingest_p95_ms": pct(ing.lat, 95), "ops_per_s": e2e["ops_per_s"]}
    layers = {"rest.search_rtt_ms": statistics.fmean(adh.lat) if adh.lat else 0.0,
              "rest.ingest_rtt_ms": statistics.fmean(ing.lat) if ing.lat else 0.0,
              "rest.dash_p50_ms": named["dash_p50_ms"],
              "rest.ingest_p50_ms": named["ingest_p50_ms"],
              "rest.ingest_p95_ms": named["ingest_p95_ms"]}
    return {"end_to_end": e2e, "named": named, "layers": layers,
            "failures": [f for c in clients for f in c.failures],
            "attempted": sum(c.attempted for c in clients), "samples": len(adh.lat),
            "completed": ops,
            "failed": sum(len(c.failures) for c in clients)}
