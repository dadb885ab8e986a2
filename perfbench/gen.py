"""Seed-driven input generators for the three benchmark workloads.

Every generator takes the run's seed and nothing else that varies, so the
same seed always yields byte-identical inputs (``tests/test_gen.py`` pins
that with a hash). Each one runs in a single thread.

* ``airport_messages``: airport wire messages in the reference Kafka JSON
  format (FIXTURES.md section 1) with fixed shares of dirty shapes and
  twice-delivered ids, plus the exact per-slice ground truth of
  ``Etl.stats`` over the cleaned rows.
* ``query_tables``: the ten driver-style tables (FIXTURES.md section 2) the
  query packs read, at a fixed small scale.
* ``stream_events``: ``events``-schema rows cut into hand-off chunks, with
  fixed shares of duplicate deliveries and of events later than the
  watermark, and the answers a correct stream must emit.
"""
from collections import Counter
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- etl_ingest -------------------------------------------------------------

# Share of each wire shape among first deliveries. "valid" and "no_icao" rows
# survive Etl.clean; the other shapes are dropped by it.
AIRPORT_SHAPES = (
    ("valid", 0.72),
    ("no_icao", 0.06),     # icao key absent: still a clean row
    ("empty_coord", 0.07),  # lat or lon is ""
    ("no_lat", 0.05),      # lat key absent
    ("bad_lat", 0.05),     # non-numeric lat
    ("bad_json", 0.05),    # truncated, syntactically invalid JSON
)
DUP_SHARE = 0.05  # share of deliveries that repeat an earlier id
WORDS = ("north", "south", "lake", "river", "field", "hill", "bay", "port",
         "city", "valley", "cape", "island", "mount", "forest", "plain")
ICAO_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def _coord(units):
    """Decimal string of a coordinate held in 1e-4 degree units."""
    return f"{units / 10000:.4f}"


def airport_messages(seed, n_slices, per_slice):
    """Return (keys, values, truth): ``n_slices * per_slice`` deliveries
    sorted by key, the order ``KafkaWire.surrogate`` assigns offsets in, so
    slice i is offsets [i * per_slice, (i + 1) * per_slice). ``truth[i]`` is
    the ``Etl.stats`` row the cleaned slice must produce."""
    rng = np.random.default_rng([seed, 1])
    total = n_slices * per_slice
    n_dup = int(total * DUP_SHARE)
    n_base = total - n_dup
    salt = int(rng.integers(0, 2 ** 62))
    ids = [f"{(i * 0x9E3779B97F4A7C15F39CC061 + salt) % (1 << 96):024x}"
           for i in range(n_base)]
    names, shares = zip(*AIRPORT_SHAPES)
    shape = rng.choice(len(names), size=n_base, p=np.array(shares) / sum(shares))
    lat = rng.integers(-900000, 900001, size=n_base)
    lon = rng.integers(-1800000, 1800001, size=n_base)
    icao = ["".join(r) for r in ICAO_LETTERS[rng.integers(0, 26, size=(n_base, 4))]]
    word = rng.integers(0, len(WORDS), size=n_base)
    bad = rng.integers(0, 3, size=n_base)
    msgs = []
    for i in range(n_base):
        kind = names[shape[i]]
        fields = [("id", ids[i])]
        if kind != "no_icao":
            fields.append(("icao", icao[i]))
        fields.append(("name", f"Airport {WORDS[word[i]]} {i}"))
        la, lo = _coord(lat[i]), _coord(lon[i])
        if kind == "empty_coord":
            la, lo = ("", lo) if bad[i] % 2 == 0 else (la, "")
        elif kind == "bad_lat":
            la = ("bogus", "n/a", "north")[bad[i]]
        if kind != "no_lat":
            fields.append(("lat", la))
        fields.append(("lon", lo))
        value = "{" + ", ".join(f'"{k}": "{v}"' for k, v in fields) + "}"
        if kind == "bad_json":
            value = value[: len(value) // 2]
        clean = kind in ("valid", "no_icao")
        msgs.append((ids[i], value, clean, int(lat[i]), int(lon[i])))
    dup_of = rng.choice(n_base, size=n_dup, replace=False)
    msgs.extend(msgs[j] for j in dup_of)
    msgs.sort(key=lambda m: m[0])
    truth = []
    for s in range(n_slices):
        rows = [m for m in msgs[s * per_slice:(s + 1) * per_slice] if m[2]]
        n = len(rows)
        truth.append({
            "n_rows": n,
            "n_ids": len({m[0] for m in rows}),
            "avg_lat": float(Decimal(sum(m[3] for m in rows)).scaleb(-4)) / n,
            "avg_lon": float(Decimal(sum(m[4] for m in rows)).scaleb(-4)) / n,
            "min_lat": float(_coord(min(m[3] for m in rows))),
            "max_lat": float(_coord(max(m[3] for m in rows))),
        })
    return [m[0] for m in msgs], [m[1] for m in msgs], truth


def write_airport_messages(path, keys, values):
    pq.write_table(pa.table({"id": pa.array(keys, pa.string()),
                             "value": pa.array(values, pa.string())}), path)


# ---- query_mix --------------------------------------------------------------

VOCAB = ("query", "stream", "the", "row", "line", "fast", "spark", "customer",
         "group", "small", "hash", "value", "filter", "data", "sort", "batch",
         "big", "dup", "vector", "column", "part", "scan", "agg", "table",
         "slow", "key", "order", "window", "join", "a", "merge")
US_PER_DAY = 86400 * 1000000
EPOCH_1995 = 788918400 * 1000000  # 1995-01-01T00:00:00 in microseconds
EPOCH_2024 = 1704067200 * 1000000  # 2024-01-01T00:00:00 in microseconds


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def query_tables(seed, sf=0.01, n_docs=500, n_vecs=500):
    """Return {table name: pyarrow.Table} with the FIXTURES.md section 2
    schemas. Row counts follow the driver fixture at ``sf``; the document
    and embedding corpora have fixed sizes, as in the fixture."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.integers(-99999, 999999, n_cust) / 100, 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.integers(-99999, 999999, n_supp) / 100, 2)})
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.integers(100000, 50000000, n_ord) / 100, 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.integers(90000, 10500000, n_line) / 100, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * US_PER_DAY)})
    etypes = np.array(["view", "click", "signup", "purchase", "error"])
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        # one document in ten is a near-copy of an earlier one, so the
        # dedup queries have real clusters to find
        if i >= 50 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 6, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vecs = rng.normal(0.0, 0.1, (n_vecs, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


def write_query_tables(dir_path, tables):
    for name, table in tables.items():
        pq.write_table(table, f"{dir_path}/{name}.parquet")


# ---- stream_ingest ----------------------------------------------------------

CHUNK_EVENT_US = 300 * 1000000  # event time each chunk advances: 5 minutes
STREAM_USERS = 500               # user-key cardinality
STREAM_DUP_SHARE = 0.04          # re-deliveries of an event from 1-3 chunks back
STREAM_LATE_SHARE = 0.02         # events stamped before the stream's first hour
LATE_FROM_CHUNK = 20             # default first chunk that may carry late events
KIND_ON_TIME, KIND_DUP, KIND_LATE = 0, 1, 2


def stream_events(seed, n_chunks, per_chunk, late_from=LATE_FROM_CHUNK):
    """Return a pyarrow table of ``n_chunks * per_chunk`` deliveries with the
    events schema plus ``chunk`` (hand-off index) and ``kind`` columns.

    On-time events of chunk i fall in [base + i * 5 min, base + (i+1) * 5 min),
    so no on-time event is ever behind the watermark (max event time minus
    one hour). A duplicate repeats an on-time event from 1-3 chunks earlier,
    always within the watermark, so the stream must drop it. A late event is
    stamped 1-3 hours before ``base``: it can only land in windows that start
    before ``base``, which the correctness gate leaves out. Late events start
    at chunk ``late_from``; the stream drops them all only if it has already
    committed two micro-batches by then (late rows are judged against the
    previous batch's watermark), so runs pass their warm-up chunk count."""
    rng = np.random.default_rng([seed, 3])
    etypes = ["view", "click", "signup", "purchase", "error"]
    cols = {k: [] for k in ("event_id", "ts", "user_id", "event_type",
                            "value", "props", "chunk", "kind")}
    history = []  # on-time rows, by chunk
    next_id = 0
    for c in range(n_chunks):
        u = rng.random(per_chunk)
        rows = []
        for j in range(per_chunk):
            if c >= 3 and u[j] < STREAM_DUP_SHARE:
                prev = history[c - int(rng.integers(1, 4))]
                rows.append(prev[int(rng.integers(0, len(prev)))][:6] + (KIND_DUP,))
                continue
            if c >= late_from and u[j] < STREAM_DUP_SHARE + STREAM_LATE_SHARE:
                ts = EPOCH_2024 - int(rng.integers(3600, 3 * 3600)) * 1000000
                kind = KIND_LATE
            else:
                ts = EPOCH_2024 + c * CHUNK_EVENT_US + int(rng.integers(0, CHUNK_EVENT_US))
                kind = KIND_ON_TIME
            rows.append((next_id, ts, int(rng.integers(0, STREAM_USERS)),
                         etypes[int(rng.integers(0, 5))],
                         round(float(rng.exponential(50.0)), 2),
                         f'{{"k": {int(rng.integers(0, 100))}}}', kind))
            next_id += 1
        history.append([r for r in rows if r[6] == KIND_ON_TIME])
        for r in rows:
            for k, v in zip(("event_id", "ts", "user_id", "event_type",
                             "value", "props", "kind"), r):
                cols[k].append(v)
            cols["chunk"].append(c)
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": _ts(cols["ts"]),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
        "chunk": pa.array(cols["chunk"], pa.int32()),
        "kind": pa.array(cols["kind"], pa.int8())})


def hourly_truth(events):
    """{(window start in us, event_type): count} over the on-time deliveries,
    duplicates included: what ``hourlyCountsAppend`` must emit for the
    windows it has closed."""
    kinds = events.column("kind").to_pylist()
    ts = events.column("ts").cast(pa.int64()).to_pylist()
    et = events.column("event_type").to_pylist()
    out = Counter()
    for k, t, e in zip(kinds, ts, et):
        if k != KIND_LATE:
            out[(t - t % 3600000000, e)] += 1
    return dict(out)


def dedup_truth(events):
    """Sorted (event_id, user_id, event_type) of every on-time event, once:
    what ``dedupWithinWatermark`` must emit (duplicates dropped, late events
    behind the watermark)."""
    cols = [events.column(c).to_pylist() for c in ("kind", "event_id", "user_id", "event_type")]
    return sorted(r[1:] for r in zip(*cols) if r[0] == KIND_ON_TIME)
