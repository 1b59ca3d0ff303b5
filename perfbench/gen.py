"""Seeded input generators for the benchmark.

Two families:

* OpenWeatherMap poll traffic for the ETL workloads: ``tick=<n>/<file>.json``
  payload files in the layout ``graft.streaming.WeatherReplayProvider``
  reads, with planted exact duplicates, next-tick re-fetches of a key
  (identical or with a changed ``temp``) and out-of-order payloads that
  carry an older ``dt``. :func:`expected_target` is the last-writer-wins
  state the reference's ``DISTINCT`` + ``ON CONFLICT DO UPDATE`` merge
  leaves after a prefix of ticks (the later tick wins).
* The star-schema / text / vector tables the query boards read, as one
  parquet file per table. These are generated from a fixed data seed so
  the pinned result digests stay valid; a run's ``--seed`` only fixes the
  query order.
"""
import json
import os

import numpy as np

BASE_DT = 1704067200  # 2024-01-01T00:00:00Z
POLL_S = 300          # the reference polls every 5 minutes
DESCRIPTIONS = ["clear sky", "few clouds", "scattered clouds", "broken clouds",
                "overcast clouds", "light rain", "moderate rain", "mist",
                "thunderstorm", "snow"]

# Traffic dimensions of the ETL workloads. ``ticks`` is an upper bound:
# the run drains a fixed number of micro-batches and checks the prefix of
# ticks they consumed. Every tick carries exactly ``dup`` exact duplicates
# and, from the sixth tick on, ``refetch`` re-fetches of the previous
# tick's key and ``late`` payloads with an older key, on cities drawn at
# random: the traffic shares are fixed, so seeds differ in which keys
# collide, not in how much work a tick is.
#
# The 12 cities and the 5-minute cadence are the reference's. The shares
# (one of each kind per tick) are assumptions, not measurements: nothing
# records how often the reference's retries, unchanged observations or
# delayed deliveries happen. One per tick makes every batch exercise each
# branch of the merge (dropped duplicate, update, unchanged row, insert)
# while keeping a tick's work close to the reference's 12 payloads.
ETL = {
    "etl_poll": dict(cities=12, ticks=200, ticks_per_batch=1, dup=1, refetch=1, late=1),
    "etl_backfill": dict(cities=12, ticks=800, ticks_per_batch=16, dup=1, refetch=1, late=1),
}


def owm_payload(dt, tz, name, descs, temp):
    return json.dumps({"dt": dt, "timezone": tz, "name": name,
                       "weather": [{"description": d} for d in descs],
                       "main": {"temp": temp}}, separators=(",", ":"))


def etl_ticks(seed, cities, ticks, dup, refetch, late, **_):
    """Returns ``[[(file_stem, payload_dict), ...] per tick]``.

    Keys are ``(dt + timezone, name)``. Within one tick keys are unique
    apart from exact duplicates; a re-fetch repeats the previous tick's
    key, a late payload repeats a key 2-5 ticks old. Each re-fetch or
    late payload changes ``temp`` with probability 1/2.
    """
    rng = np.random.default_rng(seed)
    names = [f"City{c:03d}" for c in range(cities)]
    # fixed per-city timezone (a third of them west of UTC) and dt offset
    tzs = [int(rng.integers(-10, 13)) * 3600 if c % 3 else -int(rng.integers(1, 11)) * 3600
           for c in range(cities)]
    offs = rng.integers(0, POLL_S, cities)
    history = []  # per tick: {city: payload}
    out = []
    for t in range(ticks):
        files, cur = [], {}
        for c, name in enumerate(names):
            k = int(rng.integers(1, 4))
            descs = [DESCRIPTIONS[i] for i in rng.choice(len(DESCRIPTIONS), k, replace=False)]
            p = dict(dt=BASE_DT + t * POLL_S + int(offs[c]), tz=tzs[c], name=name,
                     descs=descs, temp=round(float(rng.normal(12, 8)), 2))
            cur[name] = p
            files.append((name, p))
        for c in rng.choice(cities, dup, replace=False):
            files.append((names[c] + "~dup", cur[names[c]]))
        if t >= 5:
            for c in rng.choice(cities, refetch, replace=False):
                old = dict(history[t - 1][names[c]])
                if rng.random() < 0.5:
                    old["temp"] = round(old["temp"] + float(rng.choice([-1, 1])) * 0.5, 2)
                files.append((names[c] + "~refetch", old))
            for c in rng.choice(cities, late, replace=False):
                old = dict(history[t - int(rng.integers(2, 6))][names[c]])
                if rng.random() < 0.5:
                    old["temp"] = round(old["temp"] - 1.25, 2)
                files.append((names[c] + "~late", old))
        history.append(cur)
        out.append(files)
    return out


def write_ticks(root, ticks):
    """Writes the payload files; returns the payload bytes of each tick."""
    sizes = []
    for t, files in enumerate(ticks):
        d = os.path.join(root, f"tick={t}")
        os.makedirs(d, exist_ok=True)
        n = 0
        for stem, p in files:
            body = owm_payload(p["dt"], p["tz"], p["name"], p["descs"], p["temp"])
            with open(os.path.join(d, stem + ".json"), "w") as f:
                f.write(body)
            n += len(body)
        sizes.append(n)
    return sizes


def row_of(p):
    """The reference's per-record transform (weather-etl.py:126-131):
    (local time as epoch seconds, city, joined descriptions, temp)."""
    return (p["dt"] + p["tz"], p["name"], ", ".join(p["descs"]), p["temp"])


def expected_target(ticks, n):
    """Last-writer-wins target after ticks ``0..n-1``: the later tick wins."""
    state = {}
    for files in ticks[:n]:
        for _, p in files:
            r = row_of(p)
            state[(r[0], r[1])] = r
    return state


# ---------------------------------------------------------------- boards

BOARD_DATA_SEED = 20240101
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def _ts_us(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def board_tables(out_dir, sf, seed=BOARD_DATA_SEED):
    """Writes the ten board tables at scale factor ``sf``, with the schemas,
    row counts and value shapes of the repository's fixture tables (see
    ``perfbench/README.md``, "Board data")."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "red", "blue", "hot", "old", "big"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    okeys = rng.integers(0, n_ord, n_line)
    supp = rng.integers(0, n_supp, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(supp, pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us("1995-01-02", 2498, rng, n_line)})
    n_users = int(15000 * sf)
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # word soup of 10-100 words; one document in 20 is a copy of another
    # (possibly of a copy) with " dup" appended, and ids are shuffled so
    # copies sit far from their source
    n_copy = n_docs // 20
    texts = [" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 101))))
             for _ in range(n_docs - n_copy)]
    for _ in range(n_copy):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    texts = [texts[i] for i in rng.permutation(n_docs)]
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
