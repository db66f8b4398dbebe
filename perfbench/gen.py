"""Seeded input generators for the benchmark.

Every input is a pure function of its seed: the same seed writes the same
bytes. The program under test sees only the files written here.

The shapes follow the repository's warehouse test data as measured at
sf0.01 and sf0.1 (the figures are in README.md); the values are drawn
here, so nothing is read from outside the checkout.

- ``etl_inputs``: a 211-style service-request extract (CSV in the schema of
  ``Pipeline.requestSchema``) derived from an events table and a customer
  table of the sf0.1 shape, the category taxonomy dimension, and the
  expected rollup with the planted counts the checks compare against.
- ``ingest_inputs``: a schedule of JSON-lines event files for the watched
  directory of ``IngestPipeline``, keyed like the sf0.1 events, with the
  due time of every file and the planted malformed-line count.
- ``registry_tables``: the ten warehouse tables (region .. embeddings) the
  registry keys read, in the column layout and shape of the test data.
"""

import json
import math
import os
import random
from datetime import datetime, timedelta

EPOCH_2024 = datetime(2024, 1, 1)
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# the events and customer tables at sf0.1
SF01_EVENTS, SF01_USERS, SF01_CUSTOMERS = 100000, 1500, 15000

# 211 service categories: (canonical code, group). The taxonomy lists
# all but the last few, so those fall into the UNKNOWN group.
CATEGORIES = [
    ("HOUSING SHELTER", "Housing"), ("HOUSING RENT ASSISTANCE", "Housing"),
    ("HOUSING REPAIR", "Housing"), ("HOUSING SEARCH", "Housing"),
    ("FOOD PANTRY", "Food"), ("FOOD ASSISTANCE", "Food"),
    ("FOOD MEALS", "Food"), ("FOOD SNAP", "Food"),
    ("UTILITIES ELECTRIC", "Utilities"), ("UTILITIES GAS", "Utilities"),
    ("UTILITIES WATER", "Utilities"), ("UTILITIES PHONE", "Utilities"),
    ("HEALTH CLINIC", "Health"), ("HEALTH DENTAL", "Health"),
    ("HEALTH MENTAL", "Health"), ("HEALTH PRESCRIPTION", "Health"),
    ("TRANSPORT BUS PASS", "Transportation"), ("TRANSPORT MEDICAL RIDE", "Transportation"),
    ("LEGAL EVICTION", "Legal"), ("LEGAL IMMIGRATION", "Legal"),
    ("EMPLOYMENT TRAINING", "Employment"), ("EMPLOYMENT SEARCH", "Employment"),
    ("INCOME TAX PREP", "Income"), ("INCOME BENEFITS", "Income"),
    ("CHILDCARE SUBSIDY", "Family"), ("CHILDCARE SEARCH", "Family"),
    ("UNLISTED OTHER", None), ("UNLISTED DISASTER", None),
    ("UNLISTED HOLIDAY", None),
]
REQUEST_HEADER = "request_id,ts,zip,category_code,outcome"
# a caller's ZIP: one base per nation (mod 8), spread over 40 codes
ZIP_BASES = [15213, 15090, 15106, 732, 15601, 16801, 19104, 1002]


def events(rng, n_events, n_users, t0=EPOCH_2024, days=30):
    """Rows (event_id, ts, user_id, type index, value, props k) in the
    shape of the warehouse's events table: users and types uniform, ts
    uniform over ``days``, value exponential with mean 50 (two decimals,
    at least 0.01), ``props`` k uniform in 0..99. Sorted by ts."""
    span = days * 86400 * 10**6
    out = sorted((t0 + timedelta(microseconds=rng.randrange(span)), rng.randrange(n_users),
                  rng.randrange(len(EVENT_TYPES)), max(0.01, round(rng.expovariate(1 / 50.0), 2)),
                  rng.randrange(100)) for _ in range(n_events))
    return [(i,) + e for i, e in enumerate(out)]


def _noisy_code(rng, code):
    """The canonical code with the case/whitespace noise cleaning removes."""
    words = code.split(" ")
    r = rng.random()
    if r < 0.3:
        words = [w.lower() for w in words]
    elif r < 0.45:
        words = [w.capitalize() for w in words]
    sep = "  " if rng.random() < 0.2 else " "
    s = sep.join(words)
    if rng.random() < 0.15:
        s = " " + s + "  "
    return s


def _noisy_outcome(rng, outcome):
    r = rng.random()
    if r < 0.2:
        return outcome.upper()
    if r < 0.3:
        return " " + outcome.capitalize()
    return outcome


def _outcome(etype, value):
    """A request's outcome from the event behind it: errors are 'NA'."""
    if EVENT_TYPES[etype] == "error":
        return "NA"
    return "referred" if value < 20 else "resolved" if value < 50 else "pending" if value < 100 else "declined"


def _zip_raw(rng, z):
    """A ZIP as the extract carries it: maybe unpadded, maybe padded with spaces."""
    s = str(z) if z >= 10000 or rng.random() < 0.5 else str(z).lstrip("0") or "0"
    if rng.random() < 0.1:
        s = " " + s + " "
    return s


def _fmt_ts(t):
    return t.isoformat(sep=" ", timespec="seconds")


def etl_inputs(out_dir, seed, n_events=SF01_EVENTS):
    """Write requests.csv, taxonomy.csv and expected.json under out_dir.

    Each caller is a user of an sf0.1-shaped events table and the
    customer of the same key (its nation gives the ZIP). A caller's
    events, in time order, group into requests of 1-3 versions
    (60/30/10 %); each version carries its event's time, a category
    from the event's type and ``props`` k (a later version re-categorizes
    when its k is below 25) and an outcome from its value."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 1000003 + 1)
    nation = [rng.randrange(25) for _ in range(SF01_CUSTOMERS)]
    by_user = {}
    for e in events(rng, n_events, SF01_USERS):
        by_user.setdefault(e[2], []).append(e)
    rows = []          # raw CSV lines, without the header
    latest = {}        # request_id -> (ts, zip5, canonical code, clean outcome)
    versions_hist = {}
    rid = 0
    for user in sorted(by_user):
        evs, z, i = by_user[user], ZIP_BASES[nation[user] % 8] + user % 40, 0
        while i < len(evs):
            r = rng.random()
            chunk = evs[i:i + (1 if r < 0.6 else 2 if r < 0.9 else 3)]
            i += len(chunk)
            rid += 1
            versions_hist[len(chunk)] = versions_hist.get(len(chunk), 0) + 1
            code, last = None, None
            for _, t, _, etype, value, k in chunk:
                if code is None or k < 25:
                    code = CATEGORIES[(etype * 100 + k) % len(CATEGORIES)][0]
                # versions of one request have distinct, increasing times
                t = t.replace(microsecond=0)
                if last is not None and t <= last:
                    t = last + timedelta(seconds=1)
                last = t
                outcome = _outcome(etype, value)
                rows.append(f"{rid},{_fmt_ts(t)},{_zip_raw(rng, z)},"
                            f"{_noisy_code(rng, code)},{_noisy_outcome(rng, outcome)}")
                latest[rid] = (t, f"{z:05d}", code, None if outcome == "NA" else outcome)
    # planted malformed rows: a non-integer id, an impossible timestamp,
    # a truncated line — each must land in the quarantine
    n_bad = max(3, len(rows) // 50)
    for i in range(n_bad):
        kind = i % 3
        if kind == 0:
            rows.append(f"REQ-{rng.randrange(10**6)},2024-02-02 00:00:00,15213,FOOD PANTRY,referred")
        elif kind == 1:
            rows.append(f"{rng.randrange(1, rid + 1)},2024-13-45 99:00:00,15213,FOOD PANTRY,referred")
        else:
            rows.append(f"{rng.randrange(1, rid + 1)},2024-03-03 10:00:00")
    rng.shuffle(rows)
    with open(os.path.join(out_dir, "requests.csv"), "w") as f:
        f.write(REQUEST_HEADER + "\n")
        f.write("\n".join(rows))
        f.write("\n")
    groups = {c: g for c, g in CATEGORIES if g is not None}
    with open(os.path.join(out_dir, "taxonomy.csv"), "w") as f:
        f.write("category_code,category_group\n")
        for c, g in sorted(groups.items()):
            f.write(f"{c},{g}\n")
    # the rollup the pipeline must export: (month, group, outcome) ->
    # (n_requests, n_zips) over the latest version of every valid id
    roll = {}
    for t, z, code, outcome in latest.values():
        key = (f"{t.year:04d}-{t.month:02d}-01T00:00:00.000Z", groups.get(code, "UNKNOWN"), outcome or "")
        n, zips = roll.get(key, (0, set()))
        zips.add(z)
        roll[key] = (n + 1, zips)
    expected = {
        "input_rows": len(rows),
        "malformed_rows": n_bad,
        "distinct_ids": len(latest),
        "versions_per_id": {str(k): v for k, v in sorted(versions_hist.items())},
        "unknown_latest": sum(1 for v in latest.values() if v[2] not in groups),
        "na_latest": sum(1 for v in latest.values() if v[3] is None),
        "rollup": sorted([k[0], k[1], k[2], n, len(zs)] for k, (n, zs) in roll.items()),
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def ingest_inputs(out_dir, seed, warm_files, n_files, lines_per_file, rate):
    """Write the JSON-lines file schedule under out_dir/pending.

    The first ``warm_files`` files load every (user_id, event_type) key of
    the sf0.1 events (1,500 users x 5 types); the timed files follow at
    ``rate`` files per second (their due times, in ms from the first, go
    to expected.json). Their lines are events whose keys are 90 % updates
    of a uniformly drawn existing key and 10 % new users; each timed file
    carries planted malformed lines."""
    pending = os.path.join(out_dir, "pending")
    os.makedirs(pending, exist_ok=True)
    rng = random.Random(seed * 1000003 + 2)
    base = [(u, e) for u in range(SF01_USERS) for e in range(len(EVENT_TYPES))]
    rng.shuffle(base)
    per_warm = -(-len(base) // warm_files)
    files = [base[i * per_warm:(i + 1) * per_warm] for i in range(warm_files)]
    new_users = SF01_USERS
    for _ in range(n_files):
        keys = []
        for _ in range(lines_per_file):
            if rng.random() < 0.9:
                keys.append(base[rng.randrange(len(base))])
            else:
                keys.append((new_users, rng.randrange(len(EVENT_TYPES))))
                new_users += 1
        files.append(keys)
    # event times and values in the events' shape, one stream for all files
    stream = iter(events(rng, sum(len(k) for k in files), 1))
    names, good_bytes, bad_total = [], [], 0
    for i, keys in enumerate(files):
        lines = []
        for u, e in keys:
            event_id, t, _, _, value, _ = next(stream)
            lines.append(json.dumps({"event_id": event_id, "ts": t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3],
                                     "user_id": u, "event_type": EVENT_TYPES[e], "value": value}))
        good_bytes.append(sum(len(l) + 1 for l in lines))
        if i >= warm_files:
            # planted malformed lines: not JSON, and a type-invalid value
            for j in range(max(1, lines_per_file // 50)):
                lines.insert(rng.randrange(len(lines) + 1),
                             "{not json" if j % 2 == 0 else
                             json.dumps({"event_id": 0, "ts": "2024-01-01T00:00:00.000",
                                         "user_id": 1, "event_type": "view", "value": "n/a"}))
                bad_total += 1
        name = f"f{i:05d}.jsonl"
        with open(os.path.join(pending, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        names.append(name)
    expected = {
        "files": names,
        "warm_files": warm_files,
        "due_ms": [round(i * 1000 / rate) for i in range(n_files)],
        "good_lines": sum(len(k) for k in files),
        "good_bytes": good_bytes,
        "malformed_lines": bad_total,
        "distinct_keys": len(base) + (new_users - SF01_USERS),
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


# the documents' vocabulary at sf0.01 and sf0.1: 30 words, near uniform
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
COLORS = ["red", "blue", "green", "small", "large", "steel", "black", "white"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "clip"]


def registry_tables(out_dir, scale):
    """Write the ten warehouse tables as parquet; ``scale`` 1.0 is the sf0.01 row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(42)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_orders, n_events, n_docs = int(15000 * scale), int(10000 * scale), int(500 * scale)
    n_users = max(20, int(150 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = ["HOUSEHOLD", "FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE"]
    write("customer", {"c_custkey": pa.array(range(n_cust), i64),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], i32),
                       "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
                       "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)]})
    write("supplier", {"s_suppkey": pa.array(range(n_supp), i64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], i32),
                       "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]})
    types = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
    write("part", {"p_partkey": pa.array(range(n_part), i64),
                   "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n_part)],
                   "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
                   "p_type": [rng.choice(types) for _ in range(n_part)],
                   "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], i32),
                   "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]})
    day0 = datetime(1995, 1, 1)
    write("orders", {"o_orderkey": pa.array(range(n_orders), i64),
                     "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], i64),
                     "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
                     "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)],
                     "o_orderdate": pa.array([day0 + timedelta(days=rng.randrange(0, 2404))
                                              for _ in range(n_orders)], ts),
                     "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                     "4-NOT SPECIFIED", "5-LOW"])
                                         for _ in range(n_orders)]})
    # four lines per order on average, each an independent (order, line
    # number 1-7) draw, so some orders have none and some pairs repeat
    n_lines = 4 * n_orders
    write("lineitem", {"l_orderkey": pa.array([rng.randrange(n_orders) for _ in range(n_lines)], i64),
                       "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_lines)], i64),
                       "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_lines)], i64),
                       "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(n_lines)], i32),
                       "l_quantity": pa.array([float(rng.randrange(1, 51)) for _ in range(n_lines)], f64),
                       "l_extendedprice": pa.array([round(rng.uniform(900, 105000), 2)
                                                    for _ in range(n_lines)], f64),
                       "l_discount": pa.array([rng.randrange(0, 11) / 100 for _ in range(n_lines)], f64),
                       "l_tax": pa.array([rng.randrange(0, 9) / 100 for _ in range(n_lines)], f64),
                       "l_returnflag": pa.array([rng.choice("ANR") for _ in range(n_lines)], s),
                       "l_linestatus": pa.array([rng.choice("OF") for _ in range(n_lines)], s),
                       "l_shipdate": pa.array([day0 + timedelta(days=rng.randrange(1, 2499))
                                               for _ in range(n_lines)], ts)})
    ev = events(rng, n_events, n_users)
    write("events", {"event_id": pa.array([e[0] for e in ev], i64),
                     "ts": pa.array([e[1] for e in ev], ts),
                     "user_id": pa.array([e[2] for e in ev], i64),
                     "event_type": [EVENT_TYPES[e[3]] for e in ev],
                     "value": [e[4] for e in ev],
                     "props": [f'{{"k": {e[5]}}}' for e in ev]})
    # 10-100 words per document; 5 % are a copy of an earlier document
    # with the word "dup" appended, 0.16 % an exact copy of one
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(rng.choice(texts) + " dup")
        elif texts and r < 0.0516:
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 101))))
    write("documents", {"doc_id": pa.array(range(n_docs), i64),
                        "text": texts,
                        "lang": [rng.choices(["en", "zh", "es", "de", "fr"], [44, 14, 14, 14, 14])[0]
                                 for _ in range(n_docs)],
                        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
                        "n_chars": pa.array([len(x) for x in texts], i64)})

    def unit():
        v = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]
    # unit-normalized, labels uniform and not clustered (as measured)
    write("embeddings", {"vec_id": pa.array(range(n_docs), i64),
                         "embedding": pa.array([unit() for _ in range(n_docs)], pa.list_(pa.float32())),
                         "label": pa.array([rng.randrange(10) for _ in range(n_docs)], i32)})
