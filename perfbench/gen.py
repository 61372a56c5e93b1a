"""Seeded input generators. The same seed gives byte-identical inputs.

Each generator writes plain text files into a run's `inputs/` directory;
the engine receives only these files (and the table data).
"""
import bisect
import datetime
import os
import random

# --- broker requests ------------------------------------------------------
# Each template yields (Pinot SQL sent to the broker, ANSI twin run by
# DuckDB, how the answer is checked). Kinds: "rows" compares the row
# multiset, "ordered" compares rows in order, "limit10" checks the
# implicit LIMIT 10 selection as a subset of the twin's rows whose size is
# min(10, twin rows).

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
NATIONS = 25


def _t_lineitem_filter(r):
    d1 = r.randrange(0, 9) / 100
    d2 = d1 + r.choice([0.01, 0.02])
    q = r.randrange(5, 51)
    where = (f"l_discount BETWEEN {d1:.2f} AND {d2:.2f} "
             f"AND l_quantity < {q}")
    sql = f"SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem WHERE {where}"
    return sql, sql, "rows"


def _t_groupby_topk(r):
    m = r.randrange(5, 41)
    rem = r.randrange(0, m)
    k = r.randrange(3, 11)
    sql = (f"SELECT l_suppkey, COUNT(*) AS n FROM lineitem "
           f"WHERE l_partkey % {m} = {rem} GROUP BY l_suppkey "
           f"ORDER BY n DESC, l_suppkey LIMIT {k}")
    return sql, sql, "ordered"


def _ts(day, hour):
    return f"2024-01-{day:02d} {hour:02d}:00:00"


def _t_events_distinct(r):
    day, hour = r.randrange(1, 29), r.randrange(0, 24)
    span = r.randrange(1, 49)
    end_day, end_hour = day + (hour + span) // 24, (hour + span) % 24
    et = r.choice(EVENT_TYPES)
    lo, hi = _ts(day, hour), _ts(min(end_day, 31), end_hour)
    pinot = (f"SET timeoutMs = 30000; SELECT DISTINCTCOUNT(user_id) AS users "
             f"FROM events WHERE ts >= '{lo}' AND ts < '{hi}' "
             f"AND event_type = '{et}'")
    ansi = (f"SELECT COUNT(DISTINCT user_id) AS users FROM events "
            f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' "
            f"AND event_type = '{et}'")
    return pinot, ansi, "rows"


def _t_selection(r):
    c = r.randrange(1, 14990)
    sql = (f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
           f"WHERE o_custkey BETWEEN {c} AND {c + r.randrange(1, 6)}")
    return sql, sql, "limit10"


def _t_dimension_join(r):
    nk = r.randrange(0, NATIONS)
    year = r.randrange(1995, 2002)
    month = r.randrange(1, 13)
    pinot = (f"SELECT c_mktsegment, COUNT(*) AS n, SUM(o_totalprice) AS total "
             f"FROM orders JOIN customer ON o_custkey = c_custkey "
             f"WHERE c_nationkey = {nk} AND o_orderdate >= '{year}-{month:02d}-01' "
             f"GROUP BY c_mktsegment ORDER BY c_mktsegment")
    ansi = pinot.replace(f">= '{year}", f">= TIMESTAMP '{year}")
    return pinot, ansi, "ordered"


def _t_regexp(r, words):
    a, b = r.choice(words), r.choice(words)
    pattern = r.choice([f"^{a} ", f" {b}$", f"^{a} {b}$", f"{a}|{b}"])
    size = r.randrange(5, 51)
    pinot = (f"SELECT COUNT(*) AS n FROM part WHERE REGEXP_LIKE(p_name, '{pattern}') "
             f"AND p_size < {size}")
    ansi = (f"SELECT COUNT(*) AS n FROM part WHERE regexp_matches(p_name, '{pattern}') "
            f"AND p_size < {size}")
    return pinot, ansi, "rows"


def _t_events_groupby(r):
    u = r.randrange(0, 1450)
    sql = (f"SELECT event_type, COUNT(*) AS n, MAX(value) AS mx FROM events "
           f"WHERE user_id BETWEEN {u} AND {u + r.randrange(5, 51)} "
           f"GROUP BY event_type ORDER BY event_type")
    return sql, sql, "ordered"


# words of part.p_name ("large ring", "hot bolt", ...), frozen here so the
# generator needs no data
PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
              "new", "old", "plate", "red", "ring", "rod", "small", "widget"]

TEMPLATES = [
    ("lineitem_filter", _t_lineitem_filter),
    ("groupby_topk", _t_groupby_topk),
    ("events_distinct", _t_events_distinct),
    ("selection", _t_selection),
    ("dimension_join", _t_dimension_join),
    ("regexp", lambda r: _t_regexp(r, PART_WORDS)),
    ("events_groupby", _t_events_groupby),
]


def _t_view_lookup(r, n_keys):
    sql = (f"SELECT user_id, event_id, value FROM events_upsert "
           f"WHERE user_id = {r.randrange(n_keys)}")
    return sql, None, "none"


def _t_view_topk(r):
    sql = (f"SELECT event_type, COUNT(*) AS n, MAX(value) AS mx "
           f"FROM events_upsert WHERE value > {r.randrange(0, 900)} "
           f"GROUP BY event_type ORDER BY n DESC LIMIT 3")
    return sql, None, "none"


def requests(seed, n, n_keys):
    """n broker requests: dicts of template, sql, twin (ANSI SQL for
    DuckDB, None for reads of the changing upsert view) and check kind.
    The mix is balanced: every block holds each template once, in a
    seeded order, so short runs see the same mix."""
    r = random.Random(f"requests-{seed}")
    templates = TEMPLATES + [("view_lookup", lambda r: _t_view_lookup(r, n_keys)),
                             ("view_topk", _t_view_topk)]
    out = []
    while len(out) < n:
        block = list(templates)
        r.shuffle(block)
        for name, fn in block:
            sql, twin, check = fn(r)
            out.append({"template": name, "sql": sql, "twin": twin, "check": check})
    return out[:n]


# --- battery --------------------------------------------------------------

def write_battery(inputs, seed, names):
    order = sorted(names)
    random.Random(f"battery-{seed}").shuffle(order)
    _write_lines(os.path.join(inputs, "order.txt"), order)
    return order


# --- ingest ---------------------------------------------------------------

# the upsert key space and its skew: a Zipf law, so there are hot keys
KEYS = 20000
ZIPF_S = 1.1


def zipf_sampler(r, n_keys, s):
    """Inverse-CDF sampler over keys 0..n_keys-1 with P(k) ~ 1/(k+1)^s,
    keys shuffled so that hot keys are spread over the key space."""
    weights = [1.0 / (k + 1) ** s for k in range(n_keys)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    perm = list(range(n_keys))
    r.shuffle(perm)

    def draw():
        return perm[min(bisect.bisect_left(cdf, r.random()), n_keys - 1)]
    return draw


def ingest_events(seed, n, n_keys, zipf_s, base_ms=1706745600000):
    """n events with the `events` schema; user_id is the upsert key.
    Event i has ts = base + i ms, so the latest event of a key is its
    last one. Returns a list of (key, json payload)."""
    r = random.Random(f"ingest-{seed}")
    key = zipf_sampler(r, n_keys, zipf_s)
    out, last_sec, iso = [], None, None
    for i in range(n):
        k = key()
        ms = base_ms + i
        sec = ms // 1000
        if sec != last_sec:
            last_sec, iso = sec, datetime.datetime.fromtimestamp(
                sec, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        et = EVENT_TYPES[r.randrange(5)]
        value = r.randrange(0, 10_000_000) / 10_000
        props = r.randrange(100)
        out.append((k, f'{{"event_id":{i},"ts":"{iso}.{ms % 1000:03d}",'
                       f'"user_id":{k},"event_type":"{et}","value":{value!r},'
                       f'"props":"{{\\"k\\": {props}}}"}}'))
    return out


def write_ingest(inputs, seed, n_events, n_requests, n_probe):
    events = ingest_events(seed, n_events, KEYS, ZIPF_S)
    warm = ingest_events(f"warm-{seed}", 500, KEYS, ZIPF_S)
    reqs = requests(seed, n_requests, KEYS)
    _write_lines(os.path.join(inputs, "events.tsv"), [f"{k}\t{p}" for k, p in events])
    _write_lines(os.path.join(inputs, "warm.tsv"), [f"{k}\t{p}" for k, p in warm])
    _write_lines(os.path.join(inputs, "reads.sql"), [q["sql"] for q in reqs])
    # warm-up: one request per serving template, from a seed of its own
    _write_lines(os.path.join(inputs, "warm.sql"),
                 [fn(random.Random(f"warm-{i}"))[0] for i, (_, fn) in enumerate(TEMPLATES)])
    _write_lines(os.path.join(inputs, "probe.sql"),
                 [q["sql"] for q in reqs if q["twin"]][:n_probe])
    return events, reqs


def _write_lines(path, lines):
    with open(path, "w") as f:
        for line in lines:
            assert "\n" not in line
            f.write(line + "\n")
