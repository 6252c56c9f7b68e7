"""Seeded input generator for the benchmark.

Everything a run feeds the program comes from here and from the seed alone:

* `tables(seed, out_dir)` writes parquet tables with the schema, row counts,
  key ranges and value distributions of the fixed sf0.1 test data (measured
  on it, see the constants below), including its near-duplicate documents.
* `landing_order(seed, days)` is the order in which `pipeline_daily` lands
  its (table, day) partitions: mostly ascending, some days out of order,
  some `lineitem` days late.
* `storm(seed)` builds the `routing_storm` route set and event stream, and
  `storm_truth(spec)` replays it through an independent model of the
  routing semantics to give the exact multiset of (route, day) executions
  the program must fire.
"""
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 150_000
LINEITEMS = 600_000
CUSTOMERS = 15_000
DOCUMENTS = 5_000
EMBEDDINGS = 2_000
EMBED_DIM = 64
ORDER_DAYS = 2405
PIPELINE_DAYS = 96
EPOCH = dt.date(1995, 1, 1)
# Shapes measured on the fixed sf0.1 test data: a 30-word vocabulary;
# documents of 10 to 99 words; 5% of documents are a copy of another one
# with " dup" appended (copies of copies and two copies of one document, the
# exact duplicates, arise from that alone); order dates uniform over
# ORDER_DAYS days; lines per order Poisson(4) (uniform l_orderkey); ship
# dates uniform over days 1 to SHIP_DAYS - 1, independent of the order date.
WORDS = ("query row stream the batch sort value hash filter big data part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
DOC_WORDS = (10, 100)
NEAR_DUPS = DOCUMENTS // 20
SHIP_DAYS = 2500


def _ts(days):
    base = np.datetime64(EPOCH.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _documents(rng):
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(*DOC_WORDS)))
             for _ in range(DOCUMENTS)]
    for i in sorted(rng.choice(DOCUMENTS, NEAR_DUPS, replace=False)):
        j = (i + rng.integers(1, DOCUMENTS)) % DOCUMENTS
        texts[i] = texts[j] + " dup"
    return texts


TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")


def tables(seed, out_dir, names=TABLES):
    """Write the named tables (region, nation, customer, orders, lineitem,
    documents, embeddings) as single parquet files under `out_dir`. Each
    table draws from its own stream of the seed, so a table is the same
    whichever others are written with it."""
    os.makedirs(out_dir, exist_ok=True)
    for k, name in enumerate(TABLES):
        if name in names:
            cols = _TABLE[name](np.random.default_rng([seed, k]))
            pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _region(rng):
    return {"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}


def _nation(rng):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng):
    seg = np.array(["HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"])
    return {
        "c_custkey": pa.array(np.arange(CUSTOMERS, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, CUSTOMERS)])}


def _orders(rng):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return {
        "o_orderkey": pa.array(np.arange(ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, ORDERS)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, ORDERS), 2)),
        "o_orderdate": _ts(rng.integers(0, ORDER_DAYS, ORDERS)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, ORDERS)])}


def _lineitem(rng):
    return {
        "l_orderkey": pa.array(rng.integers(0, ORDERS, LINEITEMS, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, LINEITEMS, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, LINEITEMS, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, LINEITEMS, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, LINEITEMS).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, LINEITEMS), 2)),
        "l_discount": pa.array(rng.integers(0, 11, LINEITEMS) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, LINEITEMS) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, LINEITEMS)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, LINEITEMS)]),
        "l_shipdate": _ts(rng.integers(1, SHIP_DAYS, LINEITEMS))}


def _documents_table(rng):
    texts = _documents(rng)
    langs = np.array(["en", "en", "en", "fr", "zh", "de", "es"])
    return {
        "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, len(langs), DOCUMENTS)]),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}


def _embeddings(rng):
    vecs = rng.standard_normal((EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS, dtype=np.int32))}


_TABLE = {"region": _region, "nation": _nation, "customer": _customer, "orders": _orders,
          "lineitem": _lineitem, "documents": _documents_table, "embeddings": _embeddings}


PIPELINE_BLOCK = 8


def landing_order(seed, days):
    """(table, day) landings for `pipeline_daily`, in blocks of
    PIPELINE_BLOCK days. Within each block days ascend, except that one day
    (at position 1 or 2) has its `lineitem` land after the next day, and
    one pair of days (starting at position 4 or 5) lands in swapped order.
    Every block holds exactly its own days, so each block completes the
    same number of 7-day windows whatever the seed."""
    rng = random.Random(seed * 7919 + 1)
    events = []
    for b in range(0, len(days) - len(days) % PIPELINE_BLOCK, PIPELINE_BLOCK):
        block = list(days[b:b + PIPELINE_BLOCK])
        late = rng.choice((1, 2))
        swap = rng.choice((4, 5))
        block[swap], block[swap + 1] = block[swap + 1], block[swap]
        held = None
        for i, d in enumerate(block):
            events.append(("orders", d))
            if i == late:
                held = d
                continue
            events.append(("lineitem", d))
            if held and i == late + 1:
                events.append(("lineitem", held))
                held = None
    return events


# ---- routing_storm ---------------------------------------------------------

STORM_SOURCES = 96
STORM_JOINS = 600      # routes over raw sources
STORM_FEEDBACK = 300   # routes over other routes' outputs
STORM_DAYS = 16
STORM_SWEEP_EVERY = 50
# Sweeps from this index on expire every pending node of a TTL route: the
# synthetic sweep clock advances one hour per sweep and the TTL is 2.5 hours,
# while nodes are stamped with wall time at creation (see Storm.scala).
STORM_TTL_SWEEP = 3


def storm(seed):
    """Route set and event stream for one storm round.

    Each route is (id, ttl, inputs); an input is (kind, source, arg) with
    kind one of: 'p' plain trigger, 'g' ranged trigger over the last `arg`
    days with completion check, 'f' reference with completion check,
    'n' nearest over the last `arg` days, 'z' trigger whose filter admits
    only the days in `arg`. A source is ('s', i) for raw root i or ('r', j)
    for the output of route j. Events are ('e', source index, day index)
    or ('sweep',)."""
    rng = random.Random(seed * 104729 + 7)
    routes = []

    def raw(k):
        return [("s", i) for i in rng.sample(range(STORM_SOURCES), k)]

    # route shapes, TTL routes, late landings and redeliveries come in fixed
    # numbers; the seed picks which sources, days and events they fall on,
    # so every seed asks the router for the same mix of work
    shapes = "JJJKRRFNZ"
    ttl = set(rng.sample(range(STORM_JOINS + STORM_FEEDBACK),
                         (STORM_JOINS + STORM_FEEDBACK) * 3 // 10))
    for j in range(STORM_JOINS):
        shape = shapes[j % len(shapes)]
        if shape == "J":
            ins = [("p", s, None) for s in raw(2)]
        elif shape == "K":
            ins = [("p", s, None) for s in raw(3)]
        elif shape == "R":
            a, y = raw(2)
            ins = [("p", a, None), ("g", y, 2 + j % 2)]
        elif shape == "F":
            a, b, c = raw(3)
            ins = [("p", a, None), ("p", b, None), ("f", c, None)]
        elif shape == "N":
            a, b, c = raw(3)
            ins = [("p", a, None), ("p", b, None), ("n", c, 3)]
        else:
            a, b = raw(2)
            ins = [("p", a, None),
                   ("z", b, sorted(rng.sample(range(STORM_DAYS), STORM_DAYS * 2 // 3)))]
        routes.append((f"r{j:03d}", j in ttl, ins))
    first = len(routes)
    for j in range(first, first + STORM_FEEDBACK):
        up = rng.sample(range(first), 2)
        if j % 2:
            ins = [("g", ("r", up[0]), 2 + j // 2 % 2)]
        else:
            ins = [("p", ("r", up[0]), None), ("p", ("r", up[1]), None)]
        routes.append((f"r{j:03d}", j in ttl, ins))

    cells = [(s, d) for s in range(STORM_SOURCES) for d in range(STORM_DAYS)]
    late = set(rng.sample(cells, len(cells) // 10))
    landings = sorted((d + rng.random() * 3 + (rng.randint(3, 8) if (s, d) in late else 0), s, d)
                      for s, d in cells)
    redeliver = set(rng.sample(range(len(landings)), len(landings) // 10))
    events = []
    for n, (_, s, d) in enumerate(landings):
        events.append(("e", s, d))
        if n in redeliver:
            events.append(("e", s, d))  # at-least-once redelivery
        if (n + 1) % STORM_SWEEP_EVERY == 0:
            events.append(("sweep",))
    events.append(("sweep",))
    return {"routes": routes, "events": events}


class _Node:
    __slots__ = ("ready", "processed", "zombie")

    def __init__(self):
        self.ready = {}        # input index -> day (triggering inputs)
        self.processed = set()
        self.zombie = False


def storm_truth(spec):
    """Replay the stream through an independent model of the routing rules
    and return the executions as a sorted list of (route id, day).

    The model: an event is offered to every pending node of each route that
    declares its source as a trigger; a node takes it if that input is not
    yet set and its day equals the node's day. An event no node takes opens
    a new node, which is dropped at once if another trigger's filter can
    never admit its day. A node the event touched fires when every trigger
    is set and its completion checks pass; a sweep re-checks every pending
    node. Each execution completes its output and delivers it as an event."""
    routes = spec["routes"]
    by_source = {}
    for r, (_, _, ins) in enumerate(routes):
        for k, (kind, src, _) in enumerate(ins):
            if kind in "pgz":
                by_source.setdefault(src, []).append((r, k))
    complete = set()   # (source, day)
    pending = [[] for _ in routes]
    fired = []

    def triggers(r):
        return [k for k, (kind, _, _) in enumerate(routes[r][2]) if kind in "pgz"]

    def admits(r, k, d):
        kind, _, arg = routes[r][2][k]
        return kind != "z" or d in arg

    def is_ready(r, n):
        if n.zombie or set(n.ready) != set(triggers(r)):
            return False
        d = next(iter(n.ready.values()))
        for kind, src, arg in routes[r][2]:
            if kind == "g" and any((src, d - i) not in complete for i in range(arg)):
                return False
            if kind == "f" and (src, d) not in complete:
                return False
            if kind == "n" and all((src, d - i) not in complete for i in range(arg)):
                return False
        return True

    def receive(r, k, d, path):
        touched = []
        for n in pending[r]:
            if path in n.processed:
                touched.append(n)
            elif k not in n.ready and all(v == d for v in n.ready.values()):
                n.ready[k] = d
                n.processed.add(path)
                touched.append(n)
        if not touched:
            n = _Node()
            n.ready[k] = d
            n.processed.add(path)
            n.zombie = any(not admits(r, t, d) for t in triggers(r))
            pending[r].append(n)
            touched.append(n)
        pending[r] = [n for n in pending[r] if not n.zombie]
        ready = [n for n in touched if not n.zombie and is_ready(r, n)]
        pending[r] = [n for n in pending[r] if not any(n is x for x in ready)]
        return [(r, next(iter(n.ready.values()))) for n in ready]

    def deliver(src, d):
        ctxs = []
        for r, k in by_source.get(src, []):
            if admits(r, k, d):
                ctxs.extend(receive(r, k, d, (src, d)))
        run(ctxs)

    def run(ctxs):
        for r, d in ctxs:
            fired.append((routes[r][0], d))
            complete.add((("r", r), d))
            deliver(("r", r), d)

    sweep_no = 0
    for ev in spec["events"]:
        if ev[0] == "e":
            _, s, d = ev
            complete.add((("s", s), d))
            deliver(("s", s), d)
        else:
            sweep_no += 1
            ctxs = []
            for r, (_, ttl, _) in enumerate(routes):
                if not pending[r]:
                    continue
                if ttl and sweep_no >= STORM_TTL_SWEEP:
                    pending[r] = []
                    continue
                ready = [n for n in pending[r] if is_ready(r, n)]
                pending[r] = [n for n in pending[r] if not any(n is x for x in ready)]
                ctxs.extend((r, next(iter(n.ready.values()))) for n in ready)
            run(ctxs)
    return sorted(fired)


def write_storm(spec, path):
    """Write the storm spec as the line format Storm.scala reads:
    `D <first day>`, `R <id> <ttl 0|1> <input>...` with inputs
    `<kind>:<s|r><index>[:<arg>]`, then `E <source> <day>` and `S` lines."""
    with open(path, "w") as f:
        f.write("D 2024-01-01\n")
        for rid, ttl, ins in spec["routes"]:
            parts = []
            for kind, (t, i), arg in ins:
                a = "" if arg is None else ":" + (
                    ",".join(map(str, arg)) if isinstance(arg, list) else str(arg))
                parts.append(f"{kind}:{t}{i}{a}")
            f.write(f"R {rid} {int(ttl)} {' '.join(parts)}\n")
        for ev in spec["events"]:
            f.write(f"E {ev[1]} {ev[2]}\n" if ev[0] == "e" else "S\n")
