"""Seeded operation generators for the four workloads.

Every generator is a pure function of (seed, client): the same seed yields
the same statement sequence and literals. A read carries its Snowflake
text (sent over the wire) and, where the oracle applies, the ANSI text
DuckDB runs on the same parquet.
"""

import csv
import os
import random
from dataclasses import dataclass, field

POOL_PER_TEMPLATE = 8   # pooled texts of each of 6 templates: 48, and the session reuse LRU holds 16
LAP = 12                # dashboard statements per lap: 6 fresh, 6 pooled
DECK_LAPS = 16          # laps before a pooled template's deck of ranks repeats
ZIPF_S = 1.2
CHUNK_ROWS = 100000     # the wire's rows per result chunk


@dataclass
class Op:
    sql: str
    cls: str
    kind: str = "read"          # read | write
    duck: str = None            # ANSI text for the DuckDB oracle, if checked
    bases: int = 1              # base tables the statement binds
    input_rows: int = 0         # rows of the base tables it reads
    effect: dict = field(default_factory=dict)   # elt: model update

    def record(self, wl):
        return {"wl": wl, "kind": self.kind, "cls": self.cls, "sql": self.sql,
                "bases": self.bases}


def _date(rng, lo_year=1992, hi_year=1998):
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-01"


def _same(sql):
    return sql, sql


# ── dashboard: short Snowflake-dialect reads over the sf0.1 lake ─────────

def _dash_templates(rows):
    o, li, c, e, p = (rows["orders"], rows["lineitem"], rows["customer"],
                      rows["events"], rows["part"])
    s, n = rows["supplier"], rows["nation"]
    return [
        ("point", 1, o, lambda r: _same(
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders "
            f"WHERE o_orderkey = {r.randrange(o)}")),
        ("range", 1, li, lambda r: (lambda d: _same(
            "SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
            f"WHERE l_shipdate >= CAST('{d}' AS TIMESTAMP) "
            f"AND l_shipdate < CAST('{d}' AS TIMESTAMP) + INTERVAL '45' DAY"))(_date(r))),
        ("group", 1, li, lambda r: _same(
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_extendedprice) AS rev "
            f"FROM lineitem WHERE l_discount <= {r.randint(0, 10) / 100:.2f} "
            "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2")),
        ("join2", 2, o + c, lambda r: _same(
            "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(o.o_totalprice) AS tp "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE c.c_nationkey = {r.randrange(25)} GROUP BY c.c_mktsegment ORDER BY 1")),
        ("join3", 3, li + s + n, lambda r: _same(
            "SELECT n.n_name, COUNT(*) AS n, SUM(l.l_extendedprice) AS rev "
            "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            f"WHERE l.l_partkey < {r.randrange(200, 2000)} GROUP BY n.n_name ORDER BY 1")),
        ("topk", 1, o, lambda r: _same(
            "SELECT o_orderkey, o_totalprice FROM orders "
            f"WHERE o_custkey = {r.randrange(15000)} "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5")),
        ("qualify", 1, c, lambda r: _same(
            "SELECT c_custkey, c_nationkey, c_acctbal FROM customer "
            f"WHERE c_mktsegment = '{r.choice(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}' "
            f"AND c_acctbal > {r.randrange(0, 9000)} "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY c_nationkey "
            "ORDER BY c_acctbal DESC, c_custkey) <= 2")),
        ("variant", 1, e, lambda r: (lambda et: (
            "SELECT props:src::STRING AS src, COUNT(*) AS n, SUM(value) AS v FROM events "
            f"WHERE event_type = '{et}' GROUP BY 1 ORDER BY 1",
            "SELECT json_extract_string(props, '$.src') AS src, COUNT(*) AS n, "
            f"SUM(value) AS v FROM events WHERE event_type = '{et}' GROUP BY 1 ORDER BY 1"))(
            r.choice(["view", "click", "purchase", "error", "signup"]))),
        ("variant_num", 1, e, lambda r: (lambda k: (
            f"SELECT COUNT(*) AS n, AVG(value) AS v FROM events WHERE props:k::INT > {k}",
            "SELECT COUNT(*) AS n, AVG(value) AS v FROM events "
            f"WHERE CAST(json_extract(props, '$.k') AS INTEGER) > {k}"))(r.randrange(100))),
        ("distinct", 1, o, lambda r: (lambda d: _same(
            "SELECT COUNT(DISTINCT o_custkey) AS c FROM orders "
            f"WHERE o_orderdate >= CAST('{d}' AS TIMESTAMP)"))(_date(r))),
        ("like", 1, p, lambda r: _same(
            "SELECT p_brand, COUNT(*) AS n FROM part "
            f"WHERE p_name LIKE '{r.choice(['large', 'small', 'hot', 'cold', 'shiny', 'red'])}%' "
            f"AND p_size < {r.randint(5, 50)} GROUP BY p_brand ORDER BY 2 DESC, 1 LIMIT 10")),
        ("show", 0, 0, lambda r: (r.choice(["SHOW TABLES", "DESCRIBE TABLE orders",
                                            "DESCRIBE TABLE lineitem"]), None)),
    ]


def _dash_op(t, rng):
    name, bases, input_rows, fn = t
    sql, duck = fn(rng)
    return Op(sql=sql, duck=duck, cls=name, bases=bases, input_rows=input_rows)


def dashboard_pool(seed, rows):
    """The shared pool of repeated statement texts: ``POOL_PER_TEMPLATE``
    seeded texts of each pooled template (the even-indexed ones), in
    template order; a template's k-th text has Zipf rank k."""
    rng = random.Random(f"{seed}-pool")
    ts = _dash_templates(rows)[::2]
    return [_dash_op(t, rng) for t in ts for _ in range(POOL_PER_TEMPLATE)]


def _zipf_deck(n_ranks, size, order):
    """``size`` ranks with counts proportional to Zipf weights (largest
    remainder), shuffled by ``order``, which the seed does not enter."""
    w = [1.0 / (i + 1) ** ZIPF_S for i in range(n_ranks)]
    exact = [size * x / sum(w) for x in w]
    counts = [int(x) for x in exact]
    for i in sorted(range(n_ranks), key=lambda i: counts[i] - exact[i])[:size - sum(counts)]:
        counts[i] += 1
    deck = [i for i, c in enumerate(counts) for _ in range(c)]
    random.Random(order).shuffle(deck)
    return deck


def dashboard_laps(seed, client, rows, pool=None):
    """Endless seeded laps of one dashboard session, ``LAP`` statements each:
    every odd-indexed template with fresh literals, and for every
    even-indexed template one of its pooled texts, the next of a fixed
    Zipf-weighted deck of its ranks. Every lap holds each template once, so
    a run's mix does not depend on the seed or on how many laps it counts;
    the seed draws the literals, the pool texts and the order inside a lap.
    Session c starts at lap 2c of the decks."""
    pool = pool or dashboard_pool(seed, rows)
    ts = _dash_templates(rows)
    n_pooled = len(pool) // POOL_PER_TEMPLATE
    decks = [_zipf_deck(POOL_PER_TEMPLATE, DECK_LAPS, f"dashboard-deck-{t}")
             for t in range(n_pooled)]
    rng = random.Random(f"{seed}-dash-{client}")
    lap = 2 * client
    while True:
        ops = [_dash_op(t, rng) for t in ts[1::2]]
        ops += [pool[t * POOL_PER_TEMPLATE + d[lap % DECK_LAPS]] for t, d in enumerate(decks)]
        rng.shuffle(ops)
        yield ops
        lap += 1


def dashboard_ops(seed, client, rows, pool=None):
    """The statements of ``dashboard_laps``, one after another."""
    for lap in dashboard_laps(seed, client, rows, pool):
        yield from lap


def warm_ops(seed, rows, templates="dashboard"):
    rng = random.Random(f"{seed}-warm")
    ts = _dash_templates(rows) if templates == "dashboard" else _analytic_templates(rows)
    return [_dash_op(t, rng) for t in ts]


# ── analytic: ClickBench-shape scans over the replicated lake ────────────

ANALYTIC_SETUP = ["ALTER SESSION SET USE_CACHED_RESULT = FALSE"]


def _analytic_templates(rows):
    li, o, e = rows["lineitem"], rows["orders"], rows["events"]
    n_parts = 20000
    # extracts sized past one wire chunk: lineitem rows per partkey ≈ li / n_parts
    per_part = max(1, li // n_parts)
    extract_parts = (CHUNK_ROWS * 5 // 4) // per_part
    # events.value is uniform on [0, 500): the width holding 1.25 chunks
    ev_width = 500 * (CHUNK_ROWS * 5 // 4) // e + 1
    return [
        ("h01", 1, li, lambda r: _same(
            f"SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > {r.randint(1, 49)}")),
        ("h02", 1, li, lambda r: _same(
            "SELECT SUM(l_extendedprice * (1 - l_discount)) AS rev, AVG(l_quantity) AS aq, "
            f"COUNT(*) AS n FROM lineitem WHERE l_shipdate >= CAST('{_date(r)}' AS TIMESTAMP)")),
        ("h03", 1, li, lambda r: _same(
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, "
            "SUM(l_extendedprice) AS p, AVG(l_discount) AS d, COUNT(*) AS n FROM lineitem "
            f"WHERE l_shipdate <= CAST('{_date(r)}' AS TIMESTAMP) GROUP BY 1, 2 ORDER BY 1, 2")),
        ("h04", 1, li, lambda r: _same(
            "SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem "
            f"WHERE l_discount >= {r.randint(0, 9) / 100:.2f}")),
        ("h05", 1, e, lambda r: _same(
            "SELECT user_id, COUNT(*) AS n FROM events "
            f"WHERE event_type = '{r.choice(['view', 'click', 'purchase', 'error', 'signup'])}' "
            "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10")),
        ("h06", 1, li, lambda r: _same(
            "SELECT l_suppkey, SUM(l_extendedprice) AS rev FROM lineitem "
            f"WHERE l_tax <= {r.randint(2, 8) / 100:.2f} "
            "GROUP BY l_suppkey ORDER BY rev DESC, l_suppkey LIMIT 10")),
        ("h07", 1, e, lambda r: _same(
            "SELECT COUNT(DISTINCT user_id) AS u, COUNT(*) AS n FROM events "
            f"WHERE value > {r.randrange(0, 400)}")),
        ("h09", 2, li + o, lambda r: _same(
            "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_extendedprice) AS rev "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            f"WHERE o.o_totalprice > {r.randrange(0, 400000)} GROUP BY 1 ORDER BY 1")),
        ("extract_li", 1, li, lambda r: (lambda lo: _same(
            "SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice "
            f"FROM lineitem WHERE l_partkey >= {lo} AND l_partkey < {lo + extract_parts}"))(
            r.randrange(0, n_parts - extract_parts))),
        ("extract_ev", 1, e, lambda r: (lambda lo: _same(
            "SELECT event_id, user_id, event_type, value FROM events "
            f"WHERE value >= {lo} AND value < {lo + ev_width}"))(
            r.randrange(0, max(1, 500 - ev_width)))),
    ]


def _rounds(rng, items):
    """Endless shuffled rounds of ``items``: every item once per round, so
    the mix of a run does not drift with the seed."""
    while True:
        order = list(items)
        rng.shuffle(order)
        yield from order


def analytic_ops(seed, client, rows):
    rng = random.Random(f"{seed}-analytic-{client}")
    for t in _rounds(rng, _analytic_templates(rows)):
        yield _dash_op(t, rng)


# ── elt: writers with their own Iceberg targets, readers over them ───────

ELT_WRITERS = 2
ELT_KEY_MOD = 6         # writer w's target: the orders with o_orderkey mod 6 = w
ELT_BATCH_ROWS = 1000
ELT_BATCHES = 40
ELT_OVERLAP = 0.3
ELT_GROUPS = 50
ELT_READER_SHAPES = 4
ELT_READER_ROUND = ELT_READER_SHAPES * ELT_WRITERS   # every shape on every target


class EltWriter:
    """One writer's seeded statement cycle plus the model of its tables:
    the target (key → (g, v, s)), the landing table and its stream."""

    def __init__(self, seed, w, orders, stage_dir):
        self.w = w
        self.rng = random.Random(f"{seed}-elt-{w}")
        self.stage = os.path.join(stage_dir, f"w{w}")
        # initial target: the writer's sixth of orders
        ok, ck, tp, pr = orders
        self.model = {k: (c % ELT_GROUPS, int(t // 1), p)
                      for k, c, t, p in zip(ok, ck, tp, pr) if k % ELT_KEY_MOD == w}
        self.key_space = sorted(self.model)
        self.landed = []
        self.pending = []
        self.batches = []
        self.cycle = 0

    def setup_sql(self):
        w = self.w
        return [
            f"CREATE STAGE stage_{w} URL='{self.stage}'",
            f"CREATE OR REPLACE TABLE land_{w} (k BIGINT, g BIGINT, v BIGINT, s VARCHAR)",
            f"CREATE OR REPLACE STREAM land_s_{w} ON TABLE land_{w} APPEND_ONLY = TRUE",
            f"CREATE OR REPLACE ICEBERG TABLE tgt_{w} AS SELECT o_orderkey AS k, "
            f"MOD(o_custkey, {ELT_GROUPS}) AS g, CAST(FLOOR(o_totalprice) AS BIGINT) AS v, "
            f"o_orderpriority AS s FROM orders WHERE MOD(o_orderkey, {ELT_KEY_MOD}) = {w}",
            f"CREATE OR REPLACE DYNAMIC TABLE dt1_{w} TARGET_LAG = '1 minute' AS "
            f"SELECT g, COUNT(*) AS n, SUM(v) AS sv FROM tgt_{w} GROUP BY g",
            f"CREATE OR REPLACE DYNAMIC TABLE dt2_{w} TARGET_LAG = '1 minute' AS "
            f"SELECT COUNT(*) AS ng, SUM(n) AS n, SUM(sv) AS sv FROM dt1_{w}",
        ]

    def write_batches(self):
        """Stage the landing files (seeded; one directory per batch)."""
        rng = random.Random(f"{self.rng.random()}-files")
        for b in range(ELT_BATCHES):
            d = os.path.join(self.stage, f"b{b}")
            os.makedirs(d, exist_ok=True)
            n_old = int(ELT_BATCH_ROWS * ELT_OVERLAP)
            keys = rng.sample(self.key_space, n_old) + [
                2 * 10**9 + self.w * 10**8 + b * 10**4 + j
                for j in range(ELT_BATCH_ROWS - n_old)]
            rows = [(k, rng.randrange(ELT_GROUPS), rng.randrange(10**6), f"l{b}")
                    for k in keys]
            with open(os.path.join(d, "data.csv"), "w", newline="") as f:
                cw = csv.writer(f)
                cw.writerow(["k", "g", "v", "s"])
                cw.writerows(rows)
            self.batches.append(rows)

    def _range(self, width):
        lo = self.rng.randrange(0, len(self.key_space) - width)
        return self.key_space[lo], self.key_space[lo + width]

    def ops(self):
        """Seeded cycles, one after another, until the staged batches run out."""
        while self.cycle < ELT_BATCHES:
            yield from self.cycle_ops()

    def cycle_ops(self):
        """One seeded cycle: COPY, stream-consuming MERGE, INSERT … SELECT,
        UPDATE, MERGE upsert, DELETE, and a refresh of both dynamic tables.
        Lazy: each statement's ranges and sizes follow the model after the
        previous one is applied."""
        w = self.w
        if self.cycle < ELT_BATCHES:
            c = self.cycle
            yield Op(f"COPY INTO land_{w} FROM @stage_{w}/b{c} "
                     "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)", "copy", "write",
                     input_rows=ELT_BATCH_ROWS, effect={"copy": c})
            yield Op(f"MERGE INTO tgt_{w} t USING (SELECT k, g, v, s FROM land_s_{w}) src "
                     "ON t.k = src.k WHEN MATCHED THEN UPDATE SET g = src.g, v = src.v, "
                     "s = src.s WHEN NOT MATCHED THEN INSERT (k, g, v, s) "
                     "VALUES (src.k, src.g, src.v, src.s)", "consume", "write",
                     input_rows=ELT_BATCH_ROWS, effect={"consume": True})
            a, b = self._range(300)
            off = 10**9 + (w * 1000 + c) * 10**6
            yield Op(f"INSERT INTO tgt_{w} SELECT k + {off}, g, v, s FROM tgt_{w} "
                     f"WHERE k BETWEEN {a} AND {b}", "insert", "write",
                     input_rows=len(self.model), effect={"insert": (a, b, off)})
            a, b = self._range(500)
            d = self.rng.randrange(1, 100)
            yield Op(f"UPDATE tgt_{w} SET v = v + {d}, s = 'u{c}' "
                     f"WHERE k BETWEEN {a} AND {b}", "update", "write",
                     input_rows=len(self.model), effect={"update": (a, b, d, f"u{c}")})
            vals = [(k, self.rng.randrange(ELT_GROUPS), self.rng.randrange(10**6), f"m{c}")
                    for k in self.rng.sample(self.key_space, 12)]
            vals += [(5 * 10**8 + w * 10**7 + c * 100 + j, self.rng.randrange(ELT_GROUPS),
                      self.rng.randrange(10**6), f"m{c}") for j in range(28)]
            src = ", ".join(f"({k}, {g}, {v}, '{s}')" for k, g, v, s in vals)
            yield Op(f"MERGE INTO tgt_{w} t USING (SELECT k, g, v, s FROM (VALUES {src}) "
                     "AS vals(k, g, v, s)) src ON t.k = src.k "
                     "WHEN MATCHED THEN UPDATE SET g = src.g, v = src.v, s = src.s "
                     "WHEN NOT MATCHED THEN INSERT (k, g, v, s) "
                     "VALUES (src.k, src.g, src.v, src.s)", "merge", "write",
                     input_rows=len(self.model), effect={"merge": vals})
            a, b = self._range(150)
            yield Op(f"DELETE FROM tgt_{w} WHERE k BETWEEN {a} AND {b}", "delete", "write",
                     input_rows=len(self.model), effect={"delete": (a, b)})
            for dt in (1, 2):
                yield Op(f"ALTER DYNAMIC TABLE dt{dt}_{w} REFRESH", "refresh", "write",
                         input_rows=len(self.model))
            self.cycle += 1

    def changed(self, op):
        """Rows the statement inserts, updates or deletes (model state before it)."""
        e = op.effect
        if "insert" in e or "update" in e or "delete" in e:
            a, b = (e.get("insert") or e.get("update") or e.get("delete"))[:2]
            return sum(1 for k in self.model if a <= k <= b)
        if "merge" in e:
            return len(e["merge"])
        if "consume" in e:
            return len(self.pending)
        return 0

    def apply(self, op):
        e = op.effect
        m = self.model
        if "copy" in e:
            rows = self.batches[e["copy"]]
            self.landed += rows
            self.pending += rows
        elif "consume" in e:
            for k, g, v, s in self.pending:
                m[k] = (g, v, s)
            self.pending = []
        elif "insert" in e:
            a, b, off = e["insert"]
            for k in [k for k in m if a <= k <= b]:
                m[k + off] = m[k]
        elif "update" in e:
            a, b, d, s = e["update"]
            for k in [k for k in m if a <= k <= b]:
                g, v, _ = m[k]
                m[k] = (g, v + d, s)
        elif "merge" in e:
            for k, g, v, s in e["merge"]:
                m[k] = (g, v, s)
        elif "delete" in e:
            a, b = e["delete"]
            for k in [k for k in m if a <= k <= b]:
                del m[k]

    def expected(self):
        """Final contents the wire must return: target rows, dt1, dt2."""
        tgt = [(k, g, v, s) for k, (g, v, s) in self.model.items()]
        groups = {}
        for g, v, _ in self.model.values():
            n, sv = groups.get(g, (0, 0))
            groups[g] = (n + 1, sv + v)
        dt1 = [(g, n, sv) for g, (n, sv) in groups.items()]
        dt2 = [(len(groups), sum(n for n, _ in groups.values()),
                sum(sv for _, sv in groups.values()))]
        return {f"SELECT k, g, v, s FROM tgt_{self.w}": tgt,
                f"SELECT g, n, sv FROM dt1_{self.w}": dt1,
                f"SELECT ng, n, sv FROM dt2_{self.w}": dt2}


def elt_reader_ops(seed, client, model_sizes):
    rng = random.Random(f"{seed}-eltread-{client}")
    for w, t in _rounds(rng, [(w, t) for w in range(ELT_WRITERS)
                              for t in range(ELT_READER_SHAPES)]):
        n = model_sizes[w]
        if t == 0:
            yield Op(f"SELECT g, COUNT(*) AS n, SUM(v) AS sv FROM tgt_{w} GROUP BY g ORDER BY g",
                     "agg", input_rows=n)
        elif t == 1:
            a = rng.randrange(0, 140000)
            yield Op(f"SELECT COUNT(*) AS n, MAX(v) AS mv FROM tgt_{w} "
                     f"WHERE k BETWEEN {a} AND {a + 5000}", "range", input_rows=n)
        elif t == 2:
            yield Op(f"SELECT ng, n, sv FROM dt2_{w}", "dt2", input_rows=1)
        else:
            yield Op(f"SELECT g, n, sv FROM dt1_{w} ORDER BY n DESC, g LIMIT 5", "dt1",
                     input_rows=ELT_GROUPS)
