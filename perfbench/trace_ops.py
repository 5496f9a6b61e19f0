"""The traced run's inputs: the same seeded data and statement generators
as the timed runs, written as one operations file for the JVM replay
(graft.perfbench.Trace).

The requested workload replays a full slice. Every other workload replays
a short one, so each per-layer metric has a value on every traced run:
the replay reports a layer from the requested workload when that workload
reaches it, else from the workload that does (``source`` in the report).
Short slices run only the passes whose layers no other slice measures.
Writes and operator calls run once untraced before they are traced, and
the slices are sized so that a layer has at least ``stats.MIN_MEDIAN``
warm samples from the requested workload and ``stats.MIN_BORROWED``
from a short slice (a traced run must stay within its time limit).
"""

import itertools
import json
import os
import random

import datagen
import workloads as W

FULL = {"dashboard": 12, "analytic": 10, "elt": 5, "corpus": 5}
SHORT = {"dashboard": 6, "analytic": 3, "elt": 3, "corpus": 3}
CORPUS_KINDS = ["dedup", "minhash", "cc", "similarity", "ivf", "text"]
CORPUS_QUERY_SETS = 16


def _read(wl, op, wire, session=True, span=True):
    r = op.record(wl)
    r["wire"] = wire
    r["session"] = session
    r["span"] = span and op.cls != "show"
    return r


def _setup(wl, sql, wire=False):
    return {"wl": wl, "kind": "setup", "cls": "setup", "sql": sql, "wire": wire}


def dashboard_slice(seed, rows, n, spans):
    """Session 0's first ``n`` statements, after each of their templates once
    on the wire and in the session. Without ``spans`` the slice measures
    only the wire against the session pass (server.*): the requested
    workload's own reads give the other layers."""
    picked = list(itertools.islice(W.dashboard_ops(seed, 0, rows), n))
    used = {op.cls for op in picked}
    ops = [_setup("dashboard", op.sql, True) for op in W.warm_ops(seed, rows) if op.cls in used]
    return ops + [_read("dashboard", op, True, span=spans) for op in picked]


def analytic_slice(seed, rows, n, full):
    """The first ``n`` statements; the short slice keeps only extracts and
    only their wire pass (chunked results, server.chunk_fetch_ms)."""
    ops = [_setup("analytic", sql, True) for sql in W.ANALYTIC_SETUP]
    stream = W.analytic_ops(seed, 0, rows)
    if full:
        return ops + [_read("analytic", op, True) for op in itertools.islice(stream, n)]
    extracts = (op for op in stream if op.cls.startswith("extract"))
    return ops + [_read("analytic", op, True, session=False)
                  for op in itertools.islice(extracts, n)]


def elt_slice(seed, orders, stage_dir, cycles, reads):
    """Writer 0's first cycle with its writes untraced (every write kind
    once) and its refreshes traced, then ``cycles`` traced cycles, the
    refreshes of every other one left out (they are the slowest writes, and
    a traced run must stay within its time limit); with ``reads``, a read of
    its tables after every other traced write."""
    wr = W.EltWriter(seed, 0, orders, stage_dir)
    wr.write_batches()
    ops = [_setup("elt", sql) for sql in wr.setup_sql()]
    after = (r for r in W.elt_reader_ops(seed, 0, [len(wr.model)] * W.ELT_WRITERS)
             if "_0 " in r.sql + " ")
    traced = 0
    for op in wr.ops():
        if wr.cycle > cycles:
            break
        if op.cls == "refresh" and wr.cycle % 2:
            continue
        if wr.cycle == 0 and op.cls != "refresh":
            ops.append(_setup("elt", op.sql))
            wr.apply(op)
            continue
        r = op.record("elt")
        r["target"] = "tgt_0"
        r["changed"] = wr.changed(op)
        wr.apply(op)
        ops.append(r)
        traced += 1
        if reads and traced % 2 == 0:
            ops.append(_read("elt", next(after), False))
    return ops


def corpus_slice(seed, n, full=True):
    """``n`` shuffled rounds of the operator kinds. Every call of the full
    slice runs untraced first (tracing overhead); the short slice runs only
    its first round so."""
    rng = random.Random(f"{seed}-corpus-trace")
    out = []
    for i in range(n):
        kinds = list(CORPUS_KINDS)
        rng.shuffle(kinds)
        out += [{"wl": "corpus", "kind": "corpus", "cls": k, "slice": rng.randrange(4),
                 "query": rng.randrange(CORPUS_QUERY_SETS), "plain": full or i == 0}
                for k in kinds]
    return out


def write(path, wl, seed, work):
    lake = os.path.join(work, "lake")
    big = os.path.join(work, "lake_big")
    corpus = os.path.join(work, "corpus")
    tables = datagen.lake_tables(seed)
    rows = datagen.write_tables(tables, lake)
    size = (lambda w: FULL[w] if w == wl else SHORT[w])
    big_rows = datagen.write_tables(datagen.lake_tables(seed, 2), big)
    datagen.write_tables(datagen.corpus_tables(seed), corpus)
    o = tables["orders"]
    orders = [o.column(c).to_pylist() for c in
              ("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")]
    slices = {
        "dashboard": lambda: dashboard_slice(seed, rows, size("dashboard"),
                                             wl not in ("analytic", "elt")),
        "analytic": lambda: analytic_slice(seed, big_rows, size("analytic"), wl == "analytic"),
        "elt": lambda: elt_slice(seed, orders, os.path.join(work, "stage"), size("elt"),
                                 wl == "elt"),
        "corpus": lambda: corpus_slice(seed, size("corpus"), wl == "corpus"),
    }
    order = [wl] + [w for w in slices if w != wl]
    header = {"workload": wl, "seed": seed, "chunk_rows": W.CHUNK_ROWS,
              "lakes": {"dashboard": lake, "analytic": big, "elt": lake},
              "corpus_dir": corpus}
    with open(path, "w") as f:
        f.write(json.dumps(header) + "\n")
        for w in order:
            for op in slices[w]():
                f.write(json.dumps(op) + "\n")
