#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <dashboard|analytic|elt|corpus>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source on first use (perfbench/jvm, sbt), generates
its inputs from the seed, drives the engine from outside — over the
Snowflake wire for dashboard/analytic/elt, through graft.operators for
corpus — in a closed loop for ``--seconds``, checks every result after the
timed window and prints one JSON line last:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer metrics from an untimed traced replay. The line before it
carries the full report: every workload-specific metric (tail percentiles,
write latencies, space amplification, error rate) and the environment.
"""

import argparse
import itertools
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import jvm  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("dashboard", "analytic", "elt", "corpus")
CLIENTS = {"dashboard": 2, "analytic": 1, "elt": 4, "corpus": 1}
ANALYTIC_REPL = 3
WARM_LAPS = 2           # dashboard: laps per session before the window
HEAP = "3g"
CORPUS_HEAP = "2g"
END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
                    "peak_rss_mb": "MB"}
DETAIL_UNITS = {"read_p50_ms": "ms", "read_p90_ms": "ms", "read_p99_ms": "ms", "write_p50_ms": "ms",
                "write_p90_ms": "ms", "error_rate": "ratio", "space_amp": "ratio"}


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def cpu_ticks():
    """(steal, idle, total) CPU ticks of the machine since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], v[3] + v[4], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def usage(pid):
    """(CPU ticks of process ``pid``, ``cpu_ticks()``)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13]), cpu_ticks()
    except (OSError, ValueError, IndexError):
        return None


def window_usage(u0, u1):
    """The server's CPU seconds and the machine's idle share over a window."""
    if not (u0 and u1 and u0[1] and u1[1]) or u1[1][2] <= u0[1][2]:
        return {}
    return {"server_cpu_s": (u1[0] - u0[0]) / os.sysconf("SC_CLK_TCK"),
            "idle_share": round((u1[1][1] - u0[1][1]) / (u1[1][2] - u0[1][2]), 4)}


def environment(heap, ticks0):
    """The run's machine: cores, heap, load, and the share of CPU time the
    hypervisor took from this machine while the run ran (contention is
    reported, not an exit code)."""
    env = {"nproc": os.cpu_count(), "heap": heap,
           "loadavg": [round(x, 2) for x in os.getloadavg()]}
    ticks = cpu_ticks()
    if ticks0 and ticks and ticks[2] > ticks0[2]:
        env["cpu_steal_share"] = round((ticks[0] - ticks0[0]) / (ticks[2] - ticks0[2]), 4)
    return env


# ── wire workloads ────────────────────────────────────────────────────────

class Recorder:
    """Thread-safe per-op outcomes of the timed window."""

    def __init__(self):
        self.lock = threading.Lock()
        self.done = []           # (client, kind, cls, ms, input_rows)
        self.open = {}           # client → its ops of the lap in progress
        self.failed = 0
        self.errors = []
        self.results = {}        # sql → [duck sql, pyarrow tables]
        self.start = 0.0
        self.ends = {}           # client → end of its last completed lap
        self.laps = []           # (client, lap start, lap end, its ops)

    def ok(self, client, op, ms, table, keep):
        with self.lock:
            rec = (client, op.kind, op.cls, ms, op.input_rows)
            self.done.append(rec)
            self.open.setdefault(client, []).append(rec)
            if keep:
                self.results.setdefault(op.sql, [op.duck, []])[1].append(table)

    def fail(self, client, op, err):
        with self.lock:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{op.cls}: {err}")

    def lap_done(self, client):
        with self.lock:
            now = time.perf_counter()
            ops = self.open.pop(client, [])
            self.laps.append((client, self.ends.get(client, self.start), now, ops))
            self.ends[client] = now

    def rate(self, value):
        """Sum over clients of ``value`` over the client's completed laps per
        second of its own span, up to the end of its last one: a lap still
        running at the deadline neither stretches the window nor drops out
        of it halfway."""
        spans = {}
        for c, _, _, ops in self.laps:
            spans[c] = spans.get(c, 0.0) + sum(value(*rest) for _, *rest in ops)
        return sum(v / (self.ends[c] - self.start) for c, v in spans.items())


def closed_loop(client, session, laps, deadline, rec, keep, after=None):
    """One client: next statement only after the previous result is fully
    fetched and decoded. ``laps`` yields lists of operations; the rates
    count only the laps a client completes inside the window."""
    for lap in laps:
        for op in lap:
            if time.perf_counter() >= deadline:
                return
            t = time.perf_counter()
            try:
                table = session.query(op.sql)
            except Exception as e:  # a failed statement is counted, the loop goes on
                rec.fail(client, op, e)
                continue
            rec.ok(client, op, (time.perf_counter() - t) * 1000.0, table, keep(op, table))
            if after:
                after(op)
        rec.lap_done(client)


def single(ops):
    """Laps of one operation each."""
    return ([op] for op in ops)


def laps_of(ops, n):
    """Laps of ``n`` consecutive operations."""
    return iter(lambda: list(itertools.islice(ops, n)), [])


def run_parallel(fns):
    errors = []

    def guard(f):
        try:
            f()
        except Exception as e:
            errors.append(e)
    threads = [threading.Thread(target=guard, args=(f,)) for f in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def start_server(cp, work, lake):
    """Launches the wire server; the caller generates the lake while the JVM
    starts, then waits for the port with ``server_port``."""
    return jvm.launch(cp, os.path.join(work, "tmp"), HEAP,
                      os.path.join(work, "server.log"), "serve", lake)


def server_port(server, work):
    return int(jvm.read_line(server, "READY ", os.path.join(work, "server.log")))


def stop_in_background(server):
    """Stops the JVM while the caller checks results (neither is timed)."""
    t = threading.Thread(target=jvm.stop, args=(server,))
    t.start()
    return t


def check_reads(rec, lake):
    """Every distinct statement text against DuckDB; every execution of it
    against that answer. Returns (checked executions, wrong executions)."""
    duck = oracle.DuckOracle(lake)
    checked = wrong = 0
    try:
        for sql, (duck_sql, tables) in rec.results.items():
            if duck_sql is None:
                bad = [t for t in tables if t.num_rows == 0]
            else:
                want = duck.rows(duck_sql)
                bad = [t for t in tables
                       if not oracle.same(oracle.canonical(oracle.arrow_rows(t)), want)]
            checked += len(tables)
            wrong += len(bad)
            if bad:
                log(f"WRONG RESULT ({len(bad)}x): {sql}")
    finally:
        duck.close()
    return checked, wrong


def run_reads(wl, cp, work, seed, seconds, t0):
    repl = ANALYTIC_REPL if wl == "analytic" else 1
    lake = os.path.join(work, "lake")
    server = start_server(cp, work, lake)
    try:
        rows = datagen.write_tables(datagen.lake_tables(seed, repl), lake)
        port = server_port(server, work)
        log(f"server {time.time() - t0:.1f}s")
        n = CLIENTS[wl]
        sessions = [wire.Session(port) for _ in range(n)]
        if wl == "analytic":
            for s in sessions:
                for sql in W.ANALYTIC_SETUP:
                    s.query(sql)
            streams = [single(W.analytic_ops(seed, c, rows)) for c in range(n)]
        else:
            pool = W.dashboard_pool(seed, rows)
            streams = [W.dashboard_laps(seed, c, rows, pool) for c in range(n)]
        warm = W.warm_ops(seed, rows, wl)
        # warm pass: every template once (first table touches and code
        # generation are JVM-wide), spread over the sessions in parallel
        run_parallel([(lambda s=s, i=i: [s.query(op.sql) for op in warm[i::n]])
                      for i, s in enumerate(sessions)])
        if wl == "dashboard":
            # then each session's first laps, untimed: the window starts on a
            # JIT-warm JVM and with the reuse caches as they stand in steady state
            run_parallel([(lambda s=s, c=c: [s.query(op.sql) for lap in
                                             itertools.islice(streams[c], WARM_LAPS)
                                             for op in lap])
                          for c, s in enumerate(sessions)])
        log(f"warm {time.time() - t0:.1f}s")
        rec = Recorder()
        setup_s = time.time() - t0
        u0 = usage(server.pid)
        rec.start = time.perf_counter()
        deadline = rec.start + seconds
        # large results: the first execution per text is kept for the oracle
        keep = (lambda op, t: t.num_rows <= 1000 or op.sql not in rec.results)
        run_parallel([(lambda c=c: closed_loop(c, sessions[c], streams[c], deadline, rec, keep))
                      for c in range(n)])
        window = window_usage(u0, usage(server.pid))
        rss = jvm.vm_hwm_mb(server.pid)
        for s in sessions:
            s.close()
    except BaseException:
        jvm.stop(server)
        raise
    stopping = stop_in_background(server)
    try:
        checked, wrong = check_reads(rec, lake)
    finally:
        stopping.join()
    return summarize(rec, setup_s, rss, checked, wrong, {
        "clients": n, "data_rows": rows, "data_bytes": datagen.dir_bytes(lake),
        "window": window})


def run_elt(cp, work, seed, seconds, t0):
    lake = os.path.join(work, "lake")
    server = start_server(cp, work, lake)
    try:
        tables = datagen.lake_tables(seed)
        rows = datagen.write_tables({"orders": tables["orders"]}, lake)
        o = tables["orders"]
        orders = [o.column(c).to_pylist() for c in
                  ("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")]
        writers = [W.EltWriter(seed, w, orders, os.path.join(work, "stage"))
                   for w in range(W.ELT_WRITERS)]
        for wr in writers:
            wr.write_batches()
        port = server_port(server, work)
        log(f"server {time.time() - t0:.1f}s")
        wsess = [wire.Session(port) for _ in writers]
        rsess = [wire.Session(port) for _ in range(CLIENTS["elt"] - len(writers))]
        run_parallel([(lambda s=s, wr=wr: [s.query(sql) for sql in wr.setup_sql()])
                      for wr, s in zip(writers, wsess)])
        log(f"elt setup {time.time() - t0:.1f}s")
        sizes = [len(wr.model) for wr in writers]
        readers = [W.elt_reader_ops(seed, c, sizes) for c in range(len(rsess))]
        # warm pass, untimed: each writer's first cycle (every write kind and
        # both refreshes pay their cold first touches here) while the readers
        # run whole rounds of their shapes on fresh literals until the writers
        # are done
        writers_done = threading.Event()

        def warm_writers():
            try:
                run_parallel([(lambda s=s, wr=wr: [(s.query(op.sql), wr.apply(op))
                                                   for op in wr.cycle_ops()])
                              for wr, s in zip(writers, wsess)])
            finally:
                writers_done.set()

        def warm_reader(s, c):
            ops = W.elt_reader_ops(seed + 1, c, sizes)
            while True:
                for op in itertools.islice(ops, W.ELT_READER_ROUND):
                    s.query(op.sql)
                if writers_done.is_set():
                    return
        run_parallel([warm_writers] + [(lambda s=s, c=c: warm_reader(s, c))
                                       for c, s in enumerate(rsess)])
        log(f"warm {time.time() - t0:.1f}s")
        # a reader's lap is one round of its shapes over both targets, a
        # writer's lap one statement of its cycle
        rec = Recorder()
        setup_s = time.time() - t0
        u0 = usage(server.pid)
        rec.start = time.perf_counter()
        deadline = rec.start + seconds
        never = (lambda op, t: False)
        run_parallel(
            [(lambda c=c, s=s, wr=wr: closed_loop(c, s, single(wr.ops()), deadline, rec, never,
                                                  wr.apply))
             for c, (wr, s) in enumerate(zip(writers, wsess))] +
            [(lambda c=c, s=s, ops=ops: closed_loop(c, s, laps_of(ops, W.ELT_READER_ROUND),
                                                    deadline, rec, never))
             for c, (s, ops) in enumerate(zip(rsess, readers), start=len(writers))])
        window = window_usage(u0, usage(server.pid))
        rss = jvm.vm_hwm_mb(server.pid)
        # final contents against the generator's model (after the window)
        # (through each writer's own session: dynamic tables are defined there)
        outcomes = []

        def check(wr, s):
            for dt in (1, 2):
                s.query(f"ALTER DYNAMIC TABLE dt{dt}_{wr.w} REFRESH")
            for sql, want in wr.expected().items():
                got = s.query(sql)
                ok = oracle.same(oracle.canonical(oracle.arrow_rows(got)), oracle.canonical(want))
                outcomes.append(ok)
                if not ok:
                    log(f"WRONG RESULT: {sql} ({got.num_rows} rows, want {len(want)})")
        run_parallel([(lambda wr=wr, s=s: check(wr, s)) for wr, s in zip(writers, wsess)])
        checked, wrong = len(outcomes), outcomes.count(False)
        wh = [os.path.join(work, "tmp", d) for d in os.listdir(os.path.join(work, "tmp"))
              if d.startswith("graft_wire_wh")]
        warehouse_bytes = sum(datagen.dir_bytes(d) for d in wh)
        for s in wsess + rsess:
            s.close()
    except BaseException:
        jvm.stop(server)
        raise
    stopping = stop_in_background(server)
    try:
        live = live_bytes(writers, work)
    finally:
        stopping.join()
    res = summarize(rec, setup_s, rss, checked, wrong, {
        "clients": CLIENTS["elt"], "writers": len(writers), "data_rows": rows,
        "cycles": [wr.cycle for wr in writers],
        "warehouse_bytes": warehouse_bytes, "live_bytes": live, "window": window})
    res["detail"]["space_amp"] = warehouse_bytes / live if live else None
    return res


def live_bytes(writers, work):
    """Bytes of the live table data at the end, written once compactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = os.path.join(work, "live.parquet")
    total = 0
    for wr in writers:
        exp = wr.expected()
        for rows, names in ((list(exp.values())[0], ["k", "g", "v", "s"]),
                            (wr.landed, ["k", "g", "v", "s"]),
                            (list(exp.values())[1], ["g", "n", "sv"])):
            if rows:
                cols = list(zip(*rows))
                pq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}),
                               path, compression="snappy")
                total += os.path.getsize(path)
    return total


def summarize(rec, setup_s, rss, checked, wrong, info):
    reads = [ms for _, kind, _, ms, _ in rec.done if kind == "read"]
    writes = [ms for _, kind, _, ms, _ in rec.done if kind == "write"]
    attempted = len(rec.done) + rec.failed
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": rec.rate(lambda *_: 1.0),
        "rows_per_s": rec.rate(lambda kind, cls, ms, rows: rows),
        "peak_rss_mb": rss,
    }
    by_cls = {}
    for _, _, cls, ms, _ in rec.done:
        by_cls.setdefault(cls, []).append(ms)
    detail = {
        "read_p50_ms": stats.percentile(reads, 50),
        "read_p90_ms": stats.percentile(reads, 90),
        "read_p99_ms": stats.percentile(reads, 99),
        "write_p50_ms": stats.percentile(writes, 50),
        "write_p90_ms": stats.percentile(writes, 90),
        "error_rate": (rec.failed + wrong) / max(1, attempted),
    }
    return {"metrics": metrics, "detail": detail, "attempted": attempted,
            "failed": rec.failed + wrong, "checked": checked, "wrong": wrong,
            "errors": rec.errors, "reads": len(reads), "writes": len(writes),
            "counted": sum(len(ops) for *_, ops in rec.laps),
            "lap_s": [(c, round(b - a, 3)) for c, a, b, _ in rec.laps],
            "class_p50_ms": {c: stats.median(v) for c, v in sorted(by_cls.items())},
            **info}


# ── corpus: operators in-process ──────────────────────────────────────────

def run_corpus(cp, work, seed, seconds, t0):
    data = os.path.join(work, "corpus")
    rows = datagen.write_tables(datagen.corpus_tables(seed), data)
    log_path = os.path.join(work, "corpus.log")
    p = jvm.launch(cp, os.path.join(work, "tmp"), CORPUS_HEAP, log_path,
                   "corpus", data, str(seconds), str(seed))
    try:
        jvm.read_line(p, "WARM", log_path)
        setup_s = time.time() - t0
        out = json.loads(jvm.read_line(p, "RESULT ", log_path))
    finally:
        jvm.stop(p)
    lats = [x for v in out["latency_ms"].values() for x in v]
    wall = out["wall_s"]
    wrong = len(out["wrong"])
    attempted = out["attempted"]
    metrics = {"setup_s": setup_s, "ops_per_s": len(lats) / wall,
               "rows_per_s": out["input_rows"] / wall,
               "peak_rss_mb": out["peak_rss_mb"]}
    if wrong:
        log(f"WRONG RESULT: corpus checks {out['wrong']}")
    return {"metrics": metrics,
            "detail": {"read_p50_ms": stats.percentile(lats, 50),
                       "read_p90_ms": stats.percentile(lats, 90),
                       "read_p99_ms": stats.percentile(lats, 99),
                       "error_rate": (out["failed"] + wrong) / max(1, attempted)},
            "attempted": attempted, "failed": out["failed"] + wrong,
            "checked": len(out["checked"]), "wrong": wrong, "wall_s": wall,
            "clients": 1, "data_rows": rows, "data_bytes": datagen.dir_bytes(data),
            "class_p50_ms": {k: stats.median(v) for k, v in out["latency_ms"].items() if v}}


# ── traced run ────────────────────────────────────────────────────────────

def run_trace(wl, cp, work, seed):
    import trace_ops
    ops_file = os.path.join(work, "ops.jsonl")
    out_file = os.path.join(work, "trace.json")
    trace_ops.write(ops_file, wl, seed, work)
    log_path = os.path.join(work, "trace.log")
    p = jvm.launch(cp, os.path.join(work, "tmp"), HEAP, log_path, "trace", ops_file, out_file)
    try:
        p.wait(timeout=170)
    except Exception:
        p.kill()
        p.wait()
    finally:
        p._perfbench_log.close()
    with open(log_path, errors="replace") as f:
        lines = f.readlines()
    if p.returncode != 0 or not os.path.exists(out_file):
        sys.stderr.write("".join(lines[-30:]))
        raise SystemExit(f"traced replay failed (rc={p.returncode})")
    for line in lines:
        if line.startswith("trace slice "):
            log(line.strip())
    with open(out_file) as f:
        return json.load(f)


def contract_line(correct, attempted, failed, metrics, units):
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed),
                       "metrics": {k: {"value": metrics[k], "unit": units[k]}
                                   for k in units}})


def per_layer_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cp = jvm.classpath()
    ticks0 = cpu_ticks()
    t0 = time.time()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(t0 * 1000)}")
    os.makedirs(work)
    try:
        if a.trace:
            units = per_layer_units()
            out = run_trace(a.workload, cp, work, a.seed)
            missing = [k for k in units if k not in out["metrics"]]
            if missing:
                raise SystemExit(f"traced run emitted no value for {missing}")
            thin = {k: n for k, n in out["samples"].items()
                    if n < (stats.MIN_MEDIAN if out["source"][k] == a.workload
                            else stats.MIN_BORROWED)}
            if thin:
                raise SystemExit(f"traced run has too few samples for {thin}")
            print(json.dumps({"workload": a.workload, "trace": out,
                              "environment": environment(HEAP, ticks0)}))
            print(contract_line(out["failed"] == 0, out["attempted"], out["failed"],
                                out["metrics"], units))
            return 1 if out["failed"] else 0
        if a.workload == "corpus":
            res = run_corpus(cp, work, a.seed, a.seconds, t0)
        elif a.workload == "elt":
            res = run_elt(cp, work, a.seed, a.seconds, t0)
        else:
            res = run_reads(a.workload, cp, work, a.seed, a.seconds, t0)
        missing = [k for k, v in res["metrics"].items() if not v]
        if missing:
            raise SystemExit(f"too few operations for {missing}: {res}")
        res["detail"] = {k: {"value": v, "unit": DETAIL_UNITS[k]}
                         for k, v in res["detail"].items() if v is not None}
        res["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                          for k, v in res["metrics"].items()}
        res["environment"] = environment(CORPUS_HEAP if a.workload == "corpus" else HEAP, ticks0)
        res["workload"] = a.workload
        res["seed"] = a.seed
        print(json.dumps(res, default=str))
        print(contract_line(res["failed"] == 0, res["attempted"], res["failed"],
                            {k: v["value"] for k, v in res["metrics"].items()},
                            END_TO_END_UNITS))
        # a failed or wrong operation is a real failure: reported above, rc 1
        return 1 if res["failed"] else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
