"""Seeded statement generators, the DuckDB replay of the lake op stream,
and the Arrow Flight client of `flight_mix`.

Every generator takes the run's seed; the engine only ever sees the
statements they produce.
"""
import threading
import time

import numpy as np

import canon

# ---------------------------------------------------------------- lake_rw

ORDERS_N = 150_000
LAKE_OPS = 2_000  # far more than a 60-second run gets through
OPTIMIZE_EVERY = 12
# The mix is a design choice, not a measured workload. Reads to writes
# is 3:1, between YCSB's read-mostly workload B (95:5) and update-heavy
# workload A (50:50) (Cooper et al., SoCC 2010): about half of the
# statement time is then commit work, so the write path moves
# stmt_per_s, and a 12-second run still holds ~26 reads for the read
# percentiles. The three read kinds have equal shares (which puts the
# read median inside the range/time-travel latency mode, above the
# faster point lookups); writes rotate through the four DML kinds, with
# OPTIMIZE as every 12th write for periodic compaction. The cycle is
# fixed so every run sees the same mix; the seed picks keys and ranges.
LAKE_CYCLE = ["point", "range", "write", "travel", "point", "range", "write", "travel"]
WRITES = ["insert", "merge", "update", "delete"]


def lake_ops(seed, orders_path):
    """The op stream: (kind, time-travel write index or -1, graft SQL,
    DuckDB SQL) per op. `{dir}` stands for the lake table directory and
    `{v:K}` for the table version after write K (0 = the seeded table)."""
    rng = np.random.default_rng(seed)
    src = f"parquet.`{orders_path}`"
    dsrc = f"read_parquet('{orders_path}')"
    price = "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s"
    ops, writes = [], 0
    for i in range(LAKE_OPS):
        op = LAKE_CYCLE[i % len(LAKE_CYCLE)]
        if op == "write":
            op = "optimize" if (writes + 1) % OPTIMIZE_EVERY == 0 else WRITES[writes % len(WRITES)]
        lo = int(rng.integers(0, ORDERS_N - 400))
        if op == "point":
            k = lo if rng.random() < 0.8 else 1_000_000 * int(rng.integers(1, writes + 2)) + lo % 300
            q = f"SELECT * FROM {{t}} WHERE o_orderkey = {k}"
            ops.append(("read", -1, q.format(t="lake_scan('{dir}')"), q.format(t="t")))
        elif op == "range":
            q = (f"SELECT o_orderpriority, count(*) AS n, {price} FROM {{t}} "
                 f"WHERE o_orderkey BETWEEN {lo} AND {lo + 2000} GROUP BY o_orderpriority")
            ops.append(("read", -1, q.format(t="lake_scan('{dir}')"), q.format(t="t")))
        elif op == "travel":
            w = int(rng.integers(0, writes + 1)) // OPTIMIZE_EVERY * OPTIMIZE_EVERY
            c = int(rng.integers(0, 14_000))
            q = f"SELECT count(*) AS n, {price} FROM {{t}} WHERE o_custkey BETWEEN {c} AND {c + 1000}"
            ops.append(("read", w, q.format(t=f"lake_scan('{{dir}}', {{v:{w}}})"),
                        q.format(t=f"snap_{w}")))
        elif op == "optimize":
            ops.append(("write", -1, "OPTIMIZE LAKE '{dir}'", ""))
            writes += 1
        else:
            writes += 1
            width = int(rng.integers(20, 200))
            rows = f"o_orderkey BETWEEN {lo} AND {lo + width}"
            if op == "insert":
                q = (f"SELECT o_orderkey + {1_000_000 * writes} AS o_orderkey, o_custkey, "
                     f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM {{s}} "
                     f"WHERE o_orderkey < {lo % 300 + 50}")
                ops.append(("write", -1, "INSERT INTO LAKE '{dir}' " + q.format(s=src),
                            "INSERT INTO t " + q.format(s=dsrc)))
            elif op == "merge":
                q = (f"SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, "
                     f"o_totalprice + 1.5 AS o_totalprice, o_orderdate, o_orderpriority "
                     f"FROM {{s}} WHERE {rows}")
                ops.append(("write", -1, "MERGE INTO LAKE '{dir}' KEY o_orderkey USING " + q.format(s=src),
                            f"DELETE FROM t WHERE {rows}; INSERT INTO t " + q.format(s=dsrc)))
            elif op == "delete":
                q = f"DELETE FROM {{t}} WHERE {rows}"
                ops.append(("write", -1, q.format(t="LAKE '{dir}'"), q.format(t="t")))
            else:
                c = int(rng.integers(0, 15_000))
                q = (f"UPDATE {{t}} SET o_orderpriority = '1-URGENT', "
                     f"o_totalprice = o_totalprice + 2.25 WHERE o_custkey = {c}")
                ops.append(("write", -1, q.format(t="LAKE '{dir}'"), q.format(t="t")))
    return ops


def lake_replay(ops, n, orders_path):
    """Replay the first n ops in DuckDB; returns each read's expected
    (columns, canonical rows) and each write's count of rows written
    (inserted or updated), both keyed by op index."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{orders_path}')")
    travel = {w for kind, w, _, _ in ops[:n] if w >= 0}
    expected, written, writes = {}, {}, 0

    def snap():
        if writes in travel:
            con.execute(f"CREATE TABLE snap_{writes} AS SELECT * FROM t")

    snap()
    for i, (kind, _, gsql, dsql) in enumerate(ops[:n]):
        if kind == "read":
            expected[i] = canon.of_duckdb(con, dsql)
        else:
            changed = con.execute(dsql).fetchall()[0][0] if dsql else 0
            written[i] = 0 if gsql.startswith("DELETE") else changed
            writes += 1
            snap()
    con.close()
    return expected, written


# ------------------------------------------------------------- flight_mix

KEY_DOMAIN = 2000
# Zipf exponent of the dashboard literals, a design choice (YCSB's default
# is 0.99): at 1.5 over 2,000 keys, ~95% of draws fall on the 128 hottest
# keys of a family, so the hot set fits the 256-entry plan cache and the
# tail does not.
ZIPF_S = 1.5
WARM_KEYS = 16
GOLDEN = (5 ** 0.5 - 1) / 2
# The family shares are a design choice, not a measured workload: half
# orders dashboards, a quarter lineitem dashboards (dashboards dominate,
# as in an interactive BI front end), a fifth roll-ups (the reflection's
# share) and one large transfer in twenty (the wire's streaming path).
# Each client walks this cycle from its own offset, so every run sees the
# same mix.
FLIGHT_CYCLE = ["dash_orders", "dash_lineitem", "dash_orders", "rollup"] * 4 + \
    ["dash_orders", "dash_lineitem", "dash_orders", "large"]
LARGE_BOUNDS = [40_000]
MONEY = "sum(CAST({c} AS DECIMAL(18,2))) AS s"
ROLLUPS = [
    ("o_orderpriority",),
    ("o_orderstatus",),
    ("o_orderpriority", "o_orderstatus"),
]


def flight_spec(orders_path, lineitem_path):
    """Statement templates, the reflection and the reference queries the
    engine computes in-process at set-up (one grouped query per family)."""
    o = f"parquet.`{orders_path}`"
    li = f"parquet.`{lineitem_path}`"
    m_o = MONEY.format(c="o_totalprice")
    m_l = MONEY.format(c="l_extendedprice")
    t = {
        "dash_orders": f"SELECT o_orderstatus, count(*) AS n, {m_o} FROM {o} "
                       "WHERE o_custkey = {k} GROUP BY o_orderstatus",
        "dash_lineitem": f"SELECT l_returnflag, count(*) AS n, {m_l} FROM {li} "
                         "WHERE l_orderkey = {k} GROUP BY l_returnflag",
        "large": "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice "
                 f"FROM {li} WHERE l_orderkey < {{k}}",
    }
    for i, cols in enumerate(ROLLUPS):
        g = ", ".join(cols)
        t[f"rollup{i}"] = f"SELECT {g}, count(*) AS n, {m_o} FROM {o} GROUP BY {g}"
    bounds = ", ".join(f"({b})" for b in LARGE_BOUNDS)
    ref = {
        "ref_dash_orders": f"SELECT o_custkey AS k, o_orderstatus, count(*) AS n, {m_o} FROM {o} "
                           f"WHERE o_custkey < {KEY_DOMAIN} GROUP BY o_custkey, o_orderstatus",
        "ref_dash_lineitem": f"SELECT l_orderkey AS k, l_returnflag, count(*) AS n, {m_l} FROM {li} "
                             f"WHERE l_orderkey < {KEY_DOMAIN} GROUP BY l_orderkey, l_returnflag",
        "ref_large": "SELECT b.x AS k, count(*) AS n, sum(l_orderkey) AS sk, sum(l_partkey) AS sp, "
                     "sum(CAST(l_quantity AS BIGINT)) AS sq, "
                     "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sc "
                     f"FROM {li} JOIN (VALUES {bounds}) AS b(x) ON l_orderkey < b.x GROUP BY b.x",
    }
    for i in range(len(ROLLUPS)):
        ref[f"ref_rollup{i}"] = t[f"rollup{i}"]
    reflection = (f"SELECT o_orderpriority, o_orderstatus, count(*) AS n, {m_o} "
                  f"FROM {o} GROUP BY o_orderpriority, o_orderstatus")
    return t, ref, reflection


class FlightStream:
    """One client's seeded statement stream: Zipf-distributed literal
    values for the dashboard families, so a hot set repeats and a long
    tail does not. The seed fixes which keys are hot; `phase` and
    `client` give each client of each phase its own draws. Draws are
    quasi-random (a golden-ratio walk through the Zipf CDF), so every run
    sees the Zipf shares closely and the plan-cache hit ratio does not
    swing with sampling luck."""

    def __init__(self, seed, phase, client, templates):
        self.u = np.random.default_rng([seed, phase + 1, client]).random()
        self.i = 5 * client
        self.keys = np.random.default_rng(seed).permutation(KEY_DOMAIN)
        w = 1.0 / np.arange(1, KEY_DOMAIN + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.t = templates

    def next(self):
        fam = FLIGHT_CYCLE[self.i % len(FLIGHT_CYCLE)]
        self.i += 1
        if fam == "rollup":
            fam = f"rollup{self.i % len(ROLLUPS)}"
            return fam, None, self.t[fam]
        if fam == "large":
            k = LARGE_BOUNDS[self.i % len(LARGE_BOUNDS)]
        else:
            self.u = (self.u + GOLDEN) % 1.0
            k = int(self.keys[min(np.searchsorted(self.cdf, self.u), KEY_DOMAIN - 1)])
        return fam, k, self.t[fam].format(k=k)

    def warm(self, client, n_clients):
        """This client's share of the warm-up set: every roll-up, every
        large transfer, and the WARM_KEYS hottest keys of each dashboard
        family, so the timed phases start with the plan cache filled."""
        todo = [(f, None, self.t[f]) for f in self.t if f.startswith("rollup")]
        todo += [("large", k, self.t["large"].format(k=k)) for k in LARGE_BOUNDS]
        todo += [(f, int(k), self.t[f].format(k=int(k)))
                 for f in ("dash_orders", "dash_lineitem") for k in self.keys[:WARM_KEYS]]
        return todo[client::n_clients]


def large_fingerprint(table):
    """Aggregate fingerprint of a large transfer (same columns as ref_large)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def s(x):
        v = pc.sum(x).as_py()
        return 0 if v is None else v
    cents = pc.cast(pc.round(pc.multiply(table["l_extendedprice"], 100.0)), pa.int64())
    return (table.num_rows, s(table["l_orderkey"]), s(table["l_partkey"]),
            s(pc.cast(table["l_quantity"], pa.int64())), s(cents))


class Expected:
    """In-process references, indexed per statement."""

    def __init__(self, ref):
        self.by = {}
        for fam in ("dash_orders", "dash_lineitem", "large"):
            # canonical columns are sorted by name; `k` sorts first here
            for r in ref[f"ref_{fam}"]:
                cells = r.split(canon.SEP)
                key = int(cells[0])
                self.by.setdefault((fam, key), []).append(canon.SEP.join(cells[1:]))
        for fam, key in list(self.by):
            self.by[(fam, key)].sort()
        self.rollup = {k[4:]: v for k, v in ref.items() if k.startswith("ref_rollup")}

    def check(self, fam, key, table):
        if fam == "large":
            want = self.by.get((fam, key), [""])[0].split(canon.SEP)
            got = large_fingerprint(table)
            return [canon.cell(x) for x in got] == [want[0], want[2], want[3], want[4], want[1]]
        _, got = canon.of_arrow(table)
        if fam.startswith("rollup"):
            return got == self.rollup[fam]
        return got == self.by.get((fam, key), [])


def flight_clients(port, n_clients, seed, phase, templates, expected, seconds, user, password):
    """Run n closed-loop Flight clients for `seconds` (phase -1: through
    the warm-up set once); returns per-statement records (family, latency
    ms, info/ttfb/stream ms, bytes, batches, ok, error, text) and the
    phase's wall seconds."""
    import pyarrow as pa
    import pyarrow.flight as fl

    stop = threading.Event()
    records, crashed = [], []
    lock = threading.Lock()

    def client(cid):
        try:
            run_client(cid)
        except BaseException as e:  # a dead client must fail the run, not thin the load
            crashed.append(e)
            stop.set()

    def run_client(cid):
        stream = FlightStream(seed, phase, cid, templates)
        todo = iter(stream.warm(cid, n_clients)) if phase < 0 else None
        conn = fl.connect(f"grpc://localhost:{port}")
        try:
            opts = fl.FlightCallOptions(headers=[conn.authenticate_basic_token(user, password)], timeout=60)
            while not stop.is_set():
                fam, key, sql = stream.next() if todo is None else next(todo, (None,) * 3)
                if fam is None:
                    break
                t0 = time.perf_counter()
                try:
                    info = conn.get_flight_info(fl.FlightDescriptor.for_command(sql), opts)
                    t1 = time.perf_counter()
                    reader = conn.do_get(info.endpoints[0].ticket, opts)
                    batches, first = [], None
                    while True:
                        try:
                            chunk = reader.read_chunk()
                        except StopIteration:
                            break
                        if first is None:
                            first = time.perf_counter()
                        batches.append(chunk.data)
                    t2 = time.perf_counter()
                    table = pa.Table.from_batches(batches, schema=reader.schema)
                    first = first or t2
                    rec = dict(fam=fam, ms=(t2 - t0) * 1e3, info_ms=(t1 - t0) * 1e3,
                               ttfb_ms=(first - t1) * 1e3, stream_ms=(t2 - first) * 1e3,
                               bytes=table.nbytes, batches=len(batches),
                               ok=expected.check(fam, key, table), err="", sql=sql)
                except Exception as e:  # a failed statement counts, it is not dropped
                    rec = dict(fam=fam, ms=(time.perf_counter() - t0) * 1e3, info_ms=0.0,
                               ttfb_ms=0.0, stream_ms=0.0, bytes=0, batches=0, ok=False,
                               err=f"{type(e).__name__}: {e}"[:300], sql=sql)
                rec["end_s"] = time.perf_counter() - start
                with lock:
                    records.append(rec)
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(c,)) for c in range(n_clients)]
    start = t0 = time.perf_counter()
    for t in threads:
        t.start()
    if seconds is not None:
        stop.wait(seconds)
        stop.set()
    for t in threads:
        t.join()
    if crashed:
        raise crashed[0]
    return records, time.perf_counter() - t0
