"""`stream_sql`: a Flink-SQL streaming pipeline through
`TableEnvironment.execute_sql`.

A monitored-directory JSON source with a WATERMARK feeds two INSERTs:
a TUMBLE window aggregate into an append-only parquet sink, and a
non-windowed GROUP BY into a PRIMARY KEY upsert sink.  One client lands
seeded event files one at a time (atomic rename into the source
directory) and drains each before landing the next.  A round is one
file.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from collections import defaultdict

from perfbench import probes
from perfbench.oracle import check_rows

KEYS = 64  # every key occurs in every window of every file
EVENTS_PER_KEY_WINDOW = 8
WINDOW_S = 30
FILE_SPAN_S = 60  # event time one file covers: two windows
DELAY_S = 5  # watermark delay
EVENTS_PER_FILE = KEYS * (FILE_SPAN_S // WINDOW_S) * EVENTS_PER_KEY_WINDOW
MIN_TIMED_FILES = 3  # after the cold file, which is the warm-up
T0 = dt.datetime(2024, 1, 1)


def make_events(rng: random.Random, i: int) -> list[dict]:
    """File `i`: every key in both windows of its minute, in seeded
    order and values.  The last event sits 1 ms before the minute ends,
    so the watermark after each file is the same offset into it."""
    events = []
    base = FILE_SPAN_S * i
    for w in range(FILE_SPAN_S // WINDOW_S):
        for k in range(KEYS):
            for _ in range(EVENTS_PER_KEY_WINDOW):
                off_ms = rng.randrange(WINDOW_S * 1000)
                events.append((base + w * WINDOW_S + off_ms / 1000, k))
    events[-1] = (base + FILE_SPAN_S - 0.001, events[-1][1])
    rng.shuffle(events)
    return [
        {"k": k, "v": rng.randrange(10000) / 100, "ts": t}
        for t, k in events
    ]


def _iso(t: float) -> str:
    return (T0 + dt.timedelta(seconds=t)).isoformat(timespec="milliseconds")


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Statement:
    """One running INSERT and the micro-batches it has executed."""

    def __init__(self, name: str, query) -> None:
        self.name = name
        self.q = query
        self.batches: dict[int, dict] = {}
        self.rows = 0

    def poll(self) -> None:
        """Record executed micro-batches from the query's progress."""
        recent = self.q._jsq.recentProgress()
        for i in range(len(recent) - 1, -1, -1):
            p = recent[i]
            if not p.durationMs().containsKey("addBatch"):
                continue  # an idle trigger: it ran no batch
            if p.batchId() in self.batches:
                break
            prog = json.loads(p.json())
            self.batches[prog["batchId"]] = prog
            self.rows += prog["numInputRows"]

    def drain(self, landed_rows: int, timeout_s: float = 120) -> None:
        deadline = time.monotonic() + timeout_s
        while True:
            self.q.processAllAvailable()
            self.poll()
            if self.rows >= landed_rows:
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"{self.name}: {self.rows} of {landed_rows} rows processed")
        # once more: returns only after a trigger that found nothing to
        # run, so the no-data batch that emits closed windows is done
        self.q.processAllAvailable()
        self.poll()


def _trigger_span(prog: dict) -> tuple[float, float]:
    start = _epoch(prog["timestamp"])
    return start, start + prog["durationMs"]["triggerExecution"] / 1000


def _covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `spans`."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def run(args, ready_clock, work: str) -> dict:
    from flink_1_20_spark import get_spark
    from flink_1_20_spark.sql_ddl import TableEnvironment

    rng = random.Random(args.seed)
    t = time.monotonic()
    spark = get_spark("perfbench-stream_sql")
    layers = {"session.start_s": time.monotonic() - t}
    src, staging = os.path.join(work, "src"), os.path.join(work, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    win_path, up_path = os.path.join(work, "win_sink"), os.path.join(work, "key_sink")
    env = TableEnvironment(spark)
    ddl = [
        f"""CREATE TABLE ev (k BIGINT, v DOUBLE, ts TIMESTAMP(3),
              WATERMARK FOR ts AS ts - INTERVAL '{DELAY_S}' SECOND)
            WITH ('connector'='filesystem','path'='{src}',
                  'format'='json','scan.streaming'='true')""",
        f"""CREATE TABLE win_sink (window_start TIMESTAMP(3),
              window_end TIMESTAMP(3), k BIGINT, cnt BIGINT, total DOUBLE)
            WITH ('connector'='filesystem','path'='{win_path}',
                  'format'='parquet',
                  'checkpoint'='{os.path.join(work, 'win_ckpt')}')""",
        f"""CREATE TABLE key_sink (k BIGINT, cnt BIGINT, total DOUBLE,
              PRIMARY KEY (k) NOT ENFORCED)
            WITH ('connector'='filesystem','path'='{up_path}',
                  'format'='parquet')""",
    ]
    inserts = {
        "window": f"""INSERT INTO win_sink
            SELECT window_start, window_end, k, COUNT(*) AS cnt,
                   SUM(v) AS total
            FROM TABLE(TUMBLE(TABLE ev, DESCRIPTOR(ts),
                              INTERVAL '{WINDOW_S}' SECOND))
            GROUP BY window_start, window_end, k""",
        "upsert": """INSERT INTO key_sink
            SELECT k, COUNT(*) AS cnt, SUM(v) AS total FROM ev GROUP BY k""",
    }
    t = time.monotonic()
    for stmt in ddl:
        env.execute_sql(stmt)
    stmts = [Statement(n, env.execute_sql(s)) for n, s in inserts.items()]
    layers["sqlenv.execute_sql_s"] = time.monotonic() - t
    setup_s = time.monotonic() - ready_clock
    counters = probes.SparkCounters(spark) if args.trace else None
    codegen0 = counters.codegen_ms() if counters is not None else 0.0

    rounds: list[dict] = []
    landed: list[dict] = []
    timed_start = None
    try:
        while True:
            i = len(rounds)
            events = make_events(rng, i)
            staged = os.path.join(staging, f"part-{i:05d}.json")
            with open(staged, "w") as f:
                for e in events:
                    f.write(json.dumps({**e, "ts": _iso(e["ts"])}) + "\n")
            seen = {s.name: set(s.batches) for s in stmts}
            cpu0 = probes.tree_cpu_s()
            t_land = time.time()
            os.rename(staged, os.path.join(src, os.path.basename(staged)))
            landed.extend(events)
            for s in stmts:
                s.drain(len(landed))
            drained = time.time()
            cpu = probes.tree_cpu_s() - cpu0
            new = {
                s.name: [s.batches[b] for b in sorted(set(s.batches) - seen[s.name])]
                for s in stmts
            }
            commit = max(
                _trigger_span(next(p for p in new[s.name] if p["numInputRows"]))[1]
                for s in stmts
            )
            rec = {
                "round_s": drained - t_land,
                "cpu_s": cpu,
                "latency_s": commit - t_land,
            }
            if counters is not None:
                rec.update(_stream_layers(new, t_land, drained))
                rec.update(counters.jobs([str(s.q.runId) for s in stmts]))
            rounds.append(rec)
            if i == 0 and counters is not None:
                layers["spark.codegen_compile_s"] = (counters.codegen_ms() - codegen0) / 1000
            if timed_start is None:
                timed_start = time.monotonic()
            elif (
                len(rounds) - 1 >= MIN_TIMED_FILES
                and time.monotonic() - timed_start >= args.seconds
            ):
                break
        layers["session.peak_rss_mb"] = probes.peak_rss_mb()
        correct = _check(spark, win_path, env, landed)
    finally:
        for s in stmts:
            s.q.stop()
    timed = rounds[1:]
    return {
        "spark": spark,
        "correct": correct,
        "attempted": len(rounds),
        "failed": 0,
        "end_to_end": {
            "setup_s": setup_s,
            "cold_round_s": rounds[0]["round_s"],
            "round_s": probes.median([r["round_s"] for r in timed]),
            "round_cpu_s": probes.median([r["cpu_s"] for r in timed]),
            "op_latency_p50_s": probes.median([r["latency_s"] for r in timed]),
        },
        "layers": layers,
        "timed_rounds": timed,
        "info": {"files": len(rounds), "events_per_file": EVENTS_PER_FILE},
    }


def _stream_layers(new: dict[str, list[dict]], t_land: float, drained: float) -> dict:
    progs = [p for ps in new.values() for p in ps]

    def dur(p: dict, key: str) -> float:
        return p["durationMs"].get(key, 0) / 1000

    last_state = [
        op for ps in new.values() for op in (ps[-1].get("stateOperators") or [])
    ]
    return {
        "streaming.triggers_per_batch": len(progs),
        "streaming.trigger_s": sum(dur(p, "triggerExecution") for p in progs),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in progs),
        "streaming.planning_s": sum(dur(p, "queryPlanning") for p in progs),
        "streaming.wal_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets") for p in progs),
        "streaming.wait_s": (drained - t_land)
        - _covered([_trigger_span(p) for p in progs], t_land, drained),
        "sinks.upsert_add_batch_s": sum(dur(p, "addBatch") for p in new["upsert"]),
        "streaming.state_commit_s": sum(
            op.get("commitTimeMs", 0) / 1000
            for p in progs
            for op in p.get("stateOperators") or []
        ),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
        "streaming.state_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_state),
    }


def expected(events: list[dict]) -> tuple[list[tuple], list[tuple]]:
    """Plain-Python aggregates of the landed events: per (window, key)
    for every window the final watermark closed, and per key."""
    watermark = max(e["ts"] for e in events) - DELAY_S
    win: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
    key: dict[int, list] = defaultdict(lambda: [0, 0.0])
    for e in events:
        start = e["ts"] // WINDOW_S * WINDOW_S
        if start + WINDOW_S <= watermark:
            acc = win[(_iso(start)[:19].replace("T", " "), e["k"])]
            acc[0] += 1
            acc[1] += e["v"]
        key[e["k"]][0] += 1
        key[e["k"]][1] += e["v"]
    return (
        [(w, k, c, s) for (w, k), (c, s) in win.items()],
        [(k, c, s) for k, (c, s) in key.items()],
    )


def _check(spark, win_path: str, env, events: list[dict]) -> bool:
    want_win, want_key = expected(events)
    got_win = [
        tuple(r)
        for r in spark.read.parquet(win_path)
        .selectExpr("CAST(window_start AS STRING) AS w", "k", "cnt", "total")
        .collect()
    ]
    got_key = [tuple(r) for r in env.execute_sql("SELECT k, cnt, total FROM key_sink").collect()]
    return check_rows("stream_sql.window", got_win, ["w", "k", "cnt", "total"], want_win) and check_rows(
        "stream_sql.upsert", got_key, ["k", "cnt", "total"], want_key
    )
