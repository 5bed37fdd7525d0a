"""The three benchmark workloads.

Each workload runs a closed loop with one client thread against the engine's
public API. A run is: set-up (timed as ``setup_s``: the session is already
up; here the warm-up round, which opens an engine and creates its topic
like every round does), then timed rounds until the run's time is spent.
Every round starts from identical state (a fresh engine root, topic and
consumer group), and inputs are generated from the seed before any timer
starts.

With tracing on, rounds alternate untraced / traced: the per-layer numbers
come from the traced rounds and the end-to-end metrics from the untraced
ones, so their ratio is the tracing overhead.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.spans import Tracer

pc = time.perf_counter

QUERY_NAMES = (
    "log_fetch",
    "log_list_offsets",
    "log_timequery",
    "log_compact",
    "log_idempotent_dedup",
    "group_offset_fetch",
    "tx_read_committed",
    "events_daily",
    "tpch_q1",
    "tpch_q3",
)

BULK_PARTITIONS = 16
# 128 MiB a round: at 16 MiB, Spark's per-job fixed cost was 87% of a round
BULK_MSGS = 131_072
BULK_SENDS = 4
BULK_VALUE_BYTES = 1024
# Kafka max.partition.fetch.bytes analog, sized above any partition's share
# so that one poll drains the topic whatever the seed's key spread: every
# fetch scans the topic, so a binding budget makes the drain quadratic
BULK_FETCH_BYTES = 64 << 20
TAIL_PARTITIONS = 8
TAIL_BATCH = 8
TAIL_COMMIT_EVERY = 100


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    scale: float
    work_dir: str  # per-run scratch inside the checkout
    tracing: bool


@dataclass
class Round:
    traced: bool
    round_s: float  # the timed part of the round
    ops_ms: list[float]  # per-operation latencies (sends, iterations, queries)
    info: dict = field(default_factory=dict)  # workload-specific figures


@dataclass
class Outcome:
    setup_s: float = 0.0
    rounds: list[Round] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    data_dir: str | None = None

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failed check is a failed one."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def run_rounds(ctx: Ctx, out: Outcome, one_round, min_rounds: int = 2) -> None:
    """Warm-up round (timed into setup_s), then at least ``min_rounds``
    rounds and more until the next would end past ``seconds``. Tracing runs
    alternate untraced / traced rounds and run at least one of each."""
    t0 = pc()
    one_round(False, warmup=True)
    out.setup_s += pc() - t0
    need = max(min_rounds, 2) if ctx.tracing else min_rounds
    start, k = pc(), 0
    while True:
        traced = ctx.tracing and k % 2 == 1
        ctx.tracer.recording = traced
        try:
            out.rounds.append(one_round(traced, warmup=False))
        finally:
            ctx.tracer.recording = False
        if traced:
            ctx.tracer.resolve_spark_counts()
        k += 1
        elapsed = pc() - start
        if k >= need and elapsed + elapsed / k > ctx.seconds:
            break


def _fresh_root(ctx: Ctx, tag: str) -> str:
    root = os.path.join(ctx.work_dir, tag)
    shutil.rmtree(root, ignore_errors=True)
    return root


# --------------------------------------------------------------------------
# bulk_ingest
# --------------------------------------------------------------------------


def bulk_ingest(ctx: Ctx) -> Outcome:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from redpanda_spark.consumer import Consumer
    from redpanda_spark.engine import TopicConfig, TopicEngine
    from redpanda_spark.operators.coordinator import GroupManager
    from redpanda_spark.producer import BufferedProducer

    spark, out = ctx.spark, Outcome()
    n_msgs = max(int(BULK_MSGS * ctx.scale) // BULK_SENDS, 1) * BULK_SENDS
    per = n_msgs // BULK_SENDS
    value = F.concat(
        *[
            F.sha2(F.concat_ws("-", F.lit(str(ctx.seed)), F.col("id").cast("string"), F.lit(str(i))), 256)
            for i in range(BULK_VALUE_BYTES // 64)
        ]
    ).cast("binary")
    key = F.concat_ws("-", F.lit(str(ctx.seed)), F.col("id").cast("string")).cast("binary")

    def generate(lo: int, hi: int):
        return (
            spark.range(lo, hi)
            .select(key.alias("key"), value.alias("value"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    sends = [generate(b * per, (b + 1) * per) for b in range(BULK_SENDS)]
    # the warm-up round sends a quarter of one send's messages, ids past the
    # timed ones: it runs every job of a round, and keeps set-up short
    warm_n = max(per // 4, 1)
    warm = generate(n_msgs, n_msgs + warm_n)
    warm.count()
    whole = sends[0]
    for df in sends[1:]:
        whole = whole.unionByName(df)
    agg = whole.agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.concat("key", "value"))).alias("crc"),
        F.sum(F.length("value")).alias("payload"),
    ).collect()[0]
    want_n, want_crc, payload = int(agg["n"]), int(agg["crc"]), int(agg["payload"])

    def one_round(traced: bool, warmup: bool) -> Round:
        inputs, n, want = ([warm], warm_n, None) if warmup else (sends, want_n, want_crc)
        root = _fresh_root(ctx, "bulk")
        engine = TopicEngine(spark, root)
        engine.create_topic("bulk", TopicConfig(partitions=BULK_PARTITIONS, compression="none"))

        # one append per send: each send is a produce request the client
        # waits for, and its latency is the workload's op latency
        producer = BufferedProducer(engine, "bulk", linger_batches=1)
        sends_ms = []
        t1 = pc()
        for df in inputs:
            ts = pc()
            producer.send(df)
            sends_ms.append((pc() - ts) * 1000)
            out.attempted += 1
        producer.flush()
        produce_s = pc() - t1

        t2 = pc()
        consumer = Consumer(engine, GroupManager({"bulk": BULK_PARTITIONS}), "drain", ["bulk"])
        consumer.subscribe()
        got, polls, empty = [], 0, 0
        while len(got) < n and empty < 3:
            rows = [
                r
                for rs in consumer.poll(max_partition_fetch_bytes=BULK_FETCH_BYTES).values()
                for r in rs
            ]
            polls += 1
            empty = 0 if rows else empty + 1
            got.extend(rows)
        consumer.commit()
        drain_s = pc() - t2
        round_s = produce_s + drain_s

        with ctx.tracer.paused():
            _bulk_checks(out, engine, got, n, want)
        c = engine.counters("bulk")
        hits, misses = c.get("tail_cache_hits", 0), c.get("tail_cache_misses", 0)
        payload_n = payload * n / want_n
        info = {
            "produce_mb_s": payload_n / 1e6 / produce_s,
            "drain_mb_s": payload_n / 1e6 / drain_s,
            "tail_hit_ratio": hits / max(hits + misses, 1),
            "stored_bytes_per_payload_byte": engine.topic_stats("bulk")["bytes"] / payload_n,
        }
        out.attempted += polls + 1
        del got
        shutil.rmtree(root, ignore_errors=True)
        return Round(traced, round_s, sends_ms, info)

    try:
        # one large round rather than two small ones: the run's time goes to
        # bytes, not to a second round of the same fixed per-job cost
        run_rounds(ctx, out, one_round, min_rounds=1)
    finally:
        for df in sends + [warm]:
            df.unpersist()
    return out


def _bulk_checks(out: Outcome, engine, got: list, n: int, want_crc: int | None) -> None:
    """Drained count and payload checksum equal what was sent, offsets are
    contiguous in each partition and the commit covers them."""
    out.check(len(got) == n, f"bulk drained {len(got)} of {n} records")
    if want_crc is not None:
        crc = sum(zlib.crc32(r["key"] + r["value"]) for r in got)
        out.check(crc == want_crc, "bulk payload checksum differs from what was sent")
    by_part: dict[int, list[int]] = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    hw = engine.high_watermarks("bulk")
    contiguous = all(sorted(offs) == list(range(hw.get(p, 0))) for p, offs in by_part.items())
    out.check(contiguous and sum(hw.values()) == n, "bulk offsets not contiguous per partition")
    committed = {
        (r["topic"], r["partition"]): r["committed_offset"]
        for r in engine.offset_fetch("drain").collect()
    }
    out.check(
        all(committed.get(("bulk", p)) == o for p, o in hw.items() if o),
        "bulk committed offsets differ from the high watermarks",
    )


# --------------------------------------------------------------------------
# tail_pubsub
# --------------------------------------------------------------------------


def tail_pubsub(ctx: Ctx) -> Outcome:
    from redpanda_spark.consumer import Consumer
    from redpanda_spark.engine import TopicConfig, TopicEngine
    from redpanda_spark.operators.coordinator import GroupManager

    spark, out = ctx.spark, Outcome()
    iterations = max(int(200 * ctx.scale) // TAIL_COMMIT_EVERY, 1) * TAIL_COMMIT_EVERY
    records = datagen.pubsub_records(
        ctx.seed, iterations, TAIL_BATCH, BULK_VALUE_BYTES, TAIL_PARTITIONS
    )
    warm_records = records[: TAIL_COMMIT_EVERY]

    def one_round(traced: bool, warmup: bool) -> Round:
        recs_all = warm_records if warmup else records
        root = _fresh_root(ctx, "tail")
        engine = TopicEngine(spark, root)
        engine.create_topic("tail", TopicConfig(partitions=TAIL_PARTITIONS, compression="none"))
        # prime every partition's hot tail and the consumer's positions, so
        # each timed poll is a tail hit and no timed poll resolves offsets
        engine.produce(
            "tail",
            [{"partition": p, "key": b"prime", "value": b"prime"} for p in range(TAIL_PARTITIONS)],
        )
        consumer = Consumer(engine, GroupManager({"tail": TAIL_PARTITIONS}), "tail", ["tail"])
        consumer.subscribe()
        primed = consumer.poll()
        out.check(
            all(len(primed.get(("tail", p), [])) == 1 for p in range(TAIL_PARTITIONS)),
            "priming poll did not return one record per partition",
        )
        c0 = engine.counters("tail")

        visible, commits = [], []
        t_round = pc()
        for i, recs in enumerate(recs_all):
            ts = pc()
            bases = engine.produce("tail", recs)
            got = consumer.poll()
            visible.append((pc() - ts) * 1000)
            out.check(_pubsub_ok(got, recs, bases, i % TAIL_PARTITIONS), f"iteration {i}: poll != produced")
            if (i + 1) % TAIL_COMMIT_EVERY == 0:
                tc = pc()
                consumer.commit()
                commits.append((pc() - tc) * 1000)
                out.attempted += 1
        round_s = pc() - t_round

        c = engine.counters("tail")
        hits = c.get("tail_cache_hits", 0) - c0.get("tail_cache_hits", 0)
        misses = c.get("tail_cache_misses", 0) - c0.get("tail_cache_misses", 0)
        n_records = len(recs_all) * TAIL_BATCH
        info = {
            "commit_ms": commits,
            "pubsub_msgs_s": n_records / round_s,
            "tail_hit_ratio": hits / max(hits + misses, 1),
            "stored_bytes_per_payload_byte": engine.topic_stats("tail")["bytes"]
            / (n_records * BULK_VALUE_BYTES),
        }
        shutil.rmtree(root, ignore_errors=True)
        return Round(traced, round_s, visible, info)

    run_rounds(ctx, out, one_round)
    return out


def _pubsub_ok(got: dict, recs: list[dict], bases: dict, part: int) -> bool:
    rows = got.get(("tail", part), [])
    if any(rs for (_t, p), rs in got.items() if p != part):
        return False
    return len(rows) == len(recs) and all(
        r["key"] == s["key"] and r["value"] == s["value"] and r["offset"] == bases[part] + j
        for j, (r, s) in enumerate(zip(rows, recs))
    )


# --------------------------------------------------------------------------
# log_analytics
# --------------------------------------------------------------------------


def _load_check_oracle():
    """The repository's own Spark-vs-DuckDB comparison (tools/check_oracle.py)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def log_analytics(ctx: Ctx) -> Outcome:
    """The warm-up pass collects every result; after the timed passes the
    collected results are compared with their DuckDB oracles, and every
    count() must equal the collected row count."""
    import duckdb

    from redpanda_spark.plans.queries import ORACLES, QUERIES

    spark, out = ctx.spark, Outcome()
    data_dir = os.path.join(ctx.work_dir, "data")
    tables = datagen.write_analytics_tables(ctx.seed, data_dir, ctx.scale)
    out.data_dir = data_dir
    co = _load_check_oracle()
    collected: dict[str, tuple[list, list]] = {}
    tracer = ctx.tracer

    def one_round(traced: bool, warmup: bool) -> Round:
        lat = []
        t_pass = pc()
        for name in QUERY_NAMES:
            t0 = pc()
            with tracer.span("plans.build", spark_jobs=True, query=name):
                df = QUERIES[name](spark, data_dir)
            if warmup:
                # the warm-up collects each result for the oracle check; the
                # timed passes count() them
                collected[name] = (df.columns, co.pdf_rows(df.toPandas()))
                continue
            with tracer.span("spark.action", spark_jobs=True, query=name):
                n = df.count()
            lat.append((pc() - t0) * 1000)
            out.check(n == len(collected[name][1]), f"{name}: count() {n} != rows collected")
        round_s = pc() - t_pass
        spark.catalog.clearCache()
        return Round(traced, round_s, lat)

    # passes still speed up after the warm-up, so the median of three sits
    # past the slow first one
    run_rounds(ctx, out, one_round, min_rounds=3)

    with duckdb.connect() as con:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name in QUERY_NAMES:
            res = con.execute(ORACLES[name])
            ocols, orows = [d[0] for d in res.description], co.pdf_rows(res.df())
            scols, srows = collected[name]
            out.check(
                sorted(scols) == sorted(ocols)
                and len(srows) == len(orows)
                and co.norm_rows(scols, srows) == co.norm_rows(ocols, orows),
                f"{name}: Spark result differs from its DuckDB oracle",
            )
    return out


WORKLOADS = {
    "bulk_ingest": bulk_ingest,
    "tail_pubsub": tail_pubsub,
    "log_analytics": log_analytics,
}
