"""The two workloads. Each drives the library's public functions from
one closed-loop client, times its ops, checks every output against the
references in ``refs`` after the timed phase, and returns a Result.
``probe_layers`` times the llm layers neither workload reaches, once
per traced run.

In a traced run every other op is traced: spans, per-op job counts and
the no-job sampler are on for it and off for its neighbour, so the
per-layer numbers and the tracing overhead come from one process."""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import gen
import refs
from common import JobCounter, NoJobSampler, Tracer, local_path, median, new_bytes, tree


@dataclass
class Op:
    latency: float
    traced: bool
    timed: bool = True  # False for the warm-up ops run during set-up
    ok: bool = True
    kind: str = "op"
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_s: float
    ops: list[Op]
    kind_weights: dict[str, float]  # see op_p50
    timed_wall: float
    rows_done: int
    recall: float
    precision: float
    stored_bytes_per_row: float
    layers: dict[str, float]
    input_hash: str
    extra_attempted: int = 0  # checked results that are not latency ops
    extra_failed: int = 0


class Ctx:
    """What every workload gets: the session, the run's parameters, its
    scratch directory and the tracing instruments."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str, t0: float):
        self.spark, self.seed, self.seconds, self.trace, self.work = spark, seed, seconds, trace, work
        self.t0 = t0  # process start
        self.tracer = Tracer()
        self.jobs = JobCounter(spark) if trace else None
        self.sampler = NoJobSampler(spark) if trace else None
        self.phases: dict[str, float] = {}  # set-up phase -> seconds

    @contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def traced(self, k: int) -> bool:
        return self.trace and k % 2 == 0

    def begin(self, traced: bool) -> None:
        """Open an op window; the job cursor skips whatever ran before."""
        if traced:
            self.jobs.take()
            self.sampler.active.set()
        self.tracer.active = traced

    def end(self, traced: bool) -> dict:
        self.tracer.active = False
        if not traced:
            return {}
        self.sampler.active.clear()
        return self.jobs.take()


def op_p50(ops: list[Op], kind_weights: dict[str, float]) -> float:
    """Each op kind's median latency, weighted by the kind's share of
    the request mix. With one kind this is the plain median; with
    several, one median over the mixed latencies would fall between the
    kinds' distributions, where it moves with every shift of either."""
    return sum(
        w * median([o.latency for o in ops if o.kind == kind]) for kind, w in kind_weights.items()
    )


def per_op_jobs(ops: list[Op]) -> dict[str, float]:
    traced = [o.info["jobs"] for o in ops if o.traced and o.timed and o.info.get("jobs")]
    if not traced:
        return {}
    n = len(traced)
    return {
        "spark.jobs": sum(j["jobs"] for j in traced) / n,
        "spark.stages": sum(j["stages"] for j in traced) / n,
        "spark.tasks": sum(j["tasks"] for j in traced) / n,
        "spark.failed_tasks": float(sum(j["failed_tasks"] for j in traced)),
    }


def _live_bytes(df) -> int:
    return sum(os.path.getsize(local_path(f)) for f in df.inputFiles())


def _utc(s: int) -> dt.datetime:
    """Naive UTC datetime: the store's documented timestamp contract."""
    return dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(tzinfo=None)


# --- candle_ingest -------------------------------------------------------------

BATCH_FILES = 2  # stream_store_merge's file source reads 2 files per trigger
# A fixed count, not --seconds: the store then always holds the same
# hours, so stored_bytes_per_row and the median's warm-up position do
# not move with how fast the ops run. Three ops take longer than 10 s.
INGEST_OPS = 3


def candle_ingest(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from mora_spark.engine import CandleStore
    from mora_spark.streaming.ingest import stream_store_merge

    spark, tracer = ctx.spark, ctx.tracer
    src, wd, store_path = ctx.path("src"), ctx.path("stream"), ctx.path("store")
    os.makedirs(src)
    paths: list[str] = []
    ops: list[Op] = []
    layer = {"write_bytes": 0, "write_rows": 0, "batches": 0}

    def call(traced: bool, timed: bool) -> None:
        """Write one micro-batch of tick files, then drain it: one
        stream_store_merge call is one op."""
        files = list(range(len(paths), len(paths) + BATCH_FILES))
        paths.extend(gen.write_tick_file(src, ctx.seed, i) for i in files)
        before = tree(store_path) if traced else None
        stats: list[dict] = []
        ctx.begin(traced)
        tracer.op = len(ops)
        t = time.perf_counter()
        with tracer.span("streaming.stream_store_merge"):
            stream_store_merge(
                spark, src, wd, store_path, rollup_lengths=(300,), batch_stats=stats
            )
        latency = time.perf_counter() - t
        jobs = ctx.end(traced)
        data = [r for r in stats if r["rows"]]  # the rest: the closing no-data batch
        layer["batches"] += len(stats) if timed else 0
        ops.append(Op(latency, traced, timed, info={
            "files": files,
            "data_batches": len(data),
            "merge_s": median([r["merge_s"] for r in data]),
            "rollup_s": median([r["rollup_s"] for r in data]),
            "sink_s": sum(r["merge_s"] + r["rollup_s"] for r in stats),
            "jobs": jobs,
        }))
        if traced:
            layer["write_bytes"] += new_bytes(before, tree(store_path))
            layer["write_rows"] += sum(r["rows"] for r in stats)

    with ctx.phase("warm-up"):
        call(traced=False, timed=False)  # the cold first batch
    setup_s = time.perf_counter() - ctx.t0
    first_timed = len(paths)
    t_start = time.perf_counter()
    for k in range(INGEST_OPS):
        call(ctx.traced(k), timed=True)
    timed_wall = time.perf_counter() - t_start
    ticks_done = (len(paths) - first_timed) * gen.TICKS_PER_FILE

    # --- check: read back both series and compare with the reference
    store = CandleStore(spark, store_path)
    read_s: dict[int, tuple[float, float]] = {}  # length -> (read() s, collect s)

    def readback(length: int):
        t = time.perf_counter()
        df = store.read(candle_length=length)
        t1 = time.perf_counter()
        pdf = df.select(
            "code", F.unix_micros("ts").alias("ts_us"), *refs.CANDLE_VALUES
        ).toPandas()
        read_s[length] = (t1 - t, time.perf_counter() - t1)
        return df, pdf

    df60, got60 = readback(60)
    df300, got300 = readback(300)
    ref60 = refs.candles_from_ticks(paths)
    ref300 = refs.rollup(ref60, 300)
    bad = {(60, *k) for k in refs.bad_candle_keys(got60, ref60)}
    bad |= {(300, *k) for k in refs.bad_candle_keys(got300, ref300)}
    for op in ops:
        keys = set()
        for i in op.info["files"]:
            t = gen.ticks(ctx.seed, i)
            for length in (60, 300):
                step = length * 1_000_000
                keys.update(zip([length] * len(t["code"]), t["code"], (t["ts_us"] // step) * step))
        op.ok = not (keys & bad)

    def keys(length: int, df) -> list[tuple]:
        return [(length, c, int(t)) for c, t in zip(df["code"], df["ts_us"])]

    ref_keys = keys(60, ref60) + keys(300, ref300)
    got_keys = keys(60, got60) + keys(300, got300)
    traced = [o for o in ops if o.traced and o.timed]
    layers = {
        "streaming.batches": float(layer["batches"]),
        "streaming.outside_sink_frac": median([1 - o.info["sink_s"] / o.latency for o in traced]),
        "store.write_s": median([o.info["merge_s"] for o in traced]),
        "store.rollup_s": median([o.info["rollup_s"] for o in traced]),
        "store.write_bytes_per_candle": layer["write_bytes"] / max(1, layer["write_rows"]),
        "store.versions": float(store.history().count()),
        "store.read_plan_s": median([r[0] for r in read_s.values()]),
        "store.scan_s": read_s[60][1],
        "store.files_live": float(len(df60.inputFiles()) + len(df300.inputFiles())),
        **_streaming_jobs(traced),
    }
    probe_failed = 0
    if ctx.trace:
        # The operators layer over the store this ingest left: one request
        # of each kind, checked like candle_query's.
        for kind in ("resample", "sma", "asof"):
            req = gen.query_request(ctx.seed, 0, len(paths), kind)
            t = time.perf_counter()
            pdf = _request(spark, store, tracer, req)
            layers[f"operators.{kind}_s"] = time.perf_counter() - t
            ref = refs.query_reference(ref60, req)
            if not refs.same_digest(refs.digest(pdf), refs.digest(ref)):
                print(f"  FAILED check: {kind} request on the ingest store: {req}")
                probe_failed += 1
    return Result(
        setup_s=setup_s,
        ops=ops,
        kind_weights={"op": 1.0},
        timed_wall=timed_wall,
        rows_done=ticks_done,
        recall=sum(k not in bad for k in ref_keys) / len(ref_keys),
        precision=sum(k not in bad for k in got_keys) / max(1, len(got_keys)),
        stored_bytes_per_row=(_live_bytes(df60) + _live_bytes(df300)) / max(1, len(got_keys)),
        layers=layers,
        input_hash=gen.input_hash(paths),
        extra_attempted=3 if ctx.trace else 0,
        extra_failed=probe_failed,
    )


def _streaming_jobs(traced: list[Op]) -> dict[str, float]:
    """Jobs, stages and tasks of the traced calls per data micro-batch."""
    batches = sum(o.info["data_batches"] for o in traced)
    if not batches:
        return {}
    return {
        f"streaming.{k}_per_batch": sum(o.info["jobs"][k] for o in traced) / batches
        for k in ("jobs", "stages", "tasks")
    }


# --- candle_query ----------------------------------------------------------------

QUERY_HOURS = 6  # one store write per simulated hour; hours 4-5 fall in 2024


def _request(spark, store, tracer: Tracer, req: dict):
    """One candle-query request (see gen.query_request), collected."""
    from pyspark.sql import functions as F

    from mora_spark.operators import asof_join, resample, sma

    with tracer.span("engine.store.read"):
        df = store.read("SYN", req["code"], 60, _utc(req["start_s"]), _utc(req["end_s"]))
    values = [F.unix_micros("ts").alias("ts_us"), *refs.CANDLE_VALUES]
    kind = req["kind"]
    if kind == "range":
        out = df.select(*values)
    elif kind == "resample":
        with tracer.span("operators.resample"):
            out = resample(df, 900).select(*values)
    elif kind == "sma":
        with tracer.span("operators.sma"):
            out = sma(df, 20).select(F.unix_micros("ts").alias("ts_us"), "close", "sma_20")
    else:
        trades = spark.createDataFrame(
            [(req["code"], t) for t in req["trades_us"]], "code string, t long"
        ).select("code", F.timestamp_micros("t").alias("ts"))
        with tracer.span("operators.asof_join"):
            out = asof_join(trades, df, on=["code"], right_cols=["close"]).select(
                F.unix_micros("ts").alias("trade_us"), "close_asof"
            )
    with tracer.span("collect", kind=kind):
        return out.toPandas()


def candle_query(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from mora_spark.engine import CandleStore

    spark, tracer = ctx.spark, ctx.tracer
    src = ctx.path("ticks")
    os.makedirs(src)
    with ctx.phase("inputs"):
        paths = [gen.write_tick_file(src, ctx.seed, i) for i in range(QUERY_HOURS)]
        c60 = refs.candles_from_ticks(paths)
    store = CandleStore(spark, ctx.path("store"))
    write_s = []
    with ctx.phase("store build"):
        for h in range(QUERY_HOURS):
            lo = (gen.TICK_START_S + h * gen.HOUR_S) * 1_000_000
            hour = spark.createDataFrame(
                c60[(c60.ts_us >= lo) & (c60.ts_us < lo + gen.HOUR_S * 1_000_000)]
            ).select(
                F.lit("SYN").alias("market"), "code", F.lit(60).alias("candle_length"),
                F.timestamp_micros("ts_us").alias("ts"), "open", "high", "low", "close",
                "volume", F.col("bit_fields").cast("long").alias("bit_fields"),
            )
            t = time.perf_counter()
            store.write(hour, mode="append")
            write_s.append(time.perf_counter() - t)
    built_bytes = sum(tree(ctx.path("store")).values())

    ops: list[Op] = []
    results = []

    def run(req: dict, traced: bool, timed: bool) -> None:
        ctx.begin(traced)
        tracer.op = req["j"]
        t = time.perf_counter()
        with tracer.span("request", kind=req["kind"]):
            pdf = _request(spark, store, tracer, req)
        lat = time.perf_counter() - t
        ops.append(Op(lat, traced, timed, kind=req["kind"], info={
            "jobs": ctx.end(traced),
            "req": {k: v for k, v in req.items() if k != "trades_us"},
        }))
        results.append((req, pdf))

    # Two passes of the request cycle: after one request of each kind the
    # JIT-compiled paths were still getting faster through the timed
    # phase, and run-to-run spread was wider.
    with ctx.phase("warm-up"):
        for w in range(2 * len(gen.QUERY_CYCLE)):
            run(gen.query_request(ctx.seed + 1_000_003, w, QUERY_HOURS), False, False)
    setup_s = time.perf_counter() - ctx.t0
    t_start, j = time.perf_counter(), 0
    # Whole cycles only, so every run weighs the kinds alike in rows_per_s.
    while j % len(gen.QUERY_CYCLE) or time.perf_counter() - t_start < ctx.seconds:
        run(gen.query_request(ctx.seed, j, QUERY_HOURS), ctx.traced(j), True)
        j += 1
    timed_wall = time.perf_counter() - t_start

    ref_rows = got_rows = ok_rows = 0
    for op, (req, pdf) in zip(ops, results):
        ref = refs.query_reference(c60, req)
        op.ok = refs.same_digest(refs.digest(pdf), refs.digest(ref))
        if op.timed:
            ref_rows += len(ref)
            got_rows += len(pdf)
            ok_rows += len(ref) if op.ok else 0
    full = store.read(candle_length=60)
    live_rows = full.count()
    traced = [o for o in ops if o.traced and o.timed]

    def p50(kind: str) -> float:
        return median([o.latency for o in traced if o.kind == kind])

    layers = {
        "store.write_s": median(write_s),
        "store.write_bytes_per_candle": built_bytes / len(c60),
        "store.read_plan_s": median(tracer.durations("engine.store.read")),
        "store.scan_s": median(
            [s["end"] - s["start"] for s in tracer.spans
             if s["name"] == "collect" and s.get("kind") == "range"]
        ),
        "store.files_live": float(len(full.inputFiles())),
        "store.versions": float(store.history().count()),
        "operators.resample_s": p50("resample"),
        "operators.sma_s": p50("sma"),
        "operators.asof_s": p50("asof"),
        "operators.jobs_per_request": per_op_jobs(
            [o for o in traced if o.kind != "range"]
        ).get("spark.jobs", 0.0),
    }
    if ctx.trace:
        # The rollup layer on this store: derive the 5 m series of the
        # last hour written.
        t = time.perf_counter()
        store.derive_rollup(hour, 300)
        layers["store.rollup_s"] = time.perf_counter() - t
    return Result(
        setup_s=setup_s,
        ops=ops,
        kind_weights={k: gen.QUERY_CYCLE.count(k) / len(gen.QUERY_CYCLE) for k in gen.QUERY_CYCLE},
        timed_wall=timed_wall,
        rows_done=sum(len(pdf) for op, (_, pdf) in zip(ops, results) if op.timed),
        recall=ok_rows / ref_rows if ref_rows else 0.0,
        precision=ok_rows / got_rows if got_rows else 0.0,
        stored_bytes_per_row=_live_bytes(full) / max(1, live_rows),
        layers=layers,
        input_hash=gen.input_hash(paths),
    )


# --- the llm layers, probed once per traced run ----------------------------------

CURATE_THRESHOLD = 0.8
PACK_BUDGET = 512
VEC_DIM = 32
VEC_BASE, VEC_ADD = 400, 200  # vectors indexed at build, then added
IVF_CELLS = 4
TOPK = 10


def probe_layers(ctx: Ctx) -> tuple[dict[str, float], int, int]:
    """One small call into llm.dedup, llm.curation + functions.text and
    llm.simsearch, none of which a timed op reaches: build and save a
    seed MinHash index, curate one JSONL shard against it and pack the
    result; build an IVF index, add to it and search it. Every result
    is checked. Returns (layers, checks attempted, checks failed)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mora_spark.functions.text import lang_guess, quality_score, tokens
    from mora_spark.llm.curation import pack_sequences
    from mora_spark.llm.dedup import build_minhash_index, save_minhash_index
    from mora_spark.llm.simsearch import build_ivf_index, ivf_index_add, ivf_index_topk, save_ivf_index
    from mora_spark.schema import DOCUMENT_SCHEMA
    from mora_spark.streaming.pipeline import stream_curate_jsonl

    spark, tracer = ctx.spark, ctx.tracer
    tracer.active, tracer.op = True, None
    layers: dict[str, float] = {}

    @contextmanager
    def timed(metric: str, span: str):
        t = time.perf_counter()
        with tracer.span(span):
            yield
        layers[metric] = time.perf_counter() - t

    # --- dedup + curation: kept set, quarantine count and packing vs the planted truth
    seed_docs, shard = gen.corpus(ctx.seed)
    src, wd, seed_idx = ctx.path("jsonl"), ctx.path("curate"), ctx.path("seed_index")
    os.makedirs(src)
    gen.write_shard(os.path.join(src, "shard-0.json"), shard)
    template = spark.createDataFrame([gen.record(d) for d in seed_docs], DOCUMENT_SCHEMA)
    with timed("dedup.seed_index_s", "llm.dedup.build_and_save_minhash_index"):
        save_minhash_index(*build_minhash_index(template), seed_idx)

    def gate(df):
        toks = tokens("text")
        return df.where(
            (lang_guess(toks) == "en") & (quality_score(toks) >= 0.5) & (F.size(toks) >= 20)
        )

    stats: list[dict] = []
    with tracer.span("streaming.stream_curate_jsonl"):
        curated, n_quarantined = stream_curate_jsonl(
            spark, src, wd, template, threshold=CURATE_THRESHOLD, gate=gate,
            batch_stats=stats, seed_index_path=seed_idx,
        )
    layers["curate.batch_s"] = median([r["wall_s"] for r in stats])
    with timed("curate.pack_s", "llm.curation.pack_sequences"):
        packed = pack_sequences(curated, budget=PACK_BUDGET).toPandas()
    kept = {int(i) for i in curated.select("doc_id").toPandas()["doc_id"]}
    truth = {d["doc_id"]: d["text"] for d in shard if d["kind"] == "fresh"}
    layers["curate.kept_docs"] = float(len(kept))
    layers["curate.quarantined"] = float(n_quarantined)
    ref = refs.pack_reference(truth, PACK_BUDGET)
    checks = {
        "curate kept set": kept == set(truth),
        "curate quarantine": n_quarantined == len(gen.BAD_LINES),
        "pack_sequences": refs.same_digest(refs.digest(packed), refs.digest(ref)),
    }

    # --- simsearch: every cell probed, so the top-k must equal brute force
    vecs = gen.vectors(ctx.seed, VEC_BASE + VEC_ADD, VEC_DIM)

    def frame(lo: int, hi: int):
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": range(lo, hi), "embedding": [list(v) for v in vecs[lo:hi]]}),
            "vec_id long, embedding array<double>",
        )

    index = ctx.path("ivf")
    with timed("simsearch.build_s", "llm.simsearch.build_and_save_ivf_index"):
        save_ivf_index(*build_ivf_index(frame(0, VEC_BASE), n_cells=IVF_CELLS, dim=VEC_DIM), index)
    with timed("simsearch.add_s", "llm.simsearch.ivf_index_add"):
        ivf_index_add(spark, index, frame(VEC_BASE, VEC_BASE + VEC_ADD))
    cells = [d for d in os.listdir(os.path.join(index, "cells")) if d.startswith("cell=")]
    layers["simsearch.files_per_cell"] = sum(
        f.endswith(".parquet") for d in cells for f in os.listdir(os.path.join(index, "cells", d))
    ) / max(1, len(cells))
    queries = [int(q) for q in np.random.default_rng([ctx.seed, 7]).choice(len(vecs), 8, replace=False)]
    ctx.jobs.take()
    with timed("simsearch.topk_s", "llm.simsearch.ivf_index_topk"):
        got = ivf_index_topk(spark, index, queries, k=TOPK, n_probe=IVF_CELLS).toPandas()
    layers["simsearch.jobs_per_search"] = float(ctx.jobs.take()["jobs"])
    want = refs.topk_reference(vecs, queries, TOPK)
    got_ids = {
        int(q): list(g.sort_values("rank")["neighbor_id"]) for q, g in got.groupby("query_id")
    }
    checks["ivf_index_topk"] = got_ids == want
    tracer.active = False
    for name, ok in checks.items():
        if not ok:
            print(f"  FAILED check: {name}")
    return layers, len(checks), sum(not ok for ok in checks.values())


WORKLOADS = {
    "candle_ingest": candle_ingest,
    "candle_query": candle_query,
}
