"""Scale-headroom probe: run the core operators on N shifted copies of
the sf0.1 tables (default 10x = ~1M events / 50k docs) and print
per-op wall times. Not part of the driver gates — evidence that the
plans scale linearly rather than hitting a cliff. Usage::

    python tools/scale_probe.py [n_copies]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mora_spark.datasets import candles_from_events, load_table
from mora_spark.llm.dedup import minhash_lsh_pairs
from mora_spark.operators import fill_gaps, resample
from mora_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled_events(spark, n):
    e = load_table(spark, SF_DIR, "events")
    copies = [
        e.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 100} DAYS"))
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def scaled_docs(spark, n):
    d = load_table(spark, SF_DIR, "documents")
    copies = [
        d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="mora_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    events = scaled_events(spark, n)
    docs = scaled_docs(spark, n)
    print(f"events={events.count():,} docs={docs.count():,} (x{n})")

    def run(name, df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        print(f"{name}: {time.time() - t0:.2f}s")

    candles = candles_from_events(events)
    run("candles_1m", candles)
    run("resample_5m", resample(candles, 300))
    run("gapfill", fill_gaps(candles))

    # Event analytics: the funnel is one shuffle on (user, day) + two
    # window passes; copy-mode scaling multiplies users n-fold with
    # per-key row counts unchanged, so it must scale with events.
    # Retention re-shuffles (distinct + cohort agg + rejoin) on
    # user_id — same property.
    from mora_spark.queries.relational import funnel_daily, retention_cohort

    run("funnel_daily", funnel_daily(events))
    run("retention_cohort", retention_cohort(events))
    run("minhash_lsh", minhash_lsh_pairs(docs))
    from mora_spark.llm.dedup import dedup_lines, neardup_clusters

    run("neardup_clusters", neardup_clusters(docs, threshold=0.8))

    # Line-level corpus dedup is a corpus-wide posexplode of every
    # line — THE shape to probe: as copies multiply, the duplication
    # ratio of every line rises, and the winner-agg + semi-join plan
    # must stay flat (a first-occurrence window would concentrate each
    # hot line in one sort partition and cliff here).
    run("dedup_lines", dedup_lines(docs))

    # Train-shard export: md5 permutation + per-shard rank windows —
    # uniform by construction, so the probe verifies the rank sort
    # scales with rows/shard, not corpus shape.
    from mora_spark.llm.curation import train_shards

    run("train_shards", train_shards(docs))

    # Bigram LM scoring: a corpus-wide bigram explode feeding two
    # map-side-combined count aggs and two equi-joins back onto the
    # exploded stream. As copies multiply, every bigram's count rises
    # n-fold while distinct keys stay constant — the probe verifies
    # the count aggs combine map-side (flat) and the join stays a
    # hash shuffle on the bigram key (no broadcast-of-counts assumed).
    from mora_spark.llm.curation import lm_score

    run("lm_score", lm_score(docs))

    # Substring-span dedup: copy-mode scaling multiplies every
    # shingle's document frequency by n_copies, so with the default
    # cap every base-UNIQUE shingle would spawn C(n,2) pairs — pure
    # output explosion, the failure mode the df cap exists to stop.
    # Probe with the cap BELOW the copy factor: verifies the
    # freq-count + cap-join stages scale linearly and that the cap
    # suppresses the pair blow-up (the production boilerplate guard).
    from mora_spark.llm.dedup import duplicate_spans

    run("dup_spans_capped", duplicate_spans(docs, max_df=max(2, n - 2)))

    # Incremental dedup: index the standing corpus once, then dedup a
    # 10% increment against the persisted index (what a continuous
    # ingestion pipeline pays per batch — watch that it scales with
    # the INCREMENT, not the corpus).
    import shutil as _sh0
    import tempfile as _tf0
    import time as _t0mod

    from mora_spark.llm.dedup import (
        build_minhash_index,
        dedup_increment,
        load_minhash_index,
        save_minhash_index,
    )

    ix = _tf0.mkdtemp(prefix="scale_ix_")
    try:
        t0 = time.time()
        save_minhash_index(
            *build_minhash_index(docs.where(F.col("doc_id") % 10 != 0)), ix
        )
        print(f"index_build: {time.time() - t0:.2f}s")
        bands, groups = load_minhash_index(spark, ix)
        run(
            "dedup_increment",
            dedup_increment(
                docs.where(F.col("doc_id") % 10 == 0), bands, groups
            ),
        )
    finally:
        _sh0.rmtree(ix, ignore_errors=True)

    # Curation family: sampling is scan-stage; decontamination joins a
    # broadcast shingle set; packing's prefix sum collects one subtotal
    # per id-chunk (n_docs/chunk driver rows — the knob to watch here).
    from mora_spark.llm.curation import (
        decontaminate,
        pack_sequences,
        stratified_sample,
        vocab_topk,
    )

    run(
        "stratified_sample",
        stratified_sample(docs, "lang", {"en": 0.5}, default_rate=0.1),
    )
    bench_side = docs.where(F.col("doc_id") % 20 == 0)
    train_side = docs.where(F.col("doc_id") % 20 != 0)
    run("decontaminate", decontaminate(train_side, bench_side))
    run("vocab_topk", vocab_topk(docs))
    run("pack_sequences", pack_sequences(docs, chunk=4096))

    # Streaming continuous aggregate, end-to-end: replay the scaled
    # corpus as EQUAL-SIZED micro-batches covering disjoint time
    # windows (each copy is ts-shifted 100 days), so the persisted
    # series grows by one window per batch while batch size stays
    # constant. The contract under test: per-batch maintenance wall
    # (merge + derive_rollup) tracks the BATCH, not the accumulated
    # series — the curve across batches must stay flat, not ramp. The
    # touched-bucket pruning that makes this true is asserted
    # algorithmically in tests/test_store.py; this probe is the
    # wall-clock evidence at scale.
    import glob as _glob
    import shutil as _sh1
    import tempfile as _tf1

    from mora_spark.streaming.ingest import stream_store_merge

    stream_work = _tf1.mkdtemp(prefix="scale_stream_")
    try:
        src = os.path.join(stream_work, "source")
        build = src + ".build"
        # 2 chunks per copy; the file stream takes 2 files per trigger,
        # so each micro-batch is exactly one ts-window's events.
        (
            events.repartitionByRange(2 * n, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .parquet(build)
        )
        os.makedirs(src)
        parts = sorted(_glob.glob(os.path.join(build, "part-*.parquet")))
        for i, p in enumerate(parts):
            path = os.path.join(src, f"chunk-{i:04d}.parquet")
            os.rename(p, path)
            os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
        _sh1.rmtree(build, ignore_errors=True)

        stats: list[dict] = []
        t0 = time.time()
        stream_store_merge(
            spark,
            src,
            stream_work,
            os.path.join(stream_work, "store"),
            rollup_lengths=(300,),
            batch_stats=stats,
        )
        print(f"stream_store_rollup_total: {time.time() - t0:.2f}s")
        for s in stats:
            print(
                f"  batch {s['batch_id']:>2}: rows={s['rows']:>7,} "
                f"merge={s['merge_s']:.2f}s rollup={s['rollup_s']:.2f}s"
            )
        # batch_stats holds data batches only (the sink runs no
        # watermark-only no-data batch and skips empty ones).
        walls = [s["merge_s"] + s["rollup_s"] for s in stats]
        if len(walls) >= 6:
            # Flatness check with host-noise slack: the mean of the
            # last third must not exceed 2x the mean of the first
            # third (a series-length-proportional cost would ramp
            # n/3-fold here).
            k = len(walls) // 3
            first, last = sum(walls[:k]) / k, sum(walls[-k:]) / k
            print(
                f"  per-batch maintenance: first-third {first:.2f}s "
                f"-> last-third {last:.2f}s"
            )
            assert last <= 2.0 * first + 0.5, (
                "per-batch maintenance cost ramps with series length"
            )
    finally:
        _sh1.rmtree(stream_work, ignore_errors=True)

    # Manifest-log store: initial merge commit, an overlapping upsert
    # (read-back + replace of every touched partition), and a pruned
    # keyed read — the full reference write->commit->read contract.
    import shutil as _sh
    import tempfile

    from mora_spark.engine import CandleStore

    store_dir = tempfile.mkdtemp(prefix="scale_store_")
    try:
        store = CandleStore(spark, store_dir)
        t0 = time.time()
        store.write(candles)
        print(f"store_initial_merge: {time.time() - t0:.2f}s")
        t0 = time.time()
        store.write(
            candles.where(F.col("code") == "click").withColumn(
                "close", F.col("close") + 1.0
            )
        )
        print(f"store_upsert_merge: {time.time() - t0:.2f}s")
        t0 = time.time()
        n_rows = store.read(market="SYN", code="click").count()
        print(f"store_pruned_read: {time.time() - t0:.2f}s ({n_rows:,} rows)")

        # Continuous-append lifecycle: many small blind appends leave
        # one file per append per partition; compact() must bound the
        # file count and vacuum() must reclaim the superseded files —
        # with byte-identical read results. This is the maintenance
        # loop a production store runs forever.
        def live_files(s):
            _, pointers = s._log.current()
            return sum(p["n"] for p in pointers)

        appends = 8
        t0 = time.time()
        slice_src = candles.where(F.col("code") == "click")
        for i in range(appends):
            store.write(
                slice_src.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {i + 1} HOURS")
                ),
                mode="append",
            )
        files_after_appends = live_files(store)
        print(
            f"store_{appends}_appends: {time.time() - t0:.2f}s "
            f"({files_after_appends} live files)"
        )
        before = store.read(market="SYN").count()
        t0 = time.time()
        store.compact()
        files_after_compact = live_files(store)
        reclaimed = store.vacuum(older_than_s=0)
        after = store.read(market="SYN").count()
        print(
            f"store_compact+vacuum: {time.time() - t0:.2f}s "
            f"(files {files_after_appends}->{files_after_compact}, "
            f"vacuumed {reclaimed})"
        )
        assert files_after_compact < files_after_appends, (
            "compact did not reduce live file count"
        )
        assert after == before, (
            f"row count changed across compact/vacuum: {before} -> {after}"
        )
    finally:
        _sh.rmtree(store_dir, ignore_errors=True)

    probe_round6(spark, events, docs, n)
    probe_round8(spark, docs, n)


def probe_round6(spark, events, docs, n) -> None:
    """Round-6 surfaces: JSONL interchange, PSI drift, bucketed
    co-located joins, the IVF maintenance lifecycle (recall through a
    retrain), and the end-to-end curation pipeline's per-batch
    flatness. Runnable standalone: ``python tools/scale_probe.py 10 r6``."""
    import shutil as _sh

    def run(name, df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        print(f"{name}: {time.time() - t0:.2f}s")

    # JSONL interchange: batch write -> explicit-schema batch read, and
    # the streaming ingest with a planted-bad shard mid-stream. JSONL
    # is splittable text, the scan parallelizes per shard, quarantine
    # is a scan-stage column — both paths must scale with corpus bytes.
    import tempfile as _tf2

    from mora_spark.sources.jsonl import (
        CORRUPT_COL,
        read_jsonl,
        read_jsonl_stream,
        write_jsonl,
    )

    jl_work = _tf2.mkdtemp(prefix="scale_jsonl_")
    try:
        jsrc = os.path.join(jl_work, "shards")
        t0 = time.time()
        write_jsonl(docs, jsrc, n_files=2 * n)
        print(f"jsonl_write: {time.time() - t0:.2f}s ({2 * n} shards)")
        t0 = time.time()
        # (Counting only the corrupt column off a raw JSON scan is
        # disallowed by Spark; no bad shard exists yet, so the plain
        # count is the good-row count.)
        n_rows = read_jsonl(spark, jsrc, docs).count()
        print(f"jsonl_read: {time.time() - t0:.2f}s ({n_rows:,} rows)")
        with open(os.path.join(jsrc, "planted-bad.json"), "w") as f:
            f.write('{"doc_id": 1, "text": "truncated mid-wri\n')
            f.write("not json at all\n")
        out = os.path.join(jl_work, "ingested")
        t0 = time.time()
        q = (
            read_jsonl_stream(
                spark, jsrc, docs, max_files_per_trigger=max(2, n // 2)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(jl_work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_q = (
            spark.read.parquet(out)
            .where(F.col(CORRUPT_COL).isNotNull())
            .count()
        )
        print(
            f"jsonl_stream_ingest: {time.time() - t0:.2f}s "
            f"(quarantined {n_q})"
        )
        assert n_q == 2, "planted-bad lines must quarantine, not kill"
    finally:
        _sh.rmtree(jl_work, ignore_errors=True)

    # PSI drift monitor: bounded-key count agg + broadcast totals +
    # bin-level full outer — nothing after the scan grows with rows.
    from mora_spark.queries.relational import psi_drift

    run("drift_psi", psi_drift(events, split="2024-06-01 00:00:00"))

    # Bucketed co-located tables: the build is a one-time ingest cost
    # (one hash shuffle of each side); every later join is exchange-
    # free. n_buckets sizing: one bucket = one join task reading
    # co-located files — target a comfortable task (~100-500 MB) at
    # production scale; the probe prints rows+MB per bucket so the
    # sizing rationale is recorded at this scale.
    from mora_spark.operators.bucketed import (
        exchanges_in_plan,
        save_bucketed,
    )

    bk_work = _tf2.mkdtemp(prefix="scale_bucketed_")
    try:
        n_buckets = 8
        ev = events.select("event_id", "user_id", "event_type", "value")
        twin = ev.select(
            "event_id", (F.col("value") * 1.01).alias("value2")
        )
        t0 = time.time()
        ba = save_bucketed(
            ev, "sp_probe_a", os.path.join(bk_work, "a"),
            ["event_id"], n_buckets=n_buckets, sort_cols=["event_id"],
        )
        bb = save_bucketed(
            twin, "sp_probe_b", os.path.join(bk_work, "b"),
            ["event_id"], n_buckets=n_buckets, sort_cols=["event_id"],
        )
        build_s = time.time() - t0
        n_ev = ev.count()
        mb = sum(
            os.path.getsize(os.path.join(dp, fname))
            for d in ("a", "b")
            for dp, _, fs in os.walk(os.path.join(bk_work, d))
            for fname in fs
        ) / 1e6
        print(
            f"bucketed_build: {build_s:.2f}s ({n_buckets} buckets, "
            f"{n_ev // n_buckets:,} rows / {mb / 2 / n_buckets:.1f} MB "
            f"per bucket per side)"
        )
        bc_keys = [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ]
        for key in bc_keys:
            spark.conf.set(key, "-1")
        try:
            j = ba.join(bb, "event_id")
            t0 = time.time()
            j.write.format("noop").mode("overwrite").save()
            nx = exchanges_in_plan(j)
            print(f"bucketed_join: {time.time() - t0:.2f}s (exchanges={nx})")
            assert nx == 0, "co-located join must plan shuffle-free"
            pa = spark.read.parquet(os.path.join(bk_work, "a"))
            pb = spark.read.parquet(os.path.join(bk_work, "b"))
            t0 = time.time()
            pa.join(pb, "event_id").write.format("noop").mode(
                "overwrite"
            ).save()
            print(f"plain_join:    {time.time() - t0:.2f}s (both sides shuffle)")
        finally:
            for key in bc_keys:
                spark.conf.unset(key)
    finally:
        _sh.rmtree(bk_work, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS sp_probe_a")
        spark.sql("DROP TABLE IF EXISTS sp_probe_b")

    # IVF maintenance lifecycle, judged on QUALITY at scale: plant
    # known duplicates (cos = 1.0 scaled copies), drift the index with
    # shifted increments until health alarms, compact (retrain fires),
    # and verify planted-pair recall held through the retrain — the
    # "done" signal for index maintenance is recall, not file layout.
    from mora_spark.llm.simsearch import (
        build_ivf_index,
        ivf_index_add,
        ivf_index_compact,
        ivf_index_health,
        ivf_index_topk,
        save_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    emb_scaled = emb
    for i in range(1, n):
        emb_scaled = emb_scaled.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        )
    plant_src = list(range(1, 33))
    plants = emb.where(F.col("vec_id").isin(plant_src)).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.5).alias("embedding"),
    )
    ivf_work = _tf2.mkdtemp(prefix="scale_ivf_")
    try:
        isrc = os.path.join(ivf_work, "src")
        idst = os.path.join(ivf_work, "dst")
        t0 = time.time()
        save_ivf_index(
            *build_ivf_index(
                emb_scaled.unionByName(plants), n_cells=16, train_iters=2
            ),
            isrc,
        )
        print(f"ivf_build({emb_scaled.count() + 32:,} vecs): "
              f"{time.time() - t0:.2f}s")

        def planted_recall(path):
            got = ivf_index_topk(
                spark, path, plant_src, k=5, n_probe=2
            ).collect()
            found = {
                r["query_id"]
                for r in got
                if r["neighbor_id"] == r["query_id"] + 5_000_000
            }
            return len(found) / len(plant_src)

        t0 = time.time()
        for i in range(3):
            drift = emb.select(
                (F.col("vec_id") + 50_000_000 + i * 1_000_000).alias(
                    "vec_id"
                ),
                F.transform("embedding", lambda x: F.abs(x) + 1.0).alias(
                    "embedding"
                ),
            )
            ivf_index_add(spark, isrc, drift)
        print(f"ivf_3_drift_adds: {time.time() - t0:.2f}s")
        before = ivf_index_health(spark, isrc)
        r_before = planted_recall(isrc)
        t0 = time.time()
        stats = ivf_index_compact(spark, isrc, idst, retrain_imbalance=2.0)
        compact_s = time.time() - t0
        after = ivf_index_health(spark, idst)
        r_after = planted_recall(idst)
        print(
            f"ivf_compact_retrain: {compact_s:.2f}s (retrained="
            f"{stats['retrained']}, imbalance {before['imbalance']:.1f}"
            f"->{after['imbalance']:.1f}, max files/cell "
            f"{before['max_files_per_cell']}->{after['max_files_per_cell']}, "
            f"planted recall {r_before:.2f}->{r_after:.2f})"
        )
        assert stats["retrained"], "drifted index must trigger retrain"
        assert r_after >= r_before and r_after == 1.0, (
            "recall must hold through the retrain"
        )
    finally:
        _sh.rmtree(ivf_work, ignore_errors=True)

    # End-to-end JSONL curation pipeline: per-batch wall must track
    # BATCH size as the curated corpus + LSH index grow (the same
    # flatness contract as the continuous aggregate) — the index joins
    # are directory-pruned, the gates scan-stage.
    from mora_spark.functions.text import lang_guess, quality_score, tokens
    from mora_spark.streaming.pipeline import stream_curate_jsonl

    pipe_work = _tf2.mkdtemp(prefix="scale_pipe_")
    try:
        psrc = os.path.join(pipe_work, "shards")
        os.makedirs(psrc)
        n_shards = 2 * n
        tmp = os.path.join(pipe_work, "build")
        write_jsonl(
            docs.withColumn(
                "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards))
            ).repartition(n_shards, "shard").drop("shard"),
            tmp,
        )
        parts = sorted(
            p for p in os.listdir(tmp) if p.endswith(".json")
        )
        for i, p in enumerate(parts):
            dst = os.path.join(psrc, f"shard-{i:04d}.json")
            os.rename(os.path.join(tmp, p), dst)
            os.utime(dst, (1_600_000_000 + i,) * 2)
        _sh.rmtree(tmp, ignore_errors=True)

        def gate(df):
            toks = tokens("text")
            return df.where(
                (lang_guess(toks) == "en")
                & (quality_score(toks) >= 0.5)
                & (F.size(toks) >= 20)
            )

        stats = []
        t0 = time.time()
        curated, n_q = stream_curate_jsonl(
            spark, psrc, pipe_work, docs, threshold=0.8, gate=gate,
            batch_stats=stats,
        )
        print(
            f"pipeline_total: {time.time() - t0:.2f}s "
            f"({len(stats)} batches, kept {curated.count():,}, "
            f"quarantined {n_q})"
        )
        walls = [s["wall_s"] for s in stats if s["rows"]]
        for s in stats:
            print(
                f"  batch {s['batch_id']:>2}: rows={s['rows']:>7,} "
                f"wall={s['wall_s']:.2f}s"
            )
        if len(walls) >= 6:
            k = len(walls) // 3
            first, last = sum(walls[:k]) / k, sum(walls[-k:]) / k
            print(
                f"  per-batch curation: first-third {first:.2f}s "
                f"-> last-third {last:.2f}s"
            )
            assert last <= 2.0 * first + 0.5, (
                "per-batch pipeline cost ramps with corpus size"
            )
    finally:
        _sh.rmtree(pipe_work, ignore_errors=True)


def scaled_embeddings(spark, n):
    """n shifted copies of the embeddings table. Copies keep the raw
    vector values (cosine geometry unchanged); ids shift by 10M per
    copy so every row stays unique."""
    e = load_table(spark, SF_DIR, "embeddings")
    copies = [
        e.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def probe_round8(spark, docs, n) -> None:
    """Round-8 surfaces: PQ planted recall at scale, the pipeline
    sink's n_files write scaling, and the CSV multiLine split-unit
    trade-off. Standalone: ``python tools/scale_probe.py 10 r8``."""
    import shutil as _sh
    import tempfile as _tf

    # --- PQ: planted recall through trained codebooks at n x ---
    # Exact copies of each query are planted at negative ids; the
    # min-ADC property makes their top-k structural under ANY trained
    # codebook (queries/vectors.py::q_ann_pq), and the tie-break keeps
    # it so even though the scaled corpus contains positive-id exact
    # duplicates of the query rows themselves. Recall must be 1.0 —
    # the same quality-judged "done" signal the IVF lifecycle uses.
    from mora_spark.llm.simsearch import pq_topk, train_pq_codebooks
    from mora_spark.queries.vectors import N_QUERIES, TOP_K, _planted_pq

    # _planted_pq is the SAME plant constructor the driver-checked
    # query uses — one copy of the negative-id scheme to keep in sync.
    corpus = _planted_pq(scaled_embeddings(spark, n))
    t0 = time.time()
    books = train_pq_codebooks(corpus.where(F.col("vec_id") >= N_QUERIES))
    train_s = time.time() - t0
    t0 = time.time()
    got = pq_topk(
        corpus, books, query_ids=list(range(N_QUERIES)), k=TOP_K,
        shortlist=50,
    ).collect()
    want = {
        (q, -(q * TOP_K + j + 1))
        for q in range(N_QUERIES)
        for j in range(TOP_K)
    }
    recall = len({(r["query_id"], r["neighbor_id"]) for r in got} & want) / len(want)
    print(
        f"pq_planted_recall: {recall:.2f} (train {train_s:.2f}s, "
        f"search {time.time() - t0:.2f}s, corpus {corpus.count():,})"
    )
    assert recall == 1.0, f"PQ planted recall {recall} != 1.0"

    # --- pipeline sink: n_files write scaling on one large batch ---
    # One big JSONL shard = one micro-batch. n_files=1 serializes each
    # per-batch table write into a single task; n_files=8 repartitions
    # so the curated write runs 8 tasks and lands 8 parts.
    from mora_spark.sources.jsonl import write_jsonl
    from mora_spark.streaming.pipeline import stream_curate_jsonl

    pipe_root = _tf.mkdtemp(prefix="r8_pipe_")
    try:
        src = os.path.join(pipe_root, "src")
        tmp = os.path.join(pipe_root, "tmp")
        write_jsonl(docs.select("doc_id", "text"), tmp, n_files=1)
        os.makedirs(src, exist_ok=True)
        part = next(p for p in os.listdir(tmp) if p.endswith(".json"))
        os.replace(os.path.join(tmp, part), os.path.join(src, "big.json"))
        for nf in (1, 8):
            work = os.path.join(pipe_root, f"work_{nf}")
            t0 = time.time()
            stream_curate_jsonl(
                spark, src, work, docs.select("doc_id", "text"),
                n_files=nf,
            )
            cur = os.path.join(work, "curated", "batch_id=0")
            parts = len(
                [p for p in os.listdir(cur) if p.endswith(".parquet")]
            )
            print(
                f"pipeline_large_batch n_files={nf}: "
                f"{time.time() - t0:.2f}s ({parts} curated parts)"
            )
            if nf > 1:
                assert parts == nf, f"expected {nf} parts, got {parts}"
    finally:
        _sh.rmtree(pipe_root, ignore_errors=True)

    # --- CSV: multiLine split-unit trade-off ---
    # multiLine=True makes one FILE the split unit (required when
    # fields may embed newlines); for newline-free corpora
    # multi_line=False regains line-level splitting, so the same two
    # shards scan with many partitions instead of two. Partition
    # counts are read under a 4 MB maxPartitionBytes so the split is
    # visible at probe scale.
    from mora_spark.sources.csvio import read_csv, write_csv

    csv_dir = _tf.mkdtemp(prefix="r8_csv_")
    try:
        flat = docs.select(
            "doc_id",
            F.regexp_replace("text", "[\n\r]", " ").alias("text"),
        )
        write_csv(flat, csv_dir, n_files=2)
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))
        try:
            for ml in (True, False):
                t0 = time.time()
                df = read_csv(spark, csv_dir, flat, multi_line=ml)
                nparts = df.rdd.getNumPartitions()
                cnt = df.count()
                print(
                    f"csv_read multiLine={ml}: {time.time() - t0:.2f}s "
                    f"({nparts} scan partitions, {cnt:,} rows)"
                )
                if ml:
                    parts_ml = nparts
                else:
                    assert nparts >= parts_ml, (
                        "line-splittable read lost parallelism"
                    )
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    finally:
        _sh.rmtree(csv_dir, ignore_errors=True)


def probe_round9(spark, docs, n) -> None:
    """Round-9 surfaces: PQ recall vs quantization budget, filtered
    ANN selectivity behavior, semantic dedup at scale, and the derived
    packing chunk. Standalone: ``python tools/scale_probe.py 10 r9``."""
    import shutil as _sh
    import tempfile as _tf

    import numpy as _np

    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        pq_topk,
        save_ivfpq_index,
        train_pq_codebooks,
    )
    from mora_spark.queries.vectors import N_QUERIES

    # --- PQ: raw-corpus recall vs (K, shortlist) budget ---
    # The structural plant oracle pins correctness; THIS is the quality
    # knob chart: how much recall the sub-byte budget buys on the raw
    # corpus. K=16 is the in-window default (0.5 B/dim — cheapest
    # oracle-checked build); K=256 + shortlist 200 is the production
    # setting (1 B/dim, the faiss default geometry).
    emb = scaled_embeddings(spark, n).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )
    emb.cache()
    rows = emb.select("vec_id", "embedding", "label").collect()
    mats = _np.stack([_np.asarray(r["embedding"]) for r in rows])
    ids = _np.array([r["vec_id"] for r in rows])
    labels = _np.array([r["label"] for r in rows])
    norms = _np.linalg.norm(mats, axis=1)
    qidx = {int(i): _np.where(ids == i)[0][0] for i in range(N_QUERIES)}

    def exact_topk(qid, k=5, mask=None):
        qv = mats[qidx[qid]]
        cos = _np.round(mats @ qv / (norms * _np.linalg.norm(qv)), 6)
        keep = _np.ones(len(ids), dtype=bool) if mask is None else mask.copy()
        keep[ids == qid] = False
        order = sorted(
            _np.where(keep)[0], key=lambda i: (-cos[i], ids[i])
        )
        return {int(ids[i]) for i in order[:k]}

    rec: dict[tuple[int, int], float] = {}
    for n_codes in (16, 256):
        t0 = time.time()
        books = train_pq_codebooks(emb, n_codes=n_codes)
        train_s = time.time() - t0
        for shortlist in (50, 200):
            t0 = time.time()
            got = pq_topk(
                emb, books, query_ids=list(range(N_QUERIES)), k=5,
                shortlist=shortlist,
            ).collect()
            hits = sum(
                len(
                    {
                        r["neighbor_id"]
                        for r in got
                        if r["query_id"] == q
                    }
                    & exact_topk(q)
                )
                for q in range(N_QUERIES)
            )
            recall = hits / (5 * N_QUERIES)
            print(
                f"pq_budget K={n_codes} shortlist={shortlist}: "
                f"raw_recall {recall:.2f} "
                f"(train {train_s:.2f}s, search {time.time() - t0:.2f}s)"
            )
            rec[(n_codes, shortlist)] = recall
    assert rec[(256, 200)] >= rec[(16, 50)], (
        f"bigger budget lost recall: {rec}"
    )

    # --- filtered ANN: selectivity x recall on the persisted index ---
    # Two regimes, measured separately:
    # (1) PLANTED (structural): labeled exact copies of each query sit
    #     inside the predicate set; filtered search must return all of
    #     them at ANY n_probe — the scaled twin of q_ann_filtered's
    #     oracle. Hard-asserted at 1.0.
    # (2) RAW (informational): on this synthetic corpus every query's
    #     label is OUTSIDE the filter set at sf0.1, so the true
    #     filtered matches are weak-similarity vectors (cos ~0.3 —
    #     noise-level). Cell pruning misses those by design; the row
    #     pair shows n_probe as the recovery knob (recall must be
    #     monotone in n_probe), which is exactly how faiss users tune
    #     filtered search on hard predicates.
    from mora_spark.queries.vectors import TOP_K, _planted_pq_labeled

    idx_dir = _tf.mkdtemp(prefix="r9_ivfpq_")
    planted = _planted_pq_labeled(emb)
    try:
        t0 = time.time()
        save_ivfpq_index(
            *build_ivfpq_index(planted, train_iters=2), idx_dir
        )
        print(f"ivfpq_build(planted): {time.time() - t0:.2f}s")
        t0 = time.time()
        got = ivfpq_index_topk(
            spark, idx_dir, query_ids=list(range(N_QUERIES)), k=TOP_K,
            n_probe=4, predicate="label IN (1, 3, 5)",
        ).collect()
        want = {
            (q, -(q * TOP_K + j + 1))
            for q in range(N_QUERIES)
            for j in range(TOP_K)
        }
        hit = len(
            {(r["query_id"], r["neighbor_id"]) for r in got} & want
        )
        print(
            f"ivfpq_filtered planted: recall {hit / len(want):.2f} "
            f"({time.time() - t0:.2f}s, n_probe=4)"
        )
        assert hit == len(want), "planted filtered recall != 1.0"
    finally:
        _sh.rmtree(idx_dir, ignore_errors=True)

    mask = _np.isin(labels, (1, 3, 5))
    lbl = {int(i): int(l) for i, l in zip(ids, labels)}
    ladder = []
    for n_codes, n_probe, shortlist in (
        (16, 4, 50),      # the oracle-checked test-scale budget
        (16, 16, 200),    # wider probe + shortlist, same codes
        (256, 16, 200),   # the production budget (1 B/dim)
    ):
        idx_dir = _tf.mkdtemp(prefix="r9_ivfpq_raw_")
        try:
            save_ivfpq_index(
                *build_ivfpq_index(
                    emb, train_iters=2, n_codes=n_codes
                ),
                idx_dir,
            )
            t0 = time.time()
            got = ivfpq_index_topk(
                spark, idx_dir, query_ids=list(range(N_QUERIES)), k=5,
                n_probe=n_probe, shortlist=shortlist,
                predicate="label IN (1, 3, 5)",
            ).collect()
            per_q = {
                q: {r["neighbor_id"] for r in got if r["query_id"] == q}
                for q in range(N_QUERIES)
            }
            assert all(len(v) == 5 for v in per_q.values()), (
                "filtered search under-filled k"
            )
            assert all(
                lbl[nid] in (1, 3, 5)
                for v in per_q.values()
                for nid in v
            ), "a neighbor escaped the predicate"
            hits = sum(
                len(per_q[q] & exact_topk(q, mask=mask))
                for q in range(N_QUERIES)
            )
            ladder.append(hits / (5 * N_QUERIES))
            print(
                f"ivfpq_filtered raw sel~30% K={n_codes} "
                f"n_probe={n_probe} shortlist={shortlist}: "
                f"recall {ladder[-1]:.2f} ({time.time() - t0:.2f}s)"
            )
        finally:
            _sh.rmtree(idx_dir, ignore_errors=True)
    # Endpoints only: the rungs train INDEPENDENT codebooks (different
    # xxhash64-ordered seeds per K), so strict per-rung monotonicity is
    # empirical, not structural — the same non-guarantee the OPQ test
    # documents. The production budget must not lose to the smallest.
    assert ladder[-1] >= ladder[0], (
        f"production budget lost to the smallest: {ladder}"
    )

    # --- semantic dedup at n x ---
    # The scaled corpus holds n exact copies of every raw vector (ids
    # shift, values don't) plus each copy's shifted plant, so every
    # cluster must contain >= 2 members and the component count is
    # bounded by the number of distinct raw vectors.
    from mora_spark.llm.semdedup import semantic_dedup
    from mora_spark.queries.vectors import _planted

    t0 = time.time()
    sd = semantic_dedup(
        _planted(emb.select("vec_id", "embedding")),
        threshold=0.95, n_bits=8, n_bands=16,
    ).collect()
    n_raw = load_table(spark, SF_DIR, "embeddings").count()
    sizes = [r["cluster_size"] for r in sd]
    print(
        f"semdedup x{n}: {len(sd)} clusters, "
        f"{sum(sizes):,} members, {time.time() - t0:.2f}s"
    )
    assert len(sd) <= n_raw, "more clusters than distinct raw vectors"
    assert all(s >= 2 for s in sizes)
    assert sum(sizes) >= 2 * n * len(sd)  # n copies + n plants per raw
    emb.unpersist()

    # --- derived packing chunk at n x ---
    from mora_spark.llm.curation import _derive_pack_chunk, pack_by_domain

    t0 = time.time()
    chunk = _derive_pack_chunk(docs, "doc_id")
    packed = pack_by_domain(docs, budget=512)
    per = packed.groupBy("source").agg(
        F.max("cum_tokens").alias("max_cum"),
        F.sum("tok_len").alias("total"),
    ).collect()
    assert per and all(r["max_cum"] == r["total"] for r in per), (
        "token conservation broke under the derived chunk"
    )
    print(
        f"pack_by_domain x{n}: derived chunk={chunk}, "
        f"{len(per)} domains conserved, {time.time() - t0:.2f}s"
    )


def mostly_unique_docs(spark, n, plant_every=100):
    """Grow the documents corpus WITHOUT growing near-dup clusters —
    the round-10 scaling mode. ``scaled_docs`` duplicates the corpus
    verbatim, so every doc sits in an n-member exact-dup cluster and
    intra-cluster edges grow with n^2: its 10x/20x chart measures
    emitted-pair VOLUME, not engine cost. Here copy i instead rewrites
    EVERY token to a per-copy md5 (see ``rewrite`` below): token sets
    are disjoint ACROSS copies and vs the original (jaccard ~0), while
    WITHIN a copy the base corpus's natural near-dup structure is
    preserved (same rewrite both sides), so natural pairs replicate
    linearly — and plant DENSITY is held constant: docs with
    doc_id % plant_every == 7 get one exact duplicate inside their own
    copy's id space. Emitted pairs grow linearly with the corpus;
    what's left to measure is the engine."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    def rewrite(i):
        # Per-copy token rewrite: every token becomes an 8-hex-char
        # md5 keyed by (token, copy). Within a copy, near-dup docs
        # stay near-dups (same rewrite both sides — the base corpus's
        # natural cliques replicate linearly); ACROSS copies token
        # sets are disjoint (jaccard 0) and byte grids pseudorandom
        # (dHash collisions at the 2^-56 birthday floor).
        def f(t):
            return F.substring(F.md5(F.concat(t, F.lit(str(i)))), 1, 8)

        return f

    parts = [d]
    for i in range(1, n):
        toks = F.split(F.col("text"), "\\s+")
        parts.append(
            d.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.concat_ws(" ", F.transform(toks, rewrite(i))).alias(
                    "text"
                ),
            )
        )
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    plants = out.where(F.col("doc_id") % plant_every == 7).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"), "text"
    )
    return out.unionByName(plants)


def mostly_unique_embeddings(spark, n, plant_every=100):
    """The embedding twin of :func:`mostly_unique_docs`: copy i adds
    deterministic per-(vector, copy, coord) noise of ~0.5 relative
    norm, pushing cosine against the original (and every other copy)
    below the 0.95 semdedup threshold, while a constant fraction of
    EXACT copies (vec_id % plant_every == 7, +5M offset) keeps the
    planted-pair density fixed."""
    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    from mora_spark.functions.vectors import l2_norm

    def add_noise(i, amp):
        def f(x, idx):
            u = (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), F.lit(i), idx),
                    F.lit(2001),
                )
                - F.lit(1000)
            ).cast("double") / F.lit(1000.0)
            return x + amp * u

        return f

    parts = [e]
    for i in range(1, n):
        amp = F.lit(0.9) * l2_norm(F.col("embedding")) / F.lit(8.0)
        noisy = F.transform(F.col("embedding"), add_noise(i, amp))
        parts.append(
            e.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                noisy.alias("embedding"),
            )
        )
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    plants = out.where(F.col("vec_id") % plant_every == 7).select(
        (F.col("vec_id") + F.lit(5_000_000)).alias("vec_id"), "embedding"
    )
    return out.unionByName(plants)


def probe_round10(spark, n) -> None:
    """Round-10 surfaces: the dedup families under MOSTLY-UNIQUE
    corpus growth (constant plant density) — the chart that separates
    engine cost from output volume — for MinHash, semantic, and
    perceptual dedup. Standalone: ``python tools/scale_probe.py 10 r10``."""
    from mora_spark.llm.multimodal import media_from_documents, media_neardup_pairs
    from mora_spark.llm.semdedup import semantic_dedup

    def rates(k):
        docs_u = mostly_unique_docs(spark, k)
        n_docs = docs_u.count()
        t0 = time.time()
        mh = minhash_lsh_pairs(docs_u).count()
        mh_s = time.time() - t0
        t0 = time.time()
        md = media_neardup_pairs(media_from_documents(docs_u)).count()
        md_s = time.time() - t0
        emb_u = mostly_unique_embeddings(spark, k)
        n_emb = emb_u.count()
        t0 = time.time()
        sd = semantic_dedup(emb_u, threshold=0.95, n_bits=8, n_bands=16)
        members = sd.agg(
            F.count(F.lit(1)).alias("c"), F.sum("cluster_size").alias("m")
        ).collect()[0]
        sd_s = time.time() - t0
        print(
            f"x{k}: docs={n_docs:,} vecs={n_emb:,} | "
            f"minhash {mh_s:.1f}s {mh:,}p ({1000 * mh / n_docs:.1f}/1k) | "
            f"media {md_s:.1f}s {md:,}p ({1000 * md / n_docs:.1f}/1k) | "
            f"semdedup {sd_s:.1f}s {members['c']:,}cl "
            f"{members['m']:,}mem ({1000 * members['m'] / n_emb:.1f}/1k)"
        )
        return (mh / n_docs, md / n_docs, members["m"] / n_emb)

    base = rates(1)
    scaled = rates(n)
    # The engine-cost contract: under constant plant density the
    # per-item pair/membership rate must stay FLAT as the corpus grows
    # (the duplicated-corpus mode's rate grows ~linearly in n because
    # every doc joins an n-member exact clique). Slack covers the
    # birthday-floor collisions the growth itself adds.
    for name, b, s in zip(
        ("minhash pairs", "media pairs", "semdedup members"),
        base,
        scaled,
    ):
        assert s <= 1.3 * b + 0.05, (
            f"{name}/item rate grew {b:.3f} -> {s:.3f}: output is "
            "scaling super-linearly under mostly-unique growth"
        )


def probe_round12(spark, n) -> None:
    """Round-12 surface: the DERIVED semdedup band width
    (``n_bits=None``) at the duplicated-corpus wall where README
    "Scale probes" measured the fixed default at 361.6 s and the
    log2-rule width at 37.6 s (identical answer). Runs the derived
    default, prints the chosen width + wall + output counts; with the
    extra arg ``fixed`` also re-runs the old fixed width and asserts
    the answers match (blocking independence, end to end). Standalone:
    ``python tools/scale_probe.py 40 r12 [fixed]``."""
    from mora_spark.llm.semdedup import semantic_dedup
    from mora_spark.llm.simsearch import derive_srp_bits

    # The mostly-unique corpus — the regime the README chart measured
    # (361.6 s at fixed n_bits=8, 37.6 s at hand-tuned 12 on 80.8k
    # vectors); the duplicated-copies corpus is a different workload
    # (2k exact 40-cliques, output-bound).
    emb = mostly_unique_embeddings(spark, n).persist()
    n_emb = emb.count()
    print(f"vecs={n_emb:,} (x{n}) derived n_bits={derive_srp_bits(n_emb)}")

    def run(bits):
        t0 = time.time()
        sd = semantic_dedup(
            emb, threshold=0.95, n_bits=bits, n_bands=None
        )
        agg = sd.agg(
            F.count(F.lit(1)).alias("c"), F.sum("cluster_size").alias("m")
        ).collect()[0]
        print(
            f"n_bits={bits}: {time.time() - t0:.1f}s "
            f"{agg['c']:,}cl {agg['m']:,}mem"
        )
        return (agg["c"], agg["m"])

    derived = run(None)
    if "fixed" in sys.argv[1:]:
        assert run(8) == derived, "derived width changed the answer"


def probe_round13(spark, n) -> None:
    """Round-13 surface: the two new derive-don't-eyeball paths at
    scale, on the mostly-unique corpus (the regime where candidate
    volume — not output volume — is what's measured).

    (a) Bloom-prefiltered decontamination vs the exact operator:
        benchmark = every 20th doc, train = the rest plus a recrawl of
        the benchmark under new ids (contamination rate ~5%). Walls
        for both, and the answers asserted identical.
    (b) Recall-derived MinHash banding (3, 35) vs the fixed (4, 4):
        walls + verified-pair counts — the price of the 0.99 recall
        contract is verify work on the extra candidates, which must
        stay ~linear on a mostly-unique corpus.

    Standalone: ``python tools/scale_probe.py 10 r13`` (append
    ``decon`` or ``pairs`` to run one section)."""
    from mora_spark.llm.curation import decontaminate, decontaminate_bloom
    from mora_spark.llm.dedup import derive_minhash_params

    sections = {a for a in sys.argv[1:] if a in ("decon", "pairs")}
    docs = mostly_unique_docs(spark, n).persist()
    print(f"docs={docs.count():,} (x{n})")

    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0).unionByName(
        bench.select(
            (F.col("doc_id") + F.lit(500_000_000)).alias("doc_id"), "text"
        )
    )

    def run_decon(name, fn):
        t0 = time.time()
        rows = {
            (r["doc_id"], r["n_hits"])
            for r in fn(train, bench, n=8).collect()
        }
        print(f"{name}: {time.time() - t0:.1f}s {len(rows):,} flagged")
        return rows

    if not sections or "decon" in sections:
        exact = run_decon("decontaminate(exact)", decontaminate)
        bloom = run_decon("decontaminate_bloom", decontaminate_bloom)
        assert bloom == exact, "bloom pre-pass changed the answer"

    if sections and "pairs" not in sections:
        return

    def run_pairs(name, **kw):
        t0 = time.time()
        c = minhash_lsh_pairs(docs, threshold=0.5, **kw).count()
        print(f"{name}: {time.time() - t0:.1f}s {c:,} pairs")
        return c

    fixed = run_pairs("minhash fixed (4,4)")
    r, b = derive_minhash_params(0.5)
    derived = run_pairs(f"minhash derived ({r},{b})", band_size=r, n_bands=b)
    assert derived >= fixed, "derived banding lost pairs vs fixed"


def probe_round14(spark, n) -> None:
    """Round-14 surface: the recall-derived family through the
    PERSISTED index path (build -> save -> load -> increment with
    index_family), vs the same pipeline on the fixed family, on the
    mostly-unique corpus at n x sf0.1.

    What must hold: (a) the family survives the parquet round-trip —
    pinned by set-equality in tests/test_dedup_increment.py
    (test_derived_family_increment_equals_joint), NOT re-checked
    here (this probe only compares counts/walls at scale); (b) the
    INCREMENT wall is priced by the batch + candidate-verify volume,
    with the derived/fixed ratio staying BELOW the one-shot
    self-join's 12.5-15.6x band (the batch side is a tenth of the
    corpus, so the 0.99 recall contract is cheaper to hold here);
    (c) derived finds >= fixed pairs (asserted).

    Bloom transport record (2026-08-16, 10x): frame 7.8s vs
    pandas_udf 8.2s, identical 2,770 flagged — the UDF path's Arrow
    round-trip of the shingle stream costs ~5% here, so the 64 MB
    auto boundary is about Arrow cell size and per-executor frame
    rebuilds, not throughput.

    Record (idle host, 2026-08-16): 10x — fixed build 18.6s /
    increment 14.3s / 11.3M pairs, derived build 36.6s / increment
    75.1s / 16.8M pairs (ratio 5.3x); 20x — fixed 23.0s / 18.7s /
    23.0M, derived 41.8s / 170.6s / 33.7M (ratio 9.1x). The derived
    increment wall tracks verified-pair volume (2.0x pairs -> 2.3x
    wall from 10x to 20x) and the derived/fixed ratio stays BELOW
    the one-shot path's 12.5-15.6x band — the batch side is a tenth
    of the corpus, so the recall contract is cheaper to hold on the
    production increment shape than on the full self-join.

    Standalone: ``python tools/scale_probe.py 10 r14``."""
    import shutil as _sh
    import tempfile as _tf

    from mora_spark.llm.dedup import (
        build_minhash_index,
        dedup_increment,
        derive_minhash_params,
        load_minhash_family,
        load_minhash_index,
        save_minhash_index,
    )

    docs = mostly_unique_docs(spark, n).persist()
    print(f"docs={docs.count():,} (x{n})")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)

    def pipeline(name, band_size=None, n_bands=None):
        ix = _tf.mkdtemp(prefix=f"scale_ix_{name}_")
        try:
            kw = {}
            if band_size is not None:
                kw = {"band_size": band_size, "n_bands": n_bands}
            t0 = time.time()
            save_minhash_index(
                *build_minhash_index(corpus, **kw), ix, **kw
            )
            build_s = time.time() - t0
            bands, groups = load_minhash_index(spark, ix)
            t0 = time.time()
            c = dedup_increment(
                batch, bands, groups, threshold=0.5,
                index_family=load_minhash_family(ix),
            ).count()
            incr_s = time.time() - t0
            print(
                f"{name}: build+save {build_s:.1f}s, "
                f"increment {incr_s:.1f}s, {c:,} pairs"
            )
            return c, incr_s
        finally:
            _sh.rmtree(ix, ignore_errors=True)

    fixed_pairs, fixed_s = pipeline("fixed (4,4)")
    r, b = derive_minhash_params(0.5)
    der_pairs, der_s = pipeline(f"derived ({r},{b})", r, b)
    assert der_pairs >= fixed_pairs, "derived increment lost pairs"
    print(f"derived/fixed increment wall ratio: {der_s / fixed_s:.1f}x")

    # Bloom transport pricing: the pandas_udf path exists for bitsets
    # too big for one Arrow cell; its price is one Arrow round-trip
    # of the shingle stream. Walls for both transports on the same
    # frames, answers asserted identical (the UDF replays the JVM's
    # integer probe math bit-for-bit).
    from mora_spark.llm.curation import decontaminate_bloom

    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0).unionByName(
        bench.select(
            (F.col("doc_id") + F.lit(500_000_000)).alias("doc_id"), "text"
        )
    )
    flagged = {}
    for transport in ("frame", "pandas_udf"):
        t0 = time.time()
        flagged[transport] = {
            (row["doc_id"], row["n_hits"])
            for row in decontaminate_bloom(
                train, bench, n=8, transport=transport
            ).collect()
        }
        print(
            f"bloom transport={transport}: {time.time() - t0:.1f}s "
            f"{len(flagged[transport]):,} flagged"
        )
    assert flagged["frame"] == flagged["pandas_udf"], (
        "bloom transports disagree"
    )


def probe_round15(spark, n) -> None:
    """Round-15 surface: the Bloom transports priced AT and PAST the
    64 MB regime boundary the auto policy switches on (r14 priced
    both on a small bitset, where the frame was still eligible —
    this run forces the bitset into the regime the pandas_udf path
    EXISTS for, via n_keys_hint oversizing; oversizing only lowers
    the FP rate, so answers stay identical to exact by construction
    and equality across transports is still asserted).

    What must hold: (a) both transports return the identical flagged
    set at every bitset size; (b) auto picks pandas_udf past
    _BLOOM_FRAME_WORDS_MAX; (c) the walls pin WHERE the frame path
    actually degrades — the claim to verify is that the boundary is
    about the one-row Arrow cell + per-executor frame rebuild cost
    growing with bitset size, while the UDF path's Arrow round-trip
    of the shingle stream is size-independent.

    Record (2026-08-16, 10x, three full runs in a degraded-probe
    host phase — RATIOS are the signal, both transports share each
    phase; run 3 with the clear hook active): 68 MB bitset (just
    past boundary) frame 11.9/14.3/13.3s vs udf 8.7/8.7/8.9s;
    272 MB frame 13.2/16.1/14.6s vs udf 7.4/12.9/8.8s; identical
    2,770 flagged in all runs, auto picked udf at both sizes.
    Conclusion: past the boundary the udf transport wins
    consistently (~1.5x) and the frame path degrades mildly with
    bitset size — the 64 MB auto boundary switches on the correct
    side of the crossover. One run-1 26.4s outlier on a repeated
    272 MB call did NOT reproduce and was adjudicated as executor
    accumulation of retained bitset broadcasts (three 272 MB copies
    by that point) — which is why ``clear_bloom_broadcasts`` now
    exists and this probe calls it between sizes (no outlier with
    it active).

    Standalone: ``python tools/scale_probe.py 10 r15``."""
    from mora_spark.llm.curation import (
        _BLOOM_FRAME_WORDS_MAX,
        clear_bloom_broadcasts,
        decontaminate_bloom,
    )

    docs = mostly_unique_docs(spark, n).persist()
    print(f"docs={docs.count():,} (x{n})")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0).unionByName(
        bench.select(
            (F.col("doc_id") + F.lit(500_000_000)).alias("doc_id"), "text"
        )
    )
    bench = bench.persist()
    train = train.persist()

    # keys -> words: m_bits = keys*16 rounded up to a word multiple.
    # Just past the boundary (words > 2^23, ~68 MB) and 4x past it.
    boundary_keys = (_BLOOM_FRAME_WORDS_MAX * 64) // 16 + 64
    for label, keys in (
        ("~68MB (just past boundary)", boundary_keys),
        ("~272MB (4x boundary)", boundary_keys * 4),
    ):
        flagged = {}
        for transport in ("frame", "pandas_udf"):
            t0 = time.time()
            flagged[transport] = {
                (row["doc_id"], row["n_hits"])
                for row in decontaminate_bloom(
                    train, bench, n=8, n_keys_hint=keys,
                    transport=transport,
                ).collect()
            }
            print(
                f"bitset {label} transport={transport}: "
                f"{time.time() - t0:.1f}s "
                f"{len(flagged[transport]):,} flagged"
            )
        assert flagged["frame"] == flagged["pandas_udf"], (
            f"bloom transports disagree at {label}"
        )
        # auto must take the UDF route in this regime
        t0 = time.time()
        auto = {
            (row["doc_id"], row["n_hits"])
            for row in decontaminate_bloom(
                train, bench, n=8, n_keys_hint=keys,
            ).collect()
        }
        print(f"bitset {label} transport=auto: {time.time() - t0:.1f}s")
        assert auto == flagged["frame"]
        # release the accumulated executor bitset copies between
        # sizes — the loop-caller discipline this probe itself needs
        # (a first run without this showed a 26s outlier from three
        # retained 272MB broadcasts)
        clear_bloom_broadcasts()


def probe_round16(spark, n: int = 10) -> None:
    """r15 verdict next #3: repeated PAST-BOUNDARY Bloom calls
    WITHOUT any manual ``clear_bloom_broadcasts`` — the r15 probe
    measured ~3x degradation by the third retained 272 MB bitset
    broadcast, answered then with a manual release hook; r16 made the
    transport auto-unpersist the previous bitset when a new one is
    created, so the un-disciplined loop a long-lived curation service
    actually runs must now stay FLAT per call with exactly one live
    transport broadcast at the end.

    Record (2026-08-16, 10x, degraded-probe host phase, 272 MB
    bitset x5 sequential calls, zero manual clears): walls
    13.8/9.7/7.9/8.3/7.8s — call 1 carries the cold Python-worker/
    Arrow path; calls 2-5 are flat at 7.8-9.7s with NO upward trend
    (the r15 retained-broadcast sequence hit 26.4s by call 3, ~3x),
    identical 2,770 flagged every call, exactly 1 live transport
    broadcast after the loop.

    Standalone: ``python tools/scale_probe.py 10 r16``."""
    from mora_spark.llm import curation
    from mora_spark.llm.curation import (
        _BLOOM_FRAME_WORDS_MAX,
        decontaminate_bloom,
    )

    docs = mostly_unique_docs(spark, n).persist()
    print(f"docs={docs.count():,} (x{n})")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0).unionByName(
        bench.select(
            (F.col("doc_id") + F.lit(500_000_000)).alias("doc_id"), "text"
        )
    )
    bench = bench.persist()
    train = train.persist()
    keys = ((_BLOOM_FRAME_WORDS_MAX * 64) // 16 + 64) * 4  # ~272MB
    walls, flagged = [], []
    for i in range(5):
        t0 = time.time()
        flagged.append(
            {
                (row["doc_id"], row["n_hits"])
                for row in decontaminate_bloom(
                    train, bench, n=8, n_keys_hint=keys,
                    transport="pandas_udf",
                ).collect()
            }
        )
        walls.append(time.time() - t0)
        print(
            f"272MB udf call {i + 1} (no manual clear): "
            f"{walls[-1]:.1f}s {len(flagged[-1]):,} flagged, "
            f"{len(curation._BLOOM_BROADCASTS)} live broadcast(s)"
        )
    assert all(f == flagged[0] for f in flagged)
    assert len(curation._BLOOM_BROADCASTS) == 1, (
        "auto-release must keep exactly the newest bitset broadcast"
    )
    print(
        f"walls {['%.1f' % w for w in walls]} "
        f"max/min {max(walls) / min(walls):.2f}x"
    )


if __name__ == "__main__" and "r16" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    probe_round16(_spark, _n)
elif __name__ == "__main__" and "r15" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    probe_round15(_spark, _n)
elif __name__ == "__main__" and "r14" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    probe_round14(_spark, _n)
elif __name__ == "__main__" and "r13" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    probe_round13(_spark, _n)
elif __name__ == "__main__" and "r12" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 40)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    probe_round12(_spark, _n)
elif __name__ == "__main__" and "r10" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    probe_round10(_spark, _n)
elif __name__ == "__main__" and "r9" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    _docs = scaled_docs(_spark, _n)
    print(f"docs={_docs.count():,} (x{_n}) [r9 sections only]")
    probe_round9(_spark, _docs, _n)
elif __name__ == "__main__" and "r8" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    _docs = scaled_docs(_spark, _n)
    print(f"docs={_docs.count():,} (x{_n}) [r8 sections only]")
    probe_round8(_spark, _docs, _n)
elif __name__ == "__main__" and "r6" in sys.argv[1:]:
    _n = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    _spark = get_spark(app_name="mora_scale_probe")
    _spark.sparkContext.setLogLevel("ERROR")
    _events, _docs = scaled_events(_spark, _n), scaled_docs(_spark, _n)
    print(
        f"events={_events.count():,} docs={_docs.count():,} "
        f"(x{_n}) [r6 sections only]"
    )
    probe_round6(_spark, _events, _docs, _n)
elif __name__ == "__main__":
    main()
