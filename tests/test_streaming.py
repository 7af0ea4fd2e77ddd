"""Streaming-vs-batch equivalence and checkpoint recovery (T-REC,
SURVEY §5-4: restart from checkpoint must equal an uninterrupted run —
the Spark analogue of the reference's WAL replay contract)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mora_spark.datasets import candles_from_events, load_table
from mora_spark.streaming import chunked_source, stream_candles, stream_dedup_ingest


def _key(r):
    return (r["code"], r["ts"])


def _candles_dict(df):
    return {
        _key(r): (r["open"], r["high"], r["low"], r["close"], r["volume"],
                  r["bit_fields"])
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def source_files(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_src")
    src = chunked_source(spark, sf_dir, str(base), n_chunks=4)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    assert len(files) >= 2
    return files


def test_stream_candles_equals_batch(spark, sf_dir, source_files, tmp_path):
    live = tmp_path / "live"
    live.mkdir()
    for f in source_files:
        shutil.copy(f, live / os.path.basename(f))
    got = _candles_dict(stream_candles(spark, str(live), str(tmp_path)))
    want = _candles_dict(
        candles_from_events(load_table(spark, sf_dir, "events"))
    )
    assert got == want


def test_trec_kill_restart_equals_uninterrupted(
    spark, sf_dir, source_files, tmp_path
):
    """Process half the files, 'crash', add the rest, restart with the
    same checkpoint — final state must equal the batch result."""
    live = tmp_path / "live"
    live.mkdir()
    half = len(source_files) // 2
    for f in source_files[:half]:
        shutil.copy(f, live / os.path.basename(f))
    stream_candles(spark, str(live), str(tmp_path))  # run 1 (partial)

    for f in source_files[half:]:
        shutil.copy(f, live / os.path.basename(f))
    got = _candles_dict(stream_candles(spark, str(live), str(tmp_path)))

    want = _candles_dict(
        candles_from_events(load_table(spark, sf_dir, "events"))
    )
    assert got == want


def test_stateful_ema_kill_restart_carries_state(spark, sf_dir, tmp_path):
    """applyInPandasWithState recovery: run the first half of an
    ordered replay, 'crash', add the rest, restart from the same
    checkpoint — the recursion state must carry so the result equals
    one uninterrupted run."""
    from mora_spark.streaming import ordered_chunked_source, stream_ema

    # copy2 preserves mtimes: the ordered source's replay order
    srcdir = tmp_path / "srcstage"
    src = ordered_chunked_source(spark, sf_dir, str(srcdir), n_chunks=4)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))

    live = tmp_path / "live"
    live.mkdir()
    for f in files[:2]:
        shutil.copy2(f, live / os.path.basename(f))
    stream_ema(spark, str(live), str(tmp_path))  # run 1 (partial)
    for f in files[2:]:
        shutil.copy2(f, live / os.path.basename(f))
    got = {
        r["event_id"]: r["ema"]
        for r in stream_ema(spark, str(live), str(tmp_path)).collect()
    }

    solid = tmp_path / "solid"
    solid.mkdir()
    for f in files:
        shutil.copy2(f, solid / os.path.basename(f))
    want = {
        r["event_id"]: r["ema"]
        for r in stream_ema(spark, str(solid), str(tmp_path / "w2")).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)


def test_stateful_drawdown_kill_restart_carries_peak(
    spark, sf_dir, tmp_path
):
    """Same recovery contract for the second stateful operator: the
    running peak must carry across a crash-restart, so the resumed
    stream's drawdowns equal one uninterrupted run exactly (max
    composition is exact — no float tolerance needed)."""
    from mora_spark.streaming import ordered_chunked_source, stream_drawdown

    srcdir = tmp_path / "srcstage"
    src = ordered_chunked_source(spark, sf_dir, str(srcdir), n_chunks=4)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))

    live = tmp_path / "live"
    live.mkdir()
    for f in files[:2]:
        shutil.copy2(f, live / os.path.basename(f))
    stream_drawdown(spark, str(live), str(tmp_path))  # run 1 (partial)
    for f in files[2:]:
        shutil.copy2(f, live / os.path.basename(f))
    got = {
        r["event_id"]: (r["peak"], r["drawdown"])
        for r in stream_drawdown(spark, str(live), str(tmp_path)).collect()
    }

    solid = tmp_path / "solid"
    solid.mkdir()
    for f in files:
        shutil.copy2(f, solid / os.path.basename(f))
    want = {
        r["event_id"]: (r["peak"], r["drawdown"])
        for r in stream_drawdown(
            spark, str(solid), str(tmp_path / "w2")
        ).collect()
    }
    assert got == want


def test_late_data_backfills_old_windows(spark, sf_dir, tmp_path):
    """mora accepts arbitrarily late backfill into old pages
    (page/page.go:95-142); the streaming twin: a final chunk whose
    events are EARLIER than everything already processed must still
    land in (and correct) the old windows, because the watermark is
    wider than the data span. Final state must equal the batch
    aggregation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = load_table(spark, sf_dir, "events").orderBy("event_id")
    pdf = events.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    cut = len(pdf) // 4
    live = tmp_path / "late_src"
    live.mkdir()
    # chunks arrive: [newest three quarters...], then the OLDEST quarter
    order = [pdf.iloc[cut:], pdf.iloc[:cut]]
    for i, chunk in enumerate(order):
        p = str(live / f"chunk-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk), p)
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))

    got = _candles_dict(stream_candles(spark, str(live), str(tmp_path)))
    want = _candles_dict(candles_from_events(load_table(spark, sf_dir, "events")))
    assert got == want


def test_ingest_restart_is_idempotent(spark, source_files, tmp_path):
    live = tmp_path / "live"
    live.mkdir()
    for f in source_files:
        shutil.copy(f, live / os.path.basename(f))
    first = stream_dedup_ingest(spark, str(live), str(tmp_path)).count()
    # Re-run with the same checkpoint: no new files -> no new rows.
    again = stream_dedup_ingest(spark, str(live), str(tmp_path)).count()
    assert first == again


def test_dedup_increment_resume_equals_single_run(spark, sf_dir, tmp_path):
    """Continuous-curation restart contract: stop the stream at a batch
    boundary (only 2 of 4 chunks visible), then resume on the SAME
    checkpoint + work dir after the remaining chunks arrive — the
    accumulated pair table must equal an uninterrupted run over all 4
    chunks (the index snapshot each batch sees is identical in both
    histories)."""
    from mora_spark.streaming.increment import (
        docs_chunked_source,
        stream_dedup_increment,
    )

    full_src = docs_chunked_source(
        spark, sf_dir, str(tmp_path / "cache"), n_chunks=4
    )
    chunks = sorted(glob.glob(os.path.join(full_src, "chunk-*.parquet")))
    assert len(chunks) == 4
    grow_src = str(tmp_path / "grow")
    os.makedirs(grow_src)
    for c in chunks[:2]:
        shutil.copy2(c, grow_src)  # copy2 keeps the ordering mtimes
    work = str(tmp_path / "work")
    first = stream_dedup_increment(spark, grow_src, work).collect()
    for c in chunks[2:]:
        shutil.copy2(c, grow_src)
    resumed = stream_dedup_increment(spark, grow_src, work)
    ref = stream_dedup_increment(
        spark, full_src, str(tmp_path / "work_ref")
    )
    key = lambda r: (r["doc_id"], r["dup_id"], r["src"],  # noqa: E731
                     round(r["jaccard"], 9))
    got, want = sorted(map(key, resumed.collect())), sorted(
        map(key, ref.collect())
    )
    assert got == want
    assert len(first) < len(got)  # the resume actually added batches


def test_wire_roundtrip_lossless(spark, sf_dir):
    """Kafka wire contract: encode events as (key, value-JSON) records,
    parse them back with the consumer-side parser — every field must
    survive byte-exactly (including microsecond timestamps, which the
    default JSON timestamp format would truncate)."""
    from mora_spark.streaming.wire import events_to_wire, parse_event_wire

    events = load_table(spark, sf_dir, "events")
    back = parse_event_wire(events_to_wire(events))
    a = sorted(map(tuple, events.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_stream_store_merge_equals_batch(spark, sf_dir, source_files, tmp_path):
    """foreachBatch MERGE into the persistent store: after the replay,
    the store content equals the one-shot batch candle derivation
    (mora's late-backfill-into-old-pages contract)."""
    from mora_spark.streaming import stream_store_merge

    live = tmp_path / "live"
    live.mkdir()
    for f in source_files:
        shutil.copy2(f, live / os.path.basename(f))
    store = stream_store_merge(
        spark, str(live), str(tmp_path), str(tmp_path / "store")
    )
    got = _candles_dict(store.read(market="SYN"))
    want = _candles_dict(
        candles_from_events(load_table(spark, sf_dir, "events"))
    )
    assert got == want


def test_rate_source_events(spark, tmp_path):
    """Rate-source transport: one micro-batch of synthetic events with
    the shared event schema (load-generator parity for the wire
    contract)."""
    from mora_spark.streaming.ingest import EVENT_STREAM_SCHEMA
    from mora_spark.streaming.wire import rate_events

    ev = rate_events(spark, rows_per_batch=100)
    assert ev.isStreaming
    # nullability differs (rate's counter is non-null); names+types must match
    assert [(f.name, f.dataType) for f in ev.schema.fields] == [
        (f.name, f.dataType) for f in EVENT_STREAM_SCHEMA.fields
    ]
    out = tmp_path / "rate_out"
    q = (
        ev.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(out))
    assert got.count() == 100
    assert got.where(F.col("event_type").isin("view", "click", "purchase")).count() == 100


def test_compact_stream_index_is_lossless_and_seeds_next_epoch(
    spark, sf_dir, tmp_path
):
    """stream → compact → seed: compacting the sink-owned batch_id
    layout into the save_minhash_index shard layout must preserve the
    group table exactly, and an increment against the compacted index
    (directory-pruned) must return exactly what the raw accumulated
    index returns."""
    from mora_spark.datasets import load_table
    from mora_spark.llm.dedup import dedup_increment, load_minhash_index
    from mora_spark.streaming.increment import (
        compact_stream_index,
        docs_chunked_source,
        stream_dedup_increment,
    )

    src = docs_chunked_source(
        spark, sf_dir, str(tmp_path / "cache"), n_chunks=2,
        filter_expr="doc_id % 3 != 0",
    )
    work = str(tmp_path / "work")
    stream_dedup_increment(spark, src, work)
    raw = load_minhash_index(spark, os.path.join(work, "lsh_index"))
    dest = str(tmp_path / "compacted")
    compact_stream_index(spark, work, dest)
    comp = load_minhash_index(spark, dest)
    assert "shard" in comp[0].columns and "gshard" in comp[1].columns
    g_raw = sorted(
        (r["gid"], tuple(r["members"])) for r in raw[1].collect()
    )
    g_comp = sorted(
        (r["gid"], tuple(r["members"])) for r in comp[1].collect()
    )
    assert g_raw == g_comp
    probe = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 3 == 0)
        .limit(60)
    )
    key = lambda r: (r["doc_id"], r["dup_id"], r["src"],  # noqa: E731
                     round(r["jaccard"], 9))
    got = sorted(map(key, dedup_increment(probe, *comp).collect()))
    want = sorted(map(key, dedup_increment(probe, *raw).collect()))
    assert got == want

    # Epoch chain: run a SECOND epoch seeded with the compacted index,
    # then compact WITH the seed — the result must remember both the
    # seed corpus and the new epoch's survivors (a seedless compaction
    # here would forget everything older than one epoch).
    src2 = docs_chunked_source(
        spark, sf_dir, str(tmp_path / "cache"), n_chunks=2,
        filter_expr="doc_id % 3 = 0",
    )
    work2 = str(tmp_path / "work2")
    stream_dedup_increment(spark, src2, work2, seed_index_path=dest)
    raw2 = load_minhash_index(spark, os.path.join(work2, "lsh_index"))
    dest2 = str(tmp_path / "compacted2")
    compact_stream_index(spark, work2, dest2, seed_index_path=dest)
    comp2 = load_minhash_index(spark, dest2)
    members = lambda t: {  # noqa: E731
        m for r in t.select("members").collect() for m in r["members"]
    }
    assert members(comp2[1]) == members(comp2[1]) | members(comp[1])
    assert members(comp2[1]) == members(raw2[1]) | members(comp[1])


def test_seeded_stream_inherits_derived_family(spark, tmp_path):
    """A stream seeded with a DERIVED-family index must band its
    batches with the seed's family (metadata-inherited, not assumed):
    the planted seed-dup is found, and the sink stamps the family onto
    its own index so the next epoch recovers it too. Before the family
    was persisted, this exact setup silently found nothing — the
    batch's (4,4) band keys never collided with the seed's (3,35)."""
    from mora_spark.llm.dedup import (
        build_minhash_index,
        derive_minhash_params,
        load_minhash_family,
        save_minhash_index,
    )
    from mora_spark.streaming.increment import stream_dedup_increment

    seed_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about spark execution plans"),
        ],
        ["doc_id", "text"],
    )
    r, b = derive_minhash_params(0.5)
    seed_ix = str(tmp_path / "seed")
    save_minhash_index(
        *build_minhash_index(seed_docs, band_size=r, n_bands=b),
        seed_ix,
        band_size=r,
        n_bands=b,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            (11, "an unrelated streamed document mentioning watermarks only"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    work = str(tmp_path / "work")
    pairs = stream_dedup_increment(
        spark, src, work, seed_index_path=seed_ix
    )
    got = {(row["doc_id"], row["dup_id"], row["src"]) for row in pairs.collect()}
    assert (10, 1, "corpus") in got
    assert load_minhash_family(os.path.join(work, "lsh_index")) == (r, b)


def test_seeded_stream_refuses_family_conflict(spark, tmp_path):
    """Seeding a work dir whose sink-owned index was built with a
    DIFFERENT family must refuse up front: re-stamping would make the
    sink mis-band against its own prior epochs (duplicates of earlier
    streamed docs all come back 'unique')."""
    from mora_spark.llm.dedup import (
        build_minhash_index,
        derive_minhash_params,
        save_minhash_index,
    )
    from mora_spark.streaming.increment import stream_dedup_increment

    seed_docs = spark.createDataFrame(
        [(1, "seed doc about benchmark banding families")],
        ["doc_id", "text"],
    )
    r, b = derive_minhash_params(0.5)
    seed_ix = str(tmp_path / "seed")
    save_minhash_index(
        *build_minhash_index(seed_docs, band_size=r, n_bands=b),
        seed_ix,
        band_size=r,
        n_bands=b,
    )
    # a prior unseeded epoch left a default-family sink-owned index
    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "lsh_index", "groups"))
    with pytest.raises(ValueError, match="conflicts with the existing"):
        stream_dedup_increment(
            spark, str(tmp_path / "src"), work, seed_index_path=seed_ix
        )


def test_compact_preserves_derived_family(spark, tmp_path):
    """stream (derived seed) -> compact: the compacted index must
    re-band with, and re-persist, the seed-inherited family — so the
    next epoch's seed metadata survives the compaction round-trip and
    an increment against the compacted index (family from metadata)
    matches one against the raw two-index composition."""
    from mora_spark.llm.dedup import (
        build_minhash_index,
        dedup_increment,
        derive_minhash_params,
        load_minhash_family,
        load_minhash_index,
        save_minhash_index,
    )
    from mora_spark.streaming.increment import (
        compact_stream_index,
        stream_dedup_increment,
    )

    seed_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about spark execution plans"),
        ],
        ["doc_id", "text"],
    )
    r, b = derive_minhash_params(0.5)
    seed_ix = str(tmp_path / "seed")
    save_minhash_index(
        *build_minhash_index(seed_docs, band_size=r, n_bands=b),
        seed_ix,
        band_size=r,
        n_bands=b,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (10, "shingle based near duplicate detection with minhash bands"),
            (11, "an unrelated streamed document mentioning watermarks only"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    work = str(tmp_path / "work")
    stream_dedup_increment(spark, src, work, seed_index_path=seed_ix)
    dest = str(tmp_path / "compacted")
    compact_stream_index(spark, work, dest, seed_index_path=seed_ix)
    assert load_minhash_family(dest) == (r, b)
    probe = spark.createDataFrame(
        [
            (20, "the quick brown fox jumps over the lazy dog again and again"),
            (21, "shingle based near duplicate detection with minhash banding"),
        ],
        ["doc_id", "text"],
    )
    comp = load_minhash_index(spark, dest)
    got = sorted(
        (row["doc_id"], row["dup_id"], round(row["jaccard"], 9))
        for row in dedup_increment(
            probe, *comp, index_family=load_minhash_family(dest),
            include_intra=False,
        ).collect()
    )
    # seed doc 1 and streamed survivor 10 must both be findable from
    # the one compacted index
    assert (20, 1, 1.0) in got
    assert any(d == 21 and p == 10 for d, p, _ in got)


def test_chunked_replay_source_one_pass_layout(spark, tmp_path):
    """The one-pass chunk writer must reproduce the per-k-filter
    contract exactly: chunk k holds exactly the rows with expr == k,
    one file per chunk, mtimes strictly increasing in k — and the
    layout-derived coverage check must refuse out-of-range values and
    contract-breaking empty chunks loudly."""
    from mora_spark.streaming.chunked import chunked_replay_source

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(17)], ["doc_id", "text"]
    )
    src = chunked_replay_source(
        spark, df, str(tmp_path / "src"), 4, "doc_id % 4"
    )
    files = sorted(glob.glob(os.path.join(src, "chunk-*.parquet")))
    assert len(files) == 4
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    for k, f in enumerate(files):
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(f).collect()
        )
        assert got == [i for i in range(17) if i % 4 == k]

    # rows outside range(n_chunks) must fail, not silently drop
    with pytest.raises(ValueError, match="outside range"):
        chunked_replay_source(
            spark, df, str(tmp_path / "bad"), 4, "doc_id % 5"
        )
    # an empty chunk would replay fewer micro-batches than declared
    with pytest.raises(ValueError, match="no rows for chunks"):
        chunked_replay_source(
            spark,
            df.where("doc_id < 3"),
            str(tmp_path / "empty"),
            4,
            "doc_id % 4",
        )


class _JobCursor:
    """Jobs run since the last ``take``: a cursor over the sequential
    job ids in ``statusTracker`` (a streaming query runs its jobs under
    its own job group, so a group lookup would miss them)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.st = sc.statusTracker()
        self.bus = sc._jsc.sc().listenerBus()
        sc.setJobGroup("test-job-cursor", "job id cursor")
        try:
            sc.parallelize([0], 1).count()
            self.cursor = max(self.st.getJobIdsForGroup("test-job-cursor")) + 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def take(self) -> int:
        self.bus.waitUntilEmpty()  # the status store fills asynchronously
        n, j, misses = 0, self.cursor, 0
        while misses < 8:  # ids of jobs that never started leave gaps
            info = self.st.getJobInfo(j)
            j += 1
            if info is None:
                misses += 1
                continue
            misses = 0
            self.cursor = j
            n += 1
        return n


def test_stream_store_merge_schedule_and_stats(spark, source_files, tmp_path):
    """The merge sink's per-batch schedule: only data batches reach it
    (no watermark-only no-data batch, no empty-batch commit), each one
    commits exactly two store versions (merge + rollup) and runs at
    most 8 Spark jobs, and the rollup still equals a full resample."""
    from mora_spark.operators.resample import resample
    from mora_spark.streaming import stream_store_merge

    live = tmp_path / "live"
    live.mkdir()
    for f in source_files:
        shutil.copy2(f, live / os.path.basename(f))
    store_path = str(tmp_path / "store")
    cursor = _JobCursor(spark)
    stats: list[dict] = []
    store = stream_store_merge(
        spark, str(live), str(tmp_path), store_path,
        rollup_lengths=(300,), batch_stats=stats,
    )
    jobs = cursor.take()
    assert len(stats) == len(source_files) // 2 >= 2
    assert all(s["rows"] > 0 for s in stats)
    assert store._log.current()[0] == 2 * len(stats)
    assert jobs <= 8 * len(stats), f"{jobs} jobs for {len(stats)} batches"

    # Nothing new to read: no batch, no commit.
    again: list[dict] = []
    stream_store_merge(
        spark, str(live), str(tmp_path), store_path,
        rollup_lengths=(300,), batch_stats=again,
    )
    assert again == [] and store._log.current()[0] == 2 * len(stats)

    want = _candles_dict(resample(store.read(candle_length=60), 300))
    assert _candles_dict(store.read(candle_length=300)) == want
