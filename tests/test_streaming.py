import os

import pytest

from pyspark.sql import functions as F

from bqetl_spark.streaming.events import (
    stream_click_to_purchase,
    stream_dedup_events,
    stream_event_counts,
)
from tests.conftest import SF_DIR


def test_stream_event_counts_available_now(spark, tmp_path):
    agg = stream_event_counts(spark, f"{SF_DIR}/events.parquet")
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("ev_counts")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM ev_counts")
    rows = out.collect()
    assert len(rows) > 0
    # streaming totals must equal the batch answer over the same data
    batch = (spark.read.parquet(f"{SF_DIR}/events.parquet").count())
    assert sum(r["n_events"] for r in rows) == batch


def test_stream_stream_join_matches_batch(spark, tmp_path):
    joined = stream_click_to_purchase(spark, f"{SF_DIR}/events.parquet")
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName("c2p")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) n FROM c2p").first()["n"]
    # batch equivalent over the same bounded data (load_events converts the
    # nanos ts; a raw read under nanosAsLong leaves it BIGINT)
    from bqetl_spark.sources.parquet_source import load_events

    ev = load_events(spark, SF_DIR)
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    batch = c.join(p, (F.col("cu") == F.col("pu")) &
                   (F.col("pts") >= F.col("cts")) &
                   (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR"))).count()
    assert got == batch and batch > 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    dedup = stream_dedup_events(spark, f"{SF_DIR}/events.parquet")
    q = (dedup.writeStream.outputMode("append")
         .format("memory").queryName("ev_dedup")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM ev_dedup").first()
    batch_distinct = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                      .select("event_id").distinct().count())
    assert got["n"] == got["d"] == batch_distinct


def test_stream_upsert_merges_across_batches(spark, tmp_path):
    """foreachBatch upsert with a REAL multi-batch replay: events split
    into 3 files, maxFilesPerTrigger=1 → 3 micro-batches, each merging
    its users' new running totals into the stored table. Final table must
    equal the batch group-by — the cross-batch merge path, not just a
    single-batch write."""
    from bqetl_spark.sources.parquet_source import load_events
    from bqetl_spark.streaming.events import stream_upsert_user_totals

    ev = load_events(spark, SF_DIR)
    src = str(tmp_path / "ev3")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    assert len([f for f in __import__("os").listdir(src)
                if f.endswith(".parquet")]) == 3

    target = str(tmp_path / "totals")
    stream_upsert_user_totals(spark, src, target, max_files_per_trigger=1)
    got = {r["user_id"]: r["n_events"]
           for r in spark.read.parquet(target).collect()}
    want = {r["user_id"]: r["n"]
            for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """REAL late-data drop through the watermark, not just bounded-replay
    equality: three files -> three micro-batches (mtime-ordered).

    Pinned Spark semantics (two-watermark design, SPARK-40925): the
    LATE-RECORD FILTER uses the PREVIOUS micro-batch's watermark, while
    state eviction uses the current one — a straggler arriving in the
    batch immediately after the watermark-advancing data is still
    admitted (measured here before writing this test!). So the straggler
    is delivered TWO batches after the 12:00 event that drags the
    watermark to 10:00: by then the filter watermark has caught up and
    the 08:30 row must be dropped — if filtering were broken, append
    mode would emit an 08:00 window at the final flush (the eviction
    watermark passes it), so absence is a true discriminator.
    """
    import datetime as dt
    import glob as g
    import os
    import time

    from bqetl_spark.streaming.events import stream_event_counts

    def ev(i, hh, mm):
        return (i, dt.datetime(2024, 1, 1, hh, mm), 1, "click", 1.0, "{}")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    src = str(tmp_path / "late_src")
    # batch A: three on-time events + a 12:00 event -> watermark (2h
    # delay) reaches 10:00 at A's end
    spark.createDataFrame(
        [ev(1, 9, 10), ev(2, 9, 20), ev(3, 9, 30), ev(4, 12, 0)],
        cols).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    # batch B: a mover only (lets the filter watermark catch up to 10:00)
    spark.createDataFrame([ev(6, 12, 30)], cols) \
        .coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    # batch C: the 08:30 straggler — now below the filter watermark
    spark.createDataFrame([ev(5, 8, 30), ev(7, 13, 0)], cols) \
        .coalesce(1).write.mode("append").parquet(src)
    files = sorted(g.glob(f"{src}/part-*.parquet"), key=os.path.getmtime)
    assert len(files) == 3
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))

    agg = stream_event_counts(spark, src, window="1 hour",
                              watermark="2 hours", max_files_per_trigger=1)
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName("late_drop")
         .option("checkpointLocation", str(tmp_path / "ckpt_late"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    rows = {r["window_start"].hour: r["n_events"]
            for r in spark.sql("SELECT * FROM late_drop").collect()}
    # the straggler's window never appears; the on-time window is intact
    # and does NOT include the dropped row
    assert 8 not in rows
    assert rows.get(9) == 3


def test_stream_kmv_fold_is_chop_invariant(spark, tmp_path):
    """r6 streaming sketch maintenance: the persisted KMV sketch after an
    availableNow replay must be IDENTICAL whatever the micro-batch chop
    (2-file vs 4-file split vs plain batch sketch) — the kmv_merge
    losslessness property exercised through foreachBatch."""
    from bqetl_spark.functions.sketch import (kmv_estimate, kmv_merge,
                                              kmv_sketch)
    from bqetl_spark.streaming.events import stream_kmv_user_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "user_id")

    def run(n_files, tag):
        src = str(tmp_path / f"src{tag}")
        ev.repartition(n_files).write.parquet(src)
        target = str(tmp_path / f"sk{tag}")
        stream_kmv_user_distinct(spark, src, target, k=32)
        return sorted(map(tuple, kmv_estimate(
            spark.read.parquet(target), "event_type", 32).collect()))

    batch = sorted(map(tuple, kmv_estimate(
        kmv_sketch(ev, "user_id", "event_type", 32),
        "event_type", 32).collect()))
    assert run(2, "a") == batch
    assert run(4, "b") == batch


def test_stream_hll_fold_is_chop_invariant(spark, tmp_path):
    """r7 streaming HLL maintenance: the persisted register table after
    an availableNow replay must be IDENTICAL whatever the micro-batch
    chop (2-file vs 4-file vs plain batch sketch) — register MAX is
    associative, commutative AND idempotent, so even a replayed batch
    re-merge is a no-op."""
    from bqetl_spark.functions.sketch import hll_estimate, hll_sketch
    from bqetl_spark.streaming.events import stream_hll_user_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "user_id")

    def run(n_files, tag):
        src = str(tmp_path / f"hsrc{tag}")
        ev.repartition(n_files).write.parquet(src)
        target = str(tmp_path / f"hsk{tag}")
        stream_hll_user_distinct(spark, src, target)
        return sorted(map(tuple, hll_estimate(
            spark.read.parquet(target), "event_type").collect()))

    batch = sorted(map(tuple, hll_estimate(
        hll_sketch(ev, "user_id", "event_type"),
        "event_type").collect()))
    assert run(2, "a") == batch
    assert run(4, "b") == batch


def test_stream_cms_fold_is_chop_invariant(spark, tmp_path):
    """r7 streaming CMS maintenance: the persisted counter grid after an
    availableNow replay must be IDENTICAL whatever the micro-batch chop
    (2-file vs 4-file vs plain batch sketch) — counter ADD is
    associative and commutative (NOT idempotent: restart tolerance is
    foreachBatch's checkpoint contract, documented on the sink)."""
    from bqetl_spark.functions.sketch import cms_sketch
    from bqetl_spark.streaming.events import stream_cms_user_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("user_id")

    def run(n_files, tag):
        src = str(tmp_path / f"csrc{tag}")
        ev.repartition(n_files).write.parquet(src)
        target = str(tmp_path / f"csk{tag}")
        stream_cms_user_counts(spark, src, target, width=64, depth=3)
        return sorted(map(tuple,
                          spark.read.parquet(target).collect()))

    batch = sorted(map(tuple, cms_sketch(ev, "user_id", 64, 3).collect()))
    assert run(2, "a") == batch
    assert run(4, "b") == batch


def test_stream_quantile_fold_is_chop_invariant(spark, tmp_path):
    """r8 streaming quantile maintenance: the persisted bottom-k sample
    after an availableNow replay must be IDENTICAL whatever the
    micro-batch chop (2-file vs 4-file vs plain batch sketch) —
    min-wise sampling commutes with union, and the (hv, v) dedup makes
    replays no-ops."""
    from pyspark.sql import functions as F

    from bqetl_spark.functions.sketch import (quantile_sketch,
                                              quantiles_from_sketch)
    from bqetl_spark.streaming.events import stream_quantile_values

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "value")

    def run(n_files, tag):
        src = str(tmp_path / f"qsrc{tag}")
        ev.repartition(n_files).write.parquet(src)
        target = str(tmp_path / f"qsk{tag}")
        stream_quantile_values(spark, src, target, k=64)
        return sorted(map(tuple, quantiles_from_sketch(
            spark.read.parquet(target), qs=(0.5, 0.9)).collect()))

    batch = sorted(map(tuple, quantiles_from_sketch(
        quantile_sketch(ev, "value", F.col("event_id"), k=64),
        qs=(0.5, 0.9)).collect()))
    assert run(2, "a") == batch
    assert run(4, "b") == batch


def test_stream_ams_fold_is_chop_invariant(spark, tmp_path):
    """r10 streaming AMS maintenance: the persisted (group, j, s)
    signed-sum sketch after an availableNow replay must be IDENTICAL
    whatever the micro-batch chop (2-file vs 4-file vs plain batch
    sketch) — the signed sum is linear, so batch folds commute; restart
    tolerance is foreachBatch's checkpoint contract (documented on the
    sink, the CMS caveat)."""
    from bqetl_spark.functions.sketch import ams_sketch
    from bqetl_spark.streaming.events import stream_ams_moment

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "user_id")

    def run(n_files, tag):
        src = str(tmp_path / f"asrc{tag}")
        ev.repartition(n_files).write.parquet(src)
        target = str(tmp_path / f"ask{tag}")
        stream_ams_moment(spark, src, target, groups=3, per_group=4)
        return sorted(map(tuple, spark.read.parquet(target).collect()))

    batch = sorted(map(tuple,
                       ams_sketch(ev, "user_id", "event_type",
                                  groups=3, per_group=4).collect()))
    assert run(2, "a") == batch
    assert run(4, "b") == batch


@pytest.mark.nightly  # media chop-invariance: ~100 s combined (r13 tier split)
def test_stream_phash_fold_is_chop_invariant(spark, tmp_path):
    """r11 streaming pHash-index maintenance: the persisted fingerprint
    index after an availableNow replay must be IDENTICAL whatever the
    micro-batch chop (2-file vs 4-file vs one-shot batch hashing) —
    pHash is payload-pure and the media_id dedup makes the fold
    idempotent. Pairs queried from the stored index must equal the
    batch phash_neardup pair set."""
    from bqetl_spark.functions import multimodal as mm
    from bqetl_spark.streaming.media import stream_phash_index

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter("length(text) >= 64 and "
                    "octet_length(substring(text, 1, 64)) = 64"))
    media = mm.attach_tiff_media(docs, "doc_id", "text", 8, 8,
                                 rows_per_strip=2)

    def run(n_files, tag):
        src = str(tmp_path / f"src{tag}")
        media.repartition(n_files).write.parquet(src)
        target = str(tmp_path / f"idx{tag}")
        stream_phash_index(spark, src, target)
        idx = sorted(map(tuple,
                         spark.read.parquet(target).collect()))
        pairs = sorted(map(tuple, mm.phash_band_pairs(
            spark.read.parquet(target)).collect()))
        return idx, pairs

    from bqetl_spark.caching import release_pinned
    batch_idx = sorted(map(tuple, mm.image_phash(media).collect()))
    batch_pairs = sorted(map(tuple, mm.phash_neardup(media).collect()))
    release_pinned()
    for n, tag in ((2, "a"), (4, "b")):
        idx, pairs = run(n, tag)
        release_pinned()
        assert idx == batch_idx
        assert pairs == batch_pairs


@pytest.mark.nightly  # media chop-invariance: ~100 s combined (r13 tier split)
def test_stream_video_index_chop_invariant(spark, tmp_path):
    """Video twin of the stream_phash chop-invariance pin (r12): the
    persisted frame-hash index and the pair query over it must equal the
    one-shot batch video_frame_phash/video_neardup for ANY micro-batch
    chop (frame hashes are payload-pure; (media_id, frame_idx) dedup
    makes replays no-ops)."""
    from bqetl_spark.caching import release_pinned
    from bqetl_spark.functions import multimodal as mm
    from bqetl_spark.streaming.media import stream_video_index

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter("length(text) >= 384 and "
                    "octet_length(substring(text, 1, 384)) = 384"))
    frame = lambda k: F.concat(
        F.lit("P6\n8 8\n255\n").cast("binary"),
        F.substring(F.col("text"), 96 * k + 1, 192).cast("binary"))
    media = mm.attach_media(docs, "doc_id",
                            F.concat(frame(0), frame(1), frame(2)),
                            kind="video", fmt="ppms")

    batch_idx = sorted(map(tuple, mm.video_frame_phash(media).collect()))
    batch_pairs = sorted(map(tuple, mm.video_neardup(media).collect()))
    release_pinned()
    for n, tag in ((2, "a"), (4, "b")):
        src = str(tmp_path / f"vsrc{tag}")
        media.repartition(n).write.parquet(src)
        target = str(tmp_path / f"vidx{tag}")
        stream_video_index(spark, src, target)
        idx = sorted(map(tuple, spark.read.parquet(target).collect()))
        pairs = sorted(map(tuple, mm.video_pairs_from_index(
            spark.read.parquet(target)).collect()))
        release_pinned()
        assert idx == batch_idx
        assert pairs == batch_pairs


@pytest.mark.nightly  # media chop-invariance: ~100 s combined (r13 tier split)
def test_stream_audio_index_chop_invariant(spark, tmp_path):
    """Audio twin of the stream_phash/stream_video chop-invariance pins
    (r12): the persisted landmark index after an availableNow replay
    must equal the one-shot batch audio_landmarks for ANY micro-batch
    chop (landmarks are payload-pure; (media_id, f1, lhash) dedup makes
    replays no-ops), and the content-ID lookup over the stored index
    must equal the batch lookup."""
    import struct

    from bqetl_spark.caching import release_pinned
    from bqetl_spark.functions import multimodal as mm
    from bqetl_spark.streaming.media import stream_audio_index

    header = (b"RIFF" + (36 + 256).to_bytes(4, "little") + b"WAVE"
              + b"fmt " + (16).to_bytes(4, "little")
              + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
              + b"data" + (256).to_bytes(4, "little"))
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter("length(text) >= 256 and "
                    "octet_length(substring(text, 1, 256)) = 256"))
    payload = F.concat(F.lit(header),
                       F.substring(F.col("text"), 1, 256).cast("binary"))
    media = mm.attach_media(docs, "doc_id", payload,
                            kind="audio", fmt="wav")

    batch_idx = sorted(map(tuple, mm.audio_landmarks(media).collect()))
    probes = (mm.audio_landmarks(media)
              .filter(F.col("media_id") % 7 == 0)
              .select(F.col("media_id").alias("probe_id"), "f1", "lhash"))
    batch_best = sorted(map(tuple,
                            mm.audio_lookup(probes,
                                            mm.audio_landmarks(media))
                            .collect()))
    release_pinned()
    for n, tag in ((2, "a"), (4, "b")):
        src = str(tmp_path / f"asrc{tag}")
        media.repartition(n).write.parquet(src)
        target = str(tmp_path / f"aidx{tag}")
        stream_audio_index(spark, src, target)
        idx = sorted(map(tuple, spark.read.parquet(target).collect()))
        best = sorted(map(tuple, mm.audio_lookup(
            probes, spark.read.parquet(target)).collect()))
        release_pinned()
        assert idx == batch_idx
        assert best == batch_best


def _media_source(spark, kind):
    """16 small media rows of ``kind`` (the nightly chop-invariance
    payloads, trimmed so a 4-batch replay stays a default-tier test)."""
    from bqetl_spark.functions import multimodal as mm

    n = {"image": 64, "video": 384, "audio": 256}[kind]
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(f"length(text) >= {n} and "
                    f"octet_length(substring(text, 1, {n})) = {n}")
            .orderBy("doc_id").limit(16))
    if kind == "image":
        return mm.attach_tiff_media(docs, "doc_id", "text", 8, 8,
                                    rows_per_strip=2)
    if kind == "video":
        frame = lambda k: F.concat(
            F.lit("P6\n8 8\n255\n").cast("binary"),
            F.substring(F.col("text"), 96 * k + 1, 192).cast("binary"))
        return mm.attach_media(docs, "doc_id",
                               F.concat(frame(0), frame(1), frame(2)),
                               kind="video", fmt="ppms")
    import struct

    header = (b"RIFF" + (36 + 256).to_bytes(4, "little") + b"WAVE"
              + b"fmt " + (16).to_bytes(4, "little")
              + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
              + b"data" + (256).to_bytes(4, "little"))
    payload = F.concat(F.lit(header),
                       F.substring(F.col("text"), 1, 256).cast("binary"))
    return mm.attach_media(docs, "doc_id", payload, kind="audio", fmt="wav")


_STATE_SINKS = {
    "stream_upsert_user_totals": ("events", None),
    "stream_kmv_user_distinct": ("events", None),
    "stream_hll_user_distinct": ("events", None),
    "stream_cms_user_counts": ("events", None),
    "stream_quantile_values": ("events", None),
    "stream_ams_moment": ("events", None),
    "stream_phash_index": ("media", "image"),
    "stream_video_index": ("media", "video"),
    "stream_audio_index": ("media", "audio"),
}


@pytest.mark.parametrize("sink", sorted(_STATE_SINKS))
def test_sink_state_schema_is_what_a_read_infers(spark, tmp_path,
                                                monkeypatch, sink):
    """Each foreachBatch sink reads its persisted state with the schema
    it last wrote instead of inferring it every micro-batch. After a
    4-batch replay that remembered schema must equal what a plain
    ``read.parquet`` infers from the files — a merge that widens a type
    (a decimal sum, say) would otherwise read back mistyped — and the
    next read must fire no Spark job."""
    from bqetl_spark.caching import release_pinned
    from bqetl_spark.sources.parquet_source import load_events
    from bqetl_spark.streaming import events, media, stateutil

    module_name, kind = _STATE_SINKS[sink]
    module = events if module_name == "events" else media
    made = []

    class Spy(stateutil.ParquetState):
        def __init__(self, target_path):
            super().__init__(target_path)
            made.append(self)

    monkeypatch.setattr(module, "ParquetState", Spy)
    src_df = (load_events(spark, SF_DIR) if kind is None
              else _media_source(spark, kind))
    src = str(tmp_path / "src")
    src_df.repartition(4).write.parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 4
    target = str(tmp_path / "state")
    getattr(module, sink)(spark, src, target, max_files_per_trigger=1)
    release_pinned()

    (state,) = made
    assert state.last_written is not None
    assert state.last_written[1] == spark.read.parquet(target).schema

    sc = spark.sparkContext
    sc.setJobGroup("state_read", "remembered-schema state read")
    try:
        again = state.read(spark)
        assert sc.statusTracker().getJobIdsForGroup("state_read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert again.schema == state.last_written[1]
