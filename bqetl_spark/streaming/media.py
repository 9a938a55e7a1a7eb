"""Streaming multimodal ingest: maintain a persisted perceptual-hash
index as media arrives (r11).

The streaming half of the image-dedup story: a live ingest pipeline
decodes + fingerprints each micro-batch of images ONCE (the expensive
Arrow/codec work) and folds the compact (media_id, phash) rows into a
persisted index; near-dup queries then run against the index at any
moment via ``multimodal.phash_band_pairs`` — no image is ever decoded
twice, and history is never re-scanned. Same foreachBatch discipline as
the sketch-maintenance family in ``streaming/events.py``.

Correctness is the idempotent-fold property: pHash is a pure function
of the payload, so the per-batch rows are identical no matter how the
replay is chopped, and the ``dropDuplicates(media_id)`` merge makes
restart replays no-ops — which is what makes the streaming op
value-oracle-able (the gate's oracle is the plain batch pHash pair SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bqetl_spark.streaming.stateutil import ParquetState


def stream_phash_index(spark: SparkSession, media_dir: str,
                       target_path: str, scale_bits: int = 15,
                       max_files_per_trigger: int = 1) -> None:
    """Fold each micro-batch's perceptual hashes into the persisted
    (media_id, phash) index at ``target_path``. Runs to completion
    (availableNow) and returns None; callers read the index and apply
    :func:`bqetl_spark.functions.multimodal.phash_band_pairs`.

    State per media row is 16 bytes — the index is metadata-scale even
    when the payload corpus is 100 TB, exactly the asymmetry that makes
    hash-on-ingest the right streaming shape for dedup."""
    from bqetl_spark.functions.multimodal import MEDIA_SCHEMA, image_phash

    stream = (spark.readStream.schema(MEDIA_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(media_dir))

    state = ParquetState(target_path)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        batch_hashes = image_phash(bdf, scale_bits=scale_bits)
        base = state.read(bdf.sparkSession)
        out = (batch_hashes if base is None
               else base.unionByName(batch_hashes)
               .dropDuplicates(["media_id"]))
        state.write(out, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())


def stream_video_index(spark: SparkSession, media_dir: str,
                       target_path: str, scale_bits: int = 15,
                       max_files_per_trigger: int = 1) -> None:
    """Video twin of :func:`stream_phash_index` (r12): fold each
    micro-batch's per-FRAME perceptual hashes into the persisted
    (media_id, frame_idx, phash) index at ``target_path``; callers
    pair-query the stored index with
    :func:`bqetl_spark.functions.multimodal.video_pairs_from_index`.

    Hash-on-ingest is even more asymmetric for video than for images:
    the payload is frames × bytes but the index row stays ~24 bytes per
    frame, so a 100 TB clip corpus folds into a metadata-scale table.
    Idempotence: frame hashes are payload-pure and the
    (media_id, frame_idx) dedup makes restart replays no-ops — which is
    what lets the gate share the plain batch video_neardup oracle."""
    from bqetl_spark.functions.multimodal import (MEDIA_SCHEMA,
                                                  video_frame_phash)

    stream = (spark.readStream.schema(MEDIA_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(media_dir))

    state = ParquetState(target_path)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        batch_hashes = video_frame_phash(bdf, scale_bits=scale_bits)
        base = state.read(bdf.sparkSession)
        out = (batch_hashes if base is None
               else base.unionByName(batch_hashes)
               .dropDuplicates(["media_id", "frame_idx"]))
        state.write(out, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())

def stream_audio_index(spark: SparkSession, media_dir: str,
                       target_path: str, fanout_dt: int = 15,
                       max_files_per_trigger: int = 1) -> None:
    """Audio twin (r12): fold each micro-batch's constellation landmarks
    (:func:`bqetl_spark.functions.multimodal.audio_landmarks`) into the
    persisted ``(media_id, f1, lhash)`` index at ``target_path``;
    callers run content-ID queries against the stored index with
    :func:`bqetl_spark.functions.multimodal.audio_lookup`. Completes
    per-modality streaming index maintenance: image + video + audio.

    The landmark table is the most asymmetric of the three: a track's
    payload is its full PCM stream, its index rows are a handful of
    (peak frame, 12-bit hash) ints — the inverted-index posture that
    serves petabyte audio catalogs maintains itself incrementally here.
    Idempotence: landmarks are payload-pure and (media_id, f1, lhash)
    is unique per track (a peak pair is determined by its frames), so
    the three-key dedup makes restart replays no-ops — which is what
    lets the gate share the plain batch audio_lookup oracle."""
    from bqetl_spark.functions.multimodal import (MEDIA_SCHEMA,
                                                  audio_landmarks)

    stream = (spark.readStream.schema(MEDIA_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(media_dir))

    state = ParquetState(target_path)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        batch_lm = audio_landmarks(bdf, fanout_dt=fanout_dt)
        base = state.read(bdf.sparkSession)
        out = (batch_lm if base is None
               else base.unionByName(batch_lm)
               .dropDuplicates(["media_id", "f1", "lhash"]))
        state.write(out, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())
