"""Streaming incremental sketches + multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from grenier_spark.core import hll
from grenier_spark.core.bits import U64, wang64
from grenier_spark.operators.multimodal import (extract_features,
                                                fake_decoder,
                                                synthesize_media_table)
from grenier_spark.operators.sketch_build import SketchSpec
from grenier_spark.sources.synth import generate_rows, write_documents_local
from grenier_spark.streaming.incremental import IncrementalSketchSink


def test_streaming_matches_batch_build(spark, tmp_path):
    """Stream the documents table file-by-file; the merged streaming state
    must be byte-identical to a batch build over the same rows."""
    src_dir = str(tmp_path / "stream_src")
    write_documents_local(src_dir, 300)

    sink = IncrementalSketchSink(
        str(tmp_path / "state"),
        [SketchSpec.of("h", "hll", "tokens", p=11)], ["source"])
    stream = (spark.readStream
              .schema("doc_id string, tokens array<int>, n_tok int, "
                      "source string")
              .option("maxFilesPerTrigger", "1")
              .parquet(src_dir))
    q = sink.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {r.source: bytes(r.sketch)
           for r in sink.current(spark).collect()}
    rows = generate_rows(0, 300)
    for src in ["web", "books", "code", "wiki"]:
        toks = np.concatenate(
            [t for t, s in zip(rows.tokens, rows.source) if s == src])
        t = hll.make_p(11)
        hll.add_batch(t, wang64(toks.astype(np.int64).view(U64)))
        assert got[src] == hll.to_bytes(t), src


def test_streaming_replay_is_idempotent(spark, tmp_path):
    src_dir = str(tmp_path / "stream_src2")
    write_documents_local(src_dir, 100)
    sink = IncrementalSketchSink(
        str(tmp_path / "state2"),
        [SketchSpec.of("h", "hll", "tokens", p=10)])
    bdf = spark.read.parquet(src_dir)
    sink.process_batch(bdf, 0)
    before = {r.sketch_name: bytes(r.sketch)
              for r in sink.current(spark).collect()}
    sink.process_batch(bdf, 0)  # replay of the same batch id
    after = {r.sketch_name: bytes(r.sketch)
             for r in sink.current(spark).collect()}
    assert before == after
    assert sink.seen_batches(spark) == {0}


def test_multimodal_feature_plumbing(spark):
    media = synthesize_media_table(spark, 120)
    feats = extract_features(media).toPandas()
    assert len(feats) == 120
    assert {"media_id", "media_type", "n_bytes", "feature"} <= set(feats.columns)
    assert all(len(f) == 16 for f in feats.feature)
    assert all(abs(sum(f) - 1.0) < 1e-5 for f in feats.feature)
    # partition independence: same rows under different partitioning
    feats2 = (extract_features(synthesize_media_table(spark, 120)
                               .repartition(7)).toPandas()
              .sort_values("media_id").reset_index(drop=True))
    f1 = feats.sort_values("media_id").reset_index(drop=True)
    for a, b in zip(f1.feature, feats2.feature):
        assert np.allclose(a, b)


def test_multimodal_decode_stub_raises(spark):
    media = synthesize_media_table(spark, 10)
    with pytest.raises(Exception) as exc:
        extract_features(media, decoder=None).collect()
    assert "NotImplementedError" in str(exc.value) or \
        "no media decoder" in str(exc.value)


def test_fake_decoder_deterministic():
    p = bytes(range(256)) * 3
    a = fake_decoder(p, "image")
    b = fake_decoder(p, "image")
    assert np.array_equal(a, b)
    assert a.dtype == np.float32 and len(a) == 16


def test_frame_sampling_plumbing(spark):
    """sample_frames: n_frames rows per payload with deterministic
    integer offsets, partition-independent, exact byte-window histograms;
    a short payload yields n_frames identical offset-0 windows; NULL
    payloads yield null-feature rows; the real-decoder stub raises."""
    from grenier_spark.operators.multimodal import sample_frames

    media = synthesize_media_table(spark, 60)
    fr = sample_frames(media, n_frames=4, frame_len=128).toPandas()
    assert len(fr) == 240
    one = fr[fr.media_id == 7].sort_values("frame_idx")
    assert list(one.frame_idx) == [0, 1, 2, 3]
    # recompute the expected windows locally from the same seeded payload
    rng = np.random.Generator(np.random.PCG64(42 + 7))
    # generator draw order: size -> payload (id 7 is 'audio': no w/h draws)
    size = int(rng.integers(64, 2048))
    payload = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
    span = max(0, size - 128)
    for i, row in enumerate(one.itertuples()):
        off = i * span // 3
        win = np.frombuffer(payload[off:off + 128], dtype=np.uint8)
        assert row.frame_offset == off
        assert row.frame_n_bytes == len(win)
        exp = np.bincount(win >> 4, minlength=16).astype(np.float32)
        assert np.array_equal(np.asarray(row.feature), exp)
    # partition independence
    fr2 = (sample_frames(synthesize_media_table(spark, 60).repartition(7),
                         n_frames=4, frame_len=128).toPandas()
           .sort_values(["media_id", "frame_idx"]).reset_index(drop=True))
    fr1 = fr.sort_values(["media_id", "frame_idx"]).reset_index(drop=True)
    assert fr1.frame_offset.equals(fr2.frame_offset)
    for a, b in zip(fr1.feature, fr2.feature):
        assert np.array_equal(np.asarray(a), np.asarray(b))
    # short payload: all windows at offset 0, full payload
    import pandas as pd
    tiny = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2],
                      "payload": [b"abc", None],
                      "media_type": ["image", "video"]}),
        "media_id long, payload binary, media_type string")
    out = (sample_frames(tiny, n_frames=3, frame_len=64).toPandas()
           .sort_values(["media_id", "frame_idx"]))
    short = out[out.media_id == 1]
    assert list(short.frame_offset) == [0, 0, 0]
    assert list(short.frame_n_bytes) == [3, 3, 3]
    nulls = out[out.media_id == 2]
    assert len(nulls) == 3 and all(f is None for f in nulls.feature)
    with pytest.raises(Exception) as exc:
        sample_frames(tiny, frame_featurizer=None).collect()
    assert "NotImplementedError" in str(exc.value) or \
        "no media frame decoder" in str(exc.value)


def test_resize_histogram_col_is_jvm_side(spark):
    """resize_histogram_col: exact pairwise grouping, and the resize adds
    NO Python stage to the plan (pure transform/aggregate expressions)."""
    import pandas as pd

    from grenier_spark.operators.multimodal import resize_histogram_col

    df = spark.createDataFrame(
        pd.DataFrame({"feature": [[float(i) for i in range(16)]]}),
        "feature array<float>")
    out = df.select(resize_histogram_col("feature", 4).alias("r"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan
    r = out.first().r
    assert r == [sum(range(0, 4)), sum(range(4, 8)),
                 sum(range(8, 12)), sum(range(12, 16))]


def test_stateful_hll_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState per-source HLL: the LAST emitted estimate per
    key must equal a batch build over all rows."""
    from grenier_spark.streaming.stateful import hll_state_stream

    src_dir = str(tmp_path / "stateful_src")
    write_documents_local(src_dir, 200)
    stream = (spark.readStream
              .schema("doc_id string, tokens array<int>, n_tok int, "
                      "source string")
              .option("maxFilesPerTrigger", "1")
              .parquet(src_dir))
    out = hll_state_stream(stream, "source", "tokens", p=11)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("live_hll")
         .option("checkpointLocation", str(tmp_path / "st_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    emitted = spark.sql(
        "select * from live_hll").toPandas()
    # last emission per source carries the full-stream state
    last = emitted.groupby("source").last()
    rows = generate_rows(0, 200)
    for src in ["web", "books", "code", "wiki"]:
        toks = np.concatenate(
            [t for t, s in zip(rows.tokens, rows.source) if s == src])
        t = hll.make_p(11)
        hll.add_batch(t, wang64(toks.astype(np.int64).view(U64)))
        assert abs(last.loc[src, "est_distinct"] - hll.card(t)) < 1e-9, src
        assert last.loc[src, "n_tokens"] == len(toks)


def test_windowed_hll_stream_watermark_finalization(spark, tmp_path):
    """Event-time windows + watermark: on-time rows aggregate, a late row
    behind the watermark is dropped, and each window is emitted exactly
    once (append mode) with the kernel-exact estimate when the watermark
    passes its end."""
    import datetime as dt
    import time as _time

    import numpy as np

    from grenier_spark.core import hll as hll_mod
    from grenier_spark.core.bits import U64, wang64
    from grenier_spark.streaming.stateful import windowed_hll_stream

    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    src_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    schema = "ts timestamp, source string, user_id long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src_dir}/{name}")
        _time.sleep(0.05)

    write_batch("b1", [(T(0, 10), "g", 1), (T(0, 20), "g", 2),
                       (T(0, 40), "g", 3), (T(0, 41), "g", 3),
                       (T(1, 10), "g", 4), (T(1, 20), "g", 5),
                       (T(1, 30), "g", 6)])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(f"{src_dir}/*"))
    out = windowed_hll_stream(stream, "ts", "source", "user_id",
                              window="1 hour", watermark="10 minutes", p=12)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("win_hll").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # late row for W1 (behind watermark 01:20) + fresh W5 data
        write_batch("b2", [(T(0, 30), "g", 99), (T(5, 0), "g", 7)])
        q.processAllAvailable()
        # advances processing so W2 (end 02:00 < watermark 04:50) finalizes
        write_batch("b3", [(T(6, 30), "g", 8)])
        q.processAllAvailable()
        got = {r.win_start.hour: r for r in
               spark.sql("SELECT * FROM win_hll").collect()}
    finally:
        q.stop()

    # W1 and W2 finalized by advancing watermark; W5 finalizes too via the
    # no-data timeout batch Spark runs after the watermark moves past 06:00;
    # W6 (the 06:30 row) stays open
    assert set(got) == {0, 1, 5}, got
    assert got[5].n_rows == 1

    def expect_card(users):
        t = hll_mod.make_p(12)
        hll_mod.add_batch(t, wang64(np.array(users, dtype=np.int64).view(U64)))
        return hll_mod.card(t)

    # W1: users {1,2,3} (3 appears twice; LATE user 99 dropped), 4 rows
    assert got[0].n_rows == 4
    assert got[0].est_distinct == expect_card([1, 2, 3, 3])
    # W2: users {4,5,6}
    assert got[1].n_rows == 3
    assert got[1].est_distinct == expect_card([4, 5, 6])


def test_windowed_hll_stream_restart_from_checkpoint(spark, tmp_path):
    """Kill the query between micro-batches, restart from the same
    checkpoint: window state survives (W1's rows from before the restart
    count) and each window is still emitted exactly once."""
    import datetime as dt
    import time as _time

    import numpy as np

    from grenier_spark.core import hll as hll_mod
    from grenier_spark.core.bits import U64, wang64
    from grenier_spark.streaming.stateful import windowed_hll_stream

    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    src_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    schema = "ts timestamp, source string, user_id long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src_dir}/{name}")
        _time.sleep(0.05)

    emitted = []  # shared across both query incarnations

    def start():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(f"{src_dir}/*"))
        out = windowed_hll_stream(stream, "ts", "source", "user_id",
                                  window="1 hour", watermark="10 minutes",
                                  p=12)
        # memory sink cannot recover from a checkpoint; foreachBatch can
        return (out.writeStream.outputMode("append")
                .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
                .option("checkpointLocation", ckpt).start())

    write_batch("b1", [(T(0, 10), "g", 1), (T(0, 20), "g", 2),
                       (T(0, 40), "g", 3)])
    q = start()
    q.processAllAvailable()
    q.stop()  # crash point: W1 state only in the state store

    write_batch("b2", [(T(3, 0), "g", 7)])  # watermark -> 02:50 > W1 end
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    finals = [r for r in emitted if r.win_start.hour == 0]
    assert len(finals) == 1  # exactly once despite the restart
    t = hll_mod.make_p(12)
    hll_mod.add_batch(t, wang64(np.array([1, 2, 3], dtype=np.int64).view(U64)))
    assert finals[0].est_distinct == hll_mod.card(t)
    assert finals[0].n_rows == 3


def test_windowed_hll_stream_non_utc_session_timezone(spark, tmp_path):
    """Windows must finalize correctly when the SESSION timezone differs
    from the workers' OS timezone (UTC here): window bounds are rendered
    in session tz, and the event-time timeout epoch must localize them
    with that tz — a naive .timestamp() would fire hours off. (TIMESTAMP_
    NTZ event time is rejected by withWatermark, so LTZ is the only
    case.)"""
    import datetime as dt
    import time as _time

    from grenier_spark.streaming.stateful import windowed_hll_stream

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        T = lambda h, m: dt.datetime(2024, 1, 1, h, m)
        src_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
        schema = "ts timestamp, source string, user_id long"

        def write_batch(name, rows):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("overwrite").parquet(f"{src_dir}/{name}")
            _time.sleep(0.05)

        write_batch("b1", [(T(0, 10), "g", 1), (T(0, 20), "g", 2),
                           (T(1, 30), "g", 3)])
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(f"{src_dir}/*"))
        out = windowed_hll_stream(stream, "ts", "source", "user_id",
                                  window="1 hour", watermark="10 minutes",
                                  p=12)
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName("win_ntz_tz").option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
            write_batch("b2", [(T(5, 0), "g", 7)])
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM win_ntz_tz").collect()
        finally:
            q.stop()
        finals = {r.win_start.hour: r.n_rows for r in rows}
        # W0 (2 rows) and W1 (1 row) must both finalize promptly — a
        # timezone-shifted timeout would leave them open or fire hours off
        assert finals.get(0) == 2 and finals.get(1) == 1, finals
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_lossy_state_stream_matches_batch_counter(spark, tmp_path):
    """Streaming lossy counting: state after two triggers (split across a
    query RESTART on one checkpoint) must equal a batch LossyCounter fed
    the concatenated per-source stream in doc order — (token, f, n)
    exact, report thresholds included."""
    import numpy as np

    from grenier_spark.core.countish import LossyCounter
    from grenier_spark.sources.synth import generate_rows
    from grenier_spark.streaming.stateful import lossy_state_stream

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    import os
    os.makedirs(src_dir, exist_ok=True)
    # write the two trigger batches as separate parquet files
    import pyarrow as pa
    import pyarrow.parquet as pq
    for part, (a, b) in enumerate([(0, 100), (100, 200)]):
        df = generate_rows(a, b)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       f"{src_dir}/part-{part:05d}.parquet")

    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    SUP, EPS = 0.01, 0.002

    collected = []

    def run_once():
        # foreachBatch sink: supports checkpoint recovery (the memory sink
        # does not), so the second start RESUMES the state store
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = lossy_state_stream(stream, "source", "tokens", SUP, EPS)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # first run sees only file 0 (file 1 moved away), second run sees both
    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()
    import pandas as pd
    emitted = pd.concat([c for c in collected if len(c)],
                        ignore_index=True)

    rows = generate_rows(0, 200)
    for src in ["web", "books", "code", "wiki"]:
        toks = np.concatenate(
            [t for t, s in zip(rows.tokens, rows.source) if s == src]
        ).astype(np.int64)
        lc = LossyCounter(SUP, EPS)
        lc.observe_batch(toks)
        n = float(lc.n)
        expect = {(int(t), int(lc.f[t]), lc.n) for t in lc.f
                  if (lc.f[t] + lc.delta[t]) / n >= SUP}
        got_src = emitted[emitted.source == src]
        # last trigger's emission = rows with the final n
        final_n = got_src.n.max()
        got = {(int(r.token), int(r.f), int(r.n))
               for r in got_src[got_src.n == final_n].itertuples()}
        assert got == expect, (src, len(got), len(expect))


def test_dedup_stream_global_first_wins(spark, tmp_path):
    """Global streaming dedup: exactly one row per distinct content hash
    across micro-batches, and it is the first arrival (file order)."""
    import time as _time

    from grenier_spark.streaming.dedup import dedup_stream

    src_dir, ckpt = str(tmp_path / "dg_in"), str(tmp_path / "dg_ck")
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src_dir}/{name}")
        _time.sleep(0.05)

    write_batch("b1", [(1, "alpha"), (2, "beta"), (3, "alpha")])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src_dir}/*"))
    q = (dedup_stream(stream, "text").writeStream
         .outputMode("append").format("memory").queryName("dg")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        write_batch("b2", [(4, "beta"), (5, "gamma"), (6, "gamma")])
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM dg").toPandas()
    finally:
        q.stop()
    # one survivor per distinct text, dups dropped within AND across batches
    assert sorted(got.text) == ["alpha", "beta", "gamma"]
    by_text = dict(zip(got.text, got.doc_id))
    assert by_text["alpha"] == 1 and by_text["beta"] == 2
    assert by_text["gamma"] in (5, 6)  # same-file tie: either survivor ok
    assert got.content_hash.nunique() == 3


def test_dedup_stream_watermarked_drops_within_horizon(spark, tmp_path):
    """Watermarked dedup: a re-crawl within the delay is dropped; state for
    hashes behind the watermark is purged, so a far-later identical doc is
    re-emitted (the documented bounded-state trade)."""
    import datetime as dt
    import time as _time

    from grenier_spark.streaming.dedup import dedup_stream

    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    src_dir, ckpt = str(tmp_path / "dw_in"), str(tmp_path / "dw_ck")
    schema = "doc_id long, text string, ts timestamp"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src_dir}/{name}")
        _time.sleep(0.05)

    write_batch("b1", [(1, "alpha", T(0, 0)), (2, "alpha", T(0, 5)),
                       (3, "beta", T(0, 6))])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src_dir}/*"))
    q = (dedup_stream(stream, "text", ts_col="ts", delay="10 minutes")
         .writeStream.outputMode("append").format("memory").queryName("dw")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # advance the watermark far past 00:00+10m, purging alpha's state …
        write_batch("b2", [(4, "gamma", T(2, 0))])
        q.processAllAvailable()
        # … so this identical alpha (event time beyond the horizon) re-emits
        write_batch("b3", [(5, "alpha", T(3, 0))])
        q.processAllAvailable()
        got = spark.sql("SELECT doc_id, text FROM dw").toPandas()
    finally:
        q.stop()
    ids = set(got.doc_id)
    assert 1 in ids and 2 not in ids          # within-horizon dup dropped
    assert {3, 4} <= ids                      # distinct docs pass
    assert 5 in ids                           # post-purge re-occurrence
    assert len(got) == 4


def test_ingest_dedup_stream_vs_corpus(spark, tmp_path):
    """Streaming vs-corpus dedup: corpus dups flagged is_new=False across
    micro-batches, fresh docs True, exact despite an undersized (high-fpr)
    Bloom — the filter only routes, the index join decides."""
    import time as _time

    from grenier_spark.operators.dedup import bloom_of_corpus
    from grenier_spark.streaming.dedup import ingest_dedup_stream

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(80)],
        "doc_id long, text string")
    index = corpus.select(F.md5("text").alias("content_hash")).distinct()
    # undersized on purpose: plenty of false positives, output still exact
    blob = bloom_of_corpus(corpus, expected_docs=8, fpr=0.3)

    src_dir, ckpt = str(tmp_path / "ig_in"), str(tmp_path / "ig_ck")
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src_dir}/{name}")
        _time.sleep(0.05)

    write_batch("b1", [(100, "corpus doc 3"), (101, "fresh one")])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src_dir}/*"))
    q = (ingest_dedup_stream(stream, index, blob).writeStream
         .outputMode("append").format("memory").queryName("ig")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        write_batch("b2", [(102, "corpus doc 55"), (103, "fresh two")])
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ig").toPandas()
    finally:
        q.stop()
    flags = dict(zip(got.doc_id, got.is_new))
    assert flags == {100: False, 101: True, 102: False, 103: True}
    assert got.content_hash.notna().all()


def test_ingest_dedup_stream_keeps_null_text(spark, tmp_path):
    """A NULL-text row has a NULL probe key: the stream keeps it, once,
    with is_new = true (batch dedup's NULL-keep), next to a corpus dup and
    a fresh doc in the same micro-batch."""
    from grenier_spark.operators.dedup import bloom_of_corpus
    from grenier_spark.streaming.dedup import ingest_dedup_stream

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(20)],
        "doc_id long, text string")
    index = corpus.select(F.md5("text").alias("content_hash")).distinct()
    blob = bloom_of_corpus(corpus, expected_docs=20, fpr=0.01)
    schema = "doc_id long, text string"
    src_dir = str(tmp_path / "ign_in")
    spark.createDataFrame(
        [(100, "corpus doc 3"), (101, None), (102, "fresh one")], schema
    ).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (ingest_dedup_stream(stream, index, blob).writeStream
         .outputMode("append").format("memory").queryName("ign")
         .option("checkpointLocation", str(tmp_path / "ign_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id, is_new FROM ign").collect()
    assert sorted((r.doc_id, r.is_new) for r in got) == \
        [(100, False), (101, True), (102, True)]


def test_stateful_hll_stream_skips_null_token_cells(spark, tmp_path):
    """A NULL tokens cell must not wedge the stream (the poison row would
    replay from the checkpoint forever) — it is skipped, other rows in
    the same batch still count."""
    import pandas as pd

    from grenier_spark.streaming.stateful import hll_state_stream

    src_dir = str(tmp_path / "null_src")
    pdf = pd.DataFrame({
        "doc_id": ["a", "b", "c"],
        "tokens": [[1, 2, 3], None, [3, 4]],
        "n_tok": [3, 0, 2],
        "source": ["s1", "s1", "s1"]})
    spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string"
    ).coalesce(1).write.parquet(src_dir)
    stream = (spark.readStream
              .schema("doc_id string, tokens array<int>, n_tok int, "
                      "source string")
              .parquet(src_dir))
    out = hll_state_stream(stream, "source", "tokens", p=10)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("null_hll")
         .option("checkpointLocation", str(tmp_path / "null_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    last = spark.sql("select * from null_hll").toPandas().iloc[-1]
    assert last.n_docs == 3 and last.n_tokens == 5
    assert abs(last.est_distinct - 4) < 0.5  # {1,2,3,4}


def _null_element_stream(spark, tmp_path):
    """The rows ("a", [1, NULL, 3]), ("a", [4, 5]) as a one-file stream:
    the NULL token element reaches pandas as NaN in a float64 array."""
    import pandas as pd

    schema = "doc_id string, tokens array<bigint>, source string"
    src_dir = str(tmp_path / "null_elem_src")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": ["d0", "d1"],
                      "tokens": [[1, None, 3], [4, 5]],
                      "source": ["a", "a"]}), schema
    ).coalesce(1).write.parquet(src_dir)
    return spark.readStream.schema(schema).parquet(src_dir)


def _run_update_stream(out, tmp_path, name):
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name)
         .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return out.sparkSession.sql(f"select * from {name}").toPandas()


def test_stateful_hll_stream_drops_null_token_elements(spark, tmp_path):
    """A NULL element inside a token array drops, as in the batch build:
    the stream emits the batch estimate and counts only the non-NULL
    tokens (the element used to become the phantom key INT64_MIN)."""
    from grenier_spark.operators.sketch_build import build_sketches
    from grenier_spark.streaming.stateful import hll_state_stream

    stream = _null_element_stream(spark, tmp_path)
    last = _run_update_stream(hll_state_stream(stream, "source", p=10),
                              tmp_path, "null_elem_hll").iloc[-1]
    batch = build_sketches(
        spark.createDataFrame([("a", [1, None, 3]), ("a", [4, 5])],
                              "source string, tokens array<bigint>"),
        [SketchSpec.of("h", "hll", "tokens", p=10)], ["source"]).first()
    assert batch.n_values == 4
    assert last.est_distinct == hll.card(hll.from_bytes(bytes(batch.sketch)))
    assert last.n_docs == 2 and last.n_tokens == 4


def test_lossy_state_stream_drops_null_token_elements(spark, tmp_path):
    """lossy_state_stream over a token array with one NULL element: the
    report equals a batch counter fed the non-NULL tokens in doc order."""
    from grenier_spark.core.countish import LossyCounter
    from grenier_spark.streaming.stateful import lossy_state_stream

    stream = _null_element_stream(spark, tmp_path)
    # a support this low reports every token, so the report shows n
    got = _run_update_stream(
        lossy_state_stream(stream, "source", support=0.001,
                           error_tolerance=0.01),
        tmp_path, "null_elem_lossy")
    lc = LossyCounter(0.001, 0.01)
    lc.observe_batch(np.array([1, 3, 4, 5], dtype=np.int64))
    want = {(t, int(lc.f[t]), lc.n) for t in lc.f
            if (lc.f[t] + lc.delta[t]) / lc.n >= 0.001}
    assert want == {(1, 1, 4), (3, 1, 4), (4, 1, 4), (5, 1, 4)}
    assert {(int(r.token), int(r.f), int(r.n))
            for r in got.itertuples()} == want


def test_order_col_missing_from_stream_raises(spark, tmp_path):
    """Every operator that takes order_col refuses a stream without it at
    construction, naming the column: the within-trigger order would
    otherwise silently depend on Arrow chunking."""
    from grenier_spark.streaming.stateful import (lossy_state_stream,
                                                  moments_state_stream,
                                                  req_state_stream)

    src_dir = tmp_path / "no_order"
    src_dir.mkdir()
    tokens = spark.readStream.schema(
        "tokens array<bigint>, source string").parquet(str(src_dir))
    with pytest.raises(ValueError, match="'doc_id'"):
        lossy_state_stream(tokens, "source", "tokens")
    values = spark.readStream.schema(
        "event_type string, value double").parquet(str(src_dir))
    for op in (moments_state_stream, req_state_stream):
        with pytest.raises(ValueError, match="'event_id'"):
            op(values, "event_type")


def test_moments_state_stream_matches_batch_twin(spark, tmp_path):
    """Streaming running moments: state after two triggers (split across a
    query RESTART on one checkpoint) must equal a batch Moments fed the
    same two per-key batches in event_id order — n exact, power sums to
    1e-15 rel (the state round-trips float64 exactly; dd order is pinned
    by the order_col sort)."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.doubledouble import Moments
    from grenier_spark.streaming.stateful import moments_state_stream

    rng = np.random.Generator(np.random.PCG64(11))
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    batches = []
    for part in range(2):
        df = pd.DataFrame({
            "event_id": np.arange(part * 200, part * 200 + 200),
            "event_type": [f"t{i % 3}" for i in range(200)],
            "value": rng.normal(10.0, 4.0, 200)})
        batches.append(df)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long, event_type string, value double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = moments_state_stream(stream, "event_type")
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = pd.concat(collected, ignore_index=True)
    final = (final.sort_values("n").groupby("event_type").last()
             .reset_index())
    for key in ["t0", "t1", "t2"]:
        twin = Moments()
        for b in batches:
            sel = b[b.event_type == key].sort_values("event_id")
            twin.update_batch(sel.value.to_numpy(dtype=np.float64))
        row = final[final.event_type == key].iloc[0]
        tn, tmean, tvar, tskew, tkurt = twin.stats()
        assert int(row.n) == tn
        assert row["mean"] == pytest.approx(tmean, rel=1e-15)
        assert row["variance"] == pytest.approx(tvar, rel=1e-12)
        assert row["skew"] == pytest.approx(tskew, rel=1e-9)
        assert row["kurtosis"] == pytest.approx(tkurt, rel=1e-9)


def test_ddsketch_state_stream_byte_equals_batch(spark, tmp_path):
    """Streaming DDSketch across two triggers (split by a query RESTART on
    one checkpoint): the final state-store sketch must be BYTE-IDENTICAL
    to a single batch build over all rows — the order-insensitivity that
    makes the streaming estimates SQL-value-exact (no other streaming
    quantile surface can promise bytes). The emitted estimates are then
    checked against the batch twin's quantile() exactly."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.ddsketch import DDSketch
    from grenier_spark.streaming.stateful import ddsketch_state_stream

    rng = np.random.Generator(np.random.PCG64(23))
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    batches = []
    for part in range(2):
        vals = rng.lognormal(2.0, 1.5, 300)
        vals[rng.integers(0, 300, 5)] = 0.0
        df = pd.DataFrame({
            "event_id": np.arange(part * 300, part * 300 + 300),
            "event_type": [f"t{i % 3}" for i in range(300)],
            "value": vals})
        df.loc[df.index[::97], "value"] = None  # NULLs must drop
        # bad records (negative / inf) must ALSO drop in the streaming
        # path instead of raising — a raise would wedge the checkpointed
        # query forever (ADVICE r3); the batch build keeps the loud raise
        df.loc[df.index[7], "value"] = -3.5
        df.loc[df.index[13], "value"] = np.inf
        batches.append(df)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long, event_type string, value double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = ddsketch_state_stream(stream, "event_type", alpha=0.01,
                                    qs=(0.25, 0.5, 0.9), emit_state=True)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = pd.concat(collected, ignore_index=True)
    final = (final.sort_values("n").groupby(["event_type", "q"]).last()
             .reset_index())
    allrows = pd.concat(batches, ignore_index=True)
    for key in ["t0", "t1", "t2"]:
        twin = DDSketch(0.01)
        sel = (allrows[allrows.event_type == key].value.dropna()
               .to_numpy(dtype=np.float64))
        sel = sel[np.isfinite(sel) & (sel >= 0)]
        twin.update_batch(sel)
        for q in (0.25, 0.5, 0.9):
            row = final[(final.event_type == key) & (final.q == q)].iloc[0]
            assert int(row.n) == twin.n
            assert row.est == twin.quantile(q), (key, q)
            # the actual claim: state bytes == batch build bytes
            assert bytes(row.sketch) == twin.to_bytes(), (key, q)


def test_resize_histogram_col_rejects_non_multiple(spark):
    import pandas as pd

    from grenier_spark.operators.multimodal import resize_histogram_col

    df = spark.createDataFrame(
        pd.DataFrame({"feature": [[1.0] * 16]}), "feature array<float>")
    with pytest.raises(Exception) as exc:
        df.select(resize_histogram_col("feature", 3).alias("r")).collect()
    assert "not a multiple" in str(exc.value)


def test_resize_histogram_col_null_feature_propagates(spark):
    """A NULL feature (what sample_frames emits for a NULL payload) must
    resize to NULL, not trip the length check on size(NULL) = -1 — the
    composition sample_frames |> resize over data with failed downloads
    must not fail the job (ADVICE r3)."""
    from grenier_spark.operators.multimodal import (resize_histogram_col,
                                                    sample_frames)

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh" * 8), "image"), (2, None, "image")],
        "media_id long, payload binary, media_type string")
    out = (sample_frames(df, n_frames=2, frame_len=16)
           .select("media_id",
                   resize_histogram_col("feature", 4).alias("r"))
           .toPandas())
    ok = out[out.media_id == 1]
    assert all(r is not None and len(r) == 4 for r in ok.r)
    nulls = out[out.media_id == 2]
    assert len(nulls) == 2 and all(r is None for r in nulls.r)


def test_req_state_stream_matches_batch_twin(spark, tmp_path):
    """Streaming REQ across two triggers (split by a query RESTART on one
    checkpoint): the final state must BYTE-equal a local REQ twin fed the
    same two per-key batches in event_id order — order-sensitive kind, so
    the order_col sort inside the trigger is what makes this exact."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.req import REQ
    from grenier_spark.streaming.stateful import req_state_stream

    rng = np.random.Generator(np.random.PCG64(31))
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    batches = []
    for part in range(2):
        df = pd.DataFrame({
            "event_id": np.arange(part * 400, part * 400 + 400),
            "event_type": [f"t{i % 3}" for i in range(400)],
            "value": rng.lognormal(2.0, 1.5, 400)})
        df.loc[df.index[::83], "value"] = None
        batches.append(df)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long, event_type string, value double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = req_state_stream(stream, "event_type", k=16, qs=(0.9, 0.99),
                               emit_state=True)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = pd.concat(collected, ignore_index=True)
    final = (final.sort_values("n").groupby(["event_type", "q"]).last()
             .reset_index())
    for key in ["t0", "t1", "t2"]:
        twin = REQ(k=16)
        for b in batches:
            sel = b[b.event_type == key].sort_values("event_id")
            twin.update_batch(sel.value.dropna()
                              .to_numpy(dtype=np.float64))
        for q in (0.9, 0.99):
            row = final[(final.event_type == key) & (final.q == q)].iloc[0]
            assert int(row.n) == twin.n
            assert row.est == float(twin.quantiles([q])[0]), (key, q)
            # the documented contract: state bytes == order-pinned twin
            assert bytes(row.sketch) == twin.to_bytes(), (key, q)


def test_kll_drift_stream_tracks_exact_ks_across_restart(spark, tmp_path):
    """Live drift monitor (stateful.kll_drift_stream): two micro-batches
    split by a query RESTART on one checkpoint; the final KS-vs-baseline
    must sit within the KLL guarantee band of the brute exact KS — near 0
    for the undrifted key, large for the shifted key. A key absent from
    the baseline accumulates state but never emits; +/-inf records drop
    instead of wedging the stream."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.kll import KLL
    from grenier_spark.streaming.stateful import kll_drift_stream

    rng = np.random.Generator(np.random.PCG64(41))
    ref = {k: rng.exponential(40, 4000) for k in ("same", "drift")}
    baseline = {}
    for k, v in ref.items():
        s = KLL(k=200, seed=3)
        s.update_batch(v)
        baseline[k] = s.to_bytes()
    # stream: 'same' ~ ref; 'drift' shifted; 'orphan' has no baseline
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    stream_vals = {"same": rng.exponential(40, 3000),
                   "drift": rng.exponential(40, 3000) + 60.0,
                   "orphan": rng.exponential(40, 100)}
    for part in range(2):
        rows = []
        for k, v in stream_vals.items():
            half = v[part::2]
            for x in half:
                rows.append((len(rows) + part * 10**6, k, float(x)))
        rows.append((part * 10**6 + 999_999, "same", float("inf")))
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["event_id", "event_type", "value"]),
            preserve_index=False), f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long, event_type string, value double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = kll_drift_stream(stream, "event_type", baseline, k=200)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = pd.concat(collected, ignore_index=True)
    assert "orphan" not in set(final.event_type)  # no baseline, no row
    final = (final.sort_values("n").groupby("event_type").last()
             .reset_index())

    def brute_ks(a, b):
        grid = np.unique(np.concatenate([a, b]))
        fa = np.searchsorted(np.sort(a), grid, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
        return float(np.max(np.abs(fa - fb)))

    for k in ("same", "drift"):
        row = final[final.event_type == k].iloc[0]
        assert int(row.n) == len(stream_vals[k])  # inf rows dropped
        exact = brute_ks(ref[k], stream_vals[k])
        assert abs(row.ks - exact) <= 0.09, (k, row.ks, exact)
    assert final[final.event_type == "drift"].ks.iloc[0] > 0.3
    assert final[final.event_type == "same"].ks.iloc[0] < 0.12


def test_dd_psi_stream_exact_across_restart(spark, tmp_path):
    """Live PSI monitor (stateful.dd_psi_stream): two micro-batches split
    by a query RESTART on one checkpoint; dd state is order-insensitive,
    so the final streamed PSI must EQUAL (round-6) the pure-numpy PSI of
    a from-scratch histogram over everything ingested — large for the
    shifted key, small for the same-distribution key. Orphan keys never
    emit; negative and inf records drop instead of wedging the stream."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.ddsketch import DDSketch
    from grenier_spark.operators.drift import dd_psi_pair
    from grenier_spark.streaming.stateful import dd_psi_stream

    rng = np.random.Generator(np.random.PCG64(43))
    ref = {k: rng.gamma(2.0, 20.0, 4000) for k in ("same", "drift")}
    baseline = {}
    for k, v in ref.items():
        s = DDSketch(0.25)
        s.update_batch(v)
        baseline[k] = s.to_bytes()
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    stream_vals = {"same": rng.gamma(2.0, 20.0, 3000),
                   "drift": rng.gamma(2.0, 60.0, 3000),
                   "orphan": rng.gamma(2.0, 20.0, 100)}
    for part in range(2):
        rows = []
        for k, v in stream_vals.items():
            for x in v[part::2]:
                rows.append((len(rows) + part * 10**6, k, float(x)))
        rows.append((part * 10**6 + 999_998, "same", float("inf")))
        rows.append((part * 10**6 + 999_999, "same", -5.0))
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["event_id", "event_type", "value"]),
            preserve_index=False), f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long, event_type string, value double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = dd_psi_stream(stream, "event_type", baseline, alpha=0.25)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = pd.concat(collected, ignore_index=True)
    assert "orphan" not in set(final.event_type)
    final = (final.sort_values("n").groupby("event_type").last()
             .reset_index().set_index("event_type"))
    for k in ("same", "drift"):
        assert final.loc[k].n == len(stream_vals[k])  # bad records dropped
        live = DDSketch(0.25)
        live.update_batch(stream_vals[k])
        nb, want = dd_psi_pair(live, DDSketch.from_bytes(baseline[k]))
        assert round(final.loc[k].psi, 6) == round(want, 6), k
        assert final.loc[k].n_bins == nb
    assert final.loc["drift"].psi > 0.25 and final.loc["same"].psi < 0.1


def test_priority_sample_stream_exact_across_restart(spark, tmp_path):
    """Live weighted sample (stateful.priority_sample_stream): two
    micro-batches split by a query RESTART on one checkpoint; the
    top-(k+1) state is order-insensitive, so the final streamed sample,
    tau and est_total must EQUAL a from-scratch PrioritySample over
    everything ingested, driven by the identical md5 priority chain.
    NULL id/weight rows drop without counting; a float weight column is
    refused at construction (plan-time, not a wedged batch)."""
    import hashlib
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.prioritysample import PrioritySample
    from grenier_spark.streaming.stateful import priority_sample_stream

    rng = np.random.Generator(np.random.PCG64(44))
    n, k, seed = 3000, 17, 6
    ids = np.arange(n, dtype=np.int64)
    w = rng.integers(1, 700, n).astype(np.int64)
    grp = np.where(ids % 2 == 0, "ga", "gb")
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    for part in range(2):
        sel = slice(part, None, 2)
        pdf = pd.DataFrame({"doc_id": ids[sel], "source": grp[sel],
                            "w": w[sel]})
        if part == 1:  # NULLs drop silently and don't count
            pdf = pd.concat([pdf, pd.DataFrame(
                {"doc_id": [10**7, None], "source": ["ga", "gb"],
                 "w": [None, 5]})], ignore_index=True)
        # nullable Int64 keeps the parquet columns BIGINT despite the
        # None rows (plain pandas would promote to DOUBLE)
        pdf = pdf.astype({"doc_id": "Int64", "w": "Int64"})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("doc_id long, source string, w long")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = priority_sample_stream(stream, "source", k=k,
                                     weight_col="w", id_col="doc_id",
                                     seed=seed)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = (pd.concat(collected, ignore_index=True)
             .sort_values("n_seen").groupby("source").last())
    for g in ("ga", "gb"):
        sel = grp == g
        prios = np.array([
            float(w[i]) * float(1 << 52)
            / float(int(hashlib.md5(f"{ids[i]}:prio{seed}".encode())
                        .hexdigest()[3:16], 16) + 1)
            for i in np.flatnonzero(sel)])
        want = PrioritySample(k)
        want.update_batch(ids[sel], w[sel], prios)
        row = final.loc[g]
        assert row.n_seen == int(sel.sum())  # NULL rows never counted
        assert row.n_sample == k
        assert row.tau == want.tau
        assert row.est_total == want.estimate_total()

    with pytest.raises(ValueError, match="integer type"):
        stream = (spark.readStream
                  .schema("doc_id long, source string, w double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        priority_sample_stream(stream, "source", k=3, weight_col="w")


def test_dd_ks_stream_exact_across_restart(spark, tmp_path):
    """Live binned-KS monitor (stateful.dd_ks_stream): two micro-batches
    split by a query RESTART on one checkpoint; dd state is
    order-insensitive, so the final streamed KS must EQUAL dd_ks_pair of
    a from-scratch histogram over everything ingested — large for the
    shifted key, small for the same-distribution key. Orphan keys never
    emit; negative and inf records drop instead of wedging the stream."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grenier_spark.core.ddsketch import DDSketch
    from grenier_spark.operators.drift import dd_ks_pair
    from grenier_spark.streaming.stateful import dd_ks_stream

    rng = np.random.Generator(np.random.PCG64(47))
    ref = {k: rng.gamma(2.0, 20.0, 4000) for k in ("same", "drift")}
    baseline = {}
    for k, v in ref.items():
        s = DDSketch(0.25)
        s.update_batch(v)
        baseline[k] = s.to_bytes()
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src_dir, exist_ok=True)
    stream_vals = {"same": rng.gamma(2.0, 20.0, 3000),
                   "drift": rng.gamma(2.0, 60.0, 3000),
                   "orphan": rng.gamma(2.0, 20.0, 100)}
    for part in range(2):
        rows = []
        for k, v in stream_vals.items():
            for x in v[part::2]:
                rows.append((len(rows) + part * 10**6, k, float(x)))
        rows.append((part * 10**6 + 999_998, "same", float("inf")))
        rows.append((part * 10**6 + 999_999, "same", -5.0))
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["event_id", "event_type", "value"]),
            preserve_index=False), f"{src_dir}/part-{part:05d}.parquet")

    collected = []

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long, event_type string, value double")
                  .option("maxFilesPerTrigger", "16").parquet(src_dir))
        out = dd_ks_stream(stream, "event_type", baseline, alpha=0.25)
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    hidden = str(tmp_path / "hidden.parquet")
    os.replace(f"{src_dir}/part-00001.parquet", hidden)
    run_once()
    os.replace(hidden, f"{src_dir}/part-00001.parquet")
    run_once()

    final = pd.concat(collected, ignore_index=True)
    assert "orphan" not in set(final.event_type)
    final = (final.sort_values("n").groupby("event_type").last()
             .reset_index().set_index("event_type"))
    for k in ("same", "drift"):
        assert final.loc[k].n == len(stream_vals[k])  # bad records dropped
        live = DDSketch(0.25)
        live.update_batch(stream_vals[k])
        nb, want = dd_ks_pair(live, DDSketch.from_bytes(baseline[k]))
        assert final.loc[k].ks == want, k  # bit-equal, no rounding
        assert final.loc[k].n_bins == nb
    assert final.loc["drift"].ks > 0.4 and final.loc["same"].ks < 0.1
