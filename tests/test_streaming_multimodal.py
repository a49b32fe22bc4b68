"""Streaming upsert (Trigger.AvailableNow) + multimodal plumbing tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _payload(base, target, series):
    return {
        "base_currency": base,
        "target_currency": target,
        "payload": json.dumps(
            {
                "Time Series FX (Daily)": {
                    d: {"4. close": str(v)} for d, v in series.items()
                }
            }
        ),
    }


def test_streaming_upsert_available_now(spark, tmp_path):
    """File-stream → foreachBatch upsert: backlog processed, store merged,
    re-delivery is idempotent (checkpoint advances)."""
    from fxspark.streaming.runner import run_upsert_stream

    drops = tmp_path / "drops"
    drops.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    with open(drops / "batch1.json", "w") as f:
        f.write(json.dumps(_payload("EUR", "USD", {"2025-01-16": 1.0291})) + "\n")
        f.write(json.dumps(_payload("GBP", "USD", {"2025-01-16": 1.2400})) + "\n")

    q = run_upsert_stream(spark, str(drops), store, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(store).count() == 2

    # second drop: one update (same key, new close) + one new key
    with open(drops / "batch2.json", "w") as f:
        f.write(json.dumps(_payload("EUR", "USD", {"2025-01-16": 1.0299})) + "\n")
        f.write(json.dumps(_payload("JPY", "USD", {"2025-01-16": 0.0065})) + "\n")

    q = run_upsert_stream(spark, str(drops), store, ckpt, available_now=True)
    q.awaitTermination(120)
    out = spark.read.parquet(store)
    assert out.count() == 3  # upsert, not append
    eur = out.filter(F.col("ccy_couple") == "EUR/USD").collect()[0]
    assert str(eur["rate"]) == "1.029900"  # last writer won


def test_windowed_rate_stats_plan(spark):
    """The watermark+window aggregate builds on a streaming frame (plan-level
    check: it must be a valid streaming plan with event-time watermark)."""
    from fxspark.streaming.runner import windowed_rate_stats

    batch = spark.createDataFrame(
        [
            Row(ccy_couple="EUR/USD", rate=1.03, event_time=1,
                timestamp=__import__("datetime").datetime(2025, 1, 16, 9, 0, 0)),
            Row(ccy_couple="EUR/USD", rate=1.04, event_time=2,
                timestamp=__import__("datetime").datetime(2025, 1, 16, 9, 0, 30)),
        ]
    )
    out = windowed_rate_stats(batch)  # watermark is a no-op on batch frames
    rows = out.collect()
    assert rows[0]["latest_rate"] == 1.04 and rows[0]["n_obs"] == 2


PNG_1x2 = (
    b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
    + b"\x00\x00\x00\x01" + b"\x00\x00\x00\x02" + b"\x08\x06\x00\x00\x00"
)


def test_multimodal_meta_and_features(spark):
    from fxspark.multimodal import decode_image_meta, extract_features, to_media_frame

    df = spark.createDataFrame(
        [
            Row(id=1, blob=bytearray(PNG_1x2)),
            Row(id=2, blob=bytearray(b"GIF89a" + b"\x03\x00\x04\x00")),
            Row(id=3, blob=bytearray(b"\xff\xd8\xff\xe0rest")),
            Row(id=4, blob=bytearray(b"not an image")),
        ]
    )
    media = to_media_frame(df, "id", "blob", "image")
    meta = {r["media_id"]: r for r in decode_image_meta(media).collect()}
    assert (meta[1]["format"], meta[1]["width"], meta[1]["height"]) == ("png", 1, 2)
    assert (meta[2]["format"], meta[2]["width"], meta[2]["height"]) == ("gif", 3, 4)
    assert meta[3]["format"] == "jpeg"
    assert meta[4]["format"] == "unknown"

    feats = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    assert len(feats[1]) == 8
    # deterministic: same payload → same feature
    feats2 = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    assert feats == feats2


def test_video_decode_probes_runtime_then_raises_honestly(spark):
    """With no codec importable the default path must raise (not silently
    fake); when a codec IS present, detect_frame_decoder returns a real
    decoder and decode_video_frames uses it."""
    from fxspark.multimodal import decode_video_frames, detect_frame_decoder

    dec = detect_frame_decoder()
    if dec is None:
        with pytest.raises(NotImplementedError):
            decode_video_frames(None)
    else:  # pragma: no cover - only runs where pyav/imageio-ffmpeg exist
        assert callable(dec)


def test_video_frame_plumbing_with_fake_decoder(spark):
    """The mapInPandas frame-sampling plumbing is real — schema, one-to-many
    expansion, empty payloads, determinism — only the codec is faked."""
    from fxspark.multimodal import (
        decode_video_frames,
        fake_frame_decoder,
        to_media_frame,
    )

    # 10 "frames" of 256 bytes each, plus an empty and a sub-frame payload
    df = spark.createDataFrame(
        [
            Row(id=1, blob=bytearray(bytes(range(256)) * 10)),
            Row(id=2, blob=bytearray(b"")),
            Row(id=3, blob=bytearray(b"short")),
        ]
    )
    media = to_media_frame(df, "id", "blob", "video")
    out = decode_video_frames(media, every_n=3, decoder=fake_frame_decoder)
    rows = out.collect()
    # id=1: frames 0,3,6,9 sampled; id=2/3: no full frame → no rows
    got = sorted((r["media_id"], r["frame_idx"], r["ts_ms"]) for r in rows)
    assert got == [(1, 0, 0), (1, 3, 99), (1, 6, 198), (1, 9, 297)]
    assert all(r["width"] == 16 and r["height"] == 16 for r in rows)
    assert all(len(bytes(r["frame_bytes"])) == 16 for r in rows)
    # deterministic decode: re-run bit-identical
    again = sorted(
        (r["media_id"], r["frame_idx"], bytes(r["frame_bytes"]))
        for r in decode_video_frames(media, every_n=3, decoder=fake_frame_decoder).collect()
    )
    assert again == sorted(
        (r["media_id"], r["frame_idx"], bytes(r["frame_bytes"])) for r in rows
    )


def test_resize_image_rewrites_png_dims(spark):
    """resize_image must rewrite PNG header dims (decode sees the new size)
    and pass non-PNG payloads through unchanged."""
    import struct as _struct

    from fxspark.multimodal import decode_image_meta, resize_image, to_media_frame

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + _struct.pack(">II", 640, 480) + b"body")
    raw = b"not an image"
    df = spark.createDataFrame(
        [Row(i=1, p=bytearray(png)), Row(i=2, p=bytearray(raw))]
    )
    media = to_media_frame(df, "i", "p", "image")
    resized = resize_image(media, 64, 48)
    meta = {r["media_id"]: r for r in decode_image_meta(resized).collect()}
    assert (meta[1]["width"], meta[1]["height"]) == (64, 48)
    assert meta[2]["format"] == "unknown"
    payloads = {r["media_id"]: bytes(r["payload"]) for r in resized.collect()}
    assert payloads[2] == raw            # non-PNG untouched
    assert payloads[1][24:] == b"body"   # body untouched, header rewritten


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Streaming dedup: duplicate natural keys arriving within the watermark
    must be dropped (first arrival wins), distinct keys all pass."""
    from fxspark.streaming.runner import dedup_stream

    drops = tmp_path / "ddrops"
    drops.mkdir()
    rows = [
        {"ccy_couple": "EUR/USD", "date": "2025-01-16", "rate": 1.01,
         "timestamp": "2025-01-17 09:00:00"},
        {"ccy_couple": "EUR/USD", "date": "2025-01-16", "rate": 1.02,   # dup key
         "timestamp": "2025-01-17 09:00:05"},
        {"ccy_couple": "GBP/USD", "date": "2025-01-16", "rate": 1.25,
         "timestamp": "2025-01-17 09:00:10"},
    ]
    with open(drops / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "ccy_couple string, date string, rate double, timestamp timestamp"
    stream = spark.readStream.schema(schema).json(str(drops))
    q = (
        dedup_stream(stream, keys=["ccy_couple", "date"])
        .writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT ccy_couple, rate FROM dedup_stream_out").collect()
    got = {(r["ccy_couple"], r["rate"]) for r in out}
    assert got == {("EUR/USD", 1.01), ("GBP/USD", 1.25)}  # first arrival won


def test_session_window_agrees_with_batch_sessionize(spark, sf_dir):
    """Streaming session windows == batch gap sessionization on the same
    events (no event pair sits exactly on the 30-min gap edge in testdata,
    so the half-open/closed edge difference cannot fire)."""
    from fxspark.ops.windows import sessionize
    from fxspark.session import load_table
    from fxspark.streaming.runner import session_window_stats

    events = load_table(spark, sf_dir, "events")
    sw = (
        session_window_stats(events, gap="30 minutes")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    batch = sessionize(events, "user_id", "ts", F.expr("INTERVAL 30 MINUTES"))
    bs = batch.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )
    a = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in sw.collect()}
    b = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in bs.collect()}
    assert a == b


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join (AvailableNow → memory sink) produces
    exactly the batch interval-join result."""
    import json as _json

    from fxspark.streaming.runner import stream_stream_interval_join

    pdir, cdir = tmp_path / "purch", tmp_path / "clicks"
    pdir.mkdir(); cdir.mkdir()
    with open(pdir / "p.json", "w") as f:
        for uid, ts in [(1, "2025-01-16 10:00:00"), (1, "2025-01-16 12:00:00"),
                        (2, "2025-01-16 10:30:00")]:
            f.write(_json.dumps({"user_id": uid, "p_ts": ts}) + "\n")
    with open(cdir / "c.json", "w") as f:
        for uid, ts in [(1, "2025-01-16 09:30:00"),   # within 1h of 10:00
                        (1, "2025-01-16 11:30:00"),   # within 1h of 12:00
                        (1, "2025-01-16 08:00:00"),   # too old for any
                        (2, "2025-01-16 10:30:00"),   # exactly at purchase
                        (3, "2025-01-16 10:00:00")]:  # no purchase stream key
            f.write(_json.dumps({"user_id": uid, "c_ts": ts}) + "\n")

    pschema, cschema = "user_id long, p_ts timestamp", "user_id long, c_ts timestamp"
    ps = spark.readStream.schema(pschema).json(str(pdir))
    cs = spark.readStream.schema(cschema).json(str(cdir))
    joined = stream_stream_interval_join(ps, cs)
    q = (
        joined.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["user_id"], str(r["p_ts"]), str(r["c_ts"]))
           for r in spark.sql("SELECT * FROM ssj").collect()}

    pb = spark.read.schema(pschema).json(str(pdir))
    cb = spark.read.schema(cschema).json(str(cdir))
    expect = {(r["user_id"], str(r["p_ts"]), str(r["c_ts"]))
              for r in stream_stream_interval_join(pb, cb).collect()}
    assert got == expect and len(got) == 3


def test_curate_stream_incremental_dedup(spark, tmp_path):
    """Streaming curation: gate + decontamination run per batch; exact dedup
    spans batches via the store's fingerprint state — a later-arriving
    duplicate of an already-accepted document is dropped even though the
    batches never co-reside."""
    from pyspark.sql import Row

    from fxspark.streaming.curation import curate_stream

    drops = tmp_path / "docs"
    drops.mkdir()
    store = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "cur_ckpt")

    good_a = " ".join(f"alpha{i}" for i in range(40))
    good_b = " ".join(f"beta{i}" for i in range(40))
    contam = " ".join(f"evil{i}" for i in range(40))
    bench = spark.createDataFrame(
        [Row(doc_id=999, text="evil0 evil1 evil2 evil3 filler")]
    )

    with open(drops / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": good_a}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": contam}) + "\n")
    q = curate_stream(spark, str(drops), bench, store, ckpt)
    q.awaitTermination(120)

    with open(drops / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 7, "text": good_a.upper()}) + "\n")  # dup of 1
        f.write(json.dumps({"doc_id": 8, "text": good_b}) + "\n")
    q = curate_stream(spark, str(drops), bench, store, ckpt)
    q.awaitTermination(120)

    out = spark.read.parquet(store).select("doc_id").distinct().collect()
    assert {r["doc_id"] for r in out} == {1, 8}


def test_expr_decoders_parity_with_pandas(spark):
    """decode_image_meta_expr / decode_audio_meta_expr (pure JVM byte math)
    must agree row-for-row with the mapInPandas twins on every branch:
    PNG, GIF (little-endian dims), JPEG, WAV (canonical PCM), extensible WAV
    (rejected), truncated headers, unknown, empty."""
    import struct

    from fxspark.multimodal import (
        decode_audio_meta,
        decode_audio_meta_expr,
        decode_image_meta,
        decode_image_meta_expr,
        to_media_frame,
    )

    def wav(rate=44100, ch=2, bits=16, n_data=4000, fmt_size=16):
        return (
            b"RIFF" + b"\x00\x00\x00\x00" + b"WAVE" + b"fmt "
            + struct.pack("<IHHIIHH", fmt_size, 1, ch, rate,
                          rate * ch * bits // 8, ch * bits // 8, bits)
            + (b"\x00" * max(fmt_size - 16, 0))
            + b"data" + b"\x00\x00\x00\x00" + b"\x01" * n_data
        )

    payloads = [
        PNG_1x2,
        b"GIF89a" + b"\x03\x01\x04\x02" + b"x" * 8,
        b"GIF87a" + b"\xff\xff\x01\x00",
        b"\xff\xd8\xff\xe0rest",
        b"\x89PNG\r\n\x1a\n short",          # PNG magic but truncated header
        wav(),
        wav(rate=8000, ch=1, bits=8, n_data=123),
        wav(fmt_size=40),                     # WAVE_FORMAT_EXTENSIBLE → unknown
        b"RIFF1234WAVEnope",                  # RIFF but not canonical fmt
        b"not media at all",
        b"",
    ]
    df = spark.createDataFrame(
        [Row(id=i, blob=bytearray(p)) for i, p in enumerate(payloads)]
    )
    for kind, pandas_fn, expr_fn in [
        ("image", decode_image_meta, decode_image_meta_expr),
        ("audio", decode_audio_meta, decode_audio_meta_expr),
    ]:
        media = to_media_frame(df, "id", "blob", kind)
        a = {r["media_id"]: r.asDict() for r in pandas_fn(media).collect()}
        b = {r["media_id"]: r.asDict() for r in expr_fn(media).collect()}
        assert a == b, f"{kind}: {a} != {b}"


def test_rollup_stream_converges_to_full_rescan(spark, tmp_path):
    """Maintained rollup via foreachBatch: after streaming N file drops
    (across a restart), the stored keys-sized state must equal the rollup
    of a full batch rescan — and redelivery must not double-count."""
    import json as _json

    from fxspark.ops.rollup import rollup_table
    from fxspark.streaming.runner import run_rollup_stream

    drops = tmp_path / "drops"
    drops.mkdir()
    state = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v double"
    rows1 = [{"k": "a", "v": 1.5}, {"k": "b", "v": -2.0}, {"k": "a", "v": 4.0}]
    (drops / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1))

    q = run_rollup_stream(spark, str(drops), state, ckpt, schema, ["k"], "v")
    q.awaitTermination(120)

    rows2 = [{"k": "a", "v": 10.0}, {"k": "c", "v": 7.25}]
    (drops / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2))
    # restart from the same checkpoint: only b2 is new, b1 not re-merged
    q = run_rollup_stream(spark, str(drops), state, ckpt, schema, ["k"], "v")
    q.awaitTermination(120)

    full = spark.createDataFrame(
        [Row(k=r["k"], v=r["v"]) for r in rows1 + rows2])
    want = {r["k"]: r for r in rollup_table(full, ["k"], "v").collect()}
    got = {r["k"]: r for r in spark.read.parquet(state).collect()}
    assert set(got) == set(want) == {"a", "b", "c"}
    for k in want:
        for m in ("cnt", "sum", "min", "max"):
            assert got[k][m] == want[k][m], (k, m)


def test_cdc_stream_emits_change_sets_and_maintains_store(spark, tmp_path):
    """Streaming CDC: each micro-batch appends its insert/update change set
    (no-news keys emit nothing) and the store stays the latest-per-key
    state; restarting against the same checkpoint only consumes new drops."""
    from fxspark.streaming.cdc import cdc_stream

    drops = tmp_path / "cdc_src"
    drops.mkdir()
    store = str(tmp_path / "cdc_store")
    changes = str(tmp_path / "cdc_changes")
    ckpt = str(tmp_path / "cdc_ckpt")

    def run():
        q = cdc_stream(
            spark, str(drops), "user_id long, ts long, value double",
            "user_id", ["ts"], ["value"], store, changes, ckpt,
        )
        q.awaitTermination(120)

    with open(drops / "b1.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": 10, "value": 1.0}) + "\n")
        f.write(json.dumps({"user_id": 2, "ts": 10, "value": 2.0}) + "\n")
        f.write(json.dumps({"user_id": 2, "ts": 11, "value": 2.5}) + "\n")
    run()

    with open(drops / "b2.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": 20, "value": 1.0}) + "\n")  # no-op
        f.write(json.dumps({"user_id": 2, "ts": 20, "value": 9.0}) + "\n")  # update
        f.write(json.dumps({"user_id": 3, "ts": 20, "value": 3.0}) + "\n")  # insert
    run()

    state = {r.user_id: r.value for r in spark.read.parquet(store).collect()}
    assert state == {1: 1.0, 2: 9.0, 3: 3.0}

    log = spark.read.parquet(changes).collect()
    by_batch = {}
    for r in log:
        by_batch.setdefault(r.batch_id, {})[r.user_id] = r
    b1, b2 = by_batch[0], by_batch[1]
    # batch 1: everything is an insert; within-batch LWW picked ts=11
    assert {u: r.change_type for u, r in b1.items()} == {
        1: "insert", 2: "insert",
    }
    assert b1[2].new_value == 2.5
    # batch 2: user 1 unchanged -> absent; 2 update with old value; 3 insert
    assert {u: r.change_type for u, r in b2.items()} == {
        2: "update", 3: "insert",
    }
    assert (b2[2].old_value, b2[2].new_value) == (2.5, 9.0)

    # folding the log reproduces the store: last change per key wins
    final = {}
    for r in sorted(log, key=lambda r: r.batch_id):
        final[r.user_id] = r.new_value
    assert final == state


def test_watermark_drop_boundary_vs_batch_twin(spark, tmp_path):
    """The watermark DROP boundary itself: a late row is dropped iff it
    arrives in a batch AFTER its window's state was evicted (window end <
    watermark at the END of an earlier batch). The eviction timing is the
    subtle part this pins: a below-watermark row arriving in the SAME
    batch whose commit evicts the window still merges — the guarantee is
    one-directional (no window finalizes before the watermark passes its
    end; rows later than that MAY be dropped, and once state is evicted
    they MUST be, or append mode would emit duplicate windows). Four
    files forced into four batches; the batch twin over the full input
    diverges by exactly the one dropped row."""
    import os as _os

    from fxspark.streaming.runner import windowed_rate_stats

    drops = tmp_path / "wmdrops"
    drops.mkdir()
    batches = [
        # b0: max event time 10:02:00 ⇒ watermark for b1 = 10:01:30
        [
            {"ccy_couple": "EUR/USD", "event_time": 1, "rate": 1.0,
             "timestamp": "2025-01-17 10:00:10"},
            {"ccy_couple": "EUR/USD", "event_time": 2, "rate": 1.1,
             "timestamp": "2025-01-17 10:02:00"},
        ],
        # b1 (wm 10:01:30): 10:01:40 is above the watermark and its window
        # [10:01,10:02) is still open ⇒ KEPT. At b1's commit, window
        # [10:00,10:01) (end 10:01:00 < wm) is emitted and its state
        # EVICTED.
        [
            {"ccy_couple": "EUR/USD", "event_time": 3, "rate": 1.2,
             "timestamp": "2025-01-17 10:01:40"},
        ],
        # b2 (wm still 10:01:30): 10:00:50 < wm arrives AFTER its window's
        # eviction ⇒ DROPPED (no merge, no duplicate window emission)
        [
            {"ccy_couple": "EUR/USD", "event_time": 4, "rate": 9.9,
             "timestamp": "2025-01-17 10:00:50"},
        ],
        # b3: advances the watermark to 10:04:30, closing every remaining
        # window so append mode emits them all
        [
            {"ccy_couple": "EUR/USD", "event_time": 5, "rate": 1.3,
             "timestamp": "2025-01-17 10:05:00"},
        ],
    ]
    for i, rows in enumerate(batches):
        p = drops / f"{chr(ord('a') + i)}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        _os.utime(p, (1700000000 + i, 1700000000 + i))  # pin arrival order

    schema = (
        "ccy_couple string, event_time long, rate double, timestamp timestamp"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        windowed_rate_stats(stream, watermark="30 seconds")
        .writeStream.format("memory")
        .queryName("wm_drop_boundary")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM wm_drop_boundary").collect()
    assert len(rows) == 3  # no duplicate emission for the dropped row
    got = {str(r["window_start"]): (r["n_obs"], r["latest_rate"]) for r in rows}
    assert got == {
        # the 9.9 late row neither merged (n=1, rate 1.0) nor re-opened
        # the window (len == 3 above)
        "2025-01-17 10:00:00": (1, 1.0),
        "2025-01-17 10:01:00": (1, 1.2),  # late-but-open row KEPT
        "2025-01-17 10:02:00": (1, 1.1),
        # [10:05,10:06) unemitted: the watermark never passed its end
    }

    # Batch twin over the SAME full input: identical except (a) the open
    # windows the stream never emitted and (b) exactly ONE extra row in
    # [10:00,10:01) — the watermark-dropped event. Nothing else diverges.
    import datetime as _dt

    all_rows = spark.createDataFrame(
        [
            (
                r["ccy_couple"],
                r["event_time"],
                r["rate"],
                _dt.datetime.strptime(r["timestamp"], "%Y-%m-%d %H:%M:%S"),
            )
            for b in batches
            for r in b
        ],
        schema,
    )
    batch = {
        str(r["window_start"]): (r["n_obs"], r["latest_rate"])
        for r in windowed_rate_stats(all_rows, watermark="30 seconds")
        .collect()
    }
    assert batch["2025-01-17 10:00:00"] == (2, 9.9)
    for w in ("2025-01-17 10:01:00", "2025-01-17 10:02:00"):
        assert batch[w] == got[w]

def test_dedup_state_expiry_reemission_boundary(spark, tmp_path):
    """The OTHER half of dropDuplicatesWithinWatermark's contract (the
    within-watermark drop is pinned above): dedup state is TIME-SCOPED.
    Eviction is commit-gated like window finalization — batch N evicts
    with the watermark computed from batch N-1, AFTER N's lookups — so
    a key expires one batch after the watermark passes its event time +
    delay, and a fresh-timestamped duplicate arriving in a LATER batch
    is RE-EMITTED, while a key whose state is still live keeps dropping
    duplicates. This is the declared divergence from batch
    dropDuplicates (one row per key over any horizon), and the reason
    the batch form remains the compaction authority."""
    import os as _os

    from fxspark.streaming.runner import dedup_stream

    drops = tmp_path / "ddexp"
    drops.mkdir()
    batches = [
        # b0 (wm 1970): A and B emitted; commit computes wm = 10:01:30
        [
            {"ccy_couple": "A", "date": "d", "rate": 1.0,
             "timestamp": "2025-01-17 10:00:00"},
            {"ccy_couple": "B", "date": "d", "rate": 2.0,
             "timestamp": "2025-01-17 10:02:00"},
        ],
        # b1 (wm 10:01:30): filler C emitted; b1's COMMIT evicts A
        # (expires 10:00:30 < wm) and keeps B (expires 10:02:30 > wm)
        [
            {"ccy_couple": "C", "date": "d", "rate": 3.0,
             "timestamp": "2025-01-17 10:02:05"},
        ],
        # b2: duplicate A finds no state ⇒ RE-EMITTED; duplicate B hits
        # live state ⇒ dropped
        [
            {"ccy_couple": "A", "date": "d", "rate": 9.0,
             "timestamp": "2025-01-17 10:02:10"},
            {"ccy_couple": "B", "date": "d", "rate": 8.0,
             "timestamp": "2025-01-17 10:02:20"},
        ],
    ]
    for i, rows in enumerate(batches):
        p = drops / f"{chr(ord('a') + i)}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        _os.utime(p, (1700000000 + i, 1700000000 + i))

    schema = "ccy_couple string, date string, rate double, timestamp timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drops))
    )
    q = (
        dedup_stream(stream, keys=["ccy_couple", "date"])
        .writeStream.format("memory")
        .queryName("dedup_expiry_boundary")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT ccy_couple, rate FROM dedup_expiry_boundary"
    ).collect()
    got = sorted((r["ccy_couple"], r["rate"]) for r in out)
    assert got == [
        ("A", 1.0),
        ("A", 9.0),  # re-emitted: state evicted at b1's commit
        ("B", 2.0),  # B's duplicate dropped: state still within watermark
        ("C", 3.0),
    ]


def test_stream_stream_join_state_eviction_boundary(spark, tmp_path):
    """Completes the state-eviction trilogy (windowed agg + dedup above):
    a click's join state is evicted once the GLOBAL watermark (min across
    both sides) passes c_ts + lookback, so a late purchase arriving after
    eviction finds no match — the streamed result misses exactly the
    pairs whose click was evicted before the purchase arrived, while
    live rows in the same batch still join. The batch twin over the full
    input shows the one-pair divergence."""
    import json as _json
    import os as _os

    from fxspark.streaming.runner import stream_stream_interval_join

    pdir, cdir = tmp_path / "purch2", tmp_path / "clicks2"
    pdir.mkdir(); cdir.mkdir()
    pbatches = [
        # b0: the 14:00 row advances the purchase-side watermark to 13:00
        [(1, "2025-01-16 10:00:00"), (9, "2025-01-16 14:00:00")],
        # b1: filler keeps the purchase stream non-empty
        [(9, "2025-01-16 14:05:00")],
        # b2: filler — eviction is commit-gated one batch behind the
        # watermark (the agg/dedup pins above), so b2's COMMIT is where
        # the 09:30 click's state actually leaves the store
        [(9, "2025-01-16 14:10:00")],
        # b3: LATE purchase for the evicted click + a live pair's purchase
        [(1, "2025-01-16 10:15:00"), (2, "2025-01-16 12:45:00")],
    ]
    cbatches = [
        # b0: joins with (1, 10:00) same-batch; evictable once global
        # wm > 10:30
        [(1, "2025-01-16 09:30:00")],
        # b1: advances the click-side watermark to 12:00 ⇒ global wm
        # (min of sides) = 12:00 from b1's commit onward ⇒ the 09:30
        # click (c_ts + 1h = 10:30 < 12:00) becomes evictable; also
        # joins (9, 14:00)
        [(9, "2025-01-16 13:00:00")],
        # b2: filler chosen to pair with nothing (12:50 is outside every
        # purchase's [p_ts-1h, p_ts] interval) and to keep the click-side
        # watermark non-regressing
        [(9, "2025-01-16 12:50:00")],
        # b3: live click for the live purchase in the same batch
        [(2, "2025-01-16 12:30:00")],
    ]
    for d, col, batches in ((pdir, "p_ts", pbatches), (cdir, "c_ts", cbatches)):
        for i, rows in enumerate(batches):
            p = d / f"{chr(ord('a') + i)}.json"
            with open(p, "w") as f:
                for uid, ts in rows:
                    f.write(_json.dumps({"user_id": uid, col: ts}) + "\n")
            _os.utime(p, (1700000000 + i, 1700000000 + i))

    pschema = "user_id long, p_ts timestamp"
    cschema = "user_id long, c_ts timestamp"
    ps = (
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 1)
        .json(str(pdir))
    )
    cs = (
        spark.readStream.schema(cschema)
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    q = (
        stream_stream_interval_join(ps, cs)
        .writeStream.format("memory")
        .queryName("ssj_evict")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["p_ts"]), str(r["c_ts"]))
        for r in spark.sql("SELECT * FROM ssj_evict").collect()
    }
    assert got == {
        (1, "2025-01-16 10:00:00", "2025-01-16 09:30:00"),  # same-batch pair
        (9, "2025-01-16 14:00:00", "2025-01-16 13:00:00"),  # cross-batch pair
        (2, "2025-01-16 12:45:00", "2025-01-16 12:30:00"),  # live pair in b2
        # MISSING by design: (1, 10:15, 09:30) — the click was evicted at
        # b1's commit before the late purchase arrived in b2
    }

    # batch twin over the full input finds the evicted pair too
    pb = spark.read.schema(pschema).json(str(pdir))
    cb = spark.read.schema(cschema).json(str(cdir))
    expect = {
        (r["user_id"], str(r["p_ts"]), str(r["c_ts"]))
        for r in stream_stream_interval_join(pb, cb).collect()
    }
    assert expect == got | {(1, "2025-01-16 10:15:00", "2025-01-16 09:30:00")}
