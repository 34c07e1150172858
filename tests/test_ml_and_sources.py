"""ML-parity (M1-M3, S7/S8), source readers (S1/S2), catalog DDL (S9),
multimodal plumbing, and the reference-pipeline fixture replay
(FIXTURES.md A1/A2)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cust_sagemaker_feature_store_spark.core import (
    FeatureDefinition,
    FeatureGroup,
    FeatureStore,
)
from cust_sagemaker_feature_store_spark.ml import (
    load_model,
    predict,
    predict_single,
    save_model,
    train_regressor,
)
from cust_sagemaker_feature_store_spark.operators.multimodal import (
    decode_media,
    extract_media_features,
    MEDIA_SCHEMA,
)
from cust_sagemaker_feature_store_spark.sources import (
    PURCHASE_EVENTS_SCHEMA,
    create_database,
    create_external_table,
    drop_database,
    read_csv,
    read_quoted_csv_as_strings,
    show_tables,
)


# -- A1 fixture: synthetic purchase_events in the reference CSV's shape --

def _purchase_events_csv(tmp_path) -> str:
    rng = random.Random(42)
    lines = ["customer_id,purchase_timestamp,purchase_value,loyalty_score"]
    for cid in range(1, 101):
        for i in range(rng.randint(1, 5)):
            month, day = rng.randint(1, 12), rng.randint(1, 28)
            hour = rng.randint(0, 23)  # unpadded on write (loose format)
            lines.append(
                f"{cid},2022-{month:02d}-{day:02d} {hour}:{rng.randint(0,59):02d}:{rng.randint(0,59):02d},"
                f"{rng.uniform(10,500):.2f},{rng.uniform(1,10):.2f}"
            )
    # required edge rows (FIXTURES.md A1): same-key tie + late record
    lines.append("1,2022-06-01 9:00:00,111.11,5.55")
    lines.append("1,2022-06-01 9:00:00,222.22,6.66")  # tie: later write wins
    lines.append("1,2022-01-01 0:00:01,9.99,1.11")  # late, must not surface
    p = tmp_path / "purchase_events.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


GROUP = FeatureGroup(
    name="CustomerTransactionsReplay",
    record_identifier="customer_id",
    event_time_feature="event_time",
    features=(
        FeatureDefinition("customer_id", "Integral"),
        FeatureDefinition("event_time", "String"),
        FeatureDefinition("latest_purchase_value", "Fractional"),
        FeatureDefinition("latest_loyalty_score", "Fractional"),
    ),
)


def test_reference_pipeline_replay(spark, tmp_path):
    """End-to-end replay of the reference's three scripts on the A1
    fixture: ingest -> historical BETWEEN query -> latest view -> point
    lookup -> train -> single-row predict."""
    csv_path = _purchase_events_csv(tmp_path)
    raw = read_csv(spark, csv_path, PURCHASE_EVENTS_SCHEMA)
    n_input = raw.count()

    fs = FeatureStore(spark, str(tmp_path / "store"))
    fs.create_feature_group(GROUP)
    staged = raw.select(
        F.col("customer_id"),
        F.col("purchase_timestamp").alias("event_time"),
        F.col("purchase_value").alias("latest_purchase_value"),
        F.col("loyalty_score").alias("latest_loyalty_score"),
    )
    fs.ingest(GROUP.name, staged, loose_timestamp=True)

    # invariant: offline row count == ingested record count (A2)
    assert fs.offline_store(GROUP.name).count() == n_input

    # the reference's historical query (historical_features.py:28-31)
    hist = fs.history_between(
        GROUP.name, "2022-01-01T00:00:00Z", "2022-08-31T23:59:59Z"
    )
    hist_rows = hist.count()
    assert 0 < hist_rows < n_input
    # string BETWEEN == timestamp BETWEEN on ISO-8601-Z (the lexicographic
    # ordering property the reference relies on)
    typed = fs.offline_store(GROUP.name).filter(
        F.col("event_ts").between("2022-01-01 00:00:00", "2022-08-31 23:59:59")
    )
    assert typed.count() == hist_rows

    # latest view: one row per key; tie + late-record semantics
    latest = fs.latest_view(GROUP.name)
    n_keys = staged.select("customer_id").distinct().count()
    assert latest.count() == n_keys
    key1 = latest.filter(F.col("customer_id") == 1).head()
    assert key1["latest_purchase_value"] == 222.22  # tie -> later write
    rec = fs.get_record(GROUP.name, 86)  # reference demo key
    assert rec is None or len(rec) == 4

    # training replay (historical_features.py:77-90)
    train_df = hist.select(
        F.col("latest_purchase_value"), F.col("latest_loyalty_score")
    )
    result = train_regressor(
        train_df, ["latest_purchase_value"], "latest_loyalty_score"
    )
    assert result.n_train + result.n_test == hist_rows
    assert 0 < result.n_test < result.n_train  # 80/20-ish, disjoint by construction
    assert result.mse >= 0 and result.mse == result.mse  # finite

    # S7/S8 + single-row inference (real_time_inference.py:35-59)
    path = str(tmp_path / "model")
    save_model(result.model, path)
    reloaded = load_model(path)
    vec = fs.feature_vector(GROUP.name, 86, ["latest_purchase_value"])
    pred = predict_single(reloaded, spark, ["latest_purchase_value"], vec)
    assert 0.0 <= pred <= 11.0  # loyalty-score range


def test_quoted_csv_reader(spark, tmp_path):
    p = tmp_path / "athena_result.csv"
    p.write_text('"customer_id","event_time"\n"86","2022-07-30T16:11:05Z"\n')
    df = read_quoted_csv_as_strings(spark, str(p), ["customer_id", "event_time"])
    row = df.head()
    assert row["customer_id"] == "86"  # strings, cast is the caller's job
    assert dict(df.dtypes) == {"customer_id": "string", "event_time": "string"}


def test_orc_roundtrip(spark, tmp_path):
    from cust_sagemaker_feature_store_spark.sources.readers import read_orc

    df = spark.range(10).withColumn("v", F.col("id") * 3)
    loc = str(tmp_path / "orc_tbl")
    df.write.orc(loc)
    back = read_orc(spark, loc)
    assert back.count() == 10
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_catalog_ddl_roundtrip(spark, tmp_path):
    df = spark.range(5).withColumnRenamed("id", "k")
    loc = str(tmp_path / "tbl")
    df.write.parquet(loc)
    create_database(spark, "fsdb_test")
    create_external_table(spark, "fsdb_test", "t1", loc)
    assert "t1" in show_tables(spark, "fsdb_test")
    assert spark.sql("SELECT COUNT(*) c FROM fsdb_test.t1").head()["c"] == 5
    drop_database(spark, "fsdb_test", cascade=True)
    assert "fsdb_test" not in [d.name for d in spark.catalog.listDatabases()]


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, "image", b"\x00\x01\x02\x03" * 100, {"width": 2, "height": 2, "n_channels": 3, "sample_rate": None, "duration_ms": None}),
        (2, "audio", b"\xff\x10" * 50, {"width": None, "height": None, "n_channels": 1, "sample_rate": 16000, "duration_ms": 1000}),
        (3, "video", None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_media_features(df)
    got = {r["media_id"]: r for r in out.collect()}
    assert got[1]["n_bytes"] == 400
    assert len(got[1]["feature_vec"]) == 8
    assert got[3]["n_bytes"] == 0
    # deterministic: same bytes -> same features
    again = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert got[1]["feature_vec"] == again[1]["feature_vec"]
    assert got[1]["content_hash"] == again[1]["content_hash"]


def test_real_decode_is_explicitly_unimplemented():
    with pytest.raises(NotImplementedError, match="codec"):
        decode_media(b"xx", "image", strict=True)


def test_video_frame_sampling(spark):
    from cust_sagemaker_feature_store_spark.operators.multimodal import frame_sample_stub

    payload = bytes(range(100)) * 3  # 300 bytes
    rows = [
        (1, "video", payload, {"width": 16, "height": 9, "n_channels": 3, "sample_rate": None, "duration_ms": 3000}),
        (2, "image", b"\x01\x02", {"width": 1, "height": 2, "n_channels": 3, "sample_rate": None, "duration_ms": None}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = frame_sample_stub(df, every_ms=1000).collect()
    # only the video fans out: 3000ms / 1000ms = 3 frames, bytes partitioned
    assert {f["media_id"] for f in frames} == {1}
    assert [f["frame_index"] for f in sorted(frames, key=lambda f: f["frame_index"])] == [0, 1, 2]
    assert [f["frame_ms"] for f in sorted(frames, key=lambda f: f["frame_index"])] == [0, 1000, 2000]
    assert b"".join(f["frame_bytes"] for f in sorted(frames, key=lambda f: f["frame_index"])) == payload


def test_writer_roundtrips(spark, tmp_path):
    """Every sink must read back value-identical through its reader
    twin (CSV reads back all-strings by design, like the reference's
    quoted result files)."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.sources import readers, writers

    df = spark.createDataFrame(
        [Row(k=1, s="a,b", d=1.5), Row(k=2, s=None, d=-0.25)]
    )
    base = str(tmp_path)

    writers.write_parquet(df, base + "/p", partition_by=["k"])
    got = readers.read_parquet(spark, base + "/p")
    assert {tuple(r) for r in got.select("k", "s", "d").collect()} == {
        (1, "a,b", 1.5), (2, None, -0.25)
    }

    writers.write_orc(df, base + "/o")
    got = readers.read_orc(spark, base + "/o")
    assert {tuple(r) for r in got.select("k", "s", "d").collect()} == {
        (1, "a,b", 1.5), (2, None, -0.25)
    }

    writers.write_json_lines(df, base + "/j")
    got = readers.read_json_lines(spark, base + "/j", df.schema)
    assert {tuple(r) for r in got.select("k", "s", "d").collect()} == {
        (1, "a,b", 1.5), (2, None, -0.25)
    }

    writers.write_csv(df, base + "/c")
    got = readers.read_quoted_csv_as_strings(spark, base + "/c", ["k", "s", "d"])
    assert {tuple(r) for r in got.select("k", "s", "d").collect()} == {
        ("1", "a,b", "1.5"), ("2", None, "-0.25")
    }


def test_parquet_schema_evolution_additive(spark, tmp_path):
    """Files written before a column existed stay readable: mergeSchema
    unions footers and back-fills the missing column with NULL."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.sources import writers

    base = str(tmp_path / "store")
    v1 = spark.createDataFrame([Row(k=1, v=10)])
    writers.write_parquet(v1, base)
    v2 = spark.createDataFrame([Row(k=2, v=20, extra="new")])
    writers.write_parquet(v2, base, mode="append")

    got = writers.read_parquet_evolved(spark, base)
    assert set(got.columns) == {"k", "v", "extra"}
    rows = {r["k"]: r["extra"] for r in got.collect()}
    assert rows == {1: None, 2: "new"}


def test_bmp_roundtrip_exact():
    """encode_bmp -> decode_bmp is the identity on random rasters,
    including odd widths (row padding), 1x1, and wide-short shapes."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(42)
    for h, w in [(1, 1), (3, 5), (5, 3), (2, 7), (16, 16), (1, 9)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_bmp(encode_bmp(px))
        assert out.shape == (h, w, 3)
        assert (out == px).all(), (h, w)


def test_bmp_decoder_top_down_and_errors():
    """decode_bmp honors negative-height (top-down) BMPs and fails
    loudly on non-BMP bytes, truncation, and unsupported depths."""
    import struct

    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    px = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(2, 3, 3)
    bmp = bytearray(encode_bmp(px))
    # flip to top-down: negate height AND reverse stored row order
    h = struct.unpack_from("<i", bmp, 22)[0]
    struct.pack_into("<i", bmp, 22, -h)
    row_size = (3 * 3 + 3) // 4 * 4
    body = bytes(bmp[54:])
    rows = [body[i * row_size : (i + 1) * row_size] for i in range(2)]
    td = bytes(bmp[:54]) + b"".join(reversed(rows))
    assert (decode_bmp(td) == px).all()

    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG....definitely not a bitmap....." + b"\0" * 54)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(bytes(encode_bmp(px))[:-4])
    bad_depth = bytearray(encode_bmp(px))
    struct.pack_into("<H", bad_depth, 28, 8)  # 8-bit palette BMP
    with pytest.raises(NotImplementedError, match="codec library"):
        decode_bmp(bytes(bad_depth))


def test_decode_media_dispatches_bmp_for_real():
    """decode_media: BMP images produce REAL [w, h, channel means]
    features (exact against numpy), even under strict=True; non-BMP
    bytes still hit the documented env gate in strict mode and the
    deterministic fake otherwise."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_media,
        encode_bmp,
        fake_decode_features,
    )

    px = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [100, 110, 120]]],
        dtype=np.uint8,
    )
    feats = decode_media(encode_bmp(px), "image", strict=True)
    means = px.reshape(-1, 3).mean(axis=0)
    assert feats[:2] == [2.0, 2.0]
    assert feats[2:] == [float(m) for m in means]
    blob = b"\x89PNG not really decodable here"
    with pytest.raises(NotImplementedError, match="BMP"):
        decode_media(blob, "image", strict=True)
    assert decode_media(blob, "image") == fake_decode_features(blob)


def test_png_codec_round_trips_every_filter():
    """encode_png/decode_png: bit-exact round trip for RGB and RGBA
    across all five scanline filters (RFC 2083 §6) and mixed per-row
    filters — the sequential Sub/Average/Paeth carries are the part a
    vectorization bug would silently corrupt."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    for ch in (3, 4):
        px = rng.randint(0, 256, size=(9, 5, ch)).astype(np.uint8)
        for filters in [None] + [[f] * 9 for f in range(5)] + [
            [(y * 3 + 1) % 5 for y in range(9)]
        ]:
            dec = decode_png(encode_png(px, row_filters=filters))
            assert dec.shape == px.shape
            assert np.array_equal(dec, px), (ch, filters)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM not a png")
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png(encode_png(px)[:-6])  # IEND header cut mid-chunk
    with pytest.raises(ValueError, match="row_filters"):
        encode_png(px, row_filters=[0])


def test_png_decoder_gates_unsupported_color_types():
    """After r15 wave 3 every SPEC-VALID depth x color combination
    decodes, so the decoder has no NotImplementedError gate left —
    malformed combinations and lying headers are ValueErrors."""
    import struct

    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    blob = bytearray(encode_png(px))
    # IHDR payload starts at offset 16; bit depth is its 9th byte.
    # depth 4 + truecolor is NOT a spec-valid combination
    struct.pack_into("B", blob, 16 + 8, 4)
    with pytest.raises(ValueError, match="spec-valid"):
        decode_png(bytes(blob))
    blob = bytearray(encode_png(px))
    # interlace byte flipped on a non-interlaced payload: Adam7 decodes
    # in r15, so the lie surfaces as a corrupt-payload ValueError
    struct.pack_into("B", blob, 16 + 12, 1)
    with pytest.raises(ValueError, match="payload size"):
        decode_png(bytes(blob))
    blob = bytearray(encode_png(px))
    struct.pack_into("B", blob, 16 + 9, 3)  # palette claimed, no PLTE
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(bytes(blob))


def test_png_gray_and_palette_round_trips():
    """r14 de-gates PNG color types 0 (grayscale) and 3 (palette):
    bit-exact round trips across all five scanline filters, palette
    sizes 2..256, and the decode_media gray dispatch."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_media,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(3)
    for filters in [None] + [[f] * 9 for f in range(5)]:
        g = rng.randint(0, 256, (9, 5)).astype(np.uint8)
        dec = decode_png(encode_png(g, row_filters=filters))
        assert dec.shape == (9, 5) and np.array_equal(dec, g)
    for filters in [None] + [[f] * 7 for f in range(5)]:
        p = int(rng.randint(2, 257))
        pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
        idx = rng.randint(0, p, (7, 11))
        dec = decode_png(encode_png(idx, row_filters=filters, palette=pal))
        assert dec.shape == (7, 11, 3) and np.array_equal(dec, pal[idx])
    v = np.full((3, 5), 42, np.uint8)
    feats = decode_media(encode_png(v), "image", strict=True)
    assert feats == [5.0, 3.0, 42.0, 42.0, 42.0]


def test_decode_media_dispatches_png_for_real():
    """decode_media: real PNG bytes produce the same [w, h, channel
    means] feature shape as BMP, alpha ignored for RGBA, strict=True
    included."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_media,
        encode_png,
    )

    px = np.array(
        [[[10, 20, 30, 255], [40, 50, 60, 0]],
         [[70, 80, 90, 128], [100, 110, 120, 7]]],
        dtype=np.uint8,
    )
    feats = decode_media(
        encode_png(px, row_filters=[4, 1]), "image", strict=True
    )
    means = px[:, :, :3].reshape(-1, 3).mean(axis=0)
    assert feats[:2] == [2.0, 2.0]
    assert feats[2:] == [float(m) for m in means]


def test_wav_codec_round_trips_pcm():
    """encode_wav/decode_wav: mono and stereo int16 PCM round-trip
    bit-exactly; the chunk walk skips unknown chunks and honors RIFF's
    odd-length padding byte."""
    import struct

    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    mono = np.array([0, 1000, -1000, 32767, -32768, 7], dtype=np.int16)
    s, rate = decode_wav(encode_wav(mono, 16000))
    assert rate == 16000 and s.shape == (6, 1)
    assert np.array_equal(s[:, 0], mono)
    stereo = np.array([[1, -1], [200, -200], [0, 5]], dtype=np.int16)
    s2, rate2 = decode_wav(encode_wav(stereo, 44100))
    assert rate2 == 44100 and np.array_equal(s2, stereo)
    # insert an unknown odd-length chunk between fmt and data: the
    # walk must skip it plus its pad byte and still find the PCM
    wav = encode_wav(mono, 8000)
    fmt_end = wav.index(b"data")
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    patched = wav[:fmt_end] + odd + wav[fmt_end:]
    s3, rate3 = decode_wav(patched)
    assert rate3 == 8000 and np.array_equal(s3[:, 0], mono)


def test_wav_decoder_gates_and_errors():
    """decode_wav: non-PCM/non-16-bit formats raise
    NotImplementedError (the documented env gate); corrupt streams
    raise ValueError; decode_media dispatches RIFF audio for real with
    exact integer features."""
    import struct

    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_media,
        decode_wav,
        encode_wav,
    )

    wav = encode_wav(np.array([5, -5, 5], dtype=np.int16), 8000)
    # flip the fmt tag to 3 (IEEE float): gated, not silently wrong
    i = wav.index(b"fmt ") + 8
    floaty = wav[:i] + struct.pack("<H", 3) + wav[i + 2 :]
    with pytest.raises(NotImplementedError):
        decode_wav(floaty)
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVE")  # no chunks
    with pytest.raises(ValueError):
        decode_wav(b"not audio at all")
    # real dispatch: [rate, channels, frames, mean_abs, crossings]
    feats = decode_media(wav, "audio", strict=True)
    assert feats == [8000.0, 1.0, 3.0, 5.0, 2.0]
    # non-RIFF audio still falls to the gate under strict
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xfbmp3 frame", "audio", strict=True)


def test_jpeg_codec_exact_on_block_constant_rasters():
    """encode_jpeg/decode_jpeg: EXACT round trip for 8x8-block-constant
    images under all-ones quant tables — such blocks carry only a DC
    coefficient (DC = sum/8 is an exact multiple of 8 for constant
    blocks, so coefficient rounding loses nothing), which pins the
    marker walk, DC Huffman + prediction chain, dequant and the IDCT's
    DC path bit-for-bit, including the non-multiple-of-8 crop."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(7)
    for _ in range(6):
        w, h = int(rng.randint(3, 30)), int(rng.randint(3, 20))
        bw, bh = (w + 7) // 8, (h + 7) // 8
        vals = rng.randint(0, 256, (bh, bw))
        px = np.repeat(np.repeat(vals, 8, 0), 8, 1)[:h, :w].astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(px))
        assert dec.shape == (h, w)
        assert np.array_equal(dec, px)


def test_jpeg_codec_error_bound_and_restarts_on_noise():
    """All-ones quant tables round each of the 64 orthonormal-DCT
    coefficients by <= 1/2, so reconstruction error per pixel is
    bounded by (1/2) * sum of basis amplitudes = (1/2) * (1/(2*sqrt 2)
    + 7/2)^2 < 8 for ANY image — asserted on random noise, the
    worst case for AC run-length coding. Restart markers (DRI/RSTn)
    must not change a single pixel."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    for _ in range(4):
        w, h = int(rng.randint(3, 41)), int(rng.randint(3, 31))
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(px))
        assert np.abs(dec.astype(int) - px.astype(int)).max() <= 8
    px = rng.randint(0, 256, (24, 32)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(px))
    restarted = decode_jpeg(encode_jpeg(px, restart_interval=3))
    assert np.array_equal(plain, restarted)


def test_jpeg_codec_color_paths():
    """3-component 4:4:4: (a) ycbcr fixtures with Cb=Cr=128 decode to
    RGB == Y exactly (the chroma terms vanish, so the interleaved-MCU
    and color-transform paths are pinned bit-for-bit); (b) an RGB
    round trip through the JFIF forward transform stays within the
    DCT bound + conversion rounding; (c) a real (non-ones) quant
    table decodes to the right shape and a plausible raster."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(13)
    yv = rng.randint(0, 256, (2, 2))
    y = np.repeat(np.repeat(yv, 8, 0), 8, 1)[:11, :13].astype(np.uint8)
    img = np.stack([y, np.full_like(y, 128), np.full_like(y, 128)], axis=2)
    dec = decode_jpeg(encode_jpeg(img, colorspace="ycbcr"))
    assert dec.shape == (11, 13, 3)
    assert np.array_equal(dec[:, :, 0], y)
    assert np.array_equal(dec, np.repeat(dec[:, :, :1], 3, axis=2))

    rgb = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(rgb))
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 16

    q = np.clip(np.arange(64).reshape(8, 8) + 10, 1, 255)
    gray = rng.randint(0, 256, (9, 10)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(gray, quant=(q, q)))
    assert dec.shape == gray.shape


def test_jpeg_subsampled_round_trips_and_exact_chroma():
    """r16: subsampled JPEG (4:2:0 / 4:2:2 / 4:4:0) de-gated. (a)
    Block-constant Y with Cb=Cr=128 decodes exactly at every sampling
    and awkward sizes (partial MCUs), with and without restarts; (b)
    per-MCU-constant nonzero chroma decodes to the closed form
    round(y + c*d) exactly — chroma blocks carry only DC, replication
    upsampling maps pixels to their MCU value; (c) the fixture's
    chroma deltas stay >= 0.012 from every .5 rounding boundary (the
    design guarantee the oracle's cross-engine ROUND relies on)."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(23)
    for samp in ("444", "422", "420", "440"):
        for (h, w) in ((16, 16), (13, 21), (7, 9), (17, 33)):
            bw, bh = (w + 7) // 8, (h + 7) // 8
            yb = np.repeat(
                np.repeat(rng.randint(0, 256, (bh, bw)), 8, 0), 8, 1
            )[:h, :w].astype(np.uint8)
            img = np.stack(
                [yb, np.full_like(yb, 128), np.full_like(yb, 128)], 2
            )
            for ri in (0, 2):
                d = decode_jpeg(encode_jpeg(
                    img, colorspace="ycbcr", restart_interval=ri,
                    sampling=samp,
                ))
                assert d.shape == (h, w, 3), (samp, h, w)
                assert np.array_equal(d[:, :, 0], yb), (samp, h, w, ri)
                assert np.array_equal(d, np.repeat(d[:, :, :1], 3, 2))

    # (b) per-MCU-constant chroma: exact closed-form decode at 420
    h, w = 29, 37
    mh, mw = (h + 15) // 16, (w + 15) // 16
    yb = np.repeat(np.repeat(
        rng.randint(0, 256, ((h + 7) // 8, (w + 7) // 8)), 8, 0), 8, 1
    )[:h, :w]
    cb = np.repeat(np.repeat(
        128 + rng.randint(-5, 6, (mh, mw)), 16, 0), 16, 1)[:h, :w]
    cr = np.repeat(np.repeat(
        128 + rng.randint(-5, 6, (mh, mw)), 16, 0), 16, 1)[:h, :w]
    img = np.stack([yb, cb, cr], 2).astype(np.uint8)
    d = decode_jpeg(encode_jpeg(img, colorspace="ycbcr", sampling="420"))
    exp = np.stack([
        np.clip(np.round(yb + 1.402 * (cr - 128.0)), 0, 255),
        np.clip(np.round(yb - 0.344136 * (cb - 128.0)
                         - 0.714136 * (cr - 128.0)), 0, 255),
        np.clip(np.round(yb + 1.772 * (cb - 128.0)), 0, 255),
    ], 2).astype(np.uint8)
    assert np.array_equal(d, exp)

    # (c) design margin: no chroma term within 0.01 of a .5 boundary
    worst = 1.0
    for dcb in range(-5, 6):
        for dcr in range(-5, 6):
            for term in (1.402 * dcr,
                         -0.344136 * dcb - 0.714136 * dcr,
                         1.772 * dcb):
                worst = min(worst, abs(term - np.floor(term) - 0.5))
    assert worst > 0.01, worst


def test_jpeg_progressive_round_trips_losslessly_vs_baseline():
    """r16: progressive (SOF2) de-gated. Our fixed scan script —
    interleaved DC at Al=1, spectral-split AC at Al=1, AC refinement,
    raw-bit DC refinement — codes the SAME quantized coefficients as
    the baseline writer, so progressive decode must equal baseline
    decode PIXEL-FOR-PIXEL on every image, at every sampling, with
    and without restart intervals."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(37)
    for shape in ((13, 21), (16, 16), (8, 8), (24, 17), (7, 9)):
        g = rng.randint(0, 256, shape).astype(np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(g)),
            decode_jpeg(encode_jpeg(g, progressive=True)),
        ), shape
    for shape in ((13, 21, 3), (24, 17, 3)):
        c = rng.randint(0, 256, shape).astype(np.uint8)
        for samp in ("444", "420", "422", "440"):
            assert np.array_equal(
                decode_jpeg(encode_jpeg(c, sampling=samp)),
                decode_jpeg(encode_jpeg(c, sampling=samp, progressive=True)),
            ), (shape, samp)
    # restart markers must not change a pixel (DC pred + EOB-run reset)
    g = rng.randint(0, 256, (24, 32)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, progressive=True)),
        decode_jpeg(encode_jpeg(g, progressive=True, restart_interval=3)),
    )
    c = rng.randint(0, 256, (19, 22, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(c, sampling="420", progressive=True)),
        decode_jpeg(encode_jpeg(
            c, sampling="420", progressive=True, restart_interval=2,
        )),
    )
    # quant tables flow through the progressive path too
    q = np.clip(np.arange(64).reshape(8, 8) + 10, 1, 255)
    g = rng.randint(0, 256, (9, 10)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quant=(q, q))),
        decode_jpeg(encode_jpeg(g, quant=(q, q), progressive=True)),
    )


def test_jpeg_progressive_interop_with_jdk_imageio(spark):
    """r16: progressive interop BOTH directions. Ours -> JDK: the JDK
    decodes our multi-scan streams (gray within the +/-1 fixed-point
    IDCT band; 4:2:0 constant-chroma EXACT). JDK -> ours: our decoder
    reads libjpeg-SCRIPTED progressive files — successive
    approximation over two bit planes with CROSS-BLOCK EOB runs
    carrying buffered correction bits, the path our own writer never
    emits — within +/-1 on grayscale (no upsampling ambiguity) and a
    filter tolerance on 4:2:0 color."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_pixels(blob: bytes, h: int, w: int, bands: int):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO cannot read JPEG here")
        raster = img.getRaster()
        out = np.zeros((h, w, bands), np.int64)
        for yy in range(h):
            for xx in range(w):
                for b in range(bands):
                    out[yy, xx, b] = raster.getSample(xx, yy, b)
        return out

    def jdk_write_progressive(jimg, quality=None):
        writer = ImageIO.getImageWritersByFormatName("jpg").next()
        param = writer.getDefaultWriteParam()
        param.setProgressiveMode(
            jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT
        )
        if quality is not None:
            param.setCompressionMode(
                jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
            )
            param.setCompressionQuality(quality)
        bos = jvm.java.io.ByteArrayOutputStream()
        ios = ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(
            None, jvm.javax.imageio.IIOImage(jimg, None, None), param
        )
        ios.close()
        return bytes(bos.toByteArray())

    rng = np.random.RandomState(41)
    h, w = 21, 24

    # ours -> JDK: progressive gray (+/-1: fixed-point vs float IDCT)
    g = rng.randint(0, 256, (h, w)).astype(np.uint8)
    blob = encode_jpeg(g, progressive=True)
    theirs = jdk_pixels(blob, h, w, 1)[:, :, 0]
    assert np.abs(decode_jpeg(blob).astype(np.int64) - theirs).max() <= 1

    # ours -> JDK: progressive 4:2:0, constant chroma: exact
    yb = np.repeat(np.repeat(
        rng.randint(0, 256, ((h + 7) // 8, (w + 7) // 8)), 8, 0), 8, 1
    )[:h, :w]
    img = np.stack(
        [yb, np.full_like(yb, 128), np.full_like(yb, 128)], 2
    ).astype(np.uint8)
    blob = encode_jpeg(
        img, colorspace="ycbcr", sampling="420", progressive=True
    )
    assert np.array_equal(
        jdk_pixels(blob, h, w, 3), np.repeat(yb[:, :, None], 3, 2)
    )

    # JDK -> ours: libjpeg-scripted progressive GRAYSCALE (cross-block
    # EOB runs + two-bit successive approximation); +/-1 band
    gh, gw = 40, 48
    px = np.clip(
        ((np.arange(gh)[:, None] * 7 + np.arange(gw)[None, :] * 11) % 256)
        + rng.randint(-40, 40, (gh, gw)),
        0, 255,
    ).astype(np.uint8)
    BufferedImage = jvm.java.awt.image.BufferedImage
    jimg = BufferedImage(gw, gh, BufferedImage.TYPE_BYTE_GRAY)
    for yy in range(gh):
        for xx in range(gw):
            v = int(px[yy, xx])
            jimg.setRGB(xx, yy, (v << 16) | (v << 8) | v)
    blob = jdk_write_progressive(jimg, quality=0.9)
    assert blob.find(b"\xff\xc2") > 0, "JDK did not write SOF2"
    assert blob.count(b"\xff\xda") > 1, "JDK wrote a single-scan file"
    ours = decode_jpeg(blob).astype(np.int64)
    theirs = jdk_pixels(blob, gh, gw, 1)[:, :, 0]
    assert np.abs(ours - theirs).max() <= 1

    # JDK -> ours: progressive color (4:2:0 at default quality) —
    # same entropy data, different chroma upsampling filter
    jimg = BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for yy in range(h):
        for xx in range(w):
            jimg.setRGB(
                xx, yy,
                (((xx * 9) % 256) << 16)
                | (((yy * 7) % 256) << 8)
                | ((xx * 3 + yy * 5) % 256),
            )
    blob = jdk_write_progressive(jimg)
    assert blob.find(b"\xff\xc2") > 0
    ours = decode_jpeg(blob).astype(np.int64)
    theirs = jdk_pixels(blob, h, w, 3)
    assert np.abs(ours - theirs).max() <= 32
    assert np.abs(ours - theirs).mean() <= 4


def test_jpeg_subsampled_interop_with_jdk_imageio(spark):
    """r16: two-direction interop for the subsampled rung against the
    JDK's independent JPEG codec (the methodology that de-gated it —
    r15 verdict next-round #3). Ours -> JDK: constant-chroma 4:2:0 /
    4:2:2 streams we wrote decode in the JDK to Y exactly (Cb=Cr=128)
    and to the closed form within +/-1 for nonzero constant chroma
    (libjpeg's fixed-point color transform vs our float64). JDK ->
    ours: a JDK-written default-quality JPEG (4:2:0 when the writer
    subsamples — asserted from its SOF) decodes here within an
    upsampling-filter tolerance of the JDK's own decode."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_rgb(blob: bytes, h: int, w: int):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO cannot read JPEG here")
        raster = img.getRaster()
        out = np.zeros((h, w, 3), np.int64)
        for yy in range(h):
            for xx in range(w):
                for b in range(3):
                    out[yy, xx, b] = raster.getSample(xx, yy, b)
        return out

    rng = np.random.RandomState(29)
    h, w = 21, 24
    yb = np.repeat(np.repeat(
        rng.randint(0, 256, ((h + 7) // 8, (w + 7) // 8)), 8, 0), 8, 1
    )[:h, :w]

    # ours -> JDK, gray chroma: exact
    img = np.stack([yb, np.full_like(yb, 128), np.full_like(yb, 128)], 2)
    for samp in ("420", "422"):
        blob = encode_jpeg(
            img.astype(np.uint8), colorspace="ycbcr", sampling=samp
        )
        got = jdk_rgb(blob, h, w)
        assert np.array_equal(got, np.repeat(yb[:, :, None], 3, 2)), samp

    # ours -> JDK, nonzero GLOBALLY-constant chroma (any upsampling
    # filter is exact on a constant): +/-1 for fixed-point vs float
    img = np.stack(
        [yb, np.full_like(yb, 135), np.full_like(yb, 122)], 2
    ).astype(np.uint8)
    blob = encode_jpeg(img, colorspace="ycbcr", sampling="420")
    got = jdk_rgb(blob, h, w)
    exp = np.stack([
        np.clip(np.round(yb + 1.402 * (122 - 128.0)), 0, 255),
        np.clip(np.round(yb - 0.344136 * (135 - 128.0)
                         - 0.714136 * (122 - 128.0)), 0, 255),
        np.clip(np.round(yb + 1.772 * (135 - 128.0)), 0, 255),
    ], 2)
    assert np.abs(got - exp).max() <= 1

    # JDK -> ours: write a smooth RGB image with the default writer
    BufferedImage = jvm.java.awt.image.BufferedImage
    jimg = BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for yy in range(h):
        for xx in range(w):
            r = (xx * 9) % 256
            g = (yy * 7) % 256
            b = (xx * 3 + yy * 5) % 256
            jimg.setRGB(xx, yy, (r << 16) | (g << 8) | b)
    bos = jvm.java.io.ByteArrayOutputStream()
    if not ImageIO.write(jimg, "jpg", bos):
        pytest.skip("JDK ImageIO cannot write JPEG here")
    blob = bytes(bos.toByteArray())
    i = blob.find(b"\xff\xc0")
    assert i > 0, "JDK wrote a non-baseline JPEG"
    samp_byte = blob[i + 11]  # first (luma) component sampling
    if samp_byte == 0x11:
        pytest.skip("JDK writer did not subsample at default quality")
    ours = decode_jpeg(blob).astype(np.int64)
    theirs = jdk_rgb(blob, h, w)
    # same entropy data, different chroma upsampling filters: bounded
    # divergence on a smooth raster, identical luma-driven structure
    assert ours.shape == theirs.shape
    assert np.abs(ours - theirs).max() <= 32
    assert np.abs(ours - theirs).mean() <= 4


def test_jpeg_decoder_gates_and_errors():
    """Lossless/12-bit/odd-sampling JPEG hit the documented
    NotImplementedError gate (not a wrong decode); corrupt/truncated
    streams raise ValueError; decode_media dispatches \\xff\\xd8 for
    real, grayscale repeated into the three channel means.
    (Progressive SOF2 decodes for REAL since r16 — a baseline stream
    whose marker is merely patched to SOF2 is malformed, its Se=63
    'DC scan' a ValueError, not a silent wrong decode.)"""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        decode_media,
        encode_jpeg,
    )

    rng = np.random.RandomState(17)
    gray = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    blob = encode_jpeg(gray)

    lossless = bytearray(blob)
    i = bytes(lossless).find(b"\xff\xc0")
    lossless[i + 1] = 0xC3  # SOF0 -> SOF3 (lossless sequential)
    with pytest.raises(NotImplementedError, match="lossless"):
        decode_jpeg(bytes(lossless))

    fake_prog = bytearray(blob)
    fake_prog[i + 1] = 0xC2  # SOF2 over a baseline scan: malformed
    with pytest.raises(ValueError, match="DC scan"):
        decode_jpeg(bytes(fake_prog))

    sub = bytearray(encode_jpeg(np.repeat(gray[:, :, None], 3, 2)))
    i = bytes(sub).find(b"\xff\xc0")
    # 1x1/2x2/... decode since r16; factor 3 stays outside the ladder
    sub[i + 11] = 0x33  # first component sampling factors 3x3
    with pytest.raises(NotImplementedError, match="ladder"):
        decode_jpeg(bytes(sub))

    deep = bytearray(blob)
    i = bytes(deep).find(b"\xff\xc0")
    deep[i + 4] = 12  # precision byte
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(deep))

    with pytest.raises(ValueError):
        decode_jpeg(blob[:40])
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")

    v = np.full((4, 6), 77, dtype=np.uint8)  # block-constant: exact means
    feats = decode_media(encode_jpeg(v), "image", strict=True)
    assert feats == [6.0, 4.0, 77.0, 77.0, 77.0]


def test_conformal_coverage_guarantee(spark, sf_dir):
    # split-conformal marginal coverage: >= 1 - alpha in expectation;
    # allow finite-sample slack below and sanity-bound above
    from cust_sagemaker_feature_store_spark.queries import REGISTRY

    row = REGISTRY["ml_conformal_coverage"].fn(spark, sf_dir).head()
    assert row["n_train"] > 0 and row["n_cal"] > 0 and row["n_test"] > 0
    assert 0.85 <= row["coverage"] <= 1.0, row["coverage"]
    assert row["q_c"] >= 0


def test_isotonic_calibration_monotone_and_pav(spark, sf_dir):
    from cust_sagemaker_feature_store_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["ml_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    fitted = [r["fitted_rate"] for r in rows]
    # isotonic: non-decreasing in the bin order
    assert all(a <= b + 1e-12 for a, b in zip(fitted, fitted[1:])), fitted
    # PAV preserves the weighted mean (sum n*fitted == total positives)
    tot_fit = sum(r["n"] * r["fitted_rate"] for r in rows)
    tot_pos = sum(r["n_pos"] for r in rows)
    assert abs(tot_fit - tot_pos) < 1e-6 * max(1, tot_pos)


def test_resize_nearest_identity_and_downsample():
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        resize_nearest,
    )

    px = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
    # identity geometry is a no-op
    assert (resize_nearest(px, 4, 6) == px).all()
    # 2x downsample picks every other source pixel
    half = resize_nearest(px, 2, 3)
    assert half.shape == (3, 2, 3)
    assert (half == px[::2][:, ::2]).all()
    # upsample repeats source pixels, never interpolates
    up = resize_nearest(px[:1, :1], 3, 2)
    assert (up == px[0, 0]).all()


def test_frames_container_roundtrip_and_errors():
    import pytest as _pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_frames,
        encode_frames,
    )

    frames = [b"abc", b"", b"0123456789"]
    packed = encode_frames(frames)
    assert decode_frames(packed) == frames
    assert decode_frames(encode_frames([])) == []
    with _pytest.raises(ValueError):
        decode_frames(b"XXXX\x00\x00\x00\x00")
    with _pytest.raises(ValueError):
        decode_frames(packed[:-1])  # truncated payload
    with _pytest.raises(ValueError):
        decode_frames(packed + b"!")  # trailing garbage


def test_phash_banding_lossless_vs_bruteforce(spark, sf_dir):
    # pigeonhole: 3 bands over 16 bits never miss a Hamming<=2 pair
    from cust_sagemaker_feature_store_spark.queries.functions_q import (
        dedup_phash_pairs,
        udf_multimodal_phash,
    )

    ph = {
        r["media_id"]: r["phash"]
        for r in udf_multimodal_phash(spark, sf_dir).collect()
    }
    ids = sorted(ph)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(ph[a] ^ ph[b]).count("1") <= 2
    }
    banded = {
        (r["media_a"], r["media_b"])
        for r in dedup_phash_pairs(spark, sf_dir).collect()
    }
    assert banded == brute


def test_shapley_r2_efficiency_axiom(spark, sf_dir):
    # Shapley efficiency: the phis sum to the full-model R2 exactly
    from cust_sagemaker_feature_store_spark.queries import REGISTRY

    rows = REGISTRY["ml_shapley_r2"].fn(spark, sf_dir).collect()
    assert len(rows) == 2
    phi_sum = sum(r["shapley_phi"] for r in rows)
    r2_full = rows[0]["r2_full"]
    # outputs snap independently onto the 1e-12 grid (r13 — the
    # cross-engine FMA fix), so efficiency holds to 3 grid units
    assert abs(phi_sum - r2_full) < 5e-12
    for r in rows:
        assert 0.0 <= r["r2_alone"] <= 1.0 + 1e-12


def test_markov_attribution_sanity(spark, sf_dir):
    # removal effects are in [0, 1]: removing a channel can only lower
    # (or keep) the absorbed conversion probability; base_conv > 0
    from cust_sagemaker_feature_store_spark.queries import REGISTRY

    rows = REGISTRY["events_markov_attribution"].fn(spark, sf_dir).collect()
    assert {r["channel"] for r in rows} == {"click", "error", "signup", "view"}
    for r in rows:
        assert r["base_conv"] > 0
        assert -1e-12 <= r["removal_effect"] <= 1.0 + 1e-12, r
        assert r["removed_conv"] <= r["base_conv"] + 1e-12


def test_gbt_stumps_matches_python_reference(spark, tmp_path):
    """ml_gbt_stumps vs an unbounded-int Python reference on a
    controlled table (constant discount, so feature 1 must win every
    round and the feature-2 candidate set is empty): same feature,
    splits, leaves, gains, MSEs at every round, and the
    non-increasing-MSE theorem (truncated leaves: SSE delta =
    m'*n*(m' - 2m) <= 0 for either sign of m)."""
    from cust_sagemaker_feature_store_spark.queries.gbt_q import (
        GBT_ROUNDS,
        ml_gbt_stumps,
    )

    rows = [(q, 100.0 * q + (13 * q * q) % 7) for q in range(1, 11)] * 5
    rows += [(q, 40.0 * q) for q in range(1, 11)] * 3
    d = tmp_path / "gbt"
    spark.createDataFrame(
        [(float(q), 0.05, y) for q, y in rows],
        "l_quantity double, l_discount double, l_extendedprice double",
    ).write.parquet(str(d / "lineitem.parquet"))

    got = {
        r["boost_round"]: r.asDict()
        for r in ml_gbt_stumps(spark, str(d)).collect()
    }

    data = [(q, round(y)) for q, y in rows]
    n = len(data)
    pred0 = sum(y for _, y in data) // n

    def trunc_div(a: int, b: int) -> int:
        q0 = abs(a) // abs(b)
        return q0 if (a >= 0) == (b >= 0) else -q0

    res = {i: y - pred0 for i, (_, y) in enumerate(data)}
    prev_mse = trunc_div(sum(r * r for r in res.values()), n)
    for rnd in range(1, GBT_ROUNDS + 1):
        qs = sorted({q for q, _ in data})
        best = None
        for t in qs[:-1]:
            sl = sum(res[i] for i, (q, _) in enumerate(data) if q <= t)
            nl = sum(1 for q, _ in data if q <= t)
            st = sum(res.values())
            nr = n - nl
            sr = st - sl
            gain = trunc_div(sl * sl * nr + sr * sr * nl, nl * nr)
            if best is None or gain > best[0]:
                best = (gain, t, nl, nr, trunc_div(sl, nl), trunc_div(sr, nr))
        gain, t, nl, nr, lv, rv = best
        for i, (q, _) in enumerate(data):
            res[i] -= lv if q <= t else rv
        mse = trunc_div(sum(r * r for r in res.values()), n)
        g = got[rnd]
        assert g["feature"] == 1
        assert (g["split_at"], g["n_left"], g["n_right"]) == (t, nl, nr)
        assert (g["left_value"], g["right_value"], g["gain"]) == (lv, rv, gain)
        assert g["mse_after"] == mse
        assert g["improved"] and mse <= prev_mse
        prev_mse = mse


def test_g711_expand_pinned_values_and_involution():
    """G.711 mu-law/A-law expansion against the published table values
    (mu: 0x00 -> -32124, 0xFF and 0x7F -> the two zeros; A: 0x55 -> -8,
    0xD5 -> +8, 0x2A -> -688) and the full-table involution
    compress(expand(b)) == b for all 256 bytes of BOTH codecs — the
    expansion values are exactly the quantization representatives, so
    re-compression must be the identity."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    allb = np.arange(256, dtype=np.uint8)
    mu = mulaw_expand(allb)
    assert int(mu[0x00]) == -32124
    assert int(mu[0xFF]) == 0 and int(mu[0x7F]) == 0
    assert int(mu[0x80]) == 32124  # sign mirror of 0x00
    a = alaw_expand(allb)
    assert int(a[0x55]) == -8 and int(a[0xD5]) == 8
    # 0x2A/0xAA are the maximum-magnitude codes: seg 7, quant 0xF ->
    # (0xF0 + 0x108) << 6 = 32256, the documented A-law peak
    assert int(a[0x2A]) == -32256 and int(a[0xAA]) == 32256
    # mu-law has TWO zero codes (0x7F = -0, 0xFF = +0) that collapse to
    # linear 0; re-compression canonicalizes to +0's code 0xFF — the
    # single inherent exception to the involution
    back = mulaw_compress(mu)
    assert back[0x7F] == 0xFF
    keep = allb != 0x7F
    assert np.array_equal(back[keep], allb[keep])
    assert np.array_equal(alaw_compress(a), allb)
    # expansion is odd-symmetric up to the two signed zero codes
    assert np.array_equal(mu[:128], -mu[128:])
    assert np.array_equal(a[:128], -a[128:])


def test_wav_decoder_g711_and_float_formats():
    """decode_wav's r14 de-gated format tags: mu-law (7) and A-law (6)
    payloads expand to the exact G.711 linear values; IEEE float (3)
    converts by round(x * 32768) with clamp; the remaining tags still
    hit the documented gate; decode_media serves all of them through
    the RIFF dispatch with exact integer features."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        alaw_expand,
        decode_media,
        decode_wav,
        encode_wav_raw,
        mulaw_expand,
    )

    codes = np.array([0x00, 0x7F, 0xFF, 0x2A, 0xD5, 0x80], dtype=np.uint8)
    wav = encode_wav_raw(codes.tobytes(), 7, 1, 8000, 8)
    s, rate = decode_wav(wav)
    assert rate == 8000 and s.shape == (6, 1)
    assert np.array_equal(s[:, 0], mulaw_expand(codes))

    wav_a = encode_wav_raw(codes.tobytes(), 6, 2, 16000, 8)  # stereo
    s, rate = decode_wav(wav_a)
    assert rate == 16000 and s.shape == (3, 2)
    assert np.array_equal(s.reshape(-1), alaw_expand(codes))

    k = np.array([0, 1, -1, 512, -1024, 1024], dtype=np.int64)
    floats = (k / 1024.0).astype("<f4")  # exact dyadic rationals
    wav_f = encode_wav_raw(floats.tobytes(), 3, 1, 44100, 32)
    s, rate = decode_wav(wav_f)
    # round(k/1024 * 32768) = 32k exactly; +1024 clamps 32768 -> 32767
    want = np.clip(k * 32, -32768, 32767)
    assert np.array_equal(s[:, 0].astype(np.int64), want)

    with pytest.raises(NotImplementedError, match="codec library"):
        decode_wav(encode_wav_raw(b"\x00\x00\x00\x00", 2, 1, 8000, 4))  # ADPCM

    feats = decode_media(wav, "audio", strict=True)
    assert feats[0] == 8000.0 and feats[2] == 6.0
    exp = mulaw_expand(codes).astype(np.int64)
    assert feats[3] == float(np.abs(exp).sum()) / 6.0


def test_gif_codec_round_trips_lzw_and_interlace():
    """encode_gif/decode_gif: exact round trip over random palettes
    (2..256 colors), both row orders (sequential + four-pass
    interlace), repetitive streams that grow the LZW table to the
    12-bit cap, and sub-block splitting — GIF is lossless, so any
    divergence is a codec bug, not quantization."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(5)
    for _ in range(8):
        h, w = int(rng.randint(1, 25)), int(rng.randint(1, 25))
        p = int(rng.randint(2, 257))
        pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
        idx = rng.randint(0, p, (h, w))
        for inter in (False, True):
            dec = decode_gif(encode_gif(idx, pal, interlace=inter))
            assert dec.shape == (h, w, 3)
            assert np.array_equal(dec, pal[idx])
    pal = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    idx = np.zeros((200, 300), dtype=np.int64)
    idx[:, ::7] = 1  # repetitive: the table hits the 12-bit cap
    assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])


def test_gif_decoder_skips_extensions_and_gates():
    """Extension blocks (GCE et al.) are skipped to the first image
    descriptor; corrupt/truncated streams raise ValueError; a frame
    with no color table hits the documented gate; decode_media
    dispatches the GIF8 magic for real."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_gif,
        decode_media,
        encode_gif,
    )

    pal = np.array([[10, 20, 30], [200, 100, 50]], np.uint8)
    idx = np.array([[0, 1, 1], [1, 0, 0]])
    blob = encode_gif(idx, pal)
    # splice a graphic-control extension between the header+GCT (13+6
    # bytes... header 6 + LSD 7 + GCT 2*3) and the image descriptor
    cut = 6 + 7 + 6
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    with_ext = blob[:cut] + gce + blob[cut:]
    assert np.array_equal(decode_gif(with_ext), pal[idx])

    with pytest.raises(ValueError):
        decode_gif(b"GIF89a truncated")
    with pytest.raises(ValueError):
        decode_gif(blob[:-8])  # cut mid sub-block
    # clear the global-color-table flag and drop the table: gated
    noct = bytearray(blob[:cut] + blob[cut:])
    noct[10] &= 0x7F
    del noct[13 : 13 + 6]
    with pytest.raises(NotImplementedError, match="color table"):
        decode_gif(bytes(noct))

    feats = decode_media(blob, "image", strict=True)
    sums = pal[idx].reshape(-1, 3).sum(axis=0)
    assert feats[:2] == [3.0, 2.0]
    assert feats[2:] == [s / 6.0 for s in sums.tolist()]


def test_tiff_codec_round_trips_both_byte_orders():
    """encode_tiff/decode_tiff: exact round trip for 8-bit gray and
    RGB in BOTH byte orders with varying strip heights (multi-strip
    reassembly on the hot path) — TIFF is lossless here, so any
    divergence is an IFD/strip-walk bug."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(9)
    for _ in range(10):
        h, w = int(rng.randint(1, 30)), int(rng.randint(1, 30))
        be, rps = bool(rng.randint(2)), int(rng.randint(1, 9))
        px = (
            rng.randint(0, 256, (h, w)).astype(np.uint8)
            if rng.randint(2)
            else rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        )
        dec = decode_tiff(encode_tiff(px, big_endian=be, rows_per_strip=rps))
        assert dec.shape == px.shape and np.array_equal(dec, px)


def test_tiff_decoder_gates_photometrics_and_errors():
    """JPEG-in-TIFF/float-predictor/non-8-bit TIFFs hit the documented
    NotImplementedError gate; corrupt streams raise ValueError;
    photometric 0 (MinIsWhite) inverts; decode_media dispatches the
    II*/MM* magics for real."""
    import struct

    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_media,
        decode_tiff,
        encode_tiff,
    )

    px = np.arange(16, dtype=np.uint8).reshape(4, 4)
    blob = encode_tiff(px)

    def patch_tag(raw: bytes, tag: int, value: int) -> bytes:
        b = bytearray(raw)
        (ifd,) = struct.unpack_from("<I", raw, 4)
        (n,) = struct.unpack_from("<H", raw, ifd)
        for i in range(n):
            off = ifd + 2 + 12 * i
            t, typ, cnt = struct.unpack_from("<HHI", raw, off)
            if t == tag:
                struct.pack_into("<H", b, off + 8, value)
        return bytes(b)

    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(patch_tag(blob, 259, 6))  # old-style JPEG-in-TIFF
    # LZW (5) is de-gated in r15 but its horizontal predictor is not:
    # rewrite the (here inert) PlanarConfig entry into Predictor=2
    def retag(raw: bytes, old_tag: int, new_tag: int, value: int) -> bytes:
        b = bytearray(raw)
        (ifd,) = struct.unpack_from("<I", raw, 4)
        (n,) = struct.unpack_from("<H", raw, ifd)
        for i in range(n):
            off = ifd + 2 + 12 * i
            (t,) = struct.unpack_from("<H", raw, off)
            if t == old_tag:
                struct.pack_into("<H", b, off, new_tag)
                struct.pack_into("<H", b, off + 8, value)
        return bytes(b)

    with pytest.raises(NotImplementedError, match="predictor"):
        # predictor 2 decodes in r15 wave 2; 3 (float differencing) gated
        decode_tiff(retag(encode_tiff(px, lzw=True), 284, 317, 3))
    # planar (284=2) decodes since r16; for spp=1 it is equivalent to
    # chunky, and an out-of-spec value is a ValueError, not a gate
    assert np.array_equal(decode_tiff(patch_tag(blob, 284, 2)), px)
    with pytest.raises(ValueError, match="planar"):
        decode_tiff(patch_tag(blob, 284, 3))
    with pytest.raises(NotImplementedError, match="photometric"):
        decode_tiff(patch_tag(blob, 262, 6))  # YCbCr TIFF
    # palette (3) decodes in r15 — but a missing ColorMap is corrupt
    with pytest.raises(ValueError, match="ColorMap"):
        decode_tiff(patch_tag(blob, 262, 3))
    with pytest.raises(ValueError):
        decode_tiff(b"II\x2a\x00\xff\xff\xff\xff")
    with pytest.raises(ValueError):
        decode_tiff(b"not tiff")

    assert np.array_equal(decode_tiff(patch_tag(blob, 262, 0)), 255 - px)

    v = np.full((2, 6), 9, dtype=np.uint8)
    feats = decode_media(encode_tiff(v, big_endian=True), "image", strict=True)
    assert feats == [6.0, 2.0, 9.0, 9.0, 9.0]


def test_tiff_packbits_strips_round_trip():
    """PackBits (TIFF compression 32773, TIFF 6.0 §9): encoder/decoder
    round-trip on run-heavy and noisy payloads, the 0x80 no-op code
    honored, and compressed multi-strip TIFFs decode bit-exact in both
    byte orders. JPEG-in-TIFF stays gated (LZW de-gated in r15)."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
        packbits_decode,
        packbits_encode,
    )

    # spec-shaped cases: literal, short run (kept literal), long run
    assert packbits_decode(packbits_encode(b"abc"), 3) == b"abc"
    assert packbits_decode(packbits_encode(b"aab"), 3) == b"aab"
    assert packbits_decode(packbits_encode(b"a" * 200), 200) == b"a" * 200
    assert packbits_decode(b"\x80\xfea", 3) == b"aaa"  # no-op skipped
    with pytest.raises(ValueError):
        packbits_decode(b"\x05ab", 6)  # literal past end

    rng = np.random.RandomState(11)
    for _ in range(6):
        h, w = int(rng.randint(1, 30)), int(rng.randint(1, 30))
        be, rps = bool(rng.randint(2)), int(rng.randint(1, 9))
        px = (
            rng.randint(0, 4, (h, w, 3)) * 80  # run-heavy
            if rng.randint(2)
            else rng.randint(0, 256, (h, w))
        ).astype(np.uint8)
        dec = decode_tiff(
            encode_tiff(px, big_endian=be, rows_per_strip=rps, packbits=True)
        )
        assert dec.shape == px.shape and np.array_equal(dec, px)


def test_jpeg_decoder_value_errors_on_fill_byte_and_truncated_tails():
    """r14 advice: a stream ending in 0xFF fill bytes or cut inside a
    segment header must raise the documented ValueError, never a raw
    IndexError/struct.error out of mapInPandas."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    blob = encode_jpeg(np.full((8, 8), 77, np.uint8))
    # ends in fill bytes: the fill-skip loop runs off the end
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xff\xff\xff")
    # cut mid segment-header (length field half present)
    i = blob.find(b"\xff\xc0")
    with pytest.raises(ValueError):
        decode_jpeg(blob[: i + 3])
    # arbitrary truncation points never leak non-ValueError
    for cut in range(2, min(len(blob), 64)):
        try:
            decode_jpeg(blob[:cut])
        except (ValueError, NotImplementedError):
            pass


def test_encode_wav_raw_pads_odd_payloads():
    """r14 advice: odd-length data payloads (8-bit G.711) carry the
    RIFF zero pad byte, counted in the RIFF size but not the chunk
    size — and still round-trip through decode_wav."""
    import numpy as np
    import struct

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_wav,
        encode_wav_raw,
        mulaw_compress,
        mulaw_expand,
    )

    samples = np.array([0, 1000, -1000, 32000, -32000], np.int16)  # odd N
    payload = mulaw_compress(samples).tobytes()
    assert len(payload) % 2 == 1
    blob = encode_wav_raw(payload, 7, 1, 8000, 8)
    # total size = 8 + RIFF size; RIFF size includes the pad byte
    (riff_size,) = struct.unpack_from("<I", blob, 4)
    assert len(blob) == 8 + riff_size and len(blob) % 2 == 0
    assert blob[-1] == 0  # the pad byte
    # chunk size states the unpadded payload length
    i = blob.find(b"data")
    (chunk_size,) = struct.unpack_from("<I", blob, i + 4)
    assert chunk_size == len(payload)
    got, rate = decode_wav(blob)
    assert rate == 8000 and got.shape == (5, 1)
    assert np.array_equal(
        got[:, 0], mulaw_expand(np.frombuffer(payload, np.uint8))
    )

    # even payloads stay pad-free
    blob2 = encode_wav_raw(b"\x00\x01", 7, 1, 8000, 8)
    (riff2,) = struct.unpack_from("<I", blob2, 4)
    assert len(blob2) == 8 + riff2 and blob2[-2:] == b"\x00\x01"


def test_tiff_lzw_wire_format_matches_hand_computed_spec_vector():
    """TIFF 6.0 §13 LZW (r14 verdict next-round #4): the 9-bit wire
    format is pinned by a BY-HAND encoding of the spec walk for input
    7,7,7,8,8,7,7,6,6 — codes Clear(256), 7, 258, 8, 8, 258, 6, 6,
    EOI(257), MSB-first-packed = 80 01 E0 40 80 44 08 0C 06 80 80.
    This pins MSB bit order, code numbering from 258, and the
    Clear/EOI framing against the spec itself, independent of the
    decoder."""
    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    src = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    want = bytes.fromhex("8001e040804408 0c068080".replace(" ", ""))
    assert _lzw_encode_tiff(src) == want
    assert _lzw_decode_tiff(want, len(src)) == src


def test_tiff_lzw_round_trips_across_width_bumps_and_reset():
    """Encoder/decoder consistency across the EarlyChange width bumps
    (9->10 at entry 510, 10->11 at 1022, 11->12 at 2046) and the
    4094-entry table reset: random and adversarial payloads long
    enough to cross every boundary, plus the KwKwK self-reference
    case, plus compressed multi-strip TIFFs in both byte orders."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(23)
    cases = [
        b"",
        b"\x00",
        b"ab" * 3,
        b"aaaaaa",  # KwKwK chain
        bytes(rng.randint(0, 256, 5000)),      # crosses 9->10->11
        bytes(rng.randint(0, 4, 40000)),       # slow growth, long entries
        bytes(rng.randint(0, 256, 60000)),     # crosses the 4094 reset
        bytes(np.arange(256, dtype=np.uint8).repeat(20)),
    ]
    for payload in cases:
        enc = _lzw_encode_tiff(payload)
        assert _lzw_decode_tiff(enc, len(payload)) == payload
    with pytest.raises(ValueError):
        _lzw_decode_tiff(b"", 1)
    with pytest.raises(ValueError):  # stream shorter than promised
        _lzw_decode_tiff(_lzw_encode_tiff(b"abc"), 4)

    for _ in range(6):
        h, w = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        be, rps = bool(rng.randint(2)), int(rng.randint(1, 9))
        px = (
            rng.randint(0, 3, (h, w, 3)) * 100
            if rng.randint(2)
            else rng.randint(0, 256, (h, w))
        ).astype(np.uint8)
        dec = decode_tiff(
            encode_tiff(px, big_endian=be, rows_per_strip=rps, lzw=True)
        )
        assert dec.shape == px.shape and np.array_equal(dec, px)


def test_tiff_lzw_interops_with_jdk_imageio(spark):
    """INDEPENDENT-implementation check (the evidence the other codec
    rungs could not get in-container): the JDK's javax.imageio TIFF
    plugin (Java 9+, derived from JAI) reads our LZW-compressed TIFFs.
    This pins the EarlyChange width-bump convention and MSB packing
    against a codec we did not write. Gray and RGB, both byte orders,
    multi-strip, sizes crossing the 9->10 bit boundary."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        encode_tiff,
    )

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_decode(blob: bytes, h: int, w: int, bands: int):
        # raw Raster samples — getRGB would push grayscale through a
        # linear-gray -> sRGB ColorModel conversion and corrupt values
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO has no TIFF reader in this JVM")
        raster = img.getRaster()
        assert raster.getNumBands() == bands
        out = np.zeros((h, w, bands), np.int64)
        for yy in range(h):
            for xx in range(w):
                for b in range(bands):
                    out[yy, xx, b] = raster.getSample(xx, yy, b)
        return out

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, (13, 31)).astype(np.uint8)  # > 403 px
    for be in (False, True):
        got = jdk_decode(encode_tiff(gray, big_endian=be, lzw=True), 13, 31, 1)
        assert np.array_equal(got[:, :, 0], gray), f"be={be}"
    rgb = rng.randint(0, 256, (9, 40, 3)).astype(np.uint8)  # 1080 samples
    for be in (False, True):
        got = jdk_decode(
            encode_tiff(rgb, big_endian=be, rows_per_strip=2, lzw=True), 9, 40, 3
        )
        assert np.array_equal(got, rgb.astype(np.int64)), f"rgb be={be}"
    # ONE strip big enough to cross the 9->10-bit EarlyChange bump
    # (random bytes add ~1 entry/byte, so >600 px guarantees entry
    # 511 exists) — this is the case that catches a bump-point
    # off-by-one, which per-4-row strips never reach
    big = rng.randint(0, 256, (20, 64)).astype(np.uint8)
    got = jdk_decode(
        encode_tiff(big, rows_per_strip=20, lzw=True), 20, 64, 1
    )
    assert np.array_equal(got[:, :, 0], big)


def test_tiff_palette_round_trip_and_colormap_scaling():
    """Palette TIFF (photometric 3, r15): indices + (P,3) uint8
    palette round-trip through the 16-bit ColorMap (v*257 up, >>8
    down — lossless by construction), in both byte orders, under all
    three strip compressions, and via the JDK reader below."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(31)
    for comp in ({}, {"packbits": True}, {"lzw": True}):
        p = int(rng.randint(2, 200))
        pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
        idx = rng.randint(0, p, (11, 7)).astype(np.uint8)
        for be in (False, True):
            got = decode_tiff(
                encode_tiff(
                    idx, big_endian=be, rows_per_strip=3, palette=pal,
                    **comp,
                )
            )
            assert got.shape == (11, 7, 3)
            assert np.array_equal(got, pal[idx]), (comp, be)
    with pytest.raises(ValueError, match="palette"):
        encode_tiff(np.zeros((2, 2, 3), np.uint8), palette=pal)
    with pytest.raises(ValueError, match="covering"):
        encode_tiff(np.full((2, 2), 5, np.uint8), palette=pal[:3])


def test_png_16bit_round_trips_all_filters():
    """16-bit PNG (r15): uint16 gray and RGB rasters round-trip
    through every scanline filter; byte-level filtering means the
    same de-filter code serves both depths (RFC 2083 §6.2)."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(5)
    gray = rng.randint(0, 65536, (9, 13)).astype(np.uint16)
    filters = [(y * 3 + 1) % 5 for y in range(9)]  # hits 0..4
    dec = decode_png(encode_png(gray, row_filters=filters, depth=16))
    assert dec.dtype == np.uint16 and np.array_equal(dec, gray)

    rgb = rng.randint(0, 65536, (6, 8, 3)).astype(np.uint16)
    dec3 = decode_png(encode_png(rgb, row_filters=[4] * 6, depth=16))
    assert dec3.dtype == np.uint16 and np.array_equal(dec3, rgb)

    rgba = rng.randint(0, 65536, (4, 5, 4)).astype(np.uint16)
    dec4 = decode_png(encode_png(rgba, depth=16))
    assert np.array_equal(dec4, rgba)

    # 8-bit paths are untouched
    g8 = rng.randint(0, 256, (5, 5)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(g8)), g8)
    with pytest.raises(ValueError, match="8-bit"):
        encode_png(np.zeros((2, 2), np.uint16), palette=np.zeros((2, 3), np.uint8), depth=16)


def test_tiff_palette_and_png16_interop_with_jdk_imageio(spark):
    """Independent-implementation pin for the two new r15 rungs: the
    JDK's ImageIO reads our palette TIFF (ColorMap scaling) and our
    16-bit PNG (big-endian samples; getRGB downsamples to 8-bit =
    the high byte)."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        encode_png,
        encode_tiff,
    )

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_read(blob: bytes):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO cannot read this format here")
        return img

    def rgb_pixels(img, h: int, w: int):
        # palette image: getRGB resolves the IndexColorModel (sRGB
        # table lookup, no transfer-curve math for indexed color)
        out = np.zeros((h, w, 3), np.int64)
        for yy in range(h):
            for xx in range(w):
                v = img.getRGB(xx, yy)
                out[yy, xx] = [(v >> 16) & 255, (v >> 8) & 255, v & 255]
        return out

    def raster_samples(img, h: int, w: int, bands: int):
        raster = img.getRaster()
        assert raster.getNumBands() == bands
        out = np.zeros((h, w, bands), np.int64)
        for yy in range(h):
            for xx in range(w):
                for b in range(bands):
                    out[yy, xx, b] = raster.getSample(xx, yy, b)
        return out

    rng = np.random.RandomState(41)
    pal = rng.randint(0, 256, (17, 3)).astype(np.uint8)
    idx = rng.randint(0, 17, (6, 9)).astype(np.uint8)
    for be in (False, True):
        got = rgb_pixels(jdk_read(encode_tiff(idx, big_endian=be, palette=pal)), 6, 9)
        assert np.array_equal(got, pal[idx].astype(np.int64)), f"be={be}"

    # 16-bit PNG: raw raster samples are the full-width values
    rgb16 = rng.randint(0, 65536, (7, 11, 3)).astype(np.uint16)
    got = raster_samples(jdk_read(encode_png(rgb16, depth=16)), 7, 11, 3)
    assert np.array_equal(got, rgb16.astype(np.int64))


def test_tiff_lzw_decodes_jdk_written_streams(spark):
    """The reverse interop direction: the JDK's TIFF WRITER produces
    LZW-compressed streams (its own encoder, its own EarlyChange
    arithmetic) and OUR decode_tiff must reproduce the raster — this
    pins the decoder's width-bump reading against an independent
    encoder, not just against our own."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
    )

    jvm = spark._jvm

    def jdk_encode_lzw(gray: "np.ndarray") -> bytes:
        h, w = gray.shape
        img = jvm.java.awt.image.BufferedImage(
            w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        )
        raster = img.getRaster()
        for yy in range(h):
            for xx in range(w):
                raster.setSample(xx, yy, 0, int(gray[yy, xx]))
        writers = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("TIFF")
        if not writers.hasNext():
            pytest.skip("JDK has no TIFF writer here")
        writer = writers.next()
        param = writer.getDefaultWriteParam()
        param.setCompressionMode(
            jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
        )
        param.setCompressionType("LZW")
        bos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(
            None, jvm.javax.imageio.IIOImage(img, None, None), param
        )
        ios.flush()
        writer.dispose()
        return bytes(bos.toByteArray())

    rng = np.random.RandomState(13)
    # big enough that the JDK's encoder crosses the 9->10 bit bump
    gray = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    blob = jdk_encode_lzw(gray)
    # whatever predictor the JDK writer picked (1 or 2) decodes in r15
    got = decode_tiff(blob)
    assert got.shape == gray.shape and np.array_equal(got, gray)


AVRO_RICH_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "source", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "flag", "type": "boolean"},
        {"name": "note", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "kind", "type": {"type": "enum", "name": "K",
                                  "symbols": ["A", "B", "C"]}},
        {"name": "blob", "type": "bytes"},
        {"name": "fp", "type": {"type": "fixed", "name": "F", "size": 4}},
    ],
}


def _avro_rich_rows(n: int) -> list[dict]:
    return [
        {
            "doc_id": i,
            "source": f"src{i % 5}",
            "score": i * 0.125,
            "ratio": float(i % 7),
            "flag": bool(i % 2),
            "note": None if i % 11 == 0 else f"n{i}",
            "tags": [f"t{j}" for j in range(i % 3)],
            "attrs": {f"k{j}": i * j for j in range(i % 2 + 1)},
            "kind": "ABC"[i % 3],
            "blob": bytes([i % 256, (i * 7) % 256]),
            "fp": bytes([i % 256] * 4),
        }
        for i in range(n)
    ]


def test_avro_container_round_trips_all_codecs():
    """Pure-python Avro container codec (r15, closing the spark-avro
    env gate's read path): a schema exercising every supported type
    round-trips under all three codecs, zigzag edge values included."""
    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        decode_container,
        encode_container,
    )

    rows = _avro_rich_rows(500)
    rows[7]["doc_id"] = -(2**62)  # zigzag negative edge
    rows[9]["doc_id"] = 2**62
    for codec in ("null", "deflate", "snappy"):
        blob = encode_container(rows, AVRO_RICH_SCHEMA, codec=codec,
                                records_per_block=64)
        got = list(decode_container(blob))
        assert got == rows, codec


def test_avro_interops_with_reference_jvm_jars(spark):
    """BOTH directions against the org.apache.avro reference jars that
    ship with Spark: the reference DataFileReader reads our container
    (every field value compared), and our decoder reads a container the
    reference DataFileWriter wrote with the deflate codec."""
    import json

    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        decode_container,
        encode_container,
    )

    jvm = spark._jvm
    schema_json = json.dumps(AVRO_RICH_SCHEMA)
    sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)

    # ours -> reference reader
    rows = _avro_rich_rows(60)
    blob = encode_container(rows, AVRO_RICH_SCHEMA, codec="deflate",
                            records_per_block=17)
    sin = jvm.org.apache.avro.file.SeekableByteArrayInput(blob)
    rdr = jvm.org.apache.avro.file.DataFileReader(
        sin, jvm.org.apache.avro.generic.GenericDatumReader(sch)
    )
    got = []
    while rdr.hasNext():
        rec = rdr.next()
        got.append(
            (
                rec.get("doc_id"),
                str(rec.get("source")),
                rec.get("score"),
                str(rec.get("kind")),
                None if rec.get("note") is None else str(rec.get("note")),
                rec.get("tags").size(),
            )
        )
    rdr.close()
    want = [
        (r["doc_id"], r["source"], r["score"], r["kind"], r["note"],
         len(r["tags"]))
        for r in rows
    ]
    assert got == want

    # reference writer -> our decoder (simple schema: py4j boxes
    # primitives cleanly)
    simple = jvm.org.apache.avro.Schema.Parser().parse(json.dumps({
        "type": "record", "name": "S", "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": "string"},
        ],
    }))
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(simple)
    )
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    bos = jvm.java.io.ByteArrayOutputStream()
    dfw.create(simple, bos)
    for i in range(300):
        rec = jvm.org.apache.avro.generic.GenericData.Record(simple)
        rec.put("k", jvm.java.lang.Long(i * 1000003))
        rec.put("v", f"value-{i}")
        dfw.append(rec)
    dfw.close()
    ours = list(decode_container(bytes(bos.toByteArray())))
    assert ours == [{"k": i * 1000003, "v": f"value-{i}"} for i in range(300)]


def test_avro_distributed_read(spark, tmp_path):
    """read_avro end-to-end without the connector jar: four container
    files decode through binaryFile + mapInPandas into one frame with
    the schema derived from the writer header."""
    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        encode_container,
    )
    from cust_sagemaker_feature_store_spark.sources.readers import read_avro

    rows = _avro_rich_rows(400)
    d = tmp_path / "avro_tbl"
    d.mkdir()
    for part in range(4):
        chunk = rows[part::4]
        (d / f"part-{part}.avro").write_bytes(
            encode_container(chunk, AVRO_RICH_SCHEMA, codec="deflate")
        )
    df = read_avro(spark, str(d))
    assert df.schema["doc_id"].dataType.simpleString() == "bigint"
    assert df.schema["tags"].dataType.simpleString() == "array<string>"
    assert df.count() == 400
    got = {
        r["doc_id"]: (r["source"], r["note"], r["kind"], list(r["tags"]))
        for r in df.collect()
    }
    for r in rows:
        assert got[r["doc_id"]] == (
            r["source"], r["note"], r["kind"], r["tags"]
        )


def test_avro_distributed_read_rejects_mixed_schemas(spark, tmp_path):
    """r16 advice fix: a directory mixing two writer schemas fails
    loudly naming the mismatching file, instead of a KeyError or
    misdecoded columns from assuming the first file's schema."""
    import pytest

    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        encode_container,
        read_avro_distributed,
    )

    d = tmp_path / "avro_mixed"
    d.mkdir()
    (d / "a.avro").write_bytes(encode_container(
        [{"k": 1, "v": "x"}],
        {"type": "record", "name": "A", "fields": [
            {"name": "k", "type": "long"}, {"name": "v", "type": "string"},
        ]},
    ))
    (d / "b.avro").write_bytes(encode_container(
        [{"k": 2, "w": "y"}],
        {"type": "record", "name": "B", "fields": [
            {"name": "k", "type": "long"}, {"name": "w", "type": "string"},
        ]},
    ))
    with pytest.raises(Exception, match="Avro schema mismatch"):
        read_avro_distributed(spark, str(d)).collect()


def test_avro_snappy_corrupt_block_raises_value_error():
    """r16 advice fix: a truncated/corrupt snappy block raises the
    decode contract's ValueError, not IndexError."""
    import pytest

    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        _decompress,
    )

    for bad in (b"", b"\x01", b"\x80\x80\x80\x80"):
        with pytest.raises(ValueError, match="corrupt Avro snappy block"):
            _decompress("snappy", bad)


AVRO_UNION_SCHEMA = {
    "type": "record", "name": "U", "fields": [
        {"name": "k", "type": "long"},
        {"name": "x", "type": ["null", "long", "string", "double"]},
        {"name": "y", "type": ["int", "boolean"]},
    ],
}


def _avro_union_rows(n: int) -> list[dict]:
    rows = []
    for i in range(n):
        if i % 4 == 0:
            x = None
        elif i % 4 == 1:
            x = {"member0": i * 7, "member1": None, "member2": None}
        elif i % 4 == 2:
            x = {"member0": None, "member1": f"s{i}", "member2": None}
        else:
            x = {"member0": None, "member1": None, "member2": i * 0.5}
        y = (
            {"member0": i, "member1": None}
            if i % 2
            else {"member0": None, "member1": bool(i % 3)}
        )
        rows.append({"k": i, "x": x, "y": y})
    return rows


def test_avro_logical_types_round_trip_spark_and_reference(spark, tmp_path):
    """r16: Avro logical types — Spark timestamp -> long/
    timestamp-micros, timestamp_ntz -> local-timestamp-micros, date ->
    int/date (the spark-avro conventions) — through write_avro and
    back through read_avro with exact values (nulls included); the
    org.apache.avro reference jars parse the written schema annotation
    and see the raw micro counts; a container with logical annotations
    written from plain ints (any third-party writer) reads back as
    proper timestamp/date columns."""
    import datetime

    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        encode_container,
    )
    from cust_sagemaker_feature_store_spark.sources.readers import read_avro
    from cust_sagemaker_feature_store_spark.sources.writers import write_avro

    df = spark.range(0, 100, 1, 2).selectExpr(
        "id AS k",
        "timestamp'2024-01-01 00:00:00'"
        " + make_interval(0,0,0,0,0,0, id*37) AS ts",
        "CASE WHEN id % 9 = 0 THEN NULL"
        " ELSE date'2024-01-01' + CAST(id % 400 AS INT) END AS d",
        "timestamp_ntz'2024-06-01 12:00:00'"
        " + make_interval(0,0,0,0,0, id, 0) AS tsn",
    )
    out = tmp_path / "avro_logical"
    write_avro(df, str(out))
    back = read_avro(spark, str(out))
    assert [(f.name, f.dataType.simpleString()) for f in back.schema.fields] == [
        ("k", "bigint"), ("ts", "timestamp"), ("d", "date"),
        ("tsn", "timestamp_ntz"),
    ]
    rows = {r["k"]: r for r in back.collect()}
    assert rows[2]["ts"] == datetime.datetime(2024, 1, 1, 0, 1, 14)
    assert rows[0]["d"] is None
    assert rows[1]["d"] == datetime.date(2024, 1, 2)
    assert rows[3]["tsn"] == datetime.datetime(2024, 6, 1, 12, 3, 0)

    # reference jar sees the annotation + raw count
    jvm = spark._jvm
    blob = next(out.glob("part-*.avro")).read_bytes()
    rdr = jvm.org.apache.avro.file.DataFileReader(
        jvm.org.apache.avro.file.SeekableByteArrayInput(blob),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    assert '"logicalType":"timestamp-micros"' in str(
        rdr.getSchema().getField("ts").schema()
    )
    rec = rdr.next()
    assert rec.get("ts") == 1704067200000000  # 2024-01-01T00:00:00Z
    rdr.close()

    # third-party-written container (raw ints + annotations) -> typed
    d2 = tmp_path / "avro_logical_raw"
    d2.mkdir()
    schema = {
        "type": "record", "name": "L", "fields": [
            {"name": "k", "type": "long"},
            {"name": "ts", "type": {
                "type": "long", "logicalType": "timestamp-millis"}},
            {"name": "d", "type": ["null", {
                "type": "int", "logicalType": "date"}]},
        ],
    }
    rows_raw = [
        {"k": i, "ts": 1704067200000 + i * 1500,
         "d": None if i % 5 == 0 else 19723 + i}
        for i in range(50)
    ]
    (d2 / "a.avro").write_bytes(encode_container(rows_raw, schema))
    typed = read_avro(spark, str(d2))
    assert typed.schema["ts"].dataType.simpleString() == "timestamp"
    assert typed.schema["d"].dataType.simpleString() == "date"
    got = {r["k"]: r for r in typed.collect()}
    assert got[1]["ts"] == datetime.datetime(2024, 1, 1, 0, 0, 1, 500000)
    assert got[0]["d"] is None
    assert got[1]["d"] == datetime.date(1970, 1, 1) + datetime.timedelta(
        days=19724
    )


def test_avro_general_unions_round_trip_and_ddl():
    """r16 (r15 verdict next-round #5): general (non-nullable multi-
    branch) unions de-gated — they map to the spark-avro convention of
    a struct of nullable memberK fields over the non-null branches,
    None for the null branch. Round-trips under all codecs; the DDL
    twin emits struct<member0: ..., ...>; nullable null|X unions are
    untouched (still decode bare)."""
    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        decode_container,
        encode_container,
        record_ddl,
    )

    ddl = record_ddl(AVRO_UNION_SCHEMA)
    assert ddl == (
        "k bigint, "
        "x struct<member0: bigint, member1: string, member2: double>, "
        "y struct<member0: int, member1: boolean>"
    )
    rows = _avro_union_rows(200)
    for codec in ("null", "deflate", "snappy"):
        blob = encode_container(rows, AVRO_UNION_SCHEMA, codec=codec,
                                records_per_block=33)
        assert list(decode_container(blob)) == rows, codec


def test_avro_general_unions_interop_with_reference_jars(spark):
    """Both directions vs the org.apache.avro reference jars: the
    reference reads our 3-branch-union container (branch selection and
    values compared), and our decoder reads a union container the
    reference wrote."""
    import json

    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        decode_container,
        encode_container,
    )

    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(
        json.dumps(AVRO_UNION_SCHEMA)
    )

    # ours -> reference reader
    rows = _avro_union_rows(40)
    blob = encode_container(rows, AVRO_UNION_SCHEMA, codec="deflate")
    rdr = jvm.org.apache.avro.file.DataFileReader(
        jvm.org.apache.avro.file.SeekableByteArrayInput(blob),
        jvm.org.apache.avro.generic.GenericDatumReader(sch),
    )
    got = []
    while rdr.hasNext():
        rec = rdr.next()
        x = rec.get("x")
        if x is not None and not isinstance(x, (int, float)):
            x = str(x)  # avro Utf8
        got.append((rec.get("k"), x, rec.get("y")))
    rdr.close()
    want = []
    for r in rows:
        x = r["x"]
        if x is not None:
            x = next(v for v in x.values() if v is not None)
        y = next(v for v in r["y"].values() if v is not None)
        want.append((r["k"], x, y))
    assert got == want

    # reference writer -> our decoder
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    )
    bos = jvm.java.io.ByteArrayOutputStream()
    dfw.create(sch, bos)
    # py4j re-boxes small ints as java.lang.Integer (even through a
    # java.lang.Long constructor, whose return unboxes to python) —
    # Integer fails avro's exact-class union resolution. Values >= 2^31
    # cross py4j as true Longs, so the long branch uses a 2^35 offset.
    for i in range(30):
        rec = jvm.org.apache.avro.generic.GenericData.Record(sch)
        rec.put("k", i + (1 << 35))
        if i % 3 == 0:
            rec.put("x", None)
        elif i % 3 == 1:
            rec.put("x", i * 11 + (1 << 35))
        else:
            rec.put("x", f"ref{i}")
        rec.put("y", jvm.java.lang.Integer(i * 2))
        dfw.append(rec)
    dfw.close()
    ours = list(decode_container(bytes(bos.toByteArray())))
    for i, r in enumerate(ours):
        assert r["k"] == i + (1 << 35)
        if i % 3 == 0:
            assert r["x"] is None
        elif i % 3 == 1:
            assert r["x"] == {"member0": i * 11 + (1 << 35),
                              "member1": None, "member2": None}
        else:
            assert r["x"] == {"member0": None, "member1": f"ref{i}",
                              "member2": None}
        assert r["y"] == {"member0": i * 2, "member1": None}


def test_avro_union_distributed_read(spark, tmp_path):
    """read_avro surfaces general unions as struct columns end-to-end
    through the binaryFile + mapInPandas path."""
    from cust_sagemaker_feature_store_spark.sources.avro_py import (
        encode_container,
    )
    from cust_sagemaker_feature_store_spark.sources.readers import read_avro

    rows = _avro_union_rows(120)
    d = tmp_path / "avro_union"
    d.mkdir()
    for part in range(3):
        (d / f"part-{part}.avro").write_bytes(
            encode_container(rows[part::3], AVRO_UNION_SCHEMA)
        )
    df = read_avro(spark, str(d))
    assert df.schema["x"].dataType.simpleString() == (
        "struct<member0:bigint,member1:string,member2:double>"
    )
    got = {r["k"]: r for r in df.collect()}
    assert len(got) == 120
    assert got[0]["x"] is None
    assert got[1]["x"]["member0"] == 7 and got[1]["x"]["member1"] is None
    assert got[2]["x"]["member1"] == "s2"
    assert got[3]["x"]["member2"] == 1.5
    assert got[5]["y"]["member0"] == 5 and got[6]["y"]["member1"] is False


def test_avro_write_path_round_trip_and_jdk_interop(spark, tmp_path):
    """r16 (r15 verdict next-round #6): write_avro — one container per
    partition via mapInArrow (nullable longs stay longs), read back by
    read_avro, and the reference DataFileReader reads a written file."""
    import json

    from cust_sagemaker_feature_store_spark.sources.readers import read_avro
    from cust_sagemaker_feature_store_spark.sources.writers import write_avro

    df = spark.range(0, 400, 1, 4).selectExpr(
        "id AS k",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 3 END AS v",
        "concat('row-', id) AS s",
        "CAST(id AS DOUBLE) / 8 AS score",
        "id % 2 = 0 AS flag",
        "array(id, id + 1) AS arr",
        "map('a', id, 'b', id * 2) AS m",
        "named_struct('p', id, 'q', concat('x', id)) AS st",
    )
    out = tmp_path / "avro_out"
    write_avro(df, str(out), codec="deflate")
    files = sorted(p.name for p in out.iterdir())
    assert len(files) == 4 and all(f.endswith(".avro") for f in files)

    back = read_avro(spark, str(out))
    assert back.count() == 400
    got = {r["k"]: r for r in back.collect()}
    assert got[0]["v"] is None and got[1]["v"] == 3
    assert got[5]["s"] == "row-5" and got[8]["score"] == 1.0
    assert got[2]["flag"] is True and list(got[3]["arr"]) == [3, 4]
    assert dict(got[4]["m"]) == {"a": 4, "b": 8}
    assert got[6]["st"]["p"] == 6 and got[6]["st"]["q"] == "x6"

    # mode handling
    import pytest

    with pytest.raises(Exception, match="exists|already"):
        write_avro(df, str(out))
    write_avro(df.limit(10).coalesce(1), str(out), mode="overwrite")
    assert read_avro(spark, str(out)).count() == 10

    # JDK reference reader on a written file
    jvm = spark._jvm
    blob = (out / sorted(p.name for p in out.iterdir())[0]).read_bytes()
    rdr = jvm.org.apache.avro.file.DataFileReader(
        jvm.org.apache.avro.file.SeekableByteArrayInput(blob),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    n = 0
    ks = set()
    while rdr.hasNext():
        rec = rdr.next()
        ks.add(rec.get("k"))
        n += 1
    rdr.close()
    assert n == 10 and ks == set(range(10))

    # unsupported type gate (timestamps/dates map since r16 — the
    # logical-types test; decimal keeps the gate)
    with pytest.raises(Exception, match="Avro container mapping"):
        write_avro(
            spark.sql("SELECT CAST(1.5 AS DECIMAL(10,2)) AS dec"),
            str(tmp_path / "nope"),
        )


def test_tiff_deflate_and_predictor2_round_trips_and_jdk_interop(spark):
    """r15 wave 2: Deflate TIFF (compression 8, stdlib zlib) and the
    horizontal-differencing predictor (tag 317 = 2) over LZW and
    Deflate strips — round-trips in both byte orders, plus forward
    JDK interop (the JDK TIFF reader decodes our Deflate and
    predictor-2 streams, crossing the LZW width bump)."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(59)
    cases = [
        {"deflate": True},
        {"deflate": True, "predictor": 2},
        {"lzw": True, "predictor": 2},
    ]
    for comp in cases:
        for shape in ((13, 17), (7, 9, 3)):
            px = rng.randint(0, 256, shape).astype(np.uint8)
            for be in (False, True):
                got = decode_tiff(
                    encode_tiff(px, big_endian=be, rows_per_strip=3, **comp)
                )
                assert np.array_equal(got, px), (comp, shape, be)
    # smooth gradient: predictor 2 must actually shrink the stream
    x = np.tile(np.arange(256, dtype=np.uint8), (16, 1))
    plain = encode_tiff(x, lzw=True, rows_per_strip=16)
    pred = encode_tiff(x, lzw=True, predictor=2, rows_per_strip=16)
    assert len(pred) < len(plain)
    with pytest.raises(ValueError, match="predictor"):
        encode_tiff(x, predictor=2)  # needs lzw/deflate

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_gray(blob: bytes, h: int, w: int):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO cannot read this format here")
        raster = img.getRaster()
        out = np.zeros((h, w), np.int64)
        for yy in range(h):
            for xx in range(w):
                out[yy, xx] = raster.getSample(xx, yy, 0)
        return out

    big = rng.randint(0, 256, (20, 64)).astype(np.uint8)  # crosses 511
    for comp in cases:
        got = jdk_gray(encode_tiff(big, rows_per_strip=20, **comp), 20, 64)
        assert np.array_equal(got, big.astype(np.int64)), comp


def test_tiff_tiled_and_planar_round_trips_and_jdk_interop(spark):
    """r16: tiled TIFF (§15, tags 322-325, zero-padded edge tiles)
    and PlanarConfiguration 2 (plane-major segments, per-plane
    predictor stride) de-gated — composable with every compression,
    both byte orders. JDK interop: ImageIO reads our tiled /
    planar / planar+tiled streams exactly, and our decoder reads a
    JDK-WRITTEN tiled LZW TIFF."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(43)
    comps = [{}, {"packbits": True}, {"lzw": True}, {"deflate": True},
             {"lzw": True, "predictor": 2},
             {"deflate": True, "predictor": 2}]
    for comp in comps:
        for shape in ((13, 17), (33, 20), (7, 9, 3), (20, 35, 3)):
            px = rng.randint(0, 256, shape).astype(np.uint8)
            for be in (False, True):
                got = decode_tiff(
                    encode_tiff(px, big_endian=be, tile=(16, 16), **comp)
                )
                assert np.array_equal(got, px), ("tile", comp, shape, be)
        rgb = rng.randint(0, 256, (11, 14, 3)).astype(np.uint8)
        for be in (False, True):
            got = decode_tiff(encode_tiff(
                rgb, big_endian=be, rows_per_strip=3, planar=True, **comp
            ))
            assert np.array_equal(got, rgb), ("planar", comp, be)
        big = rng.randint(0, 256, (21, 34, 3)).astype(np.uint8)
        got = decode_tiff(
            encode_tiff(big, tile=(16, 16), planar=True, **comp)
        )
        assert np.array_equal(got, big), ("planar+tile", comp)
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_tiff(rgb, tile=(10, 16))
    with pytest.raises(ValueError, match="RGB"):
        encode_tiff(rng.randint(0, 256, (5, 5)).astype(np.uint8),
                    planar=True)

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_read(blob: bytes, h: int, w: int, bands: int):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO has no TIFF reader in this JVM")
        raster = img.getRaster()
        out = np.zeros((h, w, bands), np.int64)
        for yy in range(h):
            for xx in range(w):
                for b in range(bands):
                    out[yy, xx, b] = raster.getSample(xx, yy, b)
        return out

    g = rng.randint(0, 256, (20, 35)).astype(np.uint8)
    got = jdk_read(encode_tiff(g, tile=(16, 16), lzw=True), 20, 35, 1)
    assert np.array_equal(got[:, :, 0], g)
    c = rng.randint(0, 256, (21, 34, 3)).astype(np.uint8)
    assert np.array_equal(
        jdk_read(encode_tiff(c, tile=(16, 16), deflate=True, predictor=2),
                 21, 34, 3),
        c,
    )
    assert np.array_equal(
        jdk_read(encode_tiff(c, rows_per_strip=4, planar=True), 21, 34, 3), c
    )
    assert np.array_equal(
        jdk_read(encode_tiff(c, tile=(16, 16), planar=True, lzw=True),
                 21, 34, 3),
        c,
    )

    # JDK-written tiled LZW -> our decoder
    BufferedImage = jvm.java.awt.image.BufferedImage
    jimg = BufferedImage(34, 21, BufferedImage.TYPE_3BYTE_BGR)
    for yy in range(21):
        for xx in range(34):
            jimg.setRGB(
                xx, yy,
                (int(c[yy, xx, 0]) << 16) | (int(c[yy, xx, 1]) << 8)
                | int(c[yy, xx, 2]),
            )
    writers = ImageIO.getImageWritersByFormatName("TIFF")
    if not writers.hasNext():
        pytest.skip("JDK ImageIO has no TIFF writer in this JVM")
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    param.setTilingMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setTiling(16, 16, 0, 0)
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    bos = jvm.java.io.ByteArrayOutputStream()
    ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(jimg, None, None), param)
    ios.close()
    got = decode_tiff(bytes(bos.toByteArray()))
    assert np.array_equal(got, c)


def test_tiff_jpeg_compression_round_trips_and_jdk_interop(spark):
    """r16: new-style JPEG-in-TIFF (compression 7, TechNote 2) — each
    strip/tile is a full JPEG stream, optionally inheriting DQT/DHT
    from the JPEGTables tag (347). Block-constant rasters decode
    EXACTLY (DC-only blocks, all-ones quant); noisy rasters stay
    within the coefficient-rounding bound. JDK interop both ways:
    ImageIO reads our streams (gray exact, RGB +/-3 fixed-point), and
    our decoder reads a JDK-written JPEG-compressed TIFF (which uses
    tag 347) BIT-IDENTICALLY to the JDK's own reader."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(53)
    for (h, w, rps) in ((24, 32, 8), (19, 21, 4), (16, 48, 16)):
        bv = rng.randint(0, 256, ((h + 7) // 8, (w + 7) // 8))
        g = np.repeat(np.repeat(bv, 8, 0), 8, 1)[:h, :w].astype(np.uint8)
        for jt in (False, True):
            for be in (False, True):
                got = decode_tiff(encode_tiff(
                    g, big_endian=be, rows_per_strip=rps,
                    jpeg=True, jpeg_tables=jt,
                ))
                assert np.array_equal(got, g), (h, w, rps, jt, be)
    noisy = rng.randint(0, 256, (20, 30)).astype(np.uint8)
    got = decode_tiff(
        encode_tiff(noisy, rows_per_strip=8, jpeg=True, jpeg_tables=True)
    )
    assert np.abs(got.astype(int) - noisy.astype(int)).max() <= 8
    c = rng.randint(0, 256, (16, 24, 3)).astype(np.uint8)
    got = decode_tiff(encode_tiff(c, rows_per_strip=8, jpeg=True))
    assert np.abs(got.astype(int) - c.astype(int)).max() <= 16
    got = decode_tiff(encode_tiff(c, tile=(16, 16), jpeg=True,
                                  jpeg_tables=True))
    assert np.abs(got.astype(int) - c.astype(int)).max() <= 16
    with pytest.raises(ValueError, match="jpeg"):
        encode_tiff(c, jpeg=True, lzw=True)
    with pytest.raises(ValueError, match="jpeg"):
        encode_tiff(c, jpeg=True, planar=True)

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_read(blob: bytes, h: int, w: int, bands: int):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO has no TIFF reader in this JVM")
        raster = img.getRaster()
        out = np.zeros((h, w, bands), np.int64)
        for yy in range(h):
            for xx in range(w):
                for b in range(bands):
                    out[yy, xx, b] = raster.getSample(xx, yy, b)
        return out

    h, w = 24, 32
    g = np.repeat(np.repeat(rng.randint(0, 256, (3, 4)), 8, 0), 8, 1
                  ).astype(np.uint8)
    for jt in (False, True):
        blob = encode_tiff(g, rows_per_strip=8, jpeg=True, jpeg_tables=jt)
        assert np.array_equal(jdk_read(blob, h, w, 1)[:, :, 0], g), jt
    blob = encode_tiff(c, rows_per_strip=8, jpeg=True, jpeg_tables=True)
    assert np.abs(jdk_read(blob, 16, 24, 3) - c).max() <= 3

    # JDK-written JPEG-compressed TIFF -> ours, vs the JDK's own read
    BufferedImage = jvm.java.awt.image.BufferedImage
    jimg = BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for yy in range(h):
        for xx in range(w):
            v = int(g[yy, xx])
            jimg.setRGB(xx, yy, (v << 16) | (v << 8) | v)
    writers = ImageIO.getImageWritersByFormatName("TIFF")
    if not writers.hasNext():
        pytest.skip("JDK ImageIO has no TIFF writer in this JVM")
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("JPEG")
    param.setCompressionQuality(0.95)
    bos = jvm.java.io.ByteArrayOutputStream()
    ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(jimg, None, None), param)
    ios.close()
    blob = bytes(bos.toByteArray())
    ours = decode_tiff(blob).astype(np.int64)
    theirs = jdk_read(blob, h, w, 1)[:, :, 0]
    assert np.array_equal(ours, theirs)


def test_wav_extensible_round_trips_and_javax_sound_interop(spark):
    """r16: WAVE_FORMAT_EXTENSIBLE (0xFFFE) — the modern WAV header —
    de-gated: the 40-byte fmt wraps the real tag in the KSDATAFORMAT
    SubFormat GUID's Data1, which decode_wav resolves for PCM (16/24),
    float and G.711 payloads alike. A non-KSDATAFORMAT GUID and
    valid-bits != container-bits keep explicit gates. The JDK's
    independent javax.sound parser reads our extensible container
    frame-exactly."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_wav,
        encode_wav_raw,
        mulaw_compress,
        mulaw_expand,
    )

    rng = np.random.RandomState(61)
    s = rng.randint(-32768, 32768, (50, 2)).astype(np.int16)
    dec, rate = decode_wav(
        encode_wav_raw(s.tobytes(), 1, 2, 16000, 16, extensible=True)
    )
    assert rate == 16000 and np.array_equal(dec, s)

    f = (rng.rand(40).astype(np.float32) * 2 - 1)
    dec, _ = decode_wav(
        encode_wav_raw(f.tobytes(), 3, 1, 44100, 32, extensible=True)
    )
    exp = np.clip(
        np.round(f.astype(np.float64) * 32768.0), -32768, 32767
    ).astype(np.int16)
    assert np.array_equal(dec[:, 0], exp)

    codes = mulaw_compress(rng.randint(-30000, 30000, 33).astype(np.int16))
    dec, _ = decode_wav(
        encode_wav_raw(codes.tobytes(), 7, 1, 8000, 8, extensible=True)
    )
    assert np.array_equal(dec[:, 0], mulaw_expand(codes))

    blob = bytearray(
        encode_wav_raw(s.tobytes(), 1, 2, 16000, 16, extensible=True)
    )
    i = bytes(blob).find(b"fmt ")
    blob[i + 8 + 28] ^= 0xFF  # corrupt the SubFormat base GUID
    with pytest.raises(NotImplementedError, match="GUID"):
        decode_wav(bytes(blob))

    jvm = spark._jvm
    blob = encode_wav_raw(s.tobytes(), 1, 2, 16000, 16, extensible=True)
    try:
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
            jvm.java.io.ByteArrayInputStream(blob)
        )
    except Exception:
        pytest.skip("javax.sound cannot read extensible WAV here")
    fmt = ais.getFormat()
    assert fmt.getChannels() == 2 and int(fmt.getSampleRate()) == 16000
    assert fmt.getSampleSizeInBits() == 16 and ais.getFrameLength() == 50
    got = np.frombuffer(bytes(ais.readAllBytes()), dtype="<i2").reshape(-1, 2)
    assert np.array_equal(got, s)


def test_png_gray_alpha_round_trips_both_depths():
    """r15 wave 2: PNG color type 4 (gray+alpha) at 8 and 16 bit —
    round-trips across filters; the JDK reads our 8-bit LA stream."""
    import numpy as np

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(67)
    la8 = rng.randint(0, 256, (9, 7, 2)).astype(np.uint8)
    dec = decode_png(encode_png(la8, row_filters=[(y * 2 + 1) % 5 for y in range(9)]))
    assert dec.shape == (9, 7, 2) and np.array_equal(dec, la8)
    la16 = rng.randint(0, 65536, (5, 6, 2)).astype(np.uint16)
    dec16 = decode_png(encode_png(la16, row_filters=[4] * 5, depth=16))
    assert dec16.dtype == np.uint16 and np.array_equal(dec16, la16)


def test_png_adam7_interlace_round_trips_and_jdk_interop(spark):
    """r15 wave 2: Adam7 interlaced PNG — seven independently-filtered
    sub-images reassembled on the pass grid. Round-trips at 8/16 bit
    across color types and awkward sizes (empty passes), reads a
    JDK-WRITTEN progressive PNG, and the JDK reads ours."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(71)
    # sizes exercising empty/degenerate passes: 1x1, 2x3, 5x5, 9x16
    for shape in ((1, 1), (2, 3), (5, 5), (9, 16), (13, 7, 3)):
        px = rng.randint(0, 256, shape).astype(np.uint8)
        filters = [(i * 3 + 1) % 5 for i in range(64)]
        dec = decode_png(encode_png(px, row_filters=filters, interlace=True))
        assert np.array_equal(dec, px), shape
    g16 = rng.randint(0, 65536, (11, 6)).astype(np.uint16)
    dec16 = decode_png(encode_png(g16, depth=16, interlace=True))
    assert dec16.dtype == np.uint16 and np.array_equal(dec16, g16)

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    # ours -> JDK
    rgb = rng.randint(0, 256, (10, 14, 3)).astype(np.uint8)
    img = ImageIO.read(
        jvm.java.io.ByteArrayInputStream(encode_png(rgb, interlace=True))
    )
    if img is None:
        pytest.skip("JDK ImageIO cannot read PNG here")
    raster = img.getRaster()
    got = np.zeros((10, 14, 3), np.int64)
    for yy in range(10):
        for xx in range(14):
            for b in range(3):
                got[yy, xx, b] = raster.getSample(xx, yy, b)
    assert np.array_equal(got, rgb.astype(np.int64))

    # JDK progressive writer -> us
    src = jvm.java.awt.image.BufferedImage(
        14, 10, jvm.java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    )
    for yy in range(10):
        for xx in range(14):
            r, g, b = (int(v) for v in rgb[yy, xx])
            src.setRGB(xx, yy, (r << 16) | (g << 8) | b)
    writers = ImageIO.getImageWritersByFormatName("png")
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    bos = jvm.java.io.ByteArrayOutputStream()
    ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(src, None, None), param)
    ios.flush()
    writer.dispose()
    blob = bytes(bos.toByteArray())
    # confirm the writer actually interlaced (IHDR interlace byte)
    assert blob[16 + 12] == 1, "JDK writer did not produce Adam7"
    ours = decode_png(blob)
    assert np.array_equal(ours, rgb)


def test_wav_pcm24_decodes_with_jdk_cross_check(spark):
    """r15 wave 2: 24-bit PCM WAV — 3-byte LE samples sign-extend and
    land on the decoder's common int16 grid via >>8. Cross-checked
    against the JDK's javax.sound WAV parser (frame size/rate and the
    raw frame bytes it hands back)."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_wav,
        encode_wav_raw,
    )

    rng = np.random.RandomState(83)
    vals = rng.randint(-(2**23), 2**23, 300).astype(np.int64)
    vals[:4] = [0, -1, 2**23 - 1, -(2**23)]  # sign edges
    payload = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    blob = encode_wav_raw(payload, 1, 2, 48000, 24)  # stereo
    got, rate = decode_wav(blob)
    assert rate == 48000 and got.shape == (150, 2)
    assert np.array_equal(got.reshape(-1), (vals >> 8).astype(np.int16))

    jvm = spark._jvm
    try:
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
            jvm.java.io.ByteArrayInputStream(blob)
        )
    except Exception:
        pytest.skip("JDK javax.sound cannot parse WAV here")
    f = ais.getFormat()
    assert f.getSampleSizeInBits() == 24
    assert f.getChannels() == 2
    assert int(f.getSampleRate()) == 48000
    assert ais.getFrameLength() == 150


def test_png_subbyte_round_trips_and_jdk_interop(spark):
    """r15 wave 3: sub-byte PNG (depths 1/2/4, gray + palette) — the
    LAST PNG gate. Packed-byte de-filtering + MSB-first bit unpack,
    every filter, interlaced and not, awkward widths (partial final
    bytes). JDK interop both ways: ImageIO reads our 1/2/4-bit
    streams, and our decoder reads a JDK-written 1-bit PNG."""
    import numpy as np
    import pytest

    from cust_sagemaker_feature_store_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(91)
    for depth in (1, 2, 4):
        for w in (1, 7, 8, 9, 17):  # partial and exact final bytes
            g = rng.randint(0, 1 << depth, (6, w)).astype(np.uint8)
            filters = [(i * 2 + 1) % 5 for i in range(6)]
            dec = decode_png(encode_png(g, row_filters=filters, depth=depth))
            assert np.array_equal(dec, g), (depth, w)
            deci = decode_png(encode_png(g, depth=depth, interlace=True))
            assert np.array_equal(deci, g), ("interlaced", depth, w)
        pal = rng.randint(0, 256, (1 << depth, 3)).astype(np.uint8)
        idx = rng.randint(0, 1 << depth, (5, 11)).astype(np.uint8)
        dec = decode_png(encode_png(idx, palette=pal, depth=depth))
        assert np.array_equal(dec, pal[idx]), depth
    with pytest.raises(ValueError, match="fit"):
        encode_png(np.full((2, 2), 4, np.uint8), depth=2)

    jvm = spark._jvm
    ImageIO = jvm.javax.imageio.ImageIO

    def jdk_gray_levels(blob: bytes, h: int, w: int):
        img = ImageIO.read(jvm.java.io.ByteArrayInputStream(blob))
        if img is None:
            pytest.skip("JDK ImageIO cannot read PNG here")
        raster = img.getRaster()
        out = np.zeros((h, w), np.int64)
        for yy in range(h):
            for xx in range(w):
                out[yy, xx] = raster.getSample(xx, yy, 0)
        return out

    for depth in (1, 2, 4):
        g = rng.randint(0, 1 << depth, (6, 11)).astype(np.uint8)
        got = jdk_gray_levels(encode_png(g, depth=depth), 6, 11)
        assert np.array_equal(got, g.astype(np.int64)), depth

    # JDK 1-bit writer -> us
    bits = rng.randint(0, 2, (9, 13)).astype(np.uint8)
    img = jvm.java.awt.image.BufferedImage(
        13, 9, jvm.java.awt.image.BufferedImage.TYPE_BYTE_BINARY
    )
    for yy in range(9):
        for xx in range(13):
            v = 0xFFFFFF if bits[yy, xx] else 0
            img.setRGB(xx, yy, v)
    bos = jvm.java.io.ByteArrayOutputStream()
    ok = ImageIO.write(img, "png", bos)
    assert ok
    blob = bytes(bos.toByteArray())
    assert blob[16 + 8] == 1  # the JDK wrote a real 1-bit stream
    ours = decode_png(blob)
    # TYPE_BYTE_BINARY maps white->1 under the default 1-bit gray model
    assert ours.shape == (9, 13)
    assert np.array_equal(ours, bits)


def test_predict_single_equals_batch_predict(spark):
    # the driver-side forest must give bit-identical predictions to the
    # pipeline's transform, with the features in assembler order
    rng = random.Random(3)
    rows = []
    for _ in range(300):
        x, z = rng.uniform(0, 10), rng.uniform(-5, 5)
        rows.append((x, z, 0.5 * x - 0.3 * z + rng.random()))
    model = train_regressor(
        spark.createDataFrame(rows, "x double, z double, y double"), ["x", "z"], "y", num_trees=10
    ).model
    grid = [(x, z) for x in (-1.0, 0.0, 2.5, 5.0, 7.25, 9.99, 50.0) for z in (-6.0, -1.5, 0.0, 4.75)]
    batch = predict(
        model, spark.createDataFrame([(i, x, z) for i, (x, z) in enumerate(grid)], "i int, x double, z double")
    ).collect()
    want = {r["i"]: r["prediction"] for r in batch}
    assert [predict_single(model, spark, ["x", "z"], list(v)) for v in grid] == [
        want[i] for i in range(len(grid))
    ]
    # VectorAssembler's handleInvalid="error": no prediction from a hole
    for bad in ([None, 1.0], [1.0, float("nan")]):
        with pytest.raises(ValueError):
            predict_single(model, spark, ["x", "z"], bad)
