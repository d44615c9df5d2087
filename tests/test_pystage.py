"""The row-map kernel behind every Python-worker stage, and the
degenerate inputs of the multimodal extractors and pair functions
built on it: an empty payload frame, undecodable bytes, and ``strict``.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import types as T

from airflow_spark.operators import multimodal as mm
from airflow_spark.operators.pystage import long_schema, map_rows

PAYLOAD = "media_id LONG, data BINARY, meta " + mm.MEDIA_META_SCHEMA.simpleString()
GARBAGE = b"not a media payload " * 4
META = (None, None, None, 2500, None, None)  # 2.5 s: frames at 0, 1000, 2000 ms


def test_map_rows_runs_make_row_once_per_partition(spark):
    calls = spark.sparkContext.accumulator(0)

    def doubled():
        calls.add(1)
        return lambda i: (i, 2 * i)

    df = spark.range(0, 30, numPartitions=3)
    out = map_rows(df, long_schema("id", "twice"), doubled)
    assert sorted(tuple(r) for r in out.collect()) == [(i, 2 * i) for i in range(30)]
    assert calls.value == 3


def test_map_rows_drops_none_rows(spark):
    def evens():
        return lambda i: (i,) if i % 2 == 0 else None

    out = map_rows(spark.range(0, 10, numPartitions=2), long_schema("id"), evens)
    assert sorted(r.id for r in out.collect()) == [0, 2, 4, 6, 8]


def test_map_rows_empty_input_keeps_schema(spark):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n", T.IntegerType())]
    )

    def size():
        return lambda i, raw: (i, len(raw))

    out = map_rows(spark.createDataFrame([], "id LONG, data BINARY"), schema, size)
    assert out.schema == schema
    assert out.collect() == []


def test_map_rows_passes_binary_as_bytes_and_keeps_64bit_longs(spark):
    # a LONG column with a NULL in the same batch must not go through
    # float64: 2**62 + 1 has no exact double
    big = (1 << 62) + 1

    def kinds():
        return lambda i, raw: (i, type(raw) is bytes, None if i == 0 else big)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("is_bytes", T.BooleanType()),
            T.StructField("v", T.LongType()),
        ]
    )
    df = spark.createDataFrame([(0, b"a"), (1, b"b")], "id LONG, data BINARY").coalesce(1)
    got = sorted(tuple(r) for r in map_rows(df, schema, kinds).collect())
    assert got == [(0, True, None), (1, True, big)]


def _bmp24(gray: np.ndarray) -> bytes:
    h, w = gray.shape
    pad = b"\x00" * (((w * 3 + 3) // 4) * 4 - w * 3)
    body = b"".join(
        np.repeat(gray[y].astype(np.uint8), 3).tobytes() + pad for y in range(h - 1, -1, -1)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + info + body


def test_image_hashes_exact_next_to_an_undecodable_payload(spark):
    img = _bmp24(np.random.default_rng(7).integers(0, 256, (36, 45)))
    want = mm._dhash(mm._try_real_decode(img)["luma"])
    assert abs(want) > 1 << 53  # not representable as a double
    df = spark.createDataFrame([(1, GARBAGE), (2, img)], "media_id LONG, data BINARY")
    got = {r.media_id: r.dhash for r in mm.extract_image_hashes(df.coalesce(1)).collect()}
    assert got == {1: None, 2: want}


#: name -> (call, output columns, rows for one undecodable payload with
#: media_id 1, whether the call takes ``strict``). An int stands for
#: that many hash-derived stand-in rows per payload (non-strict mode).
_SHA = hashlib.sha256(GARBAGE)
DEGENERATE = {
    "extract_image_features": (mm.extract_image_features, mm.IMAGE_FEATURES_SCHEMA, 1, True),
    "extract_image_hashes": (
        mm.extract_image_hashes, mm.IMAGE_HASH_SCHEMA, [(1, None, False)], True
    ),
    "image_neardup_pairs": (mm.image_neardup_pairs, ["id_a", "id_b", "hamming"], [], True),
    "video_neardup_pairs": (mm.video_neardup_pairs, ["id_a", "id_b", "hamming"], [], False),
    "audio_fingerprint_pairs": (mm.audio_fingerprint_pairs, ["id_a", "id_b", "fp"], [], False),
    "extract_audio_features": (
        lambda df, **kw: mm.extract_audio_features(df, external_decoder=None, **kw),
        mm.AUDIO_FEATURES_SCHEMA,
        1,
        True,
    ),
    "audio_quarantine_report": (
        lambda df: mm.audio_quarantine_report(df, try_external=False),
        mm.AUDIO_QUARANTINE_SCHEMA,
        [(1, "unknown", "quarantined", "unsupported_format")],
        False,
    ),
    "video_quarantine_report": (
        mm.video_quarantine_report,
        mm.AUDIO_QUARANTINE_SCHEMA,
        [(1, "unknown", "quarantined", "unsupported_container")],
        False,
    ),
    "extract_audio_metadata": (
        mm.extract_audio_metadata,
        mm.AUDIO_METADATA_SCHEMA,
        [(1, len(GARBAGE), _SHA.hexdigest()) + (None,) * 13],
        False,
    ),
    "extract_video_metadata": (
        mm.extract_video_metadata,
        mm.VIDEO_METADATA_SCHEMA,
        [(1, len(GARBAGE), _SHA.hexdigest()) + (None,) * 8],
        False,
    ),
    "resize_images": (
        lambda df, **kw: mm.resize_images(df, (8, 4), **kw),
        mm.RESIZED_SCHEMA,
        [(1, (_SHA.digest() * 2)[:32], 8, 4)],
        True,
    ),
    "extract_audio_fingerprints": (
        mm.extract_audio_fingerprints,
        mm.AUDIO_FP_SCHEMA,
        [(1, None, False)],
        True,
    ),
    "audio_neardup_pairs": (mm.audio_neardup_pairs, ["id_a", "id_b", "hamming"], [], True),
    "extract_video_features": (mm.extract_video_features, mm.VIDEO_FEATURES_SCHEMA, 3, True),
}
_STRICT = [name for name, d in DEGENERATE.items() if d[3]]


@pytest.mark.parametrize("name", DEGENERATE)
def test_empty_payload_frame_keeps_schema(spark, name):
    call, cols, _, _ = DEGENERATE[name]
    out = call(spark.createDataFrame([], PAYLOAD))
    if isinstance(cols, T.StructType):
        assert out.schema == cols
    else:
        assert out.columns == cols
    assert out.collect() == []


@pytest.mark.parametrize("name", DEGENERATE)
def test_undecodable_payload_is_quarantined(spark, name):
    call, _, want, _ = DEGENERATE[name]
    # two equal payloads: a pair function must not pair what it cannot decode
    df = spark.createDataFrame([(1, GARBAGE, META), (2, GARBAGE, META)], PAYLOAD)
    rows = sorted((tuple(r) for r in call(df).collect()), key=repr)
    if isinstance(want, int):
        assert [r[0] for r in rows] == [1] * want + [2] * want
        assert rows == sorted((tuple(r) for r in call(df).collect()), key=repr)
    else:
        assert rows == want + [(2,) + r[1:] for r in want]


@pytest.mark.parametrize("name", _STRICT)
def test_undecodable_payload_strict_raises(spark, name):
    df = spark.createDataFrame([(1, GARBAGE, META)], PAYLOAD)
    with pytest.raises(Exception, match="NotImplementedError"):
        DEGENERATE[name][0](df, strict=True).collect()
