"""Every Python-worker stage runs once per query.

A ``mapInPandas`` stage is re-run whenever its output is read twice in
one plan: by two branches of a self-join, or by a range-partitioned
``orderBy``, which samples its child in a job of its own before the
shuffle reads it again. The registry entries with a Python stage must
do neither, and the shared bucket-pair kernel (``dedup.bucket_pairs``)
keeps its ``max_bucket`` boundary in every operator that calls it.
"""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from airflow_spark.catalog import load_tables
from airflow_spark.operators.dedup import minhash_candidate_pairs, simhash_neardup_pairs
from airflow_spark.operators.multimodal import audio_fingerprint_pairs
from airflow_spark.operators.similarity import cosine_neardup_pairs
from airflow_spark.operators.registry import OPERATOR_QUERIES

#: Spark jobs of one build and collect at sf0.001 (8 cores, 8 shuffle
#: partitions), per registry entry with a Python-worker stage. A rise
#: means a stage or an exchange came back.
PYTHON_STAGE_ENTRY_JOBS = {
    "op_bpe_tokenize": 2,
    "op_token_fertility": 6,
    "op_audio_metadata": 4,
    "op_audio_fingerprint": 5,
    "op_audio_quarantine": 5,
    "op_video_quarantine": 5,
    "op_image_neardup": 6,
    "op_audio_neardup": 5,
    "op_video_neardup": 6,
    "op_video_metadata": 4,
}


@pytest.fixture
def python_stages(spark, monkeypatch):
    """Wrap ``mapInPandas`` so each stage built while the fixture is
    active counts the rows it receives. Yields the list of
    ``(function name, row accumulator, input frame)``."""
    sc = spark.sparkContext
    stages = []
    original = ClassicDataFrame.mapInPandas

    def counting(self, func, schema, *args, **kwargs):
        rows = sc.accumulator(0)

        def counted(batches):
            def seen(batches):
                for pdf in batches:
                    rows.add(len(pdf))
                    yield pdf

            return func(seen(batches))

        stages.append((func.__name__, rows, self))
        return original(self, counted, schema, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "mapInPandas", counting)
    yield stages


@pytest.mark.parametrize("entry", list(PYTHON_STAGE_ENTRY_JOBS))
def test_python_stage_runs_once(spark, sf_smoke, untagged_jobs, python_stages, entry):
    # the first read of a table in a session adds a schema job
    tables = load_tables(spark, sf_smoke)
    for name in tables.available():
        getattr(tables, name)
    _, jobs = untagged_jobs(lambda: OPERATOR_QUERIES[entry](spark, sf_smoke).collect())
    assert python_stages, f"{entry} built no Python stage"
    # read the counters before counting the inputs: an input may hold an
    # earlier Python stage, which counting it runs again
    seen = [(name, rows.value) for name, rows, _ in python_stages]
    inputs = [df.count() for _, _, df in python_stages]
    assert [n for _, n in seen] == inputs, f"{entry}: rows seen {seen}, inputs {inputs}"
    pinned = PYTHON_STAGE_ENTRY_JOBS[entry]
    assert jobs == pinned, f"{entry}: {jobs} jobs, pinned at {pinned}"


def _to_signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_pairs_bucket_cap_boundary(spark):
    # max_hamming=3 → four 16-bit bands; each group's value repeats one
    # chunk in every band, so a group is one bucket per band
    cap = 4
    full = 0x0001_0001_0001_0001    # exactly `cap` members: pairs kept
    hot = 0x0002_0002_0002_0002     # `cap + 1` members: dropped
    single = 0x0003_0003_0003_0003  # one member: pairs with nothing
    rows = (
        [(i, full) for i in range(cap)]
        + [(10 + i, hot) for i in range(cap + 1)]
        + [(20, single)]
    )
    sigs = spark.createDataFrame(
        [(i, _to_signed(v)) for i, v in rows], "id LONG, simhash LONG"
    )
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(sigs, max_hamming=3, max_bucket=cap).collect()
    )
    assert got == [(a, b, 0) for a in range(cap) for b in range(a + 1, cap)]


def _wav(bin_k: int, sr: int = 44100, nfft: int = 8192) -> bytes:
    t = np.arange(int(sr * 0.3)) / sr
    x = 0.8 * np.sin(2 * np.pi * (bin_k * sr / nfft) * t)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes((x * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def test_audio_fingerprint_pairs_bucket_cap_boundary(spark):
    cap = 3
    rows = (
        [Row(media_id=i, data=_wav(200)) for i in range(cap)]
        + [Row(media_id=10 + i, data=_wav(500)) for i in range(cap + 1)]
        + [Row(media_id=20, data=_wav(800))]
    )
    df = spark.createDataFrame(rows, "media_id LONG, data BINARY")
    got = sorted(
        (r.id_a, r.id_b, r.fp)
        for r in audio_fingerprint_pairs(df, max_bucket=cap).collect()
    )
    assert got == [(a, b, 200) for a in range(cap) for b in range(a + 1, cap)]


@pytest.mark.parametrize("op", ["minhash_candidate_pairs", "cosine_neardup_pairs"])
def test_bucket_pairs_cap_boundary(spark, op):
    # three groups of equal rows, one bucket each: exactly `cap` members
    # (all C(cap, 2) pairs kept), `cap + 1` members (dropped) and one
    # member (pairs with nothing)
    cap = 4
    groups = [range(cap), range(10, 11 + cap), [20]]
    if op == "minhash_candidate_pairs":
        # equal signatures share every band's bucket
        sigs = spark.createDataFrame(
            [(i, [g] * 4) for g, ids in enumerate(groups) for i in ids],
            "id LONG, sig ARRAY<LONG>",
        )
        got = minhash_candidate_pairs(sigs, num_bands=2, max_bucket=cap).collect()
    else:
        # opposite vectors differ in every sign bit
        unit = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
        vecs = spark.createDataFrame(
            [(i, unit[g]) for g, ids in enumerate(groups) for i in ids],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        )
        got = cosine_neardup_pairs(vecs, max_bucket=cap, dim=4).collect()
    assert sorted((r.id_a, r.id_b) for r in got) == [
        (a, b) for a in range(cap) for b in range(a + 1, cap)
    ]
