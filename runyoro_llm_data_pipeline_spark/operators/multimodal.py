"""Multimodal payload plumbing: opaque binary columns + typed metadata,
decoded/feature-extracted in Arrow-batched stages.

Generalizes the reference's media pipelines — audio standardize/segment
(``scripts/audio_processing.py:24-69``, ``scripts/core_components.py:85-94``),
video demux (``scripts/video_processing.py:12-34``), image OCR
(``scripts/core_components.py:31-43``) — into the lake model: media are
``binary`` columns with a ``modality`` discriminator and struct metadata,
processed by ``mapInPandas`` stages (whole Arrow batches into Python, zero
per-row overhead) that scale by plain data parallelism.

The actual codecs (PIL/librosa/ffmpeg) are NOT in this environment, so the
decode kernel is pluggable: ``decode_with`` takes any
``bytes -> np.ndarray`` function; the default deterministic fake kernel
(seeded from the payload bytes) keeps the Spark-side plumbing — schema,
partitioning, batch shapes, feature extraction, frame sampling — fully
real and testable. Swapping in a real decoder changes one function.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODALITIES = ("image", "audio", "video")

BINARY_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


def synthesize_binary_docs(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic binary fixtures (hash-derived bytes, no RNG/clock) —
    the multimodal analogue of the reference's sine-wave WAV builder
    (``scripts/test_pipeline.py:14-27``)."""
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            (F.pmod(F.xxhash64("id"), F.lit(len(MODALITIES))) + 1).cast("int"),
        ).alias("modality"),
        # payload: sha2 chain repeated — 96 deterministic bytes per doc
        F.to_binary(
            F.concat(
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2(F.concat(F.col("id").cast("string"), F.lit("x")), 256),
                F.sha2(F.concat(F.col("id").cast("string"), F.lit("y")), 256),
            ),
            F.lit("hex"),
        ).alias("content"),
    )
    return df.withColumn(
        "meta",
        F.struct(
            (F.pmod(F.xxhash64("doc_id", F.lit("w")), F.lit(512)) + 16)
            .cast("int")
            .alias("width"),
            (F.pmod(F.xxhash64("doc_id", F.lit("h")), F.lit(512)) + 16)
            .cast("int")
            .alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.xxhash64("doc_id", F.lit("d")), F.lit(60000)) + 1000)
            .cast("int")
            .alias("duration_ms"),
        ),
    )


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real codec: bytes → float32 signal in
    [-1, 1). Replace with PIL/librosa/ffmpeg via ``decode_with``."""
    if payload is None or len(payload) == 0:
        return np.zeros(0, dtype=np.float32)
    raw = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    return (raw - 128.0) / 128.0


def decode_with(
    decoder: Callable[[bytes], np.ndarray] | None = None,
    feature_dim: int = 16,
):
    """Build a ``mapInPandas`` feature-extraction stage: decode each binary
    payload and emit a fixed-width feature vector (bucketed means — the
    shape of a real mel/patch featurizer) plus signal stats. Vectorized
    per Arrow batch; per-element numpy only (no Python per-sample loops).
    """
    decode = decoder or _fake_decode

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [decode(b) for b in pdf["content"]]
            feats, n_samples, energy = [], [], []
            for s in sigs:
                n_samples.append(len(s))
                if len(s) == 0:
                    feats.append(np.zeros(feature_dim, dtype=np.float64))
                    energy.append(0.0)
                    continue
                pad = int(np.ceil(len(s) / feature_dim) * feature_dim)
                buf = np.zeros(pad, dtype=np.float64)
                buf[: len(s)] = s
                feats.append(buf.reshape(feature_dim, -1).mean(axis=1))
                energy.append(float(np.sqrt(np.mean(s.astype(np.float64) ** 2))))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_samples": pd.Series(n_samples, dtype="int64"),
                    "rms_energy": pd.Series(energy, dtype="float64"),
                    "features": feats,
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("rms_energy", T.DoubleType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return extract, schema


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    feature_dim: int = 16,
) -> DataFrame:
    fn, schema = decode_with(decoder, feature_dim)
    return df.mapInPandas(fn, schema=schema)


def frame_sample(df: DataFrame, frame_bytes: int = 16, stride: int = 32) -> DataFrame:
    """Frame/segment sampling: slice each payload into fixed windows with a
    stride and explode to (doc_id, frame_idx, frame) rows — the reference's
    split-and-enumerate segmentation (``scripts/audio_processing.py:50-62``)
    as pure JVM array ops (no Python at all)."""
    n_frames = F.greatest(
        F.floor((F.length("content") - frame_bytes) / stride) + 1, F.lit(0)
    ).cast("int")
    frames = F.transform(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: F.substring(F.col("content"), (i * stride + 1).cast("int"), frame_bytes),
    )
    return (
        df.filter(F.length("content") >= frame_bytes)
        .select("doc_id", "modality", F.posexplode(frames).alias("frame_idx", "frame"))
    )


def resize_meta(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning as metadata arithmetic (decode-free): target dims
    preserving aspect ratio, capped at ``max_side`` — the catalog-level
    half of an image-resize stage."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return df.select(
        "doc_id",
        "modality",
        w.alias("width"),
        h.alias("height"),
        F.ceil(w * scale).cast("int").alias("target_width"),
        F.ceil(h * scale).cast("int").alias("target_height"),
    )


def subprocess_decoder(
    cmd: list[str], dtype=np.float32, timeout: float = 60.0
) -> Callable[[bytes], np.ndarray]:
    """A REAL external-binary decode kernel: pipe the payload to ``cmd``
    on stdin, read the decoded signal from stdout as little-endian
    ``dtype`` — the production shape for codec binaries, e.g.::

        subprocess_decoder(["ffmpeg", "-i", "pipe:0", "-f", "f32le",
                            "-ac", "1", "-ar", "16000", "pipe:1"])
        subprocess_decoder(["pdftotext", "-", "-"], dtype=np.uint8)

    Runs inside the Arrow batch of ``decode_with`` on executors; a
    non-zero exit raises with the binary's stderr so the failure is
    attributable. (Non-fake-kernel path test-covered via a stand-in
    binary in tests/test_multimodal.py.)"""
    import subprocess

    def decode(payload: bytes) -> np.ndarray:
        if payload is None or len(payload) == 0:
            return np.zeros(0, dtype=dtype)
        proc = subprocess.run(
            cmd, input=bytes(payload), capture_output=True, timeout=timeout
        )
        if proc.returncode != 0:
            raise ValueError(
                f"decoder {cmd[0]} exited {proc.returncode}: "
                f"{proc.stderr[:500].decode(errors='replace')}"
            )
        return np.frombuffer(proc.stdout, dtype=dtype)

    return decode


# --------------------------------------------------------- forced alignment
ALIGNMENT_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.LongType(), False),
        T.StructField("line_idx", T.LongType(), False),
        T.StructField("begin_ms", T.LongType(), True),
        T.StructField("end_ms", T.LongType(), True),
    ]
)


def align_audio_text_proportional(
    pairs: DataFrame, lines: DataFrame
) -> DataFrame:
    """Forced-alignment analogue of ``scripts/forced_alignment.py:16-61``
    (audio ⨝ transcript → per-fragment time intervals / sync map).

    The real aligner (aeneas) is a native optional dependency the
    reference itself gates on import; its absence there yields no sync
    map. Here the *pipeline* is first-class and the aligner kernel is
    swappable: this default computes the standard proportional fallback —
    each transcript line gets a slice of the audio duration proportional
    to its character length — entirely in JVM window arithmetic (integer
    DIV, no floats, no Python), so it is deterministic and
    oracle-verifiable. Swap in a real aligner with
    :func:`align_audio_text_cogroup`.

    ``pairs``:  (pair_id, duration_ms);  ``lines``: (pair_id, line_idx,
    text).  Output: (pair_id, line_idx, begin_ms, end_ms), contiguous and
    ending exactly at duration_ms.
    """
    from pyspark.sql import Window

    n = F.length("text").cast("long")
    w_all = Window.partitionBy("pair_id")
    w_cum = (
        Window.partitionBy("pair_id")
        .orderBy("line_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = lines.select(
        "pair_id", F.col("line_idx").cast("long").alias("line_idx"), n.alias("__n")
    )
    cum = sized.select(
        "pair_id",
        "line_idx",
        "__n",
        F.sum("__n").over(w_cum).alias("__cum"),
        F.sum("__n").over(w_all).alias("__total"),
    )
    joined = cum.join(F.broadcast(pairs), "pair_id")
    dur = F.col("duration_ms").cast("long")
    begin = F.try_divide(dur * (F.col("__cum") - F.col("__n")), F.col("__total"))
    end = F.try_divide(dur * F.col("__cum"), F.col("__total"))
    return joined.select(
        "pair_id",
        "line_idx",
        F.floor(begin).cast("long").alias("begin_ms"),
        F.floor(end).cast("long").alias("end_ms"),
    )


def align_audio_text_cogroup(
    pairs: DataFrame,
    lines: DataFrame,
    kernel=None,
    schema: T.StructType = ALIGNMENT_SCHEMA,
) -> DataFrame:
    """Pluggable-aligner form: cogroup the audio side with the transcript
    side per ``pair_id`` and hand both pandas frames to ``kernel`` —
    exactly where a real aligner (aeneas-style DTW over audio features)
    slots in, Arrow-batched, one pair per group. The default kernel
    reproduces the proportional fallback so the two forms are
    equivalence-testable."""

    def default_kernel(audio_pdf: pd.DataFrame, text_pdf: pd.DataFrame) -> pd.DataFrame:
        if audio_pdf.empty or text_pdf.empty:
            return pd.DataFrame(
                {"pair_id": [], "line_idx": [], "begin_ms": [], "end_ms": []}
            ).astype({"pair_id": "int64", "line_idx": "int64",
                      "begin_ms": "int64", "end_ms": "int64"})
        dur = int(audio_pdf["duration_ms"].iloc[0])
        t = text_pdf.sort_values("line_idx")
        ln = t["text"].str.len().astype("int64")
        total = int(ln.sum())
        cum = ln.cumsum()
        return pd.DataFrame(
            {
                "pair_id": t["pair_id"].astype("int64"),
                "line_idx": t["line_idx"].astype("int64"),
                "begin_ms": (dur * (cum - ln)) // total,
                "end_ms": (dur * cum) // total,
            }
        )

    kernel = kernel or default_kernel
    return (
        pairs.groupBy("pair_id")
        .cogroup(lines.groupBy("pair_id"))
        .applyInPandas(kernel, schema=schema)
    )


def subprocess_aligner(
    cmd: list[str], timeout: float = 120.0
) -> Callable[[pd.DataFrame, pd.DataFrame], pd.DataFrame]:
    """A REAL external-aligner kernel for :func:`align_audio_text_cogroup`
    — the process-boundary shape an aeneas-style forced aligner actually
    has (the reference gates on the native ``aeneas`` import,
    ``scripts/forced_alignment.py:16-23``; absent dep ⇒ no sync map there,
    swappable binary here).

    Contract per pair (one cogroup = one audio/transcript pair): the
    kernel pipes ``{"duration_ms": int, "lines": [{"line_idx": int,
    "text": str}, ...]}`` as one JSON object to ``cmd`` on stdin and reads
    a JSON sync map ``[{"line_idx": int, "begin_ms": int, "end_ms": int},
    ...]`` from stdout — the aeneas CLI's task-then-JSON-syncmap shape.
    Runs Arrow-batched on executors (one subprocess per pair, amortized
    across the cogroup partition); a non-zero exit raises with the
    binary's stderr so the failing pair is attributable. Test-covered
    with a stand-in binary (tests/test_multimodal.py), equivalence-pinned
    to the proportional fallback."""
    import json
    import subprocess

    def kernel(audio_pdf: pd.DataFrame, text_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"pair_id": [], "line_idx": [], "begin_ms": [], "end_ms": []}
        ).astype({"pair_id": "int64", "line_idx": "int64",
                  "begin_ms": "int64", "end_ms": "int64"})
        if audio_pdf.empty or text_pdf.empty:
            return empty
        pair_id = int(audio_pdf["pair_id"].iloc[0])
        t = text_pdf.sort_values("line_idx")
        payload = json.dumps(
            {
                "duration_ms": int(audio_pdf["duration_ms"].iloc[0]),
                "lines": [
                    {"line_idx": int(i), "text": str(s)}
                    for i, s in zip(t["line_idx"], t["text"])
                ],
            }
        ).encode()
        proc = subprocess.run(
            cmd, input=payload, capture_output=True, timeout=timeout
        )
        if proc.returncode != 0:
            raise ValueError(
                f"aligner {cmd[0]} exited {proc.returncode} on pair "
                f"{pair_id}: {proc.stderr[:500].decode(errors='replace')}"
            )
        frags = json.loads(proc.stdout)
        if not frags:
            return empty
        return pd.DataFrame(
            {
                "pair_id": [pair_id] * len(frags),
                "line_idx": [int(f["line_idx"]) for f in frags],
                "begin_ms": [int(f["begin_ms"]) for f in frags],
                "end_ms": [int(f["end_ms"]) for f in frags],
            }
        )

    return kernel
