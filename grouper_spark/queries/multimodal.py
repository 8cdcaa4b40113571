"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the decode step is a
clearly-marked deterministic stub — but everything Spark-side is real:
binary columns, metadata extraction in codegen (q41, oracle-checked),
and the Arrow-batched ``mapInPandas`` feature-extraction pipeline (q42,
rows-only) with the exact schema/batching shape a real decoder would
use. Swapping the stub for PIL/ffmpeg changes one function."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.text import md5_bits
from ..sources import table
from . import query


@query(
    "q41_binary_metadata",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS payload_bytes,
       sha256(text) AS payload_sha,
       CASE WHEN octet_length(encode(text)) > 400 THEN 'large' ELSE 'small' END
         AS size_class
FROM documents
ORDER BY doc_id
""",
    tags=("multimodal",),
)
def q41_binary_metadata(spark, sf_dir):
    """Treat text as an opaque binary payload: byte length, content hash,
    size classing — all JVM-side over a binary column."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    nbytes = F.octet_length(payload)
    return d.select(
        "doc_id",
        nbytes.alias("payload_bytes"),
        F.sha2("text", 256).alias("payload_sha"),
        F.when(nbytes > 400, "large").otherwise("small").alias("size_class"),
    ).orderBy("doc_id")


# Deterministic fake "decode": a real implementation would decode image
# bytes and emit pixel features. STUB — replace with PIL/torchvision.
_FEATURE_DIM = 4
_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("decoder", StringType()),
    ]
)


def _fake_decode_features(payload: bytes) -> list[float]:
    """STUB decoder: deterministic features from the first bytes.
    Raises NotImplementedError for payloads a real codec would reject."""
    if payload is None:
        raise NotImplementedError("real decoder required for null payloads")
    head = payload[:_FEATURE_DIM] + b"\x00" * max(0, _FEATURE_DIM - len(payload))
    return [float(b) / 255.0 for b in head[:_FEATURE_DIM]]


@query("q42_multimodal_features", oracle=None, tags=("multimodal", "rows_only"))
def q42_multimodal_features(spark, sf_dir):
    """mapInPandas feature-extraction pipeline over binary payloads:
    Arrow-batched, partition-parallel — the real plumbing for a decoder
    UDF (batch shape: one pandas DataFrame per Arrow batch)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def extract(batches):
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_bytes": payloads.map(len).astype("int64"),
                    "features": payloads.map(_fake_decode_features),
                    "decoder": "stub-v0",
                }
            )

    out = d.mapInPandas(extract, schema=_OUT_SCHEMA)
    # The UDF emits a real array<double> column (the plumbing a decoder
    # needs), but the driver's pandas canonicalizer cannot hash lists —
    # serialize it at the boundary and keep a scalar reduction alongside.
    return out.select(
        "doc_id",
        "payload_bytes",
        F.to_json("features").alias("features_json"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
        "decoder",
    ).orderBy("doc_id")


@query(
    "q114_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, text,
         unnest(generate_series(
           0, CAST(ceil(length(text) / 16.0) AS INT) - 1)) AS frame_idx
  FROM documents
)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(length(substring(text, CAST(frame_idx AS INT) * 16 + 1, 16))
            AS BIGINT) AS frame_len,
       sha256(substring(text, CAST(frame_idx AS INT) * 16 + 1, 16)) AS frame_sha
FROM f
WHERE frame_idx % 4 = 0
ORDER BY doc_id, frame_idx
""",
    tags=("multimodal",),
)
def q114_frame_sample(spark, sf_dir):
    """Video-style frame sampling over an opaque payload: chunk the
    payload into fixed 16-byte frames, keep every 4th, emit per-frame
    length + content hash. The chunking is JVM-side (sequence +
    posexplode + substring on the BINARY column — no Python in the
    expansion path); a real codec would replace the byte-slice with a
    frame decode inside a downstream mapInPandas, with this exact
    explode shape feeding it. Payloads are ASCII here so the hash is
    computed on the char slice — bit-identical to the oracle's
    VARCHAR substring (DuckDB has no BLOB substring)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.encode("text", "UTF-8").alias("payload")
    )
    n_frames = F.ceil(F.octet_length("payload") / 16.0).cast("int")
    ex = d.select(
        "doc_id",
        "text",
        "payload",
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_"),
    ).filter(F.col("frame_idx") % 4 == 0)
    start = F.col("frame_idx") * 16 + 1
    return ex.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.octet_length(F.expr("substring(payload, frame_idx * 16 + 1, 16)"))
        .cast("bigint")
        .alias("frame_len"),
        F.sha2(F.substring("text", start, F.lit(16)), 256).alias("frame_sha"),
    ).orderBy("doc_id", "frame_idx")


_WIN = 32


@query(
    "q115_audio_energy",
    oracle=f"""
WITH w AS (
  SELECT doc_id, text,
         unnest(generate_series(
           0, CAST(floor(length(text) / {_WIN}.0) AS INT) - 1)) AS win_idx
  FROM documents WHERE length(text) >= {_WIN}
), s AS (
  SELECT doc_id, win_idx,
         list_transform(
           generate_series(1, {_WIN}),
           i -> ascii(substring(text, CAST(win_idx AS INT) * {_WIN} + i, 1))
         ) AS samples
  FROM w
)
SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
       round(sqrt(list_sum(list_transform(samples, x -> x * x)) / {_WIN}.0), 6)
         AS rms
FROM s
ORDER BY doc_id, win_idx
""",
    tags=("multimodal",),
)
def q115_audio_energy(spark, sf_dir):
    """Audio-style windowed RMS energy: treat payload bytes as PCM
    samples (the deterministic stand-in for a real audio decode),
    window into {_WIN}-sample hops, numpy RMS per window inside
    mapInPandas — the Arrow-batched shape an audio featurizer uses
    (decode → frame → vectorized DSP per batch). Window sums are exact
    int64; /32 is a power-of-two division and sqrt is correctly rounded
    in both engines, so the 6-dp values hash-match the SQL oracle's
    ascii() formulation. Sign-aware floor rounding == SQL ROUND."""
    import numpy as np

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def rms_windows(batches):
        for pdf in batches:
            ids, widx, rms = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(payload, dtype=np.uint8)
                n = (len(samples) // _WIN) * _WIN
                if n == 0:
                    continue
                wins = samples[:n].astype(np.int64).reshape(-1, _WIN)
                sumsq = (wins * wins).sum(axis=1)
                r = np.sqrt(sumsq / float(_WIN))
                r6 = np.floor(r * 1e6 + 0.5) / 1e6
                ids.extend([doc_id] * len(r6))
                widx.extend(range(len(r6)))
                rms.extend(r6.tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "win_idx": widx, "rms": rms},
            ).astype({"doc_id": "int64", "win_idx": "int32", "rms": "float64"})

    out = d.mapInPandas(
        rms_windows, schema="doc_id long, win_idx int, rms double"
    )
    return out.orderBy("doc_id", "win_idx")


_IMG_W = 16  # fake image width (bytes per row)
_PATCH = 8   # patch side


@query(
    "q132_image_patches",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, text,
         CAST(floor(length(text) / {_IMG_W}.0) AS INT) // {_PATCH} AS prows
  FROM documents
  WHERE length(text) >= {_IMG_W * _PATCH}
), grid AS (
  SELECT doc_id, text,
         unnest(generate_series(0, prows - 1)) AS patch_row
  FROM dims
), pg AS (
  SELECT doc_id, text, patch_row,
         unnest(generate_series(0, {_IMG_W // _PATCH} - 1)) AS patch_col
  FROM grid
)
SELECT doc_id,
       CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       CAST(list_sum(list_transform(
         generate_series(0, {_PATCH * _PATCH} - 1),
         k -> ascii(substring(text,
                (CAST(patch_row AS INT) * {_PATCH} + k // {_PATCH}) * {_IMG_W}
                  + CAST(patch_col AS INT) * {_PATCH} + (k % {_PATCH}) + 1,
                1))
       )) AS BIGINT) AS intensity_sum,
       round(CAST(list_sum(list_transform(
         generate_series(0, {_PATCH * _PATCH} - 1),
         k -> ascii(substring(text,
                (CAST(patch_row AS INT) * {_PATCH} + k // {_PATCH}) * {_IMG_W}
                  + CAST(patch_col AS INT) * {_PATCH} + (k % {_PATCH}) + 1,
                1))
       )) AS DOUBLE) / {_PATCH * _PATCH}.0, 6) AS mean_intensity
FROM pg
ORDER BY doc_id, patch_row, patch_col
""",
    tags=("multimodal",),
)
def q132_image_patches(spark, sf_dir):
    """ViT-style patchify plumbing: treat each payload as a fake
    {_IMG_W}-byte-wide grayscale image, crop to whole {_PATCH}x{_PATCH}
    patches, and emit per-patch integer intensity sums + means — the
    numpy reshape/transpose inside mapInPandas is exactly the batch
    shape a vision preprocessor (resize -> patchify -> embed) runs per
    Arrow batch; a real decoder replaces np.frombuffer with an image
    codec and nothing else changes. Patch sums are exact int64, mean is
    a power-of-two-free division of exact ints rounded at 6 dp."""
    import numpy as np

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def patchify(batches):
        for pdf in batches:
            ids, prow, pcol, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                h = len(buf) // _IMG_W
                ph, pw = h // _PATCH, _IMG_W // _PATCH
                if ph == 0:
                    continue
                img = buf[: h * _IMG_W].reshape(h, _IMG_W)
                img = img[: ph * _PATCH]
                # (ph, PATCH, pw, PATCH) -> per-patch int sums
                pat = img.reshape(ph, _PATCH, pw, _PATCH).astype(np.int64)
                psum = pat.sum(axis=(1, 3))  # (ph, pw)
                for i in range(ph):
                    for j in range(pw):
                        ids.append(doc_id)
                        prow.append(i)
                        pcol.append(j)
                        sums.append(int(psum[i, j]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "patch_row": prow,
                    "patch_col": pcol,
                    "intensity_sum": sums,
                }
            ).astype(
                {
                    "doc_id": "int64",
                    "patch_row": "int32",
                    "patch_col": "int32",
                    "intensity_sum": "int64",
                }
            )

    out = d.mapInPandas(
        patchify,
        schema="doc_id long, patch_row int, patch_col int, intensity_sum long",
    )
    return out.select(
        "doc_id",
        "patch_row",
        "patch_col",
        "intensity_sum",
        F.round(F.col("intensity_sum").cast("double") / (_PATCH * _PATCH), 6)
        .alias("mean_intensity"),
    ).orderBy("doc_id", "patch_row", "patch_col")


@query(
    "q199_phash_neardup",
    oracle="""
WITH ph AS (
  SELECT doc_id,
         xor(xor(('0x' || substr(md5(lang || '|' || source), 1, 15))::BIGINT,
                 (1::BIGINT << CAST(doc_id % 60 AS INT))),
             (1::BIGINT << CAST((doc_id // 60) % 60 AS INT))) AS phash
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS dist
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 2
ORDER BY doc_a, doc_b
""",
    tags=("multimodal", "dedup"),
)
def q199_phash_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection for binary media — the
    image-dedup pattern: a 60-bit pHash per asset, banded LSH on the
    hash (4 bands x 15 bits: any pair within Hamming distance 2 agrees
    on >= 2 bands, so the banded equi-join has guaranteed recall), then
    an exact popcount verify of candidates only. STUB decode: the
    container has no codecs, so the pHash derives deterministically
    from (lang, source) content family + per-doc bit flips — swapping
    in a real DCT pHash changes only the hash expression, never the
    banding join. The oracle brute-forces all pairs; the Spark plan is
    the posting-list band join — never corpus x corpus."""
    d = table(spark, sf_dir, "documents")
    base = md5_bits(F.concat("lang", F.lit("|"), "source"), 15)
    p1 = F.expr("shiftleft(1L, CAST(doc_id % 60 AS INT))")
    p2 = F.expr("shiftleft(1L, CAST((doc_id DIV 60) % 60 AS INT))")
    ph = d.select(
        "doc_id", base.bitwiseXOR(p1).bitwiseXOR(p2).alias("phash")
    ).localCheckpoint(eager=False)  # feeds 4 band branches + the verify
    bands = None
    for j in range(4):
        bj = ph.select(
            "doc_id",
            F.lit(j).alias("band"),
            F.shiftright("phash", 15 * j).bitwiseAND(F.lit(32767)).alias("bv"),
        )
        bands = bj if bands is None else bands.unionAll(bj)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bv")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bv")
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = ph.select(F.col("doc_id").alias("doc_a"), F.col("phash").alias("ha"))
    pb = ph.select(F.col("doc_id").alias("doc_b"), F.col("phash").alias("hb"))
    dist = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= 2)
        .select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("doc_a", "doc_b")
    )
