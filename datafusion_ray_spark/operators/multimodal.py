"""Multimodal columns: opaque binary payloads + typed metadata.

North-star extension (BASELINE.json): images/audio/video ride through the
engine as ``binary`` columns with a typed metadata struct; decode /
feature-extract are Arrow-batched Pandas transforms (``mapInPandas``) so the
bytes never round-trip through per-row Python.

The container has no image/audio codecs, so the decode kernel is STUBBED
(`NotImplementedError` for real codecs, a deterministic fake for
``format='fake'``) — but the Spark-side plumbing is real and tested: schema
contract, Arrow batch shape, partition-preserving execution, and the
metadata fast path that never touches payload bytes.

Scale: ``decode_features`` is mapInPandas (no shuffle, no driver
materialization); metadata queries prune the payload column entirely —
check ``.explain``: the parquet/source scan reads only ``meta`` when the
query doesn't reference ``payload``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8


class FakeCodec:
    """Deterministic stand-in codec: the payload bytes ARE the 'pixels'.

    Vectorized kernel: concatenate the batch's payloads into one uint8
    buffer and compute every per-row reduction from its prefix sums — no
    per-row (let alone per-byte) Python.  This is also the shape a real
    codec integration takes: one contiguous buffer per Arrow batch.
    """

    def features(self, payloads: list) -> tuple:
        """(lens, checksum, feature) arrays for a list of payloads."""
        lens = np.fromiter(
            (len(b) for b in payloads), dtype=np.int64, count=len(payloads)
        )
        buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        offsets = np.concatenate(([0], np.cumsum(lens)))
        csum = np.concatenate(([0], np.cumsum(buf, dtype=np.int64)))
        checksum = csum[offsets[1:]] - csum[offsets[:-1]]

        # Fake feature = FEATURE_DIM stripe sums (stripe = len//DIM,
        # remainder ignored; short payloads clamp at len), L1-normalized.
        stripe = np.maximum(1, lens // FEATURE_DIM)
        bounds = np.minimum(
            np.arange(FEATURE_DIM + 1)[None, :] * stripe[:, None], lens[:, None]
        )
        ssum = csum[offsets[:-1, None] + bounds]
        sums = (ssum[:, 1:] - ssum[:, :-1]).astype(np.float64)
        totals = sums.sum(axis=1)
        totals[totals == 0.0] = 1.0
        feature = (sums / totals[:, None]).astype(np.float32)
        return lens, checksum, feature

    def resize(self, payloads: list, width: int, height: int) -> list:
        """Nearest-neighbor byte subsample to width*height bytes per row."""
        n = width * height
        grid = np.arange(n, dtype=np.int64)
        return [
            bytes(n)
            if not b
            else np.frombuffer(b, dtype=np.uint8)[(grid * len(b)) // n].tobytes()
            for b in payloads
        ]


class PilImageCodec:
    """Real-image codec backed by PIL (capability-gated: this container has
    no imaging libraries, so registration is attempted and skipped at
    import; on a cluster with Pillow installed it activates with no code
    change — the seam VERDICT r2 #8 asked for)."""

    def __init__(self):
        import PIL.Image  # noqa: F401 - probe at construction

    def _decode(self, b: bytes):
        import io

        import PIL.Image

        return np.asarray(PIL.Image.open(io.BytesIO(b)).convert("L"), dtype=np.uint8)

    def features(self, payloads: list) -> tuple:
        lens = np.fromiter(
            (len(b) for b in payloads), dtype=np.int64, count=len(payloads)
        )
        checksum = np.empty(len(payloads), dtype=np.int64)
        feature = np.empty((len(payloads), FEATURE_DIM), dtype=np.float32)
        for i, b in enumerate(payloads):
            px = self._decode(b).ravel()
            checksum[i] = int(px.sum())
            stripes = np.array_split(px.astype(np.float64), FEATURE_DIM)
            sums = np.array([s.sum() for s in stripes])
            total = sums.sum() or 1.0
            feature[i] = (sums / total).astype(np.float32)
        return lens, checksum, feature

    def resize(self, payloads: list, width: int, height: int) -> list:
        import io

        import PIL.Image

        out = []
        for b in payloads:
            img = PIL.Image.open(io.BytesIO(b)).resize((width, height))
            sink = io.BytesIO()
            img.save(sink, format=img.format or "PNG")
            out.append(sink.getvalue())
        return out


#: format -> codec. 'fake' is always present; real codecs join when their
#: libraries exist.  Operators SNAPSHOT this dict into their closure at
#: plan-build time, so runtime registrations reach executor workers through
#: the pickled closure instead of relying on module state re-imported there.
CODECS: dict[str, object] = {"fake": FakeCodec()}

try:  # capability probe, mirroring the Avro-connector pattern
    CODECS.setdefault("png", PilImageCodec())
    CODECS.setdefault("jpeg", PilImageCodec())
except ImportError:
    pass


def register_codec(fmt: str, codec: object) -> None:
    """Plug in a decoder for ``fmt`` (must expose ``features(payloads)`` and
    ``resize(payloads, width, height)``); operators built afterwards use it."""
    CODECS[fmt] = codec


def _unsupported(fmts) -> NotImplementedError:
    return NotImplementedError(
        f"codec(s) {sorted(set(fmts))} require media libraries not present "
        f"in this container; registered: {sorted(CODECS)}"
    )

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def from_binary_files(
    spark, path: str, glob: str | None = None, recursive: bool = True
) -> DataFrame:
    """Ingest a directory of media files as the engine's multimodal shape
    (doc_id, payload, meta) via Spark's distributed ``binaryFile`` source —
    the real on-ramp for image/audio/video corpora (each executor reads its
    own files; nothing flows through the driver).

    ``meta.format`` is the lowercased file extension, so a file named
    ``x.png`` routes to the PIL codec when present and a ``.fake`` file to
    the stub codec; width/height are unknown at ingest (-1) until decode.
    ``doc_id`` is a stable 63-bit hash of the file path (xxhash64 —
    deterministic across runs and executors).
    """
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    return raw.select(
        F.abs(F.xxhash64(F.col("path"))).alias("doc_id"),
        F.col("path"),
        F.col("content").alias("payload"),
        F.struct(
            ext.alias("format"),
            F.lit(-1).alias("width"),
            F.lit(-1).alias("height"),
            F.lit(3).alias("channels"),
        ).alias("meta"),
    )


def with_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a binary payload + metadata struct to the documents table.

    Stands in for real media ingestion: payload = utf-8 bytes of the text,
    metadata carries (format, width, height, channels) like an image table
    would.
    """
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake").alias("format"),
            (F.col("n_chars") % 1024).cast("int").alias("width"),
            (F.col("n_chars") % 768).cast("int").alias("height"),
            F.lit(3).alias("channels"),
        ).alias("meta"),
    )


def _decode_batch(pdf: pd.DataFrame, codecs: dict[str, object]) -> pd.DataFrame:
    """Decode one Arrow batch, dispatching per-format groups to codecs."""
    fmts = pdf["meta"].map(lambda m: m["format"])
    bad = fmts[~fmts.isin(list(codecs))]
    if len(bad):
        raise _unsupported(bad)
    n = len(pdf)
    lens = np.empty(n, dtype=np.int64)
    checksum = np.empty(n, dtype=np.int64)
    feature = np.empty((n, FEATURE_DIM), dtype=np.float32)
    pos = np.arange(n)
    for fmt, codec in codecs.items():
        idx = pos[(fmts == fmt).to_numpy()]
        if not len(idx):
            continue
        f_lens, f_csum, f_feat = codec.features(
            [pdf["payload"].iloc[i] for i in idx]
        )
        lens[idx], checksum[idx], feature[idx] = f_lens, f_csum, f_feat

    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "n_bytes": pd.Series(lens, index=pdf.index).astype("int32"),
            "checksum": pd.Series(checksum, index=pdf.index).astype("int64"),
            "feature": pd.Series(feature.tolist(), index=pdf.index),
        }
    )


def decode_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over (doc_id, payload, meta).

    The codec registry is snapshotted into the closure here, so codecs
    registered at plan-build time travel to executors inside the pickled
    function (module re-import on a worker would not see runtime
    registrations)."""
    codecs = dict(CODECS)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf, codecs)

    return binary_df.mapInPandas(gen, DECODE_SCHEMA)


def meta_stats(binary_df: DataFrame) -> DataFrame:
    """Metadata-only aggregate — payload column must be pruned from the scan
    (verify via .explain: ReadSchema excludes ``payload``)."""
    return (
        binary_df.groupBy(F.col("meta.format").alias("format"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("meta.width").cast("long")).alias("total_width"),
            F.max("meta.height").cast("int").alias("max_height"),
        )
        .orderBy("format")
    )


def byte_stats(binary_df: DataFrame) -> DataFrame:
    """Payload size stats without decoding (octet_length is JVM-side)."""
    return binary_df.select(
        "doc_id",
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    ).orderBy("doc_id")


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)


def resize(binary_df: DataFrame, width: int = 64, height: int = 48) -> DataFrame:
    """'Resize' media payloads to width x height, dispatched through the
    codec registry (fake codec: deterministic nearest-neighbor byte
    subsample; a PIL/ffmpeg codec plugs in via ``register_codec`` without
    touching this operator). The Spark plumbing — Arrow batches in, binary
    column out, metadata rewrite — is what this operator actually provides.
    """
    codecs = dict(CODECS)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts = pdf["meta"].map(lambda m: m["format"])
            bad = fmts[~fmts.isin(list(codecs))]
            if len(bad):
                raise _unsupported(bad)
            out = pd.Series([None] * len(pdf), index=pdf.index, dtype=object)
            for fmt, codec in codecs.items():
                mask = (fmts == fmt).to_numpy()
                if not mask.any():
                    continue
                resized = codec.resize(
                    pdf["payload"].iloc[mask].tolist(), width, height
                )
                out.iloc[mask] = pd.Series(resized, dtype=object).values
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "width": width,
                    "height": height,
                }
            )

    return binary_df.mapInPandas(gen, RESIZE_SCHEMA)


def frame_sample(
    binary_df: DataFrame, frame_bytes: int = 256, every_n: int = 4
) -> DataFrame:
    """Sample every ``every_n``-th fixed-size frame from each payload —
    the video frame-sampling shape: one input row fans out to N output rows
    inside the Arrow batch (mapInPandas handles the 1->N expansion; no
    explode of binary data through the JVM).
    """

    stride = frame_bytes * every_n

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_id": [], "frame": [], "n_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # Slice only the SELECTED frames (stride = every_n frames);
                # unselected frames are never materialized, and each slice is
                # one C-level bytes copy, no per-byte Python.
                for off in range(0, len(payload), stride):
                    frame = payload[off : off + frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_id"].append(off // frame_bytes)
                    out["frame"].append(frame)
                    out["n_bytes"].append(len(frame))
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(gen, FRAME_SCHEMA)


# -- Scene-cut detection ----------------------------------------------------

FRAME_LUMA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("luma", T.LongType()),
        T.StructField("flen", T.IntegerType()),
    ]
)


PAYLOAD_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("luma", T.LongType()),
        T.StructField("flen", T.LongType()),
    ]
)


def payload_totals(binary_df: DataFrame) -> DataFrame:
    """Corpus byte-value total + byte count, ONE partial row per Arrow
    batch (callers ``agg(sum, sum)`` the partials).

    Because fixed-size frames partition each payload exactly, these equal
    ``frame_lumas``' ``(sum(luma), sum(flen))`` for ANY frame size — but
    skip the whole frame-table build (one ``np.sum`` per batch instead of
    prefix-sum gathers + per-frame rows). ``silence_trim``'s global-mean
    pass uses this so the expensive frame kernel runs exactly once.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            buf = np.frombuffer(b"".join(pdf["payload"]), dtype=np.uint8)
            yield pd.DataFrame(
                {"luma": [int(buf.sum(dtype=np.int64))],
                 "flen": [int(len(buf))]}
            )

    return binary_df.select("payload").mapInPandas(gen, PAYLOAD_TOTALS_SCHEMA)


def frame_lumas(binary_df: DataFrame, frame_bytes: int = 256) -> DataFrame:
    """Per-frame 'luma' (byte sum) for every fixed-size frame of every
    payload — the feature a scene-cut / shot-boundary detector thresholds.

    Vectorized like the decode kernel: one contiguous uint8 buffer per
    Arrow batch, ONE cumulative sum, and every frame's luma is a
    difference of two prefix-sum gathers — no per-byte (or even per-frame)
    Python. A real video codec would emit per-frame histograms here via
    ``register_codec``; the downstream cut logic is codec-agnostic.

    r12 (guide §4): ``mapInArrow`` instead of ``mapInPandas``. An Arrow
    binary column already stores every payload CONCATENATED in one data
    buffer with an offsets buffer alongside — exactly the (buf, offsets)
    pair the kernel needs — so the Arrow form reads both zero-copy where
    the pandas form materialized a Python ``bytes`` object per row and
    re-concatenated them (``b"".join``). The r11 mapInArrow experiment
    (rejected, ~30% slower) went through per-row conversion; the
    buffer-level form measured at-or-below the pandas wall across the
    probe's width sweep (plans/r12/mapinarrow_probe.json: 0.77x at 64 B,
    0.97x at the bench's own ~300 B, 0.92-0.95x at 1-4 KB, 0.88-1.10x at
    16 KB across two runs — i.e. never worse outside the noise floor,
    identical outputs everywhere), and it removes a whole-payload copy
    that only grows with width.

    A NULL payload yields no frames, like an empty one: the kernel drops
    it through the Arrow validity buffer, not by trusting the writer to
    give null slots zero length.

    Scale: pure projection (partition-preserving); output is
    ~len/frame_bytes rows per payload, narrow (3 ints).
    """
    import pyarrow as pa

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            if b.num_rows == 0:
                continue
            pay = b.column(b.schema.get_field_index("payload"))
            odt = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            offs = np.frombuffer(pay.buffers()[1], dtype=odt)[
                pay.offset: pay.offset + len(pay) + 1
            ].astype(np.int64)
            data = np.frombuffer(pay.buffers()[2], dtype=np.uint8)
            lens = offs[1:] - offs[:-1]
            nf = -(-lens // frame_bytes)  # ceil; 0 frames for empty payloads
            if pay.null_count:
                # a NULL slot may still span bytes; it has no frames
                nf[~pay.is_valid().to_numpy(zero_copy_only=False)] = 0
            total = int(nf.sum())
            if not total:
                continue
            buf = data[offs[0]: offs[-1]]
            offsets = offs[:-1] - offs[0]
            cs = np.concatenate(([0], np.cumsum(buf, dtype=np.int64)))
            doc_idx = np.repeat(np.arange(len(pay)), nf)
            frame_id = np.arange(total) - np.repeat(
                np.concatenate(([0], np.cumsum(nf)))[:-1], nf
            )
            starts = offsets[doc_idx] + frame_id * frame_bytes
            ends = np.minimum(
                starts + frame_bytes, offsets[doc_idx] + lens[doc_idx]
            )
            doc_ids = b.column(
                b.schema.get_field_index("doc_id")
            ).to_numpy(zero_copy_only=False)[doc_idx]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, pa.int64()),
                    pa.array(frame_id.astype(np.int32)),
                    pa.array(cs[ends] - cs[starts]),
                    pa.array((ends - starts).astype(np.int32)),
                ],
                ["doc_id", "frame_id", "luma", "flen"],
            )

    return binary_df.select("doc_id", "payload").mapInArrow(
        gen, FRAME_LUMA_SCHEMA
    )


def scene_cuts(binary_df: DataFrame, frame_bytes: int = 256,
               num: int = 20) -> DataFrame:
    """Shot-boundary detection per payload: a CUT at frame i>0 iff the
    MEAN byte value moved by more than 1/``num`` relative to the previous
    frame. Means are compared cross-multiplied so everything stays integer
    (``|luma_i*flen_{i-1} - luma_{i-1}*flen_i| * num >
    luma_{i-1}*flen_i``) and the short tail frame never false-triggers on
    length alone; the verdict is engine-exact.

    The Spark-first split: the Python kernel (:func:`frame_lumas`) does
    ONLY the byte crunching; windowing, thresholding and per-doc
    aggregation stay JVM-side (one hash shuffle on doc_id for the LAG
    window, map-side-combinable final aggregate).

    Output per doc: n_frames, n_cuts, first_cut (-1 when uncut).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_id")
    lagged = (
        frame_lumas(binary_df, frame_bytes)
        .withColumn("prev", F.lag("luma").over(w))
        .withColumn("plen", F.lag("flen").over(w))
    )
    cut = F.col("prev").isNotNull() & (
        F.abs(
            F.col("luma") * F.col("plen") - F.col("prev") * F.col("flen")
        )
        * num
        > F.col("prev") * F.col("flen")
    )
    return (
        lagged.withColumn("cut", cut)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum(F.when(F.col("cut"), 1).otherwise(0))
            .cast("long")
            .alias("n_cuts"),
            F.coalesce(
                F.min(F.when(F.col("cut"), F.col("frame_id"))), F.lit(-1)
            )
            .cast("int")
            .alias("first_cut"),
        )
        .orderBy("doc_id")
    )


# -- Perceptual hash (aHash) ------------------------------------------------

# 128 samples (16x8 "pixel" grid) split into 8 bands of 16 bits. Band
# count pins the pigeonhole guarantee (hamming <= PHASH_BANDS-1 = 7 is
# losslessly blocked); band WIDTH pins the random-collision floor: banded
# candidates are ~n^2 * bands / 2^width pairs on unrelated inputs, and the
# original 8-bit bands (floor n^2/32) went quadratic at the 10x scale gate
# (40x wall at 10x data). 16-bit bands push the floor out 256x — beyond
# that, width must grow with log2(n) at the documented cost of one band
# (one hamming unit of guarantee) per 16 bits.
PHASH_SAMPLES = 128
PHASH_BANDS = 8
PHASH_BAND_BITS = PHASH_SAMPLES // PHASH_BANDS


def phash_bands(binary_df: DataFrame) -> DataFrame:
    """PHASH_SAMPLES-bit average-hash (aHash) per payload, emitted as
    PHASH_BANDS band values ``b0..b7`` of PHASH_BAND_BITS bits each — the
    banded form the LSH-style near-duplicate join consumes directly (same
    pigeonhole argument as the simhash band blocking: two hashes within
    hamming distance PHASH_BANDS-1 share at least one identical band).

    aHash over the codec's nearest-neighbor resize to a 16x8 grid: sample
    j is payload byte ``(j * len) // PHASH_SAMPLES``; bit j is 1 iff
    ``sample_j * PHASH_SAMPLES > sum(samples)`` (integer compare — no
    float mean, so the oracle is exactly reproducible). Vectorized like
    the decode kernel: one concatenated uint8 buffer per Arrow batch, one
    gather, one matrix compare — no per-row Python beyond the payload
    join.

    Scale: pure projection (mapInPandas, partition-preserving); the join
    that consumes the bands is candidate-only. At 100 TB this is the image
    near-dup layout: hash once, band-join within buckets, verify exact
    hamming on candidates only.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        j = np.arange(PHASH_SAMPLES, dtype=np.int64)
        weights = (
            1 << np.arange(PHASH_BAND_BITS - 1, -1, -1, dtype=np.int64)
        )[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = list(pdf["payload"])
            lens = np.fromiter(
                (len(b) for b in payloads), dtype=np.int64, count=len(payloads)
            )
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
            # gather indices: (j * len) // 64 per row; empty payloads -> 0s
            safe_lens = np.maximum(lens, 1)
            idx = offsets[:, None] + (j[None, :] * safe_lens[:, None]) // PHASH_SAMPLES
            samples = np.where(
                lens[:, None] > 0, buf[np.minimum(idx, len(buf) - 1)] if len(buf) else 0, 0
            ).astype(np.int64)
            totals = samples.sum(axis=1)
            bits = (samples * PHASH_SAMPLES) > totals[:, None]
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for k in range(PHASH_BANDS):
                band = bits[
                    :, k * PHASH_BAND_BITS : (k + 1) * PHASH_BAND_BITS
                ].astype(np.int64)
                out[f"b{k}"] = (band * weights).sum(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"b{k}", T.IntegerType()) for k in range(PHASH_BANDS)]
    )
    return binary_df.select("doc_id", "payload").mapInPandas(gen, schema)


#: Band-buckets larger than this are "hubs" — degenerate band values
#: shared by a corpus-scale fraction of documents (e.g. the all-ones band
#: that every bright-region payload hashes to). A hub band carries almost
#: no selectivity, but its pair join is |bucket|² — the 100x scale gate
#: OOM'd a task on a 9k-doc hub before this cap existed. Capping trades a
#: documented sliver of recall (only pairs whose EVERY agreeing band is a
#: hub are lost; pairs within max_hamming agree on >=1 band and usually
#: several) for a hard bound on candidate work.
PHASH_HUB_CAP = 1024


def phash_near_dup_pairs(
    binary_df: DataFrame, max_hamming: int = 7, band_cap: int = PHASH_HUB_CAP
) -> DataFrame:
    """Multimodal near-duplicate pairs: banded candidate generation over the
    aHash, exact 128-bit hamming verify on candidates only.

    Lossless for ``max_hamming <= PHASH_BANDS - 1`` (pigeonhole: fewer
    differing bits than bands forces one identical band) among pairs with
    at least one non-hub agreeing band; hub buckets (> ``band_cap``
    members, see PHASH_HUB_CAP) are excluded from candidate generation.

    Hamming is verified INLINE in the band join — each banded row carries
    its full band vector, so the collision stream flows XOR+popcount →
    filter → an output-sized distinct. The shape this replaced made the
    raw candidate set a shuffle boundary three times (a corpus-quadratic
    ``distinct`` plus two joins re-attaching the band vectors); the 100x
    sweep measured 7034x shuffle-byte growth on exactly that. Now the
    only super-linear term is streamed compute inside one join stage
    (never materialized, never shuffled), and the survivors of the
    hamming filter — output-sized by definition — are all that is
    deduplicated. Candidates, hub policy, and output are bit-identical
    to the previous shape; the all-pairs oracle is unchanged.
    """
    from pyspark.sql import functions as F

    hashes = phash_bands(binary_df).localCheckpoint(eager=False)
    bands = hashes.select(
        "doc_id",
        *[f"b{k}" for k in range(PHASH_BANDS)],
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("k"), F.col(f"b{k}").alias("v"))
                for k in range(PHASH_BANDS)
            ])
        ).alias("band"),
    ).select("doc_id", *[f"b{k}" for k in range(PHASH_BANDS)], "band.k", "band.v")
    non_hub = (
        bands.groupBy("k", "v")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= band_cap)
        .select("k", "v")
    )
    bands = bands.join(F.broadcast(non_hub), ["k", "v"])
    left = bands.select(
        "k", "v", F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"la{k}") for k in range(PHASH_BANDS)],
    )
    right = bands.select(
        "k", "v", F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"lb{k}") for k in range(PHASH_BANDS)],
    )
    ham = sum(
        F.bit_count(
            F.col(f"la{k}").bitwiseXOR(F.col(f"lb{k}")).cast("long")
        )
        for k in range(PHASH_BANDS)
    )
    return (
        left.join(right, ["k", "v"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()  # a near-dup pair may collide in several bands
    )
