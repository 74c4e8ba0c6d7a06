"""Multimodal columns: opaque binary media + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with typed
metadata, exactly like `html` does for pages (BASELINE.json input_hint) and
like the reference's image payloads (b64 bytes fetched per url,
/root/reference/engine/core/utils.py:164-165, decoded at
llm_number_prediction.py:39-55). All Spark plumbing here is REAL — schema,
Arrow batch shape, mapInArrow kernels, header parsing, byte slicing,
hashing. Pixel decode runs FOR REAL for PNG payloads via the stdlib codec
(`core.pngx`; PIL preferred when importable); non-PNG formats raise
NotImplementedError so callers gate them, per the build contract.

Container format (deterministic, synthesized from `documents`):
  magic 'FAKEMM01' | u8 kind | u32 width | u32 height | u32 payload_len |
  payload bytes (utf-8 of the doc text)
Big-endian, 21-byte header. The oracle recomputes every extracted field
from doc_id/text formulas, so the binary round-trip is value-checked.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ai_service_ocr_grading_handler_spark.core.partitioning import (
    fanout_repartition,
    widen_if_narrow,
)

MAGIC = b"FAKEMM01"
_HEADER = ">8sBIII"  # magic, kind, width, height, payload_len
HEADER_LEN = struct.calcsize(_HEADER)
KINDS = ["image", "audio", "video"]
FRAME_BYTES = 64  # "video" frame = 64-byte payload slice

MEDIA_DDL = "doc_id bigint, kind string, media binary"
META_DDL = (
    "doc_id bigint, kind string, width int, height int, payload_len int, "
    "n_bytes int, payload_md5 string"
)
FRAME_DDL = "doc_id bigint, frame_idx int, frame_hex string"


def media_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic fake dimensions (SQL-expressible for the oracle)."""
    return 320 + (doc_id % 5) * 16, 240 + (doc_id % 3) * 16


def pack_media(doc_id: int, text: str) -> tuple[str, bytes]:
    kind_i = doc_id % 3
    w, h = media_dims(doc_id)
    payload = text.encode("utf-8")
    header = struct.pack(_HEADER, MAGIC, kind_i, w, h, len(payload))
    return KINDS[kind_i], header + payload


def unpack_media(blob: bytes) -> tuple[str, int, int, bytes]:
    magic, kind_i, w, h, plen = struct.unpack_from(_HEADER, blob)
    if magic != MAGIC:
        raise ValueError("bad magic")
    payload = bytes(blob[HEADER_LEN : HEADER_LEN + plen])
    return KINDS[kind_i], w, h, payload


def decode_pixels(payload: bytes) -> tuple[int, int, str, bytes]:
    """Real image decode (K-family image path, llm_number_prediction.py:
    39-55 cv2.imdecode) returning (width, height, "RGB", raw RGB bytes).

    Codec resolution order:
    1. PIL when importable (full format coverage);
    2. the pure-stdlib PNG decoder (`core.pngx`) for PNG payloads — zlib
       IDAT inflate + scanline unfiltering — and the pure-stdlib baseline
       JPEG decoder (`core.jpegx`) for JPEG payloads — Huffman + IDCT +
       chroma upsample — so BOTH web-corpus formats decode FOR REAL even
       in runtimes with no image library (this sandbox);
    3. otherwise NotImplementedError so callers can gate the pixel branch
       (other formats genuinely need a codec library).
    The Spark-side plumbing (binary column in, typed columns out) is
    identical on every branch. tests/test_multimodal.py +
    tests/test_jpegx.py cover all branches."""
    try:
        import PIL.Image
    except ImportError:
        from ai_service_ocr_grading_handler_spark.core import jpegx, pngx

        if pngx.is_png(payload):
            return pngx.decode_png(payload)
        if jpegx.is_jpeg(payload):
            return jpegx.decode_jpeg(payload)
        raise NotImplementedError(
            "pixel decode beyond PNG/baseline-JPEG requires an image codec "
            "library (PIL/cv2), not available in this runtime"
        )
    import io

    with PIL.Image.open(io.BytesIO(payload)) as im:
        rgb = im.convert("RGB")
        return rgb.width, rgb.height, "RGB", rgb.tobytes()


def media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, kind, media binary), synthesized NATIVELY.

    The container header is built as a hex string (magic | u8 kind |
    u32 width | u32 height | u32 payload_len, big-endian) and unhex'd, then
    binary-concatenated with the utf-8 payload — byte-identical to
    ``pack_media`` (property-tested) with ZERO Python in the plan: at 100 TB
    the media table is scan output, and anything that fabricates or
    re-headers blobs must run at scan speed, not as an extra Arrow hop
    whose payload bytes round-trip JVM->Python->JVM."""
    # documents ships as one small parquet file -> one input split;
    # spread the downstream kernels across the executors (real media
    # tables arrive pre-split, this mirrors their layout)
    docs = widen_if_narrow(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    d = F.col("doc_id")
    hex8 = lambda c: F.lpad(F.lower(F.hex(c.cast("bigint"))), 8, "0")
    header_hex = F.concat(
        F.lit(MAGIC.hex()),
        F.lpad(F.lower(F.hex((d % 3).cast("bigint"))), 2, "0"),
        hex8(320 + (d % 5) * 16),
        hex8(240 + (d % 3) * 16),
        hex8(F.octet_length(F.encode(F.col("text"), "utf-8"))),
    )
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (d % 3).cast("int") + 1
    )
    return docs.select(
        "doc_id",
        kind.alias("kind"),
        F.concat(F.unhex(header_hex), F.encode(F.col("text"), "utf-8")).alias(
            "media"
        ),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Binary header parse + payload hash — the 'feature extract' kernel
    position: one Arrow channel, scalars out, blob dropped. Arrow-native
    (flat column lists, no per-row dicts/pandas)."""
    import pyarrow as pa

    def kernel(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            doc_ids = batch.column(0)
            kinds = batch.column(1).to_pylist()
            blobs = batch.column(2).to_pylist()
            ks, ws, hs, plens, nbytes, md5s = [], [], [], [], [], []
            for kind, blob in zip(kinds, blobs):
                k, w, h, payload = unpack_media(blob)
                assert k == kind
                ks.append(k)
                ws.append(w)
                hs.append(h)
                plens.append(len(payload))
                nbytes.append(len(blob))
                md5s.append(hashlib.md5(payload).hexdigest())
            yield pa.RecordBatch.from_arrays(
                [
                    doc_ids,
                    pa.array(ks, pa.string()),
                    pa.array(ws, pa.int32()),
                    pa.array(hs, pa.int32()),
                    pa.array(plens, pa.int32()),
                    pa.array(nbytes, pa.int32()),
                    pa.array(md5s, pa.string()),
                ],
                names=[
                    "doc_id", "kind", "width", "height",
                    "payload_len", "n_bytes", "payload_md5",
                ],
            )

    # pin column ORDER with a select: the Arrow kernel indexes columns
    # positionally, and a reordered/extended input frame must not feed the
    # wrong column into unpack_media (review finding)
    return media.select("doc_id", "kind", "media").mapInArrow(
        kernel, schema=META_DDL
    )


def sample_frames(media: DataFrame, every_k: int = 3) -> DataFrame:
    """Frame-sample 'video' payloads: every k-th FRAME_BYTES slice, hashed —
    the frame-extraction kernel shape (explodes rows inside the batch).
    Arrow-native (flat column lists, no per-row dicts/pandas)."""
    import pyarrow as pa

    def kernel(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            # input is pre-filtered to kind == 'video' below; no per-row
            # re-check (the old redundant guard misled readers into
            # thinking the kernel handles mixed-kind batches)
            ids, idxs, hexes = [], [], []
            for doc_id, blob in zip(
                batch.column(0).to_pylist(), batch.column(2).to_pylist()
            ):
                _, _, _, payload = unpack_media(blob)
                n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
                for idx in range(0, n_frames, every_k):
                    frame = payload[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(idx)
                    # hex, not md5: DuckDB cannot slice BLOBs, so the oracle
                    # reconstructs frames as substr(hex(bytes)) — hex keeps
                    # the comparison BYTE-exact for any (non-ASCII) text
                    hexes.append(frame.hex().upper())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(idxs, pa.int32()),
                    pa.array(hexes, pa.string()),
                ],
                names=["doc_id", "frame_idx", "frame_hex"],
            )

    # select pins positional column order for the Arrow kernel (see
    # media_metadata)
    return (
        media.filter(F.col("kind") == "video")
        .select("doc_id", "kind", "media")
        .mapInArrow(kernel, schema=FRAME_DDL)
    )


# --- real pixel ops: resize + the reference's stacked-crop geometry -------------


def resize_rgb(
    width: int, height: int, rgb: bytes, t_width: int, t_height: int
) -> bytes:
    """Nearest-neighbor RGB24 resize (numpy index selection — the brief's
    multimodal 'resize' op, runnable with no image library)."""
    import numpy as np

    a = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    ys = np.arange(t_height) * height // t_height
    xs = np.arange(t_width) * width // t_width
    return a[ys][:, xs].tobytes()


STACK_BORDER = 5  # px black border per crop (reference value)
STACK_SPACING = 10  # px between crops
STACK_MIN_WIDTH = 300  # canvas min width


def stack_rgb_images(images: list) -> tuple[int, int, bytes]:
    """The reference's number-crop stacking geometry
    (/root/reference/engine/core/llm_number_prediction.py:83-99),
    re-implemented over raw RGB24 with numpy: each crop gets a
    {STACK_BORDER}px BLACK border, crops stack top-down LEFT-ALIGNED on a
    WHITE canvas with {STACK_SPACING}px between them; canvas width =
    max(widest crop + 2*border, {STACK_MIN_WIDTH}). `images` is a list of
    (width, height, rgb_bytes); returns (width, height, rgb_bytes) of the
    stacked canvas. Pixel-exact to the cv2 original's geometry (channel
    order is RGB here vs cv2's BGR — orthogonal to layout)."""
    import numpy as np

    if not images:
        raise ValueError("no images to stack")
    b = STACK_BORDER
    arrs = [
        np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        for (w, h, rgb) in images
    ]
    max_width = max(max(a.shape[1] for a in arrs) + 2 * b, STACK_MIN_WIDTH)
    total_h = (
        sum(a.shape[0] for a in arrs)
        + (len(arrs) - 1) * STACK_SPACING
        + len(arrs) * 2 * b
    )
    canvas = np.full((total_h, max_width, 3), 255, dtype=np.uint8)
    y = 0
    for a in arrs:
        h, w = a.shape[:2]
        bordered = np.zeros((h + 2 * b, w + 2 * b, 3), dtype=np.uint8)
        bordered[b : b + h, b : b + w] = a
        canvas[y : y + h + 2 * b, : w + 2 * b] = bordered
        y += h + 2 * b + STACK_SPACING
    return max_width, total_h, canvas.tobytes()


def synth_rgb(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic RGB gradient for a doc (fixture pixels — the S3 crop
    download stands in; geometry and codecs are the real thing)."""
    import numpy as np

    ys, xs = np.mgrid[0:height, 0:width]
    r = (xs * 37 + doc_id) % 256
    g = (ys * 11 + doc_id * 3) % 256
    bl = (xs + ys + doc_id * 7) % 256
    return np.stack([r, g, bl], axis=-1).astype(np.uint8).tobytes()


def crop_dims(doc_id: int) -> tuple[int, int]:
    """Crop dimensions per doc — SQL-expressible for the oracle; widths
    straddle STACK_MIN_WIDTH so both branches of the canvas-width max are
    exercised."""
    return 280 + (doc_id % 5) * 16, 20 + (doc_id % 7)


STACK_MAX_CROPS = 200  # per-batch cap: canvas stays ~8 MB, far under the
# PNG codec's 64 MB raw bound; the cap is NOT silent — n_images in the
# output shows it, and the oracle mirrors it (review finding: an uncapped
# batch of ~1700+ crops would hit the codec bound task-fatally at large SF)


def stacked_crops_df(spark: SparkSession, sf_dir: str, group: int = 50) -> DataFrame:
    """Per-batch stacked-crop geometry over synthesized crops: documents
    are bucketed (doc_id % group), each bucket's crops are stacked in
    doc_id order with the reference geometry, and the REAL pixel pipeline
    runs end-to-end — synth RGB -> stack -> PNG encode -> PNG decode
    (stdlib codec) -> dims re-derived from decoded pixels. Output
    (batch_id, n_images, stacked_w, stacked_h) is fully SQL-oracle-able;
    pixel exactness is pinned by pytest."""
    import pandas as pd

    from ai_service_ocr_grading_handler_spark.core import pngx

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(group)).cast("int").alias("batch_id"),
        )
    )

    def stack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = sorted(int(d) for d in pdf["doc_id"])[:STACK_MAX_CROPS]
        images = []
        for d in ids:
            w, h = crop_dims(d)
            images.append((w, h, synth_rgb(d, w, h)))
        from ai_service_ocr_grading_handler_spark.operators.multimodal import (
            decode_pixels,
        )

        w, h, rgb = stack_rgb_images(images)
        # round-trip through the real codec: encode, decode, re-measure
        dw, dh, _, drgb = decode_pixels(pngx.encode_png(w, h, rgb))
        if (dw, dh) != (w, h) or drgb != rgb:
            raise ValueError("stacked-crop PNG round-trip mismatch")
        return pd.DataFrame(
            {
                "batch_id": [int(pdf["batch_id"].iloc[0])],
                "n_images": [len(ids)],
                "stacked_w": [dw],
                "stacked_h": [dh],
            }
        )

    # fan-out exchange on the group key: every group's pure-Python
    # synth->stack->PNG round-trip (~0.2 s per group) ran in ONE task once
    # AQE coalesced the byte-tiny (doc_id, batch_id) shuffle
    return fanout_repartition(docs, F.col("batch_id")).groupBy("batch_id").applyInPandas(
        stack, schema="batch_id int, n_images int, stacked_w int, stacked_h int"
    )


# --- real audio ops: WAV parse + signal features --------------------------------

def synth_wav(doc_id: int, n_frames: int | None = None) -> bytes:
    """Deterministic 16-bit mono PCM WAV: an integer sawtooth whose period
    and amplitude derive from doc_id (integer arithmetic only — no libm
    floats, so the bytes are identical on every platform)."""
    import io
    import struct as _st
    import wave

    rate = 8000 + (doc_id % 4) * 4000  # 8/12/16/20 kHz
    n = n_frames if n_frames is not None else 400 + (doc_id % 50) * 8
    period = 20 + (doc_id % 30)
    amp = 1000 + (doc_id % 7) * 500
    frames = bytearray()
    for i in range(n):
        phase = i % period
        # sawtooth in [-amp, +amp)
        v = (2 * amp * phase) // period - amp
        frames += _st.pack("<h", v)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def wav_features(blob: bytes) -> dict:
    """REAL audio decode + feature extraction (the multimodal brief's
    audio position) with nothing but the stdlib: RIFF/WAV container parse
    via `wave`, then 16-bit PCM signal features — RMS energy and
    zero-crossing count — computed from the raw samples. Raises
    ValueError/wave.Error on malformed input; >16-bit or multi-channel
    beyond stereo raise NotImplementedError."""
    import io
    import struct as _st
    import wave

    try:
        with wave.open(io.BytesIO(bytes(blob)), "rb") as w:
            nch, width, rate, n = (
                w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes(),
            )
            raw = w.readframes(n)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"not a parseable WAV: {e}") from e
    if width != 2 or nch not in (1, 2):
        raise NotImplementedError("only 16-bit mono/stereo PCM supported")
    samples = _st.unpack(f"<{len(raw) // 2}h", raw)
    if nch == 2:  # average to mono for the features
        samples = tuple(
            (samples[i] + samples[i + 1]) // 2 for i in range(0, len(samples), 2)
        )
    if samples:
        acc = 0
        for s in samples:
            acc += s * s
        rms = (acc / len(samples)) ** 0.5
        zc = sum(
            1
            for i in range(1, len(samples))
            if (samples[i - 1] < 0) != (samples[i] < 0)
        )
    else:
        rms, zc = 0.0, 0
    return {
        "n_channels": nch,
        "sample_rate": rate,
        "n_frames": n,
        "duration_ms": (n * 1000) // rate,
        "rms": round(rms, 3),
        "zero_crossings": zc,
    }


def audio_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc WAV synthesis -> REAL container parse + signal features,
    Arrow-batched. Container fields (channels/rate/frames/duration) are
    closed-form in doc_id, so the registry oracle value-checks them in
    SQL; RMS/zero-crossings are pinned by pytest against the synth
    formula."""
    import pyarrow as pa

    # widen off the single-split scan: the WAV synth+parse kernel is pure
    # per-row Python and otherwise runs in ONE task (no-op on wide inputs)
    docs = widen_if_narrow(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    )

    def kernel(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            ids = batch.column(0).to_pylist()
            feats = [wav_features(synth_wav(int(d))) for d in ids]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([f["n_channels"] for f in feats], pa.int32()),
                    pa.array([f["sample_rate"] for f in feats], pa.int32()),
                    pa.array([f["n_frames"] for f in feats], pa.int32()),
                    pa.array([f["duration_ms"] for f in feats], pa.int32()),
                    pa.array([f["rms"] for f in feats], pa.float64()),
                    pa.array([f["zero_crossings"] for f in feats], pa.int32()),
                ],
                names=[
                    "doc_id", "n_channels", "sample_rate", "n_frames",
                    "duration_ms", "rms", "zero_crossings",
                ],
            )

    return docs.mapInArrow(
        kernel,
        schema=(
            "doc_id bigint, n_channels int, sample_rate int, n_frames int,"
            " duration_ms int, rms double, zero_crossings int"
        ),
    )
