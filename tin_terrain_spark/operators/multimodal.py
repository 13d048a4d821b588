"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched pandas UDFs over mapInPandas.

The container has no image/audio codecs, so the DECODE step is a
clearly-marked deterministic stub (hash-derived pixels); everything
Spark-side — schema, batch shape, partitioning, UDF signatures — is
real and tested. Swapping `_decode_stub` for PIL/ffmpeg is a pure
kernel change.

The synthetic `html` binary column follows FIXTURES.md §1:
b"<html>" + text + b"</html>" — and carries the per-row invariant that
extracted text must round-trip byte-identically (q_text_roundtrip).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "doc_id BIGINT, media_type STRING, width INT, height INT, "
    "n_frames INT, payload BINARY"
)

FEATURE_SCHEMA = "doc_id BIGINT, media_type STRING, feature ARRAY<FLOAT>"
FEATURE_DIM = 16  # image_features' vector length

FRAME_SCHEMA = "doc_id BIGINT, frame_idx INT, frame_feature ARRAY<FLOAT>"
FRAME_EVERY = 10  # sample_frames keeps frames 0, 10, 20, ...
FRAME_DIM = 8  # sample_frames' vector length
# the media oracles in queries_ext.py (SQL_MEDIA_FEATURES,
# SQL_MEDIA_DECODE_REAL, SQL_FRAME_SAMPLE, SQL_VIDEO_DECODE_REAL) are
# built from these three numbers


def synth_media(docs: DataFrame) -> DataFrame:
    """Attach a deterministic binary payload + typed media metadata
    (what a real pipeline gets from a WARC/object-store scan)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.lit(b"<html>"), F.encode(F.col("text"), "UTF-8"), F.lit(b"</html>")
        ).alias("html"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        ((F.col("doc_id") * 37) % 512 + 16).cast("int").alias("width"),
        ((F.col("doc_id") * 53) % 512 + 16).cast("int").alias("height"),
        ((F.col("doc_id") * 7) % 120 + 1).cast("int").alias("n_frames"),
        F.sha2(F.col("text"), 256).cast("binary").alias("payload"),
    )


REAL_MEDIA_FORMATS = ("pgm", "pnm", "bmp", "png", "gif")


def synth_real_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL image files — one per doc, format rotating
    through binary PGM (P5), plain PGM (P2), 24-bit BMP, grayscale
    PNG, and palette GIF — built from the same exact-integer pixel
    generator as the decode stub, so the downstream decode→feature
    pipeline stays fully DuckDB-oracled while exercising the REAL
    in-container codecs (kernels/{netpbm,bmp,png,gif}.py) end-to-end
    in the distributed plan. px(r, c) = ((seed + r·A + c·B) % 65521)
    % 256, seed = first 14 hex chars of sha256(text) — the oracle
    recomputes this in closed form and never touches a codec."""

    def op(batches):
        import hashlib

        from ..kernels import bmp as _bmp
        from ..kernels import gif as _gif
        from ..kernels import netpbm as _pnm
        from ..kernels import png as _png

        gray_pal = np.repeat(
            np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
        )
        for pdf in batches:
            payloads, fmts, ws, hs = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                seed = int(
                    hashlib.sha256(text.encode("utf-8")).hexdigest()[:14], 16
                )
                w = d * 37 % 12 + 4
                h = d * 53 % 12 + 4
                r = np.arange(1, h + 1, dtype=np.int64)[:, None]
                c = np.arange(1, w + 1, dtype=np.int64)[None, :]
                px = (
                    (seed + r * 1315423911 + c * 2654435761) % 65521 % 256
                ).astype(np.uint8)
                k = d % 5
                if k == 0:
                    payload = _pnm.encode_netpbm(px)
                elif k == 1:
                    payload = _pnm.encode_netpbm(px, plain=True)
                elif k == 2:
                    payload = _bmp.encode_bmp(px)  # gray replicated to RGB
                elif k == 3:
                    payload = _png.encode_png(px)
                else:
                    payload = _gif.encode_gif(px, gray_pal)
                payloads.append(payload)
                fmts.append(REAL_MEDIA_FORMATS[k])
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": fmts,
                    "width": np.array(ws, dtype=np.int32),
                    "height": np.array(hs, dtype=np.int32),
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        op, "doc_id BIGINT, media_type STRING, width INT, height INT, payload BINARY"
    )


REAL_AUDIO_FORMATS = ("pcm16", "pcm8", "pcm16st", "f32")


def synth_real_audio(docs: DataFrame) -> DataFrame:
    """Deterministic REAL WAV files — format rotating through 16-bit
    mono PCM, 8-bit mono PCM, 16-bit stereo PCM, and IEEE float32 —
    from the exact-integer sample generator k(t) = (seed + (t+1)·B)
    % 65521 (seed = first 14 hex chars of sha256(text)), so the
    decode→feature path is DuckDB-oracled in closed form while
    exercising the real RIFF/WAVE codec (kernels/wav.py) end-to-end
    in the distributed plan. Every sample mapping is a dyadic scale:
    the decoded float32 values are bit-exact."""

    def op(batches):
        import hashlib

        from ..kernels import wav as _wav

        for pdf in batches:
            payloads, fmts, lens = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                seed = int(
                    hashlib.sha256(text.encode("utf-8")).hexdigest()[:14], 16
                )
                n = d * 31 % 1024 + 256
                t = np.arange(1, n + 1, dtype=np.int64)
                k = (seed + t * 2654435761) % 65521
                f = d % 4
                if f == 0:
                    payload = _wav.encode_wav((k - 32768).astype(np.int16), bits=16)
                elif f == 1:
                    payload = _wav.encode_wav((k % 256).astype(np.uint8), bits=8)
                elif f == 2:
                    st = np.column_stack(
                        [k - 32768, (3 * k) % 65521 - 32768]
                    ).astype(np.int16)
                    payload = _wav.encode_wav(st, bits=16)
                else:
                    payload = _wav.encode_wav(
                        (k.astype(np.float64) / 65536.0).astype(np.float32),
                        bits=32,
                    )
                payloads.append(payload)
                fmts.append(REAL_AUDIO_FORMATS[f])
                lens.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": fmts,
                    "n_samples": np.array(lens, dtype=np.int32),
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        op, "doc_id BIGINT, media_type STRING, n_samples INT, payload BINARY"
    )


def _uniform_jpeg_frame_cache():
    """256 uniform 16x16 grayscale JPEG frames, built once per Python
    worker (uniform blocks survive DCT quantization exactly, so the
    decoded value is bit-equal to the generator — the oracle relies on
    this)."""
    global _UNIFORM_FRAMES
    try:
        return _UNIFORM_FRAMES
    except NameError:
        from ..kernels import jpeg as _jpeg

        _UNIFORM_FRAMES = [
            _jpeg.encode_jpeg(np.full((16, 16), v, np.uint8))
            for v in range(256)
        ]
        return _UNIFORM_FRAMES


def synth_real_video(docs: DataFrame) -> DataFrame:
    """Deterministic REAL MJPEG-AVI videos: n_frames uniform-gray
    16x16 JPEG frames (value v_f = ((seed + (f+1)·C) % 65521) % 256,
    C the frame-salt constant) muxed into a standard AVI container
    (kernels/avi.py). Frame sampling over these payloads demuxes and
    JPEG-decodes for REAL, and because uniform frames decode exactly,
    the whole path keeps a closed-form DuckDB oracle."""

    def op(batches):
        import hashlib

        from ..kernels import avi as _avi

        frames_by_v = _uniform_jpeg_frame_cache()
        for pdf in batches:
            payloads, ns = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                seed = int(
                    hashlib.sha256(text.encode("utf-8")).hexdigest()[:14], 16
                )
                n = d * 7 % 48 + 1
                f = np.arange(1, n + 1, dtype=np.int64)
                v = (seed + f * 2246822519) % 65521 % 256
                payloads.append(
                    _avi.encode_avi_mjpeg([frames_by_v[int(x)] for x in v])
                )
                ns.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "video",
                    "width": np.full(len(pdf), _avi.SIZE, dtype=np.int32),
                    "height": np.full(len(pdf), _avi.SIZE, dtype=np.int32),
                    "n_frames": np.array(ns, dtype=np.int32),
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        op,
        "doc_id BIGINT, media_type STRING, width INT, height INT, "
        "n_frames INT, payload BINARY",
    )


AUDIO_FEATURE_SCHEMA = (
    "doc_id BIGINT, media_type STRING, block INT, bsum DOUBLE, bsq DOUBLE"
)
AUDIO_BLOCKS = 8


def audio_features(media: DataFrame) -> DataFrame:
    """WAV decode → per-block waveform energy features over AUDIO_BLOCKS
    blocks, batched via mapInPandas (the Arrow batch is the decode
    unit, same shape as image_features). Channels are mean-merged; per block: sample sum
    and sum of squares — both exact dyadic arithmetic, so the whole
    path has a value-exact SQL oracle. Non-WAV payloads fall back to
    the deterministic stub waveform (hash-seeded), mirroring the image
    stub contract."""

    def op(batches):
        from ..kernels import wav as _wav

        for pdf in batches:
            out = {"doc_id": [], "media_type": [], "block": [],
                   "bsum": [], "bsq": []}
            for doc_id, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                data = bytes(payload) if payload is not None else b""
                x = None
                if _wav.is_wav(data):
                    try:
                        samples, _rate = _wav.decode_wav(data)
                        x = samples.astype(np.float64).mean(axis=1)
                    except ValueError:
                        x = None
                if x is None:  # stub waveform from the payload hash
                    try:
                        seed = int(data[:14], 16) if data else 0
                    except ValueError:
                        seed = int.from_bytes(data[:7], "big")
                    t = np.arange(1, 257, dtype=np.int64)
                    x = ((seed + t * 2654435761) % 65521) / 65536.0
                hop = len(x) // AUDIO_BLOCKS
                if hop == 0:  # shorter than one sample per block
                    x = np.pad(x, (0, AUDIO_BLOCKS - len(x)))
                    hop = 1
                xb = x[: hop * AUDIO_BLOCKS].reshape(AUDIO_BLOCKS, hop)
                bs = xb.sum(axis=1)
                bq = (xb * xb).sum(axis=1)
                out["doc_id"].extend([int(doc_id)] * AUDIO_BLOCKS)
                out["media_type"].extend([mtype] * AUDIO_BLOCKS)
                out["block"].extend(range(AUDIO_BLOCKS))
                out["bsum"].extend(bs.tolist())
                out["bsq"].extend(bq.tolist())
            yield pd.DataFrame(out)

    return media.mapInPandas(op, AUDIO_FEATURE_SCHEMA)


def extract_text(pages: DataFrame) -> DataFrame:
    """Inverse of the synth step: strip the wrapper — the byte-identical
    text invariant (BASELINE.md per-row invariant) is asserted on this."""
    return pages.withColumn(
        "text_rt",
        F.decode(
            F.expr("substring(html, 7, length(html) - 13)"), "UTF-8"
        ),
    )


try:  # real image decode activates automatically in a richer image
    from PIL import Image as _PILImage  # type: ignore

    _HAS_PIL = True
except ImportError:  # this container ships no codec libs
    _PILImage = None
    _HAS_PIL = False


def _decode_real(payload: bytes, width: int, height: int) -> "np.ndarray | None":
    """Real decode: PIL when importable (any format), else the
    in-container pure-NumPy codecs — PNG (kernels/png.py), baseline
    JPEG (kernels/jpeg.py), GIF (kernels/gif.py), BMP (kernels/bmp.py),
    netpbm PBM/PGM/PPM (kernels/netpbm.py), and (Geo)TIFF through the
    engine's own sources/geotiff.py reader (elevations min-max
    normalized) — so all of those decode for real with no image libs.
    Grayscale float32 pixels in [0, 1), cropped to the stub's 32x32
    budget so downstream pooling shapes match. Returns None when the
    bytes aren't a decodable image (caller falls back to the stub)."""
    if not payload:
        return None
    if _HAS_PIL:
        import io

        try:
            img = _PILImage.open(io.BytesIO(payload)).convert("L")
        except Exception:
            return None
        px = np.asarray(img, dtype=np.float32) / 256.0
        return px[: min(int(height), 32), : min(int(width), 32)]
    from ..kernels import png as _png

    if _png.is_png(payload):
        try:
            px = _png.to_gray_f32(_png.decode_png(payload))
        except ValueError:
            return None
        return px[: min(int(height), 32), : min(int(width), 32)]
    from ..kernels import jpeg as _jpeg

    if _jpeg.is_jpeg(payload):
        try:
            px = _png.to_gray_f32(_jpeg.decode_jpeg(payload))
        except ValueError:
            return None
        return px[: min(int(height), 32), : min(int(width), 32)]
    from ..kernels import gif as _gif

    if _gif.is_gif(payload):
        try:
            px = _png.to_gray_f32(_gif.decode_gif(payload))
        except ValueError:
            return None
        return px[: min(int(height), 32), : min(int(width), 32)]
    from ..kernels import bmp as _bmp

    if _bmp.is_bmp(payload):
        try:
            px = _png.to_gray_f32(_bmp.decode_bmp(payload))
        except ValueError:
            return None
        return px[: min(int(height), 32), : min(int(width), 32)]
    from ..kernels import netpbm as _pnm

    if _pnm.is_netpbm(payload):
        try:
            px = _png.to_gray_f32(_pnm.decode_netpbm(payload))
        except ValueError:
            return None
        return px[: min(int(height), 32), : min(int(width), 32)]
    from ..kernels import avi as _avi

    if _avi.is_avi(payload):  # first frame, like the GIF still path
        try:
            px = _png.to_gray_f32(np.atleast_3d(_avi.decode_avi_frame(payload)))
        except ValueError:
            return None
        return px[: min(int(height), 32), : min(int(width), 32)]
    if payload[:2] in (b"II", b"MM"):  # (Geo)TIFF via the engine's own reader
        from ..sources.geotiff import read_geotiff

        # arbitrary bytes with a TIFF magic can break the parser in
        # many ways (struct/index errors, not just ValueError)
        try:
            grid = read_geotiff(payload)
        except Exception:
            grid = None
        if grid is not None:
            z = np.asarray(grid.z, dtype=np.float64)
            finite = np.isfinite(z)
            if finite.any():
                lo = z[finite].min()
                hi = z[finite].max()
                span = (hi - lo) or 1.0
                # elevations min-max normalized into [0, 1) (the decode
                # contract); nodata renders as 0
                px = np.where(finite, (z - lo) / span * (255.0 / 256.0), 0.0)
                px = px.astype(np.float32)
                return px[: min(int(height), 32), : min(int(width), 32)]
    return None


def _decode_stub(payload: bytes, width: int, height: int, frame_salt: int = 0) -> np.ndarray:
    """STUB decode: deterministic pseudo-pixels from the payload hash.
    Real implementation: PIL.Image.open(io.BytesIO(payload)) — see
    _decode_pixels, which prefers it when PIL is importable.

    The fake is exact integer arithmetic (px = k/65536 with k < 2^17,
    representable bit-exactly in float32 AND double), so the whole
    decode→pool pipeline has a DuckDB oracle: the driver gate checks
    the Arrow-batched Spark path against plain SQL, value-exact."""
    # synth_media payloads are ASCII-hex digest bytes (first 14 hex
    # chars -> 56-bit seed); arbitrary non-hex bytes (a caller feeding
    # real media) fall back to the raw-byte seed instead of raising
    # inside the Arrow worker
    try:
        seed = int(payload[:14], 16) if payload else 0
    except ValueError:
        seed = int.from_bytes(payload[:7], "big")
    seed += frame_salt * 2246822519
    h, w = min(int(height), 32), min(int(width), 32)
    r = np.arange(1, h + 1, dtype=np.int64)[:, None]
    c = np.arange(1, w + 1, dtype=np.int64)[None, :]
    px = ((seed + r * 1315423911 + c * 2654435761) % 65521).astype(np.float64) / 65536.0
    return px.astype(np.float32)


def _decode_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """Decode dispatch: real PIL decode when the library exists AND the
    bytes decode as an image; the deterministic stub otherwise (always
    the case for synth_media's hex-digest payloads, so the oracle gate
    keeps checking the stub path even in a PIL-equipped image)."""
    real = _decode_real(payload, width, height)
    if real is not None:
        return real
    return _decode_stub(payload, width, height)


def image_features(media: DataFrame) -> DataFrame:
    """decode → pooled FEATURE_DIM-vector, batched via mapInPandas (the
    Arrow batch is the unit of decode work; partition count controls
    decode parallelism at 100 TB)."""

    def op(batches):
        for pdf in batches:
            feats = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                px = _decode_pixels(bytes(payload) if payload is not None else b"", int(w), int(h))
                # pooled per-column sums (exact in float32: sum < 2^21/65536),
                # truncated to FEATURE_DIM; a real decode narrower than
                # that is zero-padded so the vector length is invariant
                pooled = px.sum(axis=0, dtype=np.float64)[:FEATURE_DIM]
                if pooled.shape[0] < FEATURE_DIM:
                    pooled = np.pad(pooled, (0, FEATURE_DIM - pooled.shape[0]))
                feats.append(pooled.astype(np.float32).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(op, FEATURE_SCHEMA)


RESIZE_SCHEMA = "doc_id BIGINT, out_r INT, out_c INT, pval FLOAT"
RESIZE_OUT = 8


def resize_media(media: DataFrame) -> DataFrame:
    """Resize (area-pooling) of decoded media to a fixed out x out grid,
    out = RESIZE_OUT: output cell (i, j) = SUM of source pixels whose
    block index floor(r*out/H), floor(c*out/W) maps to it. Sum (not mean) keeps the
    arithmetic exact in float32, so the whole decode→resize path is
    value-checked against the SQL oracle. Emitted long-form (one row
    per output cell) — the Arrow batch is the decode/resize unit."""

    def op(batches):
        cells = RESIZE_OUT * RESIZE_OUT
        # batch-constant output-cell index columns (row-major), tiled
        # per document — the whole output frame is flat-array built, no
        # per-cell Python objects anywhere in the hot path
        rr = np.repeat(np.arange(RESIZE_OUT, dtype=np.int32), RESIZE_OUT)
        cc = np.tile(np.arange(RESIZE_OUT, dtype=np.int32), RESIZE_OUT)
        for pdf in batches:
            n = len(pdf)
            pooled_all = np.empty((n, cells), dtype=np.float64)
            for k, (payload, w, h) in enumerate(
                zip(pdf["payload"], pdf["width"], pdf["height"])
            ):
                px = _decode_pixels(
                    bytes(payload) if payload is not None else b"", int(w), int(h)
                )
                hh, ww = px.shape
                ri = (np.arange(hh) * RESIZE_OUT) // hh
                ci = (np.arange(ww) * RESIZE_OUT) // ww
                pooled = np.zeros((RESIZE_OUT, RESIZE_OUT), dtype=np.float64)
                np.add.at(pooled, (ri[:, None], ci[None, :]), px.astype(np.float64))
                pooled_all[k] = pooled.reshape(-1)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), cells),
                    "out_r": np.tile(rr, n),
                    "out_c": np.tile(cc, n),
                    "pval": pooled_all.reshape(-1).astype(np.float32),
                }
            )

    return media.mapInPandas(op, RESIZE_SCHEMA)


def _decode_frames_real(payload: bytes, width: int, height: int,
                        idxs: list) -> "list | None":
    """Demux a real multi-frame container ONCE and decode only the
    requested frame indices (clamped to the last frame). GIF decodes
    the whole composited animation in one pass; AVI demuxes the chunk
    list once and JPEG-decodes only the sampled chunks. Returns None
    for payloads that aren't a known container (stub fallback)."""
    from ..kernels import avi as _avi
    from ..kernels import gif as _gif
    from ..kernels import png as _png

    h, w = min(int(height), 32), min(int(width), 32)
    if not payload:
        return None
    if _gif.is_gif(payload):
        try:
            frames = _gif.decode_gif_frames(payload)
        except ValueError:
            return None
        return [
            _png.to_gray_f32(frames[min(i, len(frames) - 1)])[:h, :w]
            for i in idxs
        ]
    if _avi.is_avi(payload):
        from ..kernels import jpeg as _jpeg

        try:
            chunks = _avi.avi_frame_chunks(payload)
            out = []
            for i in idxs:
                fr = _jpeg.decode_jpeg(chunks[min(i, len(chunks) - 1)])
                out.append(_png.to_gray_f32(np.atleast_3d(fr))[:h, :w])
            return out
        except ValueError:
            return None
    return None


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video rows: every FRAME_EVERY-th frame, pooled
    to a FRAME_DIM-vector. Each container payload crosses
    Arrow exactly ONCE and is demuxed once per doc inside the op —
    never exploded JVM-side, which would duplicate the (at 100 TB,
    ~100 MB) payload per sampled frame through the plan. Real demux +
    decode for GIF animations and MJPEG AVI; per-index stub features
    otherwise."""
    video = media.filter(F.col("media_type") == "video").select(
        "doc_id", "width", "height", "n_frames", "payload"
    )

    def op(batches):
        for pdf in batches:
            doc_ids, frame_idxs, feats = [], [], []
            for doc_id, w, h, nf, payload in zip(
                pdf["doc_id"], pdf["width"], pdf["height"],
                pdf["n_frames"], pdf["payload"],
            ):
                data = bytes(payload) if payload is not None else b""
                idxs = list(range(0, int(nf), FRAME_EVERY))
                pxs = _decode_frames_real(data, int(w), int(h), idxs)
                if pxs is None:
                    pxs = [
                        _decode_stub(data, int(w), int(h), frame_salt=i)
                        for i in idxs
                    ]
                for i, px in zip(idxs, pxs):
                    doc_ids.append(int(doc_id))
                    frame_idxs.append(i)
                    feats.append(
                        px.sum(axis=0, dtype=np.float64)[:FRAME_DIM]
                        .astype(np.float32).tolist()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(doc_ids, dtype=np.int64),
                    "frame_idx": np.array(frame_idxs, dtype=np.int32),
                    "frame_feature": feats,
                }
            )

    return video.mapInPandas(op, FRAME_SCHEMA)
