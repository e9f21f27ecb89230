"""Multimodal (image/audio/video) column plumbing.

Media is carried as opaque ``binary`` columns plus a typed metadata struct —
the only Spark-native way to move large blobs through a distributed plan
without driver involvement. Decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` (one Python worker per partition, columnar
batch transfer), which is the correct shape for Python-only media libs at
any scale: partitions stream through workers, nothing is collected.

External media codecs (PIL/ffmpeg/torchaudio) are NOT in this container.
These decode tiers work without them:

- DIMENSIONS for PNG/JPEG/GIF from container headers (``_header_dims``);
- FULL PIXEL DECODE for PNG (``operators/png.py`` — the full common-web
  subset: Adam7 interlace, palette, 1/2/4/8-bit depths, all five
  scanline filters; ``png_decode`` here remains the original simple
  8-bit non-interlaced decoder, ``extract_pixel_stats`` uses the full
  codec);
- FULL PIXEL DECODE for BASELINE + PROGRESSIVE JPEG
  (``operators/jpeg.py`` — huffman entropy decode incl. SOF2 multi-scan
  spectral selection / successive approximation, dequantize, IDCT,
  chroma upsampling, YCbCr->RGB; grayscale + 4:4:4/4:2:2/4:2:0) and for
  GIF (``operators/gif.py`` — LZW, interlacing, palettes, animated
  timeline composition with disposal methods), TIFF
  (``operators/tiff.py`` — both byte orders, strips, TIFF-LZW,
  PackBits, predictor) and BMP (``operators/bmp.py`` — core/info DIB
  headers, 1/4/8/16/24/32-bit, RLE8/RLE4, bitfields, top-down), all
  wired into ``extract_pixel_stats`` as fallbacks when the blob is not
  a PNG;
- FULL AUDIO SAMPLE DECODE for RIFF WAV (``operators/wav.py``:
  8/16/24/32-bit PCM, IEEE float, G.711 mu-law/A-law, IMA ADPCM) and
  FLAC (``operators/flac.py``: Rice/FIXED/LPC subframes, stereo
  decorrelation, CRC+MD5 verified) -> ``extract_audio_stats``;
- FULL VIDEO FRAME DECODE for MJPEG-in-AVI (``operators/avi.py`` RIFF
  walker + the JPEG decoder) and uncompressed BI_RGB DIB-in-AVI (raw
  bottom-up BGR frames, dims taken from the stream header) ->
  ``extract_video_frame_stats``.

Content that is none of the above falls back to the clearly-marked
deterministic fake (the synthetic corpus is text bytes); MPEG
audio/video and arithmetic-coded JPEG stay honestly out of scope.
``real_decode=True`` on the feature/resize entry points routes to the
in-repo pixel decoders (PNG/JPEG/GIF/TIFF/BMP) — real decoded
dimensions and a real nearest-neighbor resample over decoded pixels;
only content no shipped codec can parse falls back to header dims /
the fake kernel. The Spark-side plumbing — schema, batch iteration,
partitioning, UDF signature — is real and tested throughout.

Scale notes: blobs never pass through a shuffle here (mapInPandas is a
narrow transformation); keep it that way — filter/project on metadata
columns *before* decode so pruned rows never cross into Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("byte_crc", T.LongType()),
    ]
)


def _chunked_media_worker(encode_chunk, chunk=512):
    """The one documents->media adapter worker: (media_id, text) Arrow
    batches in, per-chunk (media_id, content) frames out.
    ``encode_chunk(media_ids, texts)`` returns one blob per document of a
    chunk, so vectorized encoders see the whole chunk at once.

    Why chunks: one 10k-doc batch yielded as a single pandas frame holds
    every encoded blob (and every intermediate pixel buffer) live through
    serialization, which saturates the allocator under 32 concurrent
    workers and stalls the chained-Python-stage pipeline (round-7 sf10
    finding: ~30% core utilization on the GIF tier; the JPEG adapter cost
    5x the codec's own time before chunking); small output batches
    pipeline smoothly and keep worker memory flat."""

    def _worker(batches):
        import pandas as pd

        for pdf in batches:
            mids = pdf["media_id"].astype("int64")
            texts = list(pdf["text"])
            for lo in range(0, len(texts), chunk):
                sl = mids.iloc[lo : lo + chunk]
                yield pd.DataFrame(
                    {"media_id": sl, "content": encode_chunk(sl, texts[lo : lo + chunk])}
                )

    return _worker


def _per_doc(encode_one):
    """Lift a per-document encoder ``encode_one(media_id, text)`` to the
    chunk encoder :func:`_chunked_media_worker` takes."""
    return lambda mids, texts: [encode_one(int(m), t) for m, t in zip(mids, texts)]


def _cpu_spread(documents: DataFrame) -> DataFrame:
    """Round-robin repartition a (media_id, text) projection to the
    session's default parallelism before a codec ``mapInPandas`` stage.

    Why: codec encode/decode is CPU-bound Python — per byte it costs
    10-100x a relational scan — but Spark sizes file-scan partitions by
    INPUT BYTES (``spark.sql.files.maxPartitionBytes``, tuned for
    IO-bound scans). A small-on-disk documents table therefore lands in
    one or two partitions, and because every codec stage downstream is a
    narrow transformation (the invariant: blobs never shuffle), the whole
    encode->decode pipeline inherits that width and runs on one core of a
    32-core box. Spreading the lightweight TEXT projection (a few hundred
    bytes/row) before the first mapInPandas costs one tiny shuffle of
    pre-blob data, keeps the blobs-never-shuffle invariant (the binary
    column is born AFTER this exchange and stays narrow), and gives every
    downstream codec stage full-cluster width. On a real 100 TB media
    corpus the scan itself yields ~800k partitions and this is a no-op in
    spirit (repartition to max(defaultParallelism, current) never
    shrinks); the guard matters exactly on the small-file tail — the
    same reasoning as AQE's initialPartitionNum, applied to the narrow
    CPU-bound path AQE cannot see."""
    sc = documents.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        current = documents.rdd.getNumPartitions()
    except Exception:
        current = 1
    if current >= target:
        return documents
    return documents.repartition(target)


def _doc_media_df(
    documents: DataFrame, worker, schema="media_id long, content binary"
) -> DataFrame:
    """The shared adapter plan shape: spread the lightweight (media_id,
    text) projection (see ``_cpu_spread``), then run the codec worker as
    one narrow ``mapInPandas`` producing ``schema`` (by default the
    binary content column)."""
    return _cpu_spread(
        documents.select(F.col("doc_id").alias("media_id"), F.col("text"))
    ).mapInPandas(worker, schema=schema)


def fused_media_stats(documents: DataFrame, media_worker, stats_worker, schema) -> DataFrame:
    """Fuse a documents->media adapter worker with a media->stats
    extractor worker behind ONE ``mapInPandas``: the adapter's output
    batches feed the extractor's input iterator inside the same Python
    process, so the synthesized blobs never round-trip the Python<->JVM
    Arrow boundary between stages (Catalyst cannot fuse Python map
    operators; two adjacent mapInPandas stages serialize the binary
    column twice for nothing). Row-identical to
    ``extractor(adapter(documents))`` — parity-asserted per media family
    in tests/test_multimodal.py. The standalone operators remain the API
    for blobs that come from real storage (one unavoidable deserialize);
    this composition is for pipelines that both synthesize and analyze.
    Measured: gif_frame sf1 7.9 -> 5.4 s; the same double-serialization
    tax applied to every media registry query."""

    def _fused(batches):
        yield from stats_worker(media_worker(batches))

    return _doc_media_df(documents, _fused, schema)


def _header_dims_fn():
    """Factory returning the header parser as a NESTED, self-contained
    function so cloudpickle ships it *by value* inside mapInPandas
    closures (executors need neither this package nor any import).
    ``_header_dims`` below is the module-level alias of the same body.

    (width, height) from the image CONTAINER HEADER, no codec needed:

    - PNG: IHDR is mandated to be the first chunk — width/height are
      big-endian u32 at offsets 16/20 after the 8-byte signature;
    - GIF87a/89a: logical screen descriptor — little-endian u16 at 6/8;
    - JPEG: walk the marker stream to the first frame header SOFn
      (0xC0-0xCF except DHT 0xC4 / JPG 0xC8 / DAC 0xCC); the segment
      carries height then width as big-endian u16.

    Returns None (caller falls back to the deterministic fake) for
    anything else or for truncated/corrupt headers — a malformed blob
    must never raise mid-batch at scale."""

    def header_dims(b):
        if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
            return (
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"),
            )
        if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
            return (
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"),
            )
        if len(b) >= 4 and b[:2] == b"\xff\xd8":
            i = 2
            while i + 4 <= len(b):
                if b[i] != 0xFF:
                    return None
                marker = b[i + 1]
                if marker == 0xFF:  # fill byte
                    i += 1
                    continue
                if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length
                    continue
                if i + 4 > len(b):
                    return None
                seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    if i + 9 > len(b):
                        return None
                    return (
                        int.from_bytes(b[i + 7 : i + 9], "big"),
                        int.from_bytes(b[i + 5 : i + 7], "big"),
                    )
                i += 2 + seg_len
        return None

    return header_dims


_header_dims = _header_dims_fn()


def _full_decode_fn():
    """One callable decoding a blob with every shipped pixel codec
    (PNG incl. Adam7/palette, baseline+progressive JPEG, GIF, TIFF,
    BMP) -> (width, height, channels, pixel bytes) or None. Closures
    ship by value."""
    from monster_etl_spark.operators.bmp import _build_bmp_codec
    from monster_etl_spark.operators.gif import _build_gif_codec
    from monster_etl_spark.operators.jpeg import _build_jpeg_codec
    from monster_etl_spark.operators.png import _build_png_codec
    from monster_etl_spark.operators.tiff import _build_tiff_codec

    decoders = (
        _build_png_codec()["decode"],
        _build_jpeg_codec()["decode"],
        _build_gif_codec()["decode"],
        _build_tiff_codec()["decode"],
        _build_bmp_codec()["decode"],
    )

    def full_decode(b):
        for d in decoders:
            out = d(b)
            if out is not None:
                return out
        return None

    return full_decode


def _image_features_worker(real_decode: bool = False):
    """The one image-feature worker: (media_id, content) batches ->
    IMAGE_FEATURES_SCHEMA frames. Dimensions come from the first link of
    the chain that answers: a full pixel decode through the shipped
    codecs (``real_decode=True`` only), the container header
    (``_header_dims``), then the deterministic fake derived from content
    length (the synthetic corpus is text bytes). The decode and
    header-parse closures are captured here, not referenced via the
    module, so cloudpickle ships them by value."""
    full_decode = _full_decode_fn() if real_decode else None
    header_dims = _header_dims_fn()

    def dims(c):
        d = full_decode(c) if full_decode is not None else None
        if d is not None:
            return d[0], d[1]
        n = len(c)
        return header_dims(c) or ((n % 640) + 1, (n % 480) + 1)

    def _worker(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            contents = [bytes(c) for c in pdf["content"]]
            wh = [dims(c) for c in contents]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": [len(c) for c in contents],
                    "width": [w for w, _ in wh],
                    "height": [h for _, h in wh],
                    "byte_crc": [zlib.crc32(c) for c in contents],
                }
            )

    return _worker


def decode_image_batch(
    batches: "Iterator[pd.DataFrame]", real_decode: bool = False
) -> "Iterator[pd.DataFrame]":
    """mapInPandas worker: binary content -> (dims + checksum) features.
    Default: header-parsed dimensions for PNG/JPEG/GIF content,
    deterministic fake dims otherwise. ``real_decode=True``: dimensions
    come from a FULL pixel decode through the shipped codecs
    (PNG/JPEG/GIF/TIFF/BMP — so TIFF/BMP, which have no cheap header
    fast path here, get real dims too); only undecodable content falls
    back to header/fake dims.

    Batch shape: input columns (media_id, content); output matches
    IMAGE_FEATURES_SCHEMA. Pure per-row computation — safe to run on any
    partitioning.
    """
    yield from _image_features_worker(real_decode)(batches)


def extract_image_features(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Distributed decode/feature pass over a media table: projects the two
    needed columns first (blob + id — nothing else crosses to Python), then
    streams Arrow batches through the decode worker. Dimensions are REAL
    for PNG/JPEG/GIF content (header parse, see ``_header_dims``); content
    that is no recognized image container gets the deterministic fake dims
    (the synthetic corpus is text bytes). ``real_decode=True`` routes to
    the FULL in-repo pixel decoders (PNG/JPEG/GIF/TIFF/BMP) and reports
    decoded dimensions, falling back to the deterministic fake dims only
    for content no shipped codec can parse.

    The worker function is a self-contained closure (the header parser is
    NESTED, not a module reference) so cloudpickle ships it *by value* —
    Python workers need neither this package on their path nor any import
    beyond pandas/zlib. Module-level UDFs pickle by reference and break on
    executors without the package installed.
    """
    return media.select("media_id", "content").mapInPandas(
        _image_features_worker(real_decode), schema=IMAGE_FEATURES_SCHEMA
    )


def png_encode_gray8(pixels: bytes, width: int) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (pure stdlib): pads ``pixels``
    with zero bytes to a whole number of ``width``-wide rows, filter type
    0 per scanline, one zlib IDAT. Deterministic (fixed zlib level)."""
    import struct
    import zlib

    height = max(1, -(-len(pixels) // width))
    padded = pixels.ljust(width * height, b"\x00")
    raw = b"".join(
        b"\x00" + padded[y * width : (y + 1) * width] for y in range(height)
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray, 8-bit
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def png_decode(b: bytes) -> "tuple[int, int, int, bytes] | None":
    """Real PNG pixel decode in pure stdlib Python: returns (width, height,
    channels, raw pixel bytes) or None if not a decodable PNG.

    Supports the simple subset — 8-bit depth, color types 0 (gray),
    2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced — with all five
    scanline filters (None/Sub/Up/Average/Paeth) reversed per the spec.
    Palette (3), 16-bit, and Adam7 return None here, as does any
    malformed stream: a bad blob must never raise mid-batch at scale.
    ``operators/png.py`` carries the FULL decoder (Adam7, palette,
    sub-byte depths) used by ``extract_pixel_stats``; this function is
    kept as the stable minimal reference implementation.
    """
    import zlib

    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
        return None
    width = int.from_bytes(b[16:20], "big")
    height = int.from_bytes(b[20:24], "big")
    depth, ctype, _comp, _filt, interlace = b[24:29]
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or channels is None or interlace != 0 or not width or not height:
        return None
    # walk chunks, concatenate IDAT
    idat = bytearray()
    i = 8
    try:
        while i + 8 <= len(b):
            ln = int.from_bytes(b[i : i + 4], "big")
            tag = b[i + 4 : i + 8]
            if tag == b"IDAT":
                idat += b[i + 8 : i + 8 + ln]
            elif tag == b"IEND":
                break
            i += 12 + ln
        raw = zlib.decompress(bytes(idat))
    except Exception:
        return None
    stride = width * channels
    if len(raw) != height * (stride + 1):
        return None
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = bytearray(raw[row_start + 1 : row_start + 1 + stride])
        if ftype == 1:  # Sub
            for x in range(channels, stride):
                line[x] = (line[x] + line[x - channels]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                c = prev[x - channels] if x >= channels else 0
                p = a + prev[x] - c
                pa, pb, pc = abs(p - a), abs(p - prev[x]), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (prev[x] if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            return None
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return width, height, channels, bytes(out)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("min_intensity", T.IntegerType()),
        T.StructField("max_intensity", T.IntegerType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def extract_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL pixel decode + per-image intensity statistics for PNG,
    baseline-JPEG and GIF content (pure stdlib — no external codec),
    streamed through Arrow-batched ``mapInPandas``. Undecodable blobs
    (progressive JPEG, junk) yield ``decoded=false`` with null stats
    instead of raising — the never-fail-mid-batch contract.

    ``mean_intensity`` is the mean over ALL channel samples, rounded 6dp
    (cross-engine hash stability). The worker closure is self-contained
    (PNG decoder nested; the JPEG decoder is a closure captured from
    ``operators/jpeg._build_jpeg_codec`` — both ship by value) like
    ``extract_image_features``.
    """
    return media.select("media_id", "content").mapInPandas(
        _pixel_stats_worker(), schema=PIXEL_STATS_SCHEMA
    )


def _pixel_stats_worker():
    """Worker builder for :func:`extract_pixel_stats` (exposed for the
    fused documents->stats composition)."""
    from monster_etl_spark.operators.bmp import _build_bmp_codec
    from monster_etl_spark.operators.gif import _build_gif_codec
    from monster_etl_spark.operators.jpeg import _build_jpeg_codec
    from monster_etl_spark.operators.png import _build_png_codec
    from monster_etl_spark.operators.tiff import _build_tiff_codec
    from monster_etl_spark.operators.webp import _build_webp_codec

    # built at driver; the returned closures are locally defined, so
    # cloudpickle ships them wholesale inside _worker (by value)
    decode = _build_png_codec()["decode"]  # full subset incl. Adam7/palette
    jpeg_codec_local = _build_jpeg_codec()
    jpeg_decode_local = jpeg_codec_local["decode"]
    jpeg_batch_local = jpeg_codec_local["decode_gray8_batch"]
    gif_decode_local = _build_gif_codec()["decode"]
    tiff_codec_local = _build_tiff_codec()
    tiff_decode_local = tiff_codec_local["decode"]
    tiff_batch_local = tiff_codec_local["decode_batch"]
    bmp_decode_local = _build_bmp_codec()["decode"]
    webp_codec_local = _build_webp_codec()
    webp_decode_local = webp_codec_local["decode"]
    webp_batch_local = webp_codec_local["decode_batch"]

    def _worker(batches):
        import numpy as np
        import pandas as pd

        def stats_chunk(rows, contents, jpeg_results, tiff_results,
                        webp_results):
            for ci, c in enumerate(contents):
                d = decode(c)
                if d is None:
                    d = (
                        jpeg_results[ci]
                        if ci in jpeg_results
                        else jpeg_decode_local(c)
                    )
                if d is None:
                    d = gif_decode_local(bytes(c))
                if d is None:
                    d = (
                        tiff_results[ci]
                        if ci in tiff_results
                        else tiff_decode_local(bytes(c))
                    )
                if d is None:
                    d = bmp_decode_local(bytes(c))
                if d is None:
                    d = (
                        webp_results[ci]
                        if ci in webp_results
                        else webp_decode_local(bytes(c))
                    )
                if d is None:
                    for k in ("width", "height", "channels", "mean_intensity",
                              "min_intensity", "max_intensity"):
                        rows[k].append(None)
                    rows["decoded"].append(False)
                else:
                    w, h, ch, px = d
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["channels"].append(ch)
                    # Integer HALF_UP at 6dp, computed on the exact
                    # rational (s, n) — not a float round: the mean is
                    # s/n exactly, and float round() of it is the
                    # cross-engine tie class the round-10 sweep pinned
                    # (Spark rounds the shortest decimal repr, DuckDB
                    # the binary value; they disagree on values like
                    # k/40960 landing on *.0000005 — 0.0076% of gif
                    # rows at sf100). floor((2e6*s + n)/(2n))/1e6 is
                    # engine-exact and scale-invariant in (s, n)
                    # (common factors cancel), so oracles may divide
                    # bytes where the decoder divides pixels. The
                    # JVM-side F.round(…, 6) in callers is an identity
                    # on these values. numpy int64 sum/min/max over
                    # uint8 samples are exact.
                    pxa = np.frombuffer(bytes(px), np.uint8)
                    s_ = int(pxa.sum(dtype=np.int64))
                    rows["mean_intensity"].append(
                        ((2_000_000 * s_ + pxa.size) // (2 * pxa.size)) / 1e6
                    )
                    rows["min_intensity"].append(int(pxa.min()))
                    rows["max_intensity"].append(int(pxa.max()))
                    rows["decoded"].append(True)

        # bounded sub-batches: decoding a whole 10k-doc Arrow batch in
        # one pooled pass holds every decoded pixel buffer live at once
        # (hundreds of MB), which collapses 32-way-concurrent allocator
        # throughput — chunking keeps the pooled-lane win with constant
        # memory
        CHUNK = 512
        # WebP wave-lanes want wider pools than the 512-blob memory
        # chunk (lane/scalar crossover ~200 lanes per table group x 3
        # modes): decode WebP over 4096-blob outer slices, feed the
        # 512-chunk stats loop from the slice's result dict. Decoded
        # pixel buffers stay bounded by the slice.
        WSLICE = 4096
        for pdf in batches:
            rows = {
                "media_id": pdf["media_id"].astype("int64"),
                "width": [],
                "height": [],
                "channels": [],
                "mean_intensity": [],
                "min_intensity": [],
                "max_intensity": [],
                "decoded": [],
            }
            all_contents = list(pdf["content"])
            for slo in range(0, len(all_contents), WSLICE):
                slice_bytes = [
                    bytes(c) for c in all_contents[slo : slo + WSLICE]
                ]
                webp_ix = [
                    i for i, c in enumerate(slice_bytes)
                    if c[:4] == b"RIFF" and c[8:12] == b"WEBP"
                ]
                webp_all = dict(
                    zip(
                        webp_ix,
                        webp_batch_local([slice_bytes[i] for i in webp_ix]),
                    )
                )
                for clo in range(0, len(slice_bytes), CHUNK):
                    # pooled lane decode for every JPEG-magic blob in the
                    # chunk: identical per-blob results to
                    # jpeg_decode_local (pinned by tests), one lockstep
                    # entropy pass instead of len(chunk)
                    contents = slice_bytes[clo : clo + CHUNK]
                    jpeg_ix = [
                        i for i, c in enumerate(contents)
                        if c[:2] == b"\xff\xd8"
                    ]
                    jpeg_results = dict(
                        zip(jpeg_ix,
                            jpeg_batch_local([contents[i] for i in jpeg_ix]))
                    )
                    # lockstep-lane TIFF-LZW across the chunk's TIFF-magic
                    # blobs (identical per-blob results; tests/test_tiff.py)
                    tiff_ix = [
                        i for i, c in enumerate(contents)
                        if c[:4] in (b"II*\x00", b"MM\x00*")
                    ]
                    tiff_results = dict(
                        zip(tiff_ix,
                            tiff_batch_local([contents[i] for i in tiff_ix]))
                    )
                    webp_results = {
                        i - clo: webp_all[i]
                        for i in range(clo, min(clo + CHUNK, len(slice_bytes)))
                        if i in webp_all
                    }
                    stats_chunk(rows, contents, jpeg_results, tiff_results,
                                webp_results)
            yield pd.DataFrame(rows)

    return _worker


def documents_as_png_media(
    documents: DataFrame, width: int = 32, interlaced: bool = False
) -> DataFrame:
    """Adapter: encode each document's UTF-8 bytes as a real 8-bit
    grayscale PNG (zero-padded to ``width``-wide rows) so the pixel-decode
    path can be exercised — and oracle-checked — without binary fixtures
    on disk. ``interlaced=True`` emits Adam7 pass-ordered streams (same
    pixels, so the analytic oracle is unchanged while the decoder must
    run the seven-pass scatter). Encoding runs in the same Arrow
    ``mapInPandas`` shape as decoding (blobs born on executors, never on
    the driver); the encoder closure ships by value."""
    return _doc_media_df(documents, _png_media_worker(width, interlaced))


def _png_media_worker(width: int = 32, interlaced: bool = False):
    from monster_etl_spark.operators.png import _build_png_codec

    encode_local = _build_png_codec()["encode_gray8"]
    return _chunked_media_worker(
        _per_doc(lambda _m, t: encode_local(bytes(t, "utf-8"), width, interlaced))
    )


def documents_as_jpeg_media(
    documents: DataFrame, blocks_per_row: int = 8, progressive: bool = False
) -> DataFrame:
    """Adapter: encode each document as a REAL JPEG whose 8x8 blocks are
    each CONSTANT at one text byte's value (block k = byte k, zero blocks
    pad the last block row). Constant blocks round-trip bit-exactly
    through the quant=1 DCT (their only nonzero coefficient is an integer
    DC), so the decoded pixel stats are analytically computable from code
    points — the property the DuckDB oracle of
    ``multimodal_jpeg_pixel_stats`` relies on. With ``progressive=True``
    the blobs are SOF2 multi-scan streams (spectral selection +
    successive approximation) that decode to the identical pixels, so the
    same oracle applies verbatim. Blobs are born on executors in the same
    Arrow ``mapInPandas`` shape as the PNG adapter; the encoder ships by
    value (closure capture)."""
    return _doc_media_df(documents, _jpeg_media_worker(blocks_per_row, progressive))


def _jpeg_quality_media_worker(blocks_per_row: int = 8, n_qualities: int = 8):
    """Adapter worker: each document encodes as a baseline JPEG whose
    FLAT quantization value is ``1 + (media_id % n_qualities)`` — a
    corpus with a known per-document quality mix, the fixture for the
    quantization-table/quality profiler (the real-corpus curation op
    that filters a crawl by estimated encode quality). Pixel layout and
    restart discipline match :func:`_jpeg_media_worker`; encoding is
    batched PER QUALITY BUCKET inside each chunk so the vectorized
    encoder still sees homogeneous batches."""
    from monster_etl_spark.operators.jpeg import _build_jpeg_codec

    encode_batch_local = _build_jpeg_codec()["encode_gray8_batch"]
    bpr = blocks_per_row
    nq = n_qualities

    def encode(mids, texts):
        pixels = _jpeg_block_pixels(texts, bpr)
        content = [None] * len(pixels)
        for q in range(1, nq + 1):
            ix = [i for i, m in enumerate(mids) if 1 + (m % nq) == q]
            if not ix:
                continue
            enc = encode_batch_local(
                [pixels[i] for i in ix], bpr * 8, q, restart_interval=bpr
            )
            for i, blob in zip(ix, enc):
                content[i] = blob
        return content

    return _chunked_media_worker(encode)


def _header_profile_worker(profile_fn, fields):
    """The one header-profiler worker: (media_id, content) batches ->
    (media_id, *fields, profiled) frames. ``profile_fn(blob)`` returns a
    dict or None; a null blob profiles as nothing, and a row that does
    not profile reads ``profiled=false`` with every field null."""

    def _worker(batches):
        import pandas as pd

        for pdf in batches:
            profiles = [
                profile_fn(c) if c is not None else None for c in pdf["content"]
            ]
            rows = {"media_id": pdf["media_id"].astype("int64")}
            for k in fields:
                rows[k] = [p.get(k) if p is not None else None for p in profiles]
            rows["profiled"] = [p is not None for p in profiles]
            yield pd.DataFrame(rows)

    return _worker


def _jpeg_profile_worker():
    """Worker builder for the JPEG header profiler: pure marker walk
    (DQT/SOF/DRI), no entropy decode — see
    ``jpeg.jpeg_header_profile_fn`` for the field and quality-estimate
    contract. Unparseable blobs profile as ``profiled=false`` nulls."""
    from monster_etl_spark.operators.jpeg import jpeg_header_profile_fn

    return _header_profile_worker(
        jpeg_header_profile_fn(),
        (
            "sof_marker", "width", "height", "n_quant_tables", "table_sum",
            "restart_interval", "scaled_percent", "quality_estimate",
        ),
    )


def audio_header_profile_fn():
    """Factory for the audio-container profiler — the audio twin of
    ``jpeg.jpeg_header_profile_fn``: a pure HEADER walk (RIFF ``fmt ``
    chunk / FLAC STREAMINFO), zero sample decode, for filtering an
    audio crawl by format/rate/duration at header-read cost.

    Returns ``profile(b) -> dict | None`` with ``container``
    ('wav'/'flac'), ``wav_format`` (RIFF format code; None for FLAC),
    ``sample_rate``, ``n_channels``, ``bits_per_sample``,
    ``n_samples`` (WAV: data bytes / block align; FLAC: STREAMINFO
    total), and ``duration_ms`` = ``n_samples * 1000 // sample_rate``
    — integer FLOOR milliseconds, deliberately not a rounded float
    (the sf100 soak measured Spark-vs-DuckDB ROUND disagreeing on
    exact half ties; integer floor is engine-exact). ``None`` for
    anything else or a truncated header."""
    import struct as _struct

    def profile(b):
        b = bytes(b)
        if len(b) >= 44 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            off = 12
            fmt = None
            n_samples = None
            while off + 8 <= len(b):
                tag = b[off : off + 4]
                sz = _struct.unpack_from("<I", b, off + 4)[0]
                if tag == b"fmt " and sz >= 16 and off + 8 + 16 <= len(b):
                    fmt = _struct.unpack_from("<HHIIHH", b, off + 8)
                elif tag == b"data" and fmt is not None:
                    block_align = fmt[4] or 1
                    n_samples = sz // block_align
                    break
                off += 8 + sz + (sz & 1)
            if fmt is None or n_samples is None:
                return None
            code, chans, rate, _brate, _align, bits = fmt
            return {
                "container": "wav",
                "wav_format": code,
                "sample_rate": rate,
                "n_channels": chans,
                "bits_per_sample": bits,
                "n_samples": n_samples,
                "duration_ms": n_samples * 1000 // max(1, rate),
            }
        if len(b) >= 42 and b[:4] == b"fLaC" and (b[4] & 0x7F) == 0:
            body = b[8:42]  # 34-byte STREAMINFO
            rate = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            chans = ((body[12] >> 1) & 0x7) + 1
            bits = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0xF) << 32) | int.from_bytes(body[14:18], "big")
            return {
                "container": "flac",
                "wav_format": None,
                "sample_rate": rate,
                "n_channels": chans,
                "bits_per_sample": bits,
                "n_samples": total,
                "duration_ms": total * 1000 // max(1, rate),
            }
        return None

    return profile


def _mixed_audio_media_worker(sample_rate: int = 16000):
    """Adapter worker: even media_id -> 16-bit PCM WAV, odd -> FLAC,
    same (byte - 128) * 256 sample layout — a mixed-container audio
    corpus, the fixture for the header profiler (which must SNIFF the
    container per blob, as a real crawl requires)."""
    from monster_etl_spark.operators.flac import _build_flac_codec
    from monster_etl_spark.operators.wav import _build_wav_codec

    wav_local = _build_wav_codec()["encode_pcm16"]
    flac_local = _build_flac_codec()["encode_pcm16"]
    sr = sample_rate
    return _chunked_media_worker(
        _per_doc(
            lambda m, t: (wav_local if m % 2 == 0 else flac_local)(
                [(v - 128) * 256 for v in bytes(t, "utf-8")], sr
            )
        )
    )


def _mp4_media_worker():
    """Adapter worker: each document becomes a minimal valid ISO-BMFF
    file whose header fields derive deterministically from (doc_id,
    text byte length) — the fixture for the MP4 box-walk profiler.
    The corpus is a deliberate MIX, as a crawl is: brand mp42 every
    third doc (else isom), an audio track on even doc_ids, 64-bit
    mvhd every fifth doc, largesize mdat every seventh — so the
    profiler's v0/v1 and 32/64-bit size paths are all exercised by
    the registry query itself. Every fourth doc (id%4==3) is a
    FRAGMENTED movie (round-10 verdict #4): mvhd duration 0, mvex
    with trex defaults, moof/traf/trun + per-fragment mdat — with
    mehd present on half of those (id%8==3) and the trun leaning on
    the trex default (no per-sample durations) whenever id%3==0, so
    all three fMP4 duration paths (mehd, trun sum, trex fallback)
    carry live corpus rows."""
    from monster_etl_spark.operators.mp4 import mp4_encode_fn

    enc = mp4_encode_fn()

    def _one(m, t):
        n = len(bytes(t, "utf-8"))
        frag = m % 4 == 3
        return enc(
            bytes(t, "utf-8"),
            major_brand=b"mp42" if m % 3 == 0 else b"isom",
            timescale=600,
            duration=0 if frag else n * 10,
            video=(b"avc1", 16 * (1 + m % 5), 16 * (1 + m % 3)),
            audio=(b"mp4a", 1 + ((m // 2) % 2), 44100) if m % 2 == 0 else None,
            mvhd_version=1 if m % 5 == 0 else 0,
            mdat_largesize=(m % 7 == 0),
            fragments=max(1, n // 40) if frag else 0,
            samples_per_frag=1 + m % 3,
            sample_duration=20 * (1 + (m // 4) % 2),
            trun_durations=(m % 3 != 0),
            write_mehd=(m % 8 == 3),
        )

    return _chunked_media_worker(_per_doc(_one))


def _mp4_profile_worker():
    """Worker builder for the MP4 box-walk profiler (see
    ``mp4.mp4_box_profile_fn`` for the field contract)."""
    from monster_etl_spark.operators.mp4 import mp4_box_profile_fn

    return _header_profile_worker(
        mp4_box_profile_fn(),
        (
            "major_brand", "timescale", "duration_ms", "n_tracks",
            "video_codec", "video_width", "video_height", "audio_codec",
            "audio_channels", "audio_sample_rate", "mdat_bytes",
            "fragmented", "n_fragments", "frag_samples",
        ),
    )


def _mp3_media_worker():
    """Adapter worker: each document becomes an MPEG1 Layer III CBR
    stream whose parameters derive from (doc_id, text byte length) —
    bitrate index 1+id%14 (the full table), sample rate by id%3, mono
    on odd ids, an ID3v2 tag every fourth doc (the profiler's tag-skip
    path exercised by the corpus itself), frame count = max(1, n//16),
    and a first-frame Xing (id%5==2) or Info (id%5==4) header so the
    profiler's O(1) fast path carries live corpus rows (round-10
    verdict #6)."""
    from monster_etl_spark.operators.mp3 import mp3_encode_fn

    enc = mp3_encode_fn()

    def _one(m, t):
        n = len(bytes(t, "utf-8"))
        return enc(
            max(1, n // 16),
            bitrate_idx=1 + m % 14,
            rate_idx=m % 3,
            mono=(m % 2 == 1),
            id3=(m % 4 == 0),
            xing={2: "xing", 4: "info"}.get(m % 5),
        )

    return _chunked_media_worker(_per_doc(_one))


def _mp3_profile_worker():
    """Worker builder for the MP3 frame-walk profiler (see
    ``mp3.mp3_frame_profile_fn`` for the field contract)."""
    from monster_etl_spark.operators.mp3 import mp3_frame_profile_fn

    return _header_profile_worker(
        mp3_frame_profile_fn(),
        (
            "version", "layer", "bitrate_kbps", "sample_rate", "channel_mode",
            "n_frames", "cbr", "duration_ms", "id3_bytes", "stream_bytes",
            "vbr_header",
        ),
    )


def _ogg_media_worker():
    """Adapter worker: each document becomes an Opus-in-Ogg stream
    (channels by id parity, input rate by id%3, page count from text
    length) — the fixture for the Ogg page-walk profiler."""
    from monster_etl_spark.operators.ogg import ogg_encode_fn

    enc = ogg_encode_fn()

    def _one(m, t):
        n = len(bytes(t, "utf-8"))
        return enc(
            max(1, n // 24),
            channels=1 + m % 2,
            input_rate=(48000, 44100, 16000)[m % 3],
            samples_per_page=960,
            # vary the priming-sample count so the profiler's RFC 7845
            # pre-skip subtraction is exercised, not a constant offset
            pre_skip=312 + (m % 5) * 24,
        )

    return _chunked_media_worker(_per_doc(_one))


def _ogg_profile_worker():
    """Worker builder for the Ogg page-walk profiler (see
    ``ogg.ogg_page_profile_fn`` for the field contract)."""
    from monster_etl_spark.operators.ogg import ogg_page_profile_fn

    return _header_profile_worker(
        ogg_page_profile_fn(),
        (
            "codec", "n_pages", "n_streams", "channels", "input_rate",
            "pre_skip", "last_granule", "duration_ms", "eos_seen",
            "body_bytes",
        ),
    )


def _webm_media_worker():
    """Adapter worker: each document becomes a minimal Matroska/WebM
    stream (doc type by id parity, codec/dims/audio/timestamp-scale
    from id residues, cluster count from text length, the all-ones
    streaming Segment size every fifth doc) — the fixture for the EBML
    element-walk profiler."""
    from monster_etl_spark.operators.webm import webm_encode_fn

    enc = webm_encode_fn()

    def _one(m, t):
        n = len(bytes(t, "utf-8"))
        return enc(
            max(1, n // 28),
            doc_type="webm" if m % 2 == 0 else "matroska",
            video=(
                ("V_VP9", "V_VP8", "V_AV1")[m % 3],
                16 * (1 + m % 5), 16 * (1 + m % 3),
            ),
            audio=(
                ("A_OPUS" if m % 4 == 0 else "A_VORBIS",
                 1 + (m // 2) % 2,
                 48000 if m % 4 == 0 else 44100)
                if m % 2 == 0 else None
            ),
            timestamp_scale=500_000 if m % 3 == 0 else 1_000_000,
            cluster_ticks=40,
            block_data=80,
            unknown_segment_size=(m % 5 == 0),
        )

    return _chunked_media_worker(_per_doc(_one))


def _webm_profile_worker():
    """Worker builder for the Matroska/WebM element-walk profiler (see
    ``webm.webm_profile_fn`` for the field contract)."""
    from monster_etl_spark.operators.webm import webm_profile_fn

    return _header_profile_worker(
        webm_profile_fn(),
        (
            "doc_type", "doc_type_version", "timestamp_scale", "duration_ms",
            "n_tracks", "video_codec", "video_width", "video_height",
            "audio_codec", "audio_channels", "audio_sample_rate",
            "n_clusters", "block_bytes",
        ),
    )


def _audio_profile_worker():
    """Worker builder for the audio-container profiler (see
    ``audio_header_profile_fn`` for the field contract)."""
    return _header_profile_worker(
        audio_header_profile_fn(),
        (
            "container", "wav_format", "sample_rate", "n_channels",
            "bits_per_sample", "n_samples", "duration_ms",
        ),
    )


def _jpeg_media_worker(blocks_per_row: int = 8, progressive: bool = False):
    from monster_etl_spark.operators.jpeg import _build_jpeg_codec

    codec_local = _build_jpeg_codec()
    encode_prog_local = codec_local["encode_gray8_progressive_batch"]
    encode_batch_local = codec_local["encode_gray8_batch"]
    bpr = blocks_per_row

    def encode(_mids, texts):
        pixels = _jpeg_block_pixels(texts, bpr)
        if progressive:
            return encode_prog_local(pixels, bpr * 8, 1)
        # one RSTn per block row: restart segments decode to the SAME
        # pixels (DRI only re-segments the entropy stream, so the
        # analytic oracle is untouched) while letting the decoder run its
        # lockstep multi-lane fast path; each chunk encodes in one
        # vectorized pass
        return encode_batch_local(pixels, bpr * 8, 1, restart_interval=bpr)

    return _chunked_media_worker(encode)


def _jpeg_block_pixels(texts, bpr):
    """Gray8 pixel buffers for the JPEG adapters: document byte k becomes
    the constant 8x8 block k, ``bpr`` blocks per row, zero blocks padding
    the last block row."""
    import numpy as np

    out = []
    for text in texts:
        data = bytes(text, "utf-8")
        n_rows = max(1, -(-len(data) // bpr))
        arr = np.frombuffer(data.ljust(n_rows * bpr, b"\x00"), np.uint8)
        # expand 8x horizontally then 8x vertically
        out.append(
            np.repeat(np.repeat(arr.reshape(n_rows, bpr), 8, axis=1), 8, axis=0).tobytes()
        )
    return out


def documents_as_gif_media(documents: DataFrame, width: int = 32) -> DataFrame:
    """Adapter: encode each document's UTF-8 bytes as a real GIF over the
    identity grayscale palette (zero-padded to ``width``-wide rows, the
    PNG adapter's layout). GIF is lossless, so decoded stats are the
    SAME analytic function of code points the PNG oracle uses — the
    registry query reuses PNG_PIXEL_SQL verbatim, and a hash-match
    proves a completely different codec (LZW vs zlib) recovers identical
    pixels. Blobs born on executors; encoder ships by value."""
    return _doc_media_df(documents, _gif_media_worker(width))


def _gif_media_worker(width: int = 32):
    from monster_etl_spark.operators.gif import _build_gif_codec

    encode_local = _build_gif_codec()["encode_gray8"]
    return _chunked_media_worker(
        _per_doc(lambda _m, t: encode_local(bytes(t, "utf-8"), width))
    )


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: synthesize a media table (binary
    content column + metadata struct) from the documents table, since the
    test corpus ships no real blobs."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def resize_images(
    media: DataFrame, width: int, height: int, real_decode: bool = False
) -> DataFrame:
    """Resize plumbing: binary in -> binary out through Arrow-batched
    ``mapInPandas`` (blobs never leave the partition; metadata-only columns
    prune before the Python hop).

    ``real_decode=True``: content decodable by a shipped codec
    (PNG/JPEG/GIF/TIFF/BMP) is pixel-decoded and resampled to
    ``width x height`` with NEAREST NEIGHBOR over decoded pixels
    (numpy integer index maps, channels preserved); the output blob is
    the raw interleaved pixel buffer of the resized image. Undecodable
    content falls back to the deterministic fake kernel below.

    Default (``real_decode=False``): the deterministic fake kernel —
    cycle/truncate bytes to exactly ``width*height`` — kept for callers
    that only need the Spark-side shape (schema, batching, narrow plan)
    without paying a decode.
    """
    target = width * height
    full_decode = _full_decode_fn() if real_decode else None  # ships by value

    def _worker(batches):
        import numpy as np
        import pandas as pd

        def resize_one(c):
            d = full_decode(c) if full_decode is not None else None
            if d is None:  # the fake kernel
                return (c * (target // len(c) + 1))[:target] if c else b"\x00" * target
            w, h, ch, px = d
            a = np.frombuffer(px, np.uint8).reshape(h, w, ch)
            ys = (np.arange(height) * h) // height
            xs = (np.arange(width) * w) // width
            return a[ys][:, xs].tobytes()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "content": [resize_one(bytes(c)) for c in pdf["content"]],
                    "width": width,
                    "height": height,
                }
            )

    return media.select("media_id", "content").mapInPandas(
        _worker, schema="media_id long, content binary, width int, height int"
    )


def frame_sample_ids(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling shape without a codec: deterministic sample positions
    from metadata only (no decode) — the pre-filter that keeps full decode
    off the hot path at scale."""
    return media.select(
        "media_id",
        F.sequence(
            F.lit(0), (F.octet_length("content") / F.lit(every_nth)).cast("int")
        ).alias("frame_ids"),
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def extract_video_frame_stats(media: DataFrame) -> DataFrame:
    """REAL video frame decode for MJPEG-in-AVI and uncompressed
    (BI_RGB 24-bit DIB) AVI content: the RIFF/AVI walker
    (``operators/avi.py``) yields each frame's chunk bytes plus the
    stream's BITMAPINFOHEADER; MJPEG chunks go through the baseline JPEG
    decoder (``operators/jpeg.py``), raw-DIB chunks are header-driven
    (bottom-up BGR rows, 4-byte stride) — one output row PER FRAME with
    dimensions and mean intensity. A blob that is not an AVI (or whose
    codec is neither) yields one ``decoded=false`` row — the media-codec
    contract. Pure stdlib, no codec library; Arrow-batched
    ``mapInPandas``, blobs never shuffle."""
    return media.select("media_id", "content").mapInPandas(
        _video_frame_stats_worker(), schema=VIDEO_FRAME_SCHEMA
    )


def _video_frame_stats_worker():
    """Worker builder for :func:`extract_video_frame_stats` (exposed for
    the fused documents->stats composition)."""
    from monster_etl_spark.operators.avi import _build_avi_codec
    from monster_etl_spark.operators.jpeg import _build_jpeg_codec

    avi_frames_ex_local = _build_avi_codec()["frames_ex"]
    jpeg_batch_local = _build_jpeg_codec()["decode_gray8_batch"]

    def _worker(batches):
        import numpy as np
        import pandas as pd

        def dib_decode(fr, fmt):
            # BI_RGB 24-bit DIB chunk: bottom-up BGR rows, 4-byte stride.
            # Vectorized as a strided reshape + row flip + channel
            # reversal — pure byte moves, identical output to the scalar
            # per-pixel loop it replaces.
            if fmt["bpp"] != 24:
                return None
            w, h = fmt["width"], fmt["height"]
            stride = (3 * w + 3) & ~3
            if w <= 0 or h <= 0 or len(fr) != stride * h:
                return None
            a = np.frombuffer(fr, np.uint8).reshape(h, stride)
            px = a[::-1, : 3 * w].reshape(h, w, 3)[:, :, ::-1]
            return w, h, 3, px.tobytes()

        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "frame_id", "fps", "width", "height",
                "mean_intensity", "decoded",
            )}

            def emit(mid, fid, fps, w, h, mean, ok):
                rows["media_id"].append(mid)
                rows["frame_id"].append(fid)
                rows["fps"].append(fps)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_intensity"].append(mean)
                rows["decoded"].append(ok)

            # two passes per bounded flush: collect the MJPEG frames of a
            # bunch of clips, decode them in one pooled lane pass (each
            # frame is an independent entropy segment — cross-frame
            # batching), then emit rows in the original order. The flush
            # bound keeps frames+pixels memory constant per task no
            # matter how many clips one partition holds.
            parsed_buf = []
            mjpeg_frames = []

            def flush():
                decoded = iter(jpeg_batch_local(mjpeg_frames))
                for mid, parsed in parsed_buf:
                    if parsed is None:
                        emit(mid, None, None, None, None, None, False)
                        continue
                    fps, fmt, frames = parsed
                    raw = fmt is not None and fmt["compression"] == 0
                    for fid, fr in enumerate(frames):
                        d = dib_decode(fr, fmt) if raw else next(decoded)
                        if d is None:
                            emit(mid, fid, fps, None, None, None, False)
                        else:
                            w, h, _ch, px = d
                            pxa = np.frombuffer(bytes(px), np.uint8)
                            # integer HALF_UP 6dp on the exact rational
                            # (see the pixel-stats worker's note)
                            s_ = int(pxa.sum(dtype=np.int64))
                            emit(mid, fid, fps, w, h,
                                 ((2_000_000 * s_ + pxa.size)
                                  // (2 * pxa.size)) / 1e6, True)
                parsed_buf.clear()
                mjpeg_frames.clear()

            for mid, c in zip(pdf["media_id"].astype("int64"), pdf["content"]):
                parsed = avi_frames_ex_local(bytes(c))
                parsed_buf.append((int(mid), parsed))
                if parsed is not None:
                    fps, fmt, frames = parsed
                    if not (fmt is not None and fmt["compression"] == 0):
                        mjpeg_frames.extend(frames)
                if len(mjpeg_frames) >= 32768:
                    flush()
            flush()
            yield pd.DataFrame(rows)

    return _worker


def documents_as_mjpeg_media(
    documents: DataFrame, frame_bytes: int = 16, fps: int = 10
) -> DataFrame:
    """Adapter: pack each document's bytes into an MJPEG-in-AVI clip —
    frame k holds bytes [k*frame_bytes, (k+1)*frame_bytes) as one row of
    constant 8x8 JPEG blocks (the JPEG adapter's lossless construction),
    zero-padded in the final frame. Decoded per-frame stats are an
    analytic function of code-point slices, which is what the registry
    oracle computes. Blobs born on executors; codecs ship by value."""
    return _doc_media_df(documents, _mjpeg_media_worker(frame_bytes, fps))


def _mjpeg_media_worker(frame_bytes: int = 16, fps: int = 10):
    from monster_etl_spark.operators.avi import _build_avi_codec
    from monster_etl_spark.operators.jpeg import _build_jpeg_codec

    avi_encode_local = _build_avi_codec()["encode_mjpeg"]
    jpeg_encode_batch_local = _build_jpeg_codec()["encode_gray8_batch"]
    fb = frame_bytes

    def _worker(batches):
        import numpy as np
        import pandas as pd

        # bounded flushes: chunks of docs encode all their frames in ONE
        # vectorized pass (byte-identical to per-frame encode_gray8),
        # then wrap into AVI containers — without holding a whole Arrow
        # batch's frames live (the 32-worker allocator collapse)
        FRAME_BUDGET = 16384
        for pdf in batches:
            mids = list(pdf["media_id"].astype("int64"))
            content = []
            done = 0
            pixels = []
            counts = []

            def flush():
                """Encode buffered frames, wrap per-doc AVIs, and yield
                the finished slice — small Arrow batches pipeline
                smoothly and keep worker memory flat."""
                nonlocal done
                frames = jpeg_encode_batch_local(pixels, fb * 8, 1)
                at = 0
                for n_frames in counts:
                    content.append(
                        avi_encode_local(
                            frames[at : at + n_frames], fb * 8, 8, fps
                        )
                    )
                    at += n_frames
                pixels.clear()
                counts.clear()
                out = pd.DataFrame(
                    {
                        "media_id": mids[done : done + len(content)],
                        "content": list(content),
                    }
                )
                done += len(content)
                content.clear()
                return out

            for text in pdf["text"]:
                data = bytes(text, "utf-8")
                n_frames = max(1, -(-len(data) // fb))
                padded = data.ljust(n_frames * fb, b"\x00")
                rows = np.repeat(
                    np.frombuffer(padded, np.uint8).reshape(n_frames, fb),
                    8,
                    axis=1,
                )
                flat = np.repeat(rows, 8, axis=0).reshape(n_frames, 8 * fb * 8)
                pixels.extend(flat.tobytes()[k * 8 * fb * 8 : (k + 1) * 8 * fb * 8]
                              for k in range(n_frames))
                counts.append(n_frames)
                if len(pixels) >= FRAME_BUDGET:
                    yield flush()
            if counts:
                yield flush()

    return _worker


def documents_as_dib_avi_media(
    documents: DataFrame, frame_bytes: int = 16, fps: int = 10
) -> DataFrame:
    """Adapter: pack each document's bytes into an UNCOMPRESSED
    (BI_RGB 24-bit DIB) AVI clip — frame k holds bytes
    [k*2*frame_bytes, (k+1)*2*frame_bytes) as a ``frame_bytes``-wide,
    2-row grayscale image (each byte replicated across B,G,R), stored
    bottom-up with stride padding, zero-padded in the final frame. Raw
    frames are lossless, so per-frame stats are an analytic function of
    code-point slices. Blobs born on executors; encoder ships by
    value."""
    return _doc_media_df(documents, _dib_avi_media_worker(frame_bytes, fps))


def _dib_avi_media_worker(frame_bytes: int = 16, fps: int = 10):
    from monster_etl_spark.operators.avi import _build_avi_codec

    avi_encode_dib_local = _build_avi_codec()["encode_dib"]
    fb = frame_bytes

    def doc_to_avi(_m, text):
        data = bytes(text, "utf-8")
        per = 2 * fb  # 2 rows per frame
        n_frames = max(1, -(-len(data) // per))
        padded = data.ljust(n_frames * per, b"\x00")
        frames = [padded[k * per : (k + 1) * per] for k in range(n_frames)]
        return avi_encode_dib_local(frames, fb, 2, fps)

    return _chunked_media_worker(_per_doc(doc_to_avi))


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def extract_audio_stats(media: DataFrame, codec: str = "wav") -> DataFrame:
    """REAL audio sample decode + per-clip statistics, streamed through
    Arrow-batched ``mapInPandas``. ``codec="wav"`` covers the RIFF
    family (``operators/wav.py`` — PCM 8/16/24/32-bit, IEEE float,
    G.711 mu-law/A-law, IMA ADPCM); ``codec="flac"`` the lossless
    bitstream format (``operators/flac.py`` — Rice/FIXED/LPC subframes,
    CRC + MD5 verified). Undecodable blobs (unsupported formats, junk)
    yield ``decoded=false`` with null stats — the image codecs'
    contract.

    ``n_samples`` is frames per channel; ``peak_abs``/``rms`` are over
    ALL interleaved samples. Sums run in exact integer arithmetic (each
    v² and their total stay under 2^53), so the one float step —
    sqrt(ssq/n) — is IEEE-identical across engines; callers round
    JVM-side with ``F.round`` (the PNG-stats discipline)."""
    return media.select("media_id", "content").mapInPandas(
        _audio_stats_worker(codec), schema=AUDIO_STATS_SCHEMA
    )


def _audio_stats_worker(codec: str = "wav"):
    """Worker builder for :func:`extract_audio_stats` (exposed for the
    fused documents->stats composition)."""
    if codec == "wav":
        from monster_etl_spark.operators.wav import _build_wav_codec

        wav_decode_local = _build_wav_codec()["decode"]
    elif codec == "flac":
        from monster_etl_spark.operators.flac import _build_flac_codec

        wav_decode_local = _build_flac_codec()["decode"]
    else:
        raise ValueError(f"unknown audio codec {codec!r}")

    def _worker(batches):
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {
                "media_id": pdf["media_id"].astype("int64"),
                "sample_rate": [], "n_channels": [], "n_samples": [],
                "duration_sec": [], "peak_abs": [], "rms": [], "decoded": [],
            }
            for c in pdf["content"]:
                d = wav_decode_local(bytes(c))
                if d is None:
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_sec", "peak_abs", "rms"):
                        rows[k].append(None)
                    rows["decoded"].append(False)
                    continue
                rate, n_ch, _bits, samples = d
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(n_ch)
                n_samp = len(samples) // n_ch
                rows["n_samples"].append(n_samp)
                # integer HALF_UP 6dp on the exact rational n/rate —
                # the r9 flac tie class (1001/16000 = 0.0625625) fixed
                # at the source instead of documented (see the
                # pixel-stats worker's note on the mechanism)
                rows["duration_sec"].append(
                    ((2_000_000 * n_samp + rate) // (2 * rate)) / 1e6
                )
                if samples:
                    arr = np.asarray(samples, np.int64)
                    peak = int(np.abs(arr).max())
                    rows["peak_abs"].append(peak)
                    if peak < (1 << 16):
                        # int64 square sum exact: n * (2^16)^2 < 2^63 up
                        # to 2^31 samples — the exact integer the scalar
                        # sum() builds, so sqrt of the same rational is
                        # IEEE-identical (all 16-bit-or-less content)
                        sq = int((arr * arr).sum(dtype=np.int64))
                    else:
                        sq = sum(v * v for v in samples)  # arbitrary precision
                    rows["rms"].append(math.sqrt(sq / arr.size))
                else:
                    rows["peak_abs"].append(None)
                    rows["rms"].append(None)
                rows["decoded"].append(True)
            yield pd.DataFrame(rows)

    return _worker


def documents_as_wav_media(documents: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Adapter: each document byte becomes one mono PCM-16 sample at
    ``(byte - 128) * 256`` — lossless through the WAV round-trip, so the
    decoded statistics are an analytic function of code points (the
    image adapters' trick, applied to audio). Blobs born on executors;
    encoder ships by value."""
    return _doc_media_df(documents, _wav_media_worker(sample_rate))


def _wav_media_worker(sample_rate: int = 16000):
    from monster_etl_spark.operators.wav import _build_wav_codec

    encode_local = _build_wav_codec()["encode_pcm16"]
    return _chunked_media_worker(
        _per_doc(
            lambda _m, t: encode_local(
                [(v - 128) * 256 for v in bytes(t, "utf-8")], sample_rate
            )
        )
    )


def documents_as_g711_media(
    documents: DataFrame, law: str = "ulaw", sample_rate: int = 8000
) -> DataFrame:
    """Adapter: each document byte becomes one mono 16-bit sample at
    ``(byte - 80) * 301`` (both signs, all G.711 segments, odd multiplier
    so the encoders' floor shifts see non-aligned magnitudes), clamped to
    int16 and G.711-compressed (mu-law or A-law WAV, format 7/6). The
    composition decode(encode(x)) is a deterministic integer function the
    DuckDB oracle replicates segment-by-segment. Blobs born on executors;
    encoder ships by value."""
    return _doc_media_df(documents, _g711_media_worker(law, sample_rate))


def _g711_media_worker(law: str = "ulaw", sample_rate: int = 8000):
    from monster_etl_spark.operators.wav import _build_wav_codec

    encode_local = _build_wav_codec()["encode_g711"]
    return _chunked_media_worker(
        _per_doc(
            lambda _m, t: encode_local(
                [(v - 80) * 301 for v in bytes(t, "utf-8")], law, sample_rate
            )
        )
    )


def documents_as_adpcm_media(
    documents: DataFrame,
    sample_rate: int = 16000,
    block_bytes: int = 36,
    max_samples: int = 96,
) -> DataFrame:
    """Adapter: the first ``max_samples`` document bytes become mono
    16-bit samples at ``(byte - 128) * 256``, IMA-ADPCM-compressed with
    ``block_bytes``-byte blocks — small enough that a document spans
    MULTIPLE blocks (65 samples/block at the default), exercising the
    per-block header (verbatim first sample, carried step index). The
    prefix bound exists for the oracle: ADPCM is a sequential recurrence,
    which the DuckDB side replicates with a recursive CTE whose iteration
    count is ``max_samples``. Blobs born on executors; encoder ships by
    value."""
    return _doc_media_df(
        documents, _adpcm_media_worker(sample_rate, block_bytes, max_samples)
    )


def _adpcm_media_worker(
    sample_rate: int = 16000, block_bytes: int = 36, max_samples: int = 96
):
    from monster_etl_spark.operators.wav import _build_wav_codec

    encode_local = _build_wav_codec()["encode_adpcm"]
    # truncate CHARACTERS first, then encode: the DuckDB oracle slices
    # with substr(text, 1, n) (character semantics), and a byte-prefix
    # slice of non-ASCII text would both diverge from it and risk
    # splitting a multi-byte code point
    return _chunked_media_worker(
        _per_doc(
            lambda _m, t: encode_local(
                [(v - 128) * 256 for v in bytes(t[:max_samples], "utf-8")],
                sample_rate,
                block_bytes,
            )
        )
    )


def documents_as_tiff_media(
    documents: DataFrame, width: int = 32, rows_per_strip: int = 8
) -> DataFrame:
    """Adapter: each document's UTF-8 bytes become a real gray8 TIFF
    (LZW-compressed with the horizontal-differencing predictor,
    multi-strip at the default ``rows_per_strip`` so strip assembly is
    exercised), zero-padded to ``width``-wide rows — the SAME pixel
    layout as ``documents_as_png_media``, and TIFF is lossless, so the
    PNG analytic oracle applies verbatim while the decode path runs
    IFD/strip/TIFF-LZW/predictor for real. Blobs born on executors;
    encoder ships by value."""
    return _doc_media_df(documents, _tiff_media_worker(width, rows_per_strip))


def _tiff_media_worker(width: int = 32, rows_per_strip: int = 8):
    from monster_etl_spark.operators.tiff import _build_tiff_codec

    encode_local = _build_tiff_codec()["encode_gray8"]
    return _chunked_media_worker(
        _per_doc(
            lambda _m, t: encode_local(bytes(t, "utf-8"), width, rows_per_strip, 5, 2)
        )
    )


def documents_as_bmp_media(documents: DataFrame, width: int = 32) -> DataFrame:
    """Adapter: each document's UTF-8 bytes become a real 8-bit
    identity-grayscale-palette BMP, zero-padded to ``width``-wide rows —
    the SAME pixel layout as ``documents_as_png_media``, and BMP is
    lossless, so the PNG analytic oracle applies verbatim. Odd doc_ids
    ride ``BI_RLE8`` and even ones the raw bottom-up path, so one corpus
    exercises both the run-length and stride/flip machinery. Blobs born
    on executors; encoder ships by value."""
    return _doc_media_df(documents, _bmp_media_worker(width))


def _bmp_media_worker(width: int = 32):
    from monster_etl_spark.operators.bmp import _build_bmp_codec

    encode_local = _build_bmp_codec()["encode_gray8"]
    return _chunked_media_worker(
        _per_doc(lambda m, t: encode_local(bytes(t, "utf-8"), width, bool(m % 2)))
    )


def documents_as_webp_media(documents: DataFrame, width: int = 32) -> DataFrame:
    """Adapter: each document's UTF-8 bytes become a real lossless WebP
    (VP8L) with the SAME 32-wide gray pixel layout as the PNG adapter.
    ``doc_id % 3`` picks the bitstream layout — subtract-green +
    color-cache + LZ77 runs, predictor-transform tile grid, or
    color-indexing with sub-byte bundling — so one corpus exercises
    three independent VP8L decode paths. All three are lossless, so the
    analytic PNG oracle applies verbatim. Blobs born on executors;
    encoder ships by value."""
    return _doc_media_df(documents, _webp_media_worker(width))


def _webp_media_worker(width: int = 32, static_codes: bool = True):
    from monster_etl_spark.operators.webp import _build_webp_codec

    encode_local = _build_webp_codec()["encode_gray8"]
    modes = ("lz77", "predictor", "palette")
    # static_codes: the fixed build-time prefix plans — the per-image
    # Huffman+description floor collapses to an array replay, and every
    # blob shares the decoder's memoized description parse (same pixels
    # either way). Adaptive per-image codes stay first-class via their
    # own registry row (multimodal_webp_adaptive_stats).
    return _chunked_media_worker(
        _per_doc(
            lambda m, t: encode_local(
                bytes(t, "utf-8"), width, modes[m % 3], static_codes
            )
        )
    )


def documents_as_flac_media(
    documents: DataFrame, sample_rate: int = 16000
) -> DataFrame:
    """Adapter: each document byte becomes one mono 16-bit sample at
    ``(byte - 128) * 256`` and the clip is FLAC-compressed (FIXED
    predictors + Rice residuals, CRC-8/16 + STREAMINFO MD5). FLAC is
    LOSSLESS, so the decoded statistics are the same analytic function
    of code points as the PCM WAV query — the oracle is shared verbatim
    while the Spark side exercises the whole bitstream path. Blobs born
    on executors; encoder ships by value."""
    return _doc_media_df(documents, _flac_media_worker(sample_rate))


def _flac_media_worker(sample_rate: int = 16000):
    from monster_etl_spark.operators.flac import _build_flac_codec

    encode_local = _build_flac_codec()["encode_pcm16"]
    return _chunked_media_worker(
        _per_doc(
            lambda _m, t: encode_local(
                [(v - 128) * 256 for v in bytes(t, "utf-8")], sample_rate, 1
            )
        )
    )


def audio_window_spans(
    media: DataFrame,
    sample_rate_col: str = "sample_rate",
    n_samples_col: str = "n_samples",
    win_s: float = 1.0,
    hop_s: float = 0.5,
) -> DataFrame:
    """Audio framing plumbing (the windowing pass of an ASR/feature
    pipeline) from typed metadata only — no decode, no Python. One span
    per hop while the window start is inside the clip; the final window
    is truncated at the clip end (every sample is covered, trailing
    partials included). Pure `sequence` + `explode` + arithmetic — a
    narrow map whose output is ~n/hop rows per clip, so at 100 TB the
    spans table streams straight into the (stubbed) decode stage with no
    shuffle.

    Returns (media_id, win_id, start_sample, end_sample, start_sec,
    end_sec); rows with zero samples produce no spans.
    """
    sr = F.col(sample_rate_col).cast("long")
    n = F.col(n_samples_col).cast("long")
    # clamp to >= 1 sample: a sub-sample window/hop (sr * secs < 1) would
    # otherwise divide by zero and silently drop the clip
    win = F.greatest(F.floor(sr * F.lit(float(win_s))).cast("long"), F.lit(1).cast("long"))
    hop = F.greatest(F.floor(sr * F.lit(float(hop_s))).cast("long"), F.lit(1).cast("long"))
    spans = media.filter(n > 0).select(
        "media_id",
        sr.alias("__sr__"),
        n.alias("__n__"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.floor((n - 1) / hop).cast("long"))
        ).alias("win_id"),
        win.alias("__win__"),
        hop.alias("__hop__"),
    )
    start = F.col("win_id") * F.col("__hop__")
    end = F.least(start + F.col("__win__"), F.col("__n__"))
    return spans.select(
        "media_id",
        "win_id",
        start.alias("start_sample"),
        end.alias("end_sample"),
        F.round(start.cast("double") / F.col("__sr__"), 6).alias("start_sec"),
        F.round(end.cast("double") / F.col("__sr__"), 6).alias("end_sec"),
    )


GIF_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("delay_cs", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def extract_gif_frame_stats(media: DataFrame) -> DataFrame:
    """REAL animated-GIF timeline decode: ``operators/gif.py``'s canvas
    composition (disposal methods + transparency) yields one full-canvas
    snapshot per frame — one output row PER FRAME with the canvas dims,
    the frame's delay, and the mean intensity of the COMPOSED canvas
    (identity-palette gray = the R channel). A blob that is not a GIF
    yields one ``decoded=false`` row — the media-codec contract. Pure
    stdlib, Arrow-batched ``mapInPandas``, blobs never shuffle.

    Round-8: the per-blob timeline decode is POOLED
    (``decode_frame_stats_batch``): LZW code extraction runs as a few
    large vector ops over every frame of every blob in a bounded
    sub-batch, and canvas composition advances all blobs frame-by-frame
    in lockstep over an R-plane canvas pool — same output tuples
    (parity-asserted in tests/test_gif.py), ~6 numpy calls per ROUND
    instead of per FRAME. Bounded 48-blob sub-batches keep every pooled
    array cache-resident under 32-way concurrency (a 256-blob pool
    streams ~30 MB/phase per core and saturates DRAM — the round-7
    concurrency-collapse class) and the Arrow yields small."""
    return media.select("media_id", "content").mapInPandas(
        _gif_frame_stats_worker(), schema=GIF_FRAME_SCHEMA
    )


def _gif_frame_stats_worker():
    """Worker builder for :func:`extract_gif_frame_stats` — exposed so
    the fused documents->stats operator can compose it directly behind
    one ``mapInPandas`` (no intermediate blob serialization)."""
    from monster_etl_spark.operators.gif import _build_gif_codec

    batch_stats_local = _build_gif_codec()["decode_frame_stats_batch"]

    def _worker(batches):
        import numpy as np
        import pandas as pd

        CHUNK = 48  # pooled arrays ~1-2 MB/phase: stays cache-resident
        # under 32-way concurrency (a 256-blob pool streams ~30 MB per
        # phase and saturates DRAM bandwidth when every core does it)
        for pdf in batches:
            mid_all = pdf["media_id"].astype("int64")
            blob_all = pdf["content"]
            for lo in range(0, len(blob_all), CHUNK):
                chunk = [bytes(c) for c in blob_all.iloc[lo : lo + CHUNK]]
                mchunk = mid_all.iloc[lo : lo + CHUNK]
                decoded = batch_stats_local(chunk)
                # columnar assembly: a clip's frames land as numpy
                # slices, not 18M Python list appends — the per-ROW cost
                # of the frame-level output (37 rows/doc) dominated the
                # sf10 wall before the decode itself did
                mids, fids, delays, ws, hs, means, oks = [], [], [], [], [], [], []
                for mid, parsed in zip(mchunk, decoded):
                    if parsed is None:
                        mids.append(np.array([int(mid)], np.int64))
                        fids.append(np.zeros(1, np.int64))
                        delays.append(np.zeros(1, np.int64))
                        ws.append(np.zeros(1, np.int64))
                        hs.append(np.zeros(1, np.int64))
                        means.append(np.zeros(1, np.float64))
                        oks.append(np.zeros(1, bool))
                        continue
                    w, h, nf, stats = parsed
                    npx = w * h
                    st = np.asarray(stats, np.int64).reshape(nf, 2)
                    mids.append(np.full(nf, int(mid), np.int64))
                    fids.append(np.arange(nf, dtype=np.int64))
                    delays.append(st[:, 0])
                    ws.append(np.full(nf, w, np.int64))
                    hs.append(np.full(nf, h, np.int64))
                    # vectorized integer HALF_UP 6dp on the exact
                    # rationals (see the pixel-stats worker's note);
                    # int64-safe: 2e6 * (255 * 40960-px canvas) ~ 2e13
                    means.append(
                        ((2_000_000 * st[:, 1] + npx) // (2 * npx)) / 1e6
                    )
                    oks.append(np.ones(nf, bool))
                ok = np.concatenate(oks)
                miss = ~ok
                yield pd.DataFrame(
                    {
                        "media_id": np.concatenate(mids),
                        "frame_id": pd.arrays.IntegerArray(
                            np.concatenate(fids), miss.copy()
                        ),
                        "delay_cs": pd.arrays.IntegerArray(
                            np.concatenate(delays), miss.copy()
                        ),
                        "width": pd.arrays.IntegerArray(
                            np.concatenate(ws), miss.copy()
                        ),
                        "height": pd.arrays.IntegerArray(
                            np.concatenate(hs), miss.copy()
                        ),
                        "mean_intensity": pd.arrays.FloatingArray(
                            np.concatenate(means), miss.copy()
                        ),
                        "decoded": ok,
                    }
                )

    return _worker


def documents_as_animated_gif_media(
    documents: DataFrame, frame_bytes: int = 16, delay_cs: int = 5
) -> DataFrame:
    """Adapter: pack each document's bytes into an ANIMATED GIF whose
    timeline genuinely exercises composition — frame k draws only its
    own 8-pixel band (bytes [k*frame_bytes, (k+1)*frame_bytes) as 8x8
    constant blocks) at offset top=k*8 on a taller logical screen with
    disposal=leave, so the COMPOSED frame k shows bands 0..k and the
    per-frame stats are cumulative code-point sums (what the registry
    oracle computes analytically). Frames after the first also carry
    transparent-index 0, exercising the transparency path without
    changing the composed pixels (transparent band pixels reveal the
    background-0 canvas). Blobs born on executors; codec ships by
    value."""
    return _doc_media_df(
        documents, _animated_gif_media_worker(frame_bytes, delay_cs)
    )


def _animated_gif_media_worker(frame_bytes: int, delay_cs: int):
    """Worker builder for :func:`documents_as_animated_gif_media` —
    exposed for the fused documents->stats composition."""
    from monster_etl_spark.operators.gif import _build_gif_codec

    _codec = _build_gif_codec()
    pack_rows_local = _codec["pack_lzw_8bit_rows"]
    header_local = _codec["_identity_header"]
    fb = frame_bytes
    desc_w = fb * 8

    # every frame of every doc is a uniform fb*8 x 8 band (the tail frame
    # is zero-padded to fb bytes), so LZW packing pools across the WHOLE
    # chunk (one pack_lzw_8bit_rows call); assembly stitches per-doc
    # headers + per-frame control blocks around the pooled image-data
    # sections. Byte-identical to the per-frame encode_frames
    # construction (asserted in tests/test_gif.py).
    def chunk_to_gifs(_mids, texts):
        import struct

        import numpy as np

        netscape = b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", 0) + b"\x00"
        datas = [bytes(t, "utf-8") for t in texts]
        n_frames = [max(1, -(-len(d) // fb)) for d in datas]
        # (total_frames, fb) band bytes -> (total_frames, fb*64) pixels
        bands = np.frombuffer(
            b"".join(d.ljust(n * fb, b"\x00") for d, n in zip(datas, n_frames)),
            np.uint8,
        ).reshape(-1, fb)
        pixels = np.repeat(bands, 8, axis=1)  # 8x horizontal blocks
        pixels = np.repeat(pixels, 8, axis=0).reshape(-1, 8 * desc_w)
        packed = pack_rows_local(pixels)
        out = []
        fi = 0
        for n in n_frames:
            blob = bytearray(header_local(desc_w, 8 * n))
            blob += netscape
            for k in range(n):
                flags = (1 & 7) << 2  # disposal=1
                tindex = 0
                if k:
                    flags |= 1  # transparent index 0
                blob += (
                    b"\x21\xf9\x04" + bytes([flags])
                    + struct.pack("<H", delay_cs) + bytes([tindex, 0])
                )
                blob += b"\x2c" + struct.pack("<HHHH", 0, k * 8, desc_w, 8) + b"\x00"
                blob += packed[fi]
                fi += 1
            blob += b"\x3b"
            out.append(bytes(blob))
        return out

    # 48-doc chunks keep the pooled code/bit matrices cache-resident
    # under 32-way concurrency (a 256-doc pool streams ~20 MB/phase per
    # core and saturates DRAM)
    return _chunked_media_worker(chunk_to_gifs, chunk=48)


def gif_frame_stats_from_documents(
    documents: DataFrame, frame_bytes: int = 16, delay_cs: int = 5
) -> DataFrame:
    """Fused documents -> animated-GIF -> per-frame timeline stats in ONE
    ``mapInPandas`` pass: the encode worker's output batches feed the
    decode worker's input iterator directly inside the same Python
    process. Row-identical to ``extract_gif_frame_stats(
    documents_as_animated_gif_media(docs))`` (parity-asserted in tests),
    which keeps BOTH standalone operators the API for blobs that come
    from real storage.

    Why fuse: two adjacent ``mapInPandas`` stages each cross the
    Python<->JVM Arrow boundary, so the synthesized blobs (~35 KB/doc,
    ~1.7 GB at sf1) serialize TWICE for no reason — Catalyst cannot fuse
    Python map operators the way it fuses JVM projections, so the
    operator does it. On a real media corpus the blobs come from parquet
    (one unavoidable deserialize) and the standalone extractor is the
    right call; the fusion matters exactly when one pipeline both
    synthesizes and analyzes media. Measured at sf1 (local[32], warm):
    7.9 -> ~5 s on multimodal_gif_frame_stats."""
    return fused_media_stats(
        documents,
        _animated_gif_media_worker(frame_bytes, delay_cs),
        _gif_frame_stats_worker(),
        GIF_FRAME_SCHEMA,
    )
