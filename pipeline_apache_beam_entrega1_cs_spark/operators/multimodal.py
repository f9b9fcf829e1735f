"""Multimodal column plumbing (SURVEY.md §2B "Multimodal columns").

Images/audio/video ride as opaque ``binary`` columns with typed metadata
structs alongside relational data. The Spark-side plumbing is real —
schemas, Arrow-batched Pandas UDF boundaries, partition-friendly layout;
the actual codec step is a deterministic FAKE (the container ships no
image/audio libraries), clearly marked and swappable for a real decoder.

At 100 TB the pattern that matters: keep payload bytes in their own
parquet column (columnar pruning means metadata-only queries never read
the blobs), decode with ``mapInPandas`` (Arrow batches, not per-row
pickling), and never collect payloads to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shuffle_partitions

DECODED_SCHEMA = (
    "doc_id long, byte_len long, width int, height int, mode string"
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column (UTF-8 bytes of the text field —
    the deterministic stand-in for real image/audio bytes)."""
    return docs.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def binary_metadata(docs: DataFrame) -> DataFrame:
    """Pure-native metadata over a binary column: byte length, content
    hash, hex prefix — the queries a 100 TB pipeline runs WITHOUT
    decoding (and, thanks to columnar pruning, without reading payloads
    when metadata is pre-materialized)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.sha2(payload, 256).alias("content_sha256"),
        F.lower(F.hex(F.substring(F.col("text"), 1, 8))).alias("hex_prefix"),
    )


def fake_decode_image(docs_with_payload: DataFrame) -> DataFrame:
    """'Decode' binary payloads via mapInPandas (Arrow batch iterator —
    the real-decoder integration point).

    STUB: a real build would call PIL/libvips here. The fake derives
    deterministic pseudo-dimensions from the byte length so the full
    plumbing (batch shapes, schema contract, null payloads) is testable.
    """
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blens = pdf["payload"].map(lambda b: 0 if b is None else len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": blens.astype("int64"),
                    "width": (blens % 640 + 1).astype("int32"),
                    "height": (blens % 480 + 1).astype("int32"),
                    "mode": ["RGB" if b % 2 == 0 else "L" for b in blens],
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        decode, schema=DECODED_SCHEMA
    )


RESIZED_SCHEMA = (
    "doc_id long, in_w int, in_h int, out_w int, out_h int, "
    "stride long, thumb_hex string, thumb_len int"
)


def resize_image_stub(docs_with_payload: DataFrame, box: int = 224) -> DataFrame:
    """'Resize' binary payloads via mapInPandas — the third member of
    the decode / feature-extract / resize / frame-sample plumbing set.
    The Arrow-batch boundary, schema contract, and batch shapes are
    REAL (a production build calls PIL.Image.thumbnail here); the stub
    stands in deterministically so the whole stage is oracle-replayable:

    - input dims follow fake_decode_image's length-derived convention
      (w = len % 640 + 1, h = len % 480 + 1);
    - output dims are the aspect-preserving fit into a ``box`` square:
      scale = min(box/w, box/h) (clamped at 1 — never upscale),
      out = max(1, floor(dim * scale)) — the exact arithmetic any
      thumbnailer performs, so cross-engine parity pins the contract;
    - the 'pixel' content is a strided byte thumbnail: every
      (len div 32, floor-capped at >= 1)-th byte, first 16 kept, hex
      lowercase — standing in for the resampled pixel buffer while
      staying reproducible in SQL (hex-string slicing).

    100 TB shape: map-only over Arrow batches; payload bytes never
    shuffle and never reach the driver."""
    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                blen = 0 if b is None else len(b)
                w, h = blen % 640 + 1, blen % 480 + 1
                scale = min(box / w, box / h, 1.0)
                out_w = max(1, int(w * scale))
                out_h = max(1, int(h * scale))
                stride = max(1, blen // 32)
                thumb = (b or b"")[::stride][:16]
                rows.append(
                    (doc_id, w, h, out_w, out_h, stride,
                     thumb.hex(), len(thumb))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "in_w", "in_h", "out_w", "out_h",
                         "stride", "thumb_hex", "thumb_len"],
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        resize, schema=RESIZED_SCHEMA
    )


# Synthetic magic-number headers keyed by doc_id % 4 — the deterministic
# stand-in for a mixed image corpus (real PNG/JPEG/GIF magics; slot 3
# gets no header and detects as raw/unknown).
MAGIC_HEADERS = [
    ("png", "89504E470D0A1A0A"),
    ("jpeg", "FFD8FFE0"),
    ("gif", "474946383761"),
    ("raw", ""),
]


def with_magic_payload(docs: DataFrame) -> DataFrame:
    """Binary payloads carrying real format magic numbers: header bytes
    (by doc_id % 4) prepended to the UTF-8 text bytes.

    The ``%`` stays sign-preserving (both Spark and DuckDB agree) and
    the ``otherwise`` mirrors the oracle's ``ELSE unhex('')`` — so a
    negative or NULL doc_id gets an empty header on both engines instead
    of a NULL payload on one side only."""
    hdr = F.when(F.col("doc_id") % 4 == 0, F.unhex(F.lit(MAGIC_HEADERS[0][1])))
    for i in (1, 2, 3):
        hdr = hdr.when(
            F.col("doc_id") % 4 == i, F.unhex(F.lit(MAGIC_HEADERS[i][1]))
        )
    hdr = hdr.otherwise(F.unhex(F.lit("")))
    return docs.withColumn(
        "payload", F.concat(hdr, F.encode(F.col("text"), "UTF-8"))
    )


def _le_uint(p, pos, nbytes: int):
    """Little-endian unsigned integer (BIGINT) of the ``nbytes`` bytes
    of binary column ``p`` from 1-based position ``pos`` (an int, or a
    long Column cast to int per byte)."""
    v = F.lit(0).cast("long")
    for i in range(nbytes):
        at = pos + i if isinstance(pos, int) else (pos + i).cast("int")
        v = v + F.conv(F.hex(F.substring(p, at, 1)), 16, 10).cast(
            "long"
        ) * F.lit(256**i)
    return v


def _be_uint(p, off, nbytes: int):
    """Big-endian unsigned integer (BIGINT) of the ``nbytes`` bytes of
    binary column ``p`` from 0-based Column offset ``off``."""
    return F.conv(
        F.hex(F.substring(p, (off + 1).cast("int"), nbytes)), 16, 10
    ).cast("long")


def _be_hex(v, nbytes: int):
    """Big-endian hex of integer column ``v``, zero-padded to
    ``nbytes`` bytes — the writer's side of _be_uint."""
    return F.lpad(F.hex(v.cast("long")), 2 * nbytes, "0")


def with_container_payload(docs: DataFrame) -> DataFrame:
    """Binary payloads with real container structure: doc_id % 4 == 0
    rows get a PNG prefix that is structurally valid through its first
    chunk — the 8-byte magic plus a real IHDR (length 13, type 'IHDR',
    big-endian u32 width/height derived from doc_id, bit depth 8, color
    type 2 truecolor) — followed by the UTF-8 text bytes as stand-in
    chunk data; the other residues get the bare JPEG/GIF/none magics
    from MAGIC_HEADERS. Deterministic, so fixed-offset parsing is
    testable against a SQL oracle; the `%` stays sign-preserving and
    the otherwise-branch mirrors the oracle's ELSE (empty header)."""
    width = F.col("doc_id") % 640 + 16
    height = F.col("doc_id") % 480 + 16
    png_hdr = F.concat(
        F.lit("89504E470D0A1A0A"),  # magic
        F.lit("0000000D"),          # IHDR data length = 13
        F.lit("49484452"),          # chunk type 'IHDR'
        _be_hex(width, 4),
        _be_hex(height, 4),
        F.lit("08"),                # bit depth
        F.lit("02"),                # color type: truecolor
    )
    hdr = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(png_hdr))
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit(MAGIC_HEADERS[1][1])))
        .when(F.col("doc_id") % 4 == 2, F.unhex(F.lit(MAGIC_HEADERS[2][1])))
        .otherwise(F.unhex(F.lit("")))
    )
    return docs.withColumn(
        "payload", F.concat(hdr, F.encode(F.col("text"), "UTF-8"))
    )


def png_ihdr_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Fixed-offset container metadata extraction WITHOUT a codec: the
    real first step of a multimodal ingest that needs image dimensions
    before deciding what to decode. Validates the 8-byte PNG magic and
    the IHDR chunk type at bytes 13-16, then reads big-endian u32
    width/height at offsets 17/21 and bit depth / color type at 25/26 —
    BINARY substring + base-16 conv only, O(1) per row no matter how
    large the blob, pure native expressions (no Python, no decode).
    Non-PNG payloads keep their row with NULL dimensions (an ingest
    report wants the row, not a silent drop)."""
    p = F.col("payload")
    is_png = (F.hex(F.substring(p, 1, 8)) == "89504E470D0A1A0A") & (
        F.hex(F.substring(p, 13, 4)) == "49484452"
    )

    def be_uint(pos: int, nbytes: int):
        return F.conv(F.hex(F.substring(p, pos, nbytes)), 16, 10).cast("long")

    return docs_with_payload.select(
        "doc_id",
        is_png.cast("long").alias("is_png"),
        F.when(is_png, be_uint(17, 4)).alias("width"),
        F.when(is_png, be_uint(21, 4)).alias("height"),
        F.when(is_png, be_uint(25, 1)).alias("bit_depth"),
        F.when(is_png, be_uint(26, 1)).alias("color_type"),
    )


def detect_format(docs_with_payload: DataFrame) -> DataFrame:
    """Magic-number format detection over a binary column — the first
    pass a multimodal ingest runs on opaque blobs. Pure native
    expressions: slice the first 8 bytes (BINARY substring — never hex
    the whole payload; at 100 TB the blobs are MBs and the sniff must
    stay O(1) per row), hex them, and prefix-match against the magic
    table. Detection precedence mirrors file(1): longest magic first."""
    prefix = F.hex(F.substring(F.col("payload"), 1, 8))
    fmt = (
        F.when(prefix.startswith("89504E470D0A1A0A"), F.lit("png"))
        .when(prefix.startswith("FFD8FF"), F.lit("jpeg"))
        .when(prefix.startswith("474946383761"), F.lit("gif"))
        .otherwise(F.lit("unknown"))
    )
    return docs_with_payload.select(
        "doc_id",
        F.length("payload").cast("long").alias("byte_len"),
        prefix.alias("prefix_hex"),
        fmt.alias("detected_format"),
    )


def byte_entropy(docs: DataFrame, max_bytes: int = 256,
                 payload_col: str = "payload") -> DataFrame:
    """Byte-level stats over a binary column: total byte length, and
    distinct-byte count + Shannon entropy (bits/byte) of the first
    ``max_bytes`` bytes — the cheap randomness probe that separates
    compressed/encrypted payloads (entropy ~8) from text (~4-5) without
    decoding. The compressibility gate of a multimodal curation pass.

    Stats run over ``payload_col`` when the input carries it (e.g.
    with_magic_payload output); absent that, over the UTF-8 bytes of
    ``text`` — never silently the wrong one.

    Shape: slice the payload (BINARY substring, O(max_bytes) per row no
    matter how big the blob), hex it, split into byte pairs — then stay
    ENTIRELY per-row: sort the pair array and derive run-lengths with
    higher-order functions (run starts where s[i] != s[i-1]), giving
    byte frequencies without exploding. H = log2(n) - (Σ c·log2 c)/n
    over the run-length array via F.aggregate. Zero shuffles, zero row
    inflation: the explode + double-groupBy form pushes a ×max_bytes
    row inflation into its first Exchange, this form shuffles nothing.
    (A single-pass struct-accumulator F.aggregate is slower:
    per-element struct construction dominates.) Zero-length payloads drop
    out (consistently with the UNNEST-based oracle)."""
    frame = _byte_run_frame(docs, max_bytes, payload_col)
    n = F.size(F.col("_s"))
    sum_clogc = F.aggregate(
        F.col("_counts"), F.lit(0.0), lambda acc, c: acc + c * F.log2(c)
    )
    return frame.select(
        "doc_id",
        "byte_len",
        n.cast("long").alias("n_bytes"),
        F.size(F.col("_starts")).cast("long").alias("n_distinct_bytes"),
        F.round(F.log2(n) - sum_clogc / n, 6).alias("entropy_bits"),
    )


def byte_chisq(docs: DataFrame, max_bytes: int = 256,
               payload_col: str = "payload") -> DataFrame:
    """Chi-square statistic of the byte histogram (first ``max_bytes``
    bytes) against the uniform distribution — the classic
    compressed/encrypted-vs-structured classifier (ent(1)'s chi-square
    test): random bytes land near 256 d.o.f., text scores orders of
    magnitude higher. Complements entropy_bits: chi-square keeps
    resolving differences entropy saturates on.

    Same zero-shuffle run-length decomposition as byte_entropy; the
    algebra collapses to chi2 = 256 * (sum of c^2) / n - n (expand
    sum((c-e)^2/e) + (256-k)*e with e = n/256 — unobserved byte values
    contribute through the -n term, so no 256-way explode is needed).
    Exact-integer sums divided once keep the double bit-identical with
    the SQL oracle."""
    frame = _byte_run_frame(docs, max_bytes, payload_col)
    n = F.size(F.col("_s")).cast("double")
    sum_c2 = F.aggregate(
        F.col("_counts"), F.lit(0.0), lambda acc, c: acc + c * c
    )
    return frame.select(
        "doc_id",
        "byte_len",
        F.size(F.col("_s")).cast("long").alias("n_bytes"),
        F.size(F.col("_starts")).cast("long").alias("n_distinct_bytes"),
        F.round(F.lit(256.0) * sum_c2 / n - n, 6).alias("chi_square"),
    )


def _byte_run_frame(docs: DataFrame, max_bytes: int,
                    payload_col: str) -> DataFrame:
    """Shared per-row byte-frequency decomposition: slice the payload
    (BINARY substring — O(max_bytes) per row regardless of blob size),
    hex to byte pairs, sort, and derive run-lengths with higher-order
    functions. Yields doc_id, byte_len, _s (sorted pair array), _starts
    (run start indices), _counts (run lengths as double) with zero
    shuffles and zero row inflation; zero-length payloads drop out."""
    if payload_col in docs.columns:
        payload = F.col(payload_col)
    else:
        payload = F.encode(F.col("text"), "UTF-8")
    pairs = F.regexp_extract_all(
        F.hex(F.substring(payload, 1, max_bytes)), F.lit("(..)"), 1
    )
    s = F.col("_s")
    n = F.size(s)
    # greatest(i, 1) keeps element_at's index valid at i == 0 without
    # leaning on Or short-circuit order (the i == 0 disjunct wins there).
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0)
        | (F.element_at(s, i + 1) != F.element_at(s, F.greatest(i, F.lit(1)))),
    )
    st = F.col("_starts")
    run_ends = F.concat(F.slice(st, 2, F.size(st) - 1), F.array(n))
    counts = F.zip_with(run_ends, st, lambda e, b: (e - b).cast("double"))
    return (
        docs.select(
            "doc_id",
            F.length(payload).cast("long").alias("byte_len"),
            F.array_sort(pairs).alias("_s"),
        )
        .filter(n > 0)
        .withColumn("_starts", starts)
        .withColumn("_counts", counts)
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"


def frame_sample(docs_with_payload: DataFrame, frame_bytes: int = 16,
                 stride: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-like binary payloads: treat the
    byte stream as fixed-size frames, emit every ``stride``-th frame's
    index + content hash via mapInPandas (Arrow batches — the decoder
    integration point; a real build would seek keyframes instead of
    slicing bytes).

    At 100 TB this is the access pattern that matters: the payload column
    is read once per partition, frames fan out executor-side (never
    through the driver), and downstream joins run on the compact
    (doc_id, frame_idx, hash) rows, not the blobs."""
    import hashlib

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            idxs: list[int] = []
            hashes: list[str] = []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None or len(b) == 0:
                    continue
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    frame = bytes(b[i * frame_bytes:(i + 1) * frame_bytes])
                    doc_ids.append(did)
                    idxs.append(i)
                    hashes.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        sample, schema=FRAME_SCHEMA
    )


def _le_hex(v, nbytes: int):
    """Little-endian hex of an integer column: byte i of ``v`` (LSB
    first) as a zero-padded hex pair — the RIFF/WAV field encoding.
    Pure shift/mask/hex expressions, mirrored verbatim by the SQL
    oracle's helper."""
    return F.concat(
        *[
            F.lpad(F.hex(F.shiftright(v.cast("long"), 8 * i).bitwiseAND(F.lit(255))), 2, "0")
            for i in range(nbytes)
        ]
    )


def with_wav_payload(docs: DataFrame) -> DataFrame:
    """Binary payloads where doc_id % 4 == 1 rows carry a structurally
    valid 44-byte canonical PCM WAV header (RIFF size, WAVE + fmt
    chunks, little-endian u16/u32 fields derived from doc_id and the
    text length, bits-per-sample fixed at 8) followed by the UTF-8 text
    bytes as stand-in samples; the other residues keep the bare magics
    from MAGIC_HEADERS. Deterministic, so fixed-offset little-endian
    parsing (wav_fmt_meta) is testable against a SQL oracle."""
    data_len = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    channels = F.col("doc_id") % 3 + 1
    rate = F.col("doc_id") % 8 * 1000 + 8000
    byte_rate = rate * channels  # bits/sample = 8 -> block align = channels
    wav_hdr = F.concat(
        F.lit("52494646"),            # 'RIFF'
        _le_hex(data_len + 36, 4),    # riff chunk size
        F.lit("57415645"),            # 'WAVE'
        F.lit("666D7420"),            # 'fmt '
        F.lit("10000000"),            # subchunk1 size = 16 (LE)
        F.lit("0100"),                # audio format = 1 (PCM, LE)
        _le_hex(channels, 2),
        _le_hex(rate, 4),
        _le_hex(byte_rate, 4),
        _le_hex(channels, 2),         # block align = channels * 8/8
        F.lit("0800"),                # bits per sample = 8 (LE)
        F.lit("64617461"),            # 'data'
        _le_hex(data_len, 4),
    )
    hdr = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(F.lit(MAGIC_HEADERS[0][1])))
        .when(F.col("doc_id") % 4 == 1, F.unhex(wav_hdr))
        .when(F.col("doc_id") % 4 == 2, F.unhex(F.lit(MAGIC_HEADERS[2][1])))
        .otherwise(F.unhex(F.lit("")))
    )
    return docs.withColumn(
        "payload", F.concat(hdr, F.encode(F.col("text"), "UTF-8"))
    )


def wav_fmt_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Fixed-offset RIFF/WAV metadata extraction without an audio codec:
    validate the 'RIFF' magic and the 'WAVE'+'fmt ' tags, then read the
    little-endian u16/u32 fields (channels, sample rate, byte rate,
    bits per sample, data length) and derive the clip duration in ms —
    all BINARY substring + shift/mask arithmetic, O(1) per row no
    matter how large the blob (the complement of png_ihdr_meta's
    big-endian path). Non-WAV payloads keep their row with NULL fields;
    duration uses pure integer arithmetic ((a - a%b)/b) so both engines
    floor identically."""
    p = F.col("payload")
    is_wav = (F.hex(F.substring(p, 1, 4)) == "52494646") & (
        F.hex(F.substring(p, 9, 8)) == "57415645666D7420"
    )

    channels = _le_uint(p, 23, 2)
    rate = _le_uint(p, 25, 4)
    byte_rate = _le_uint(p, 29, 4)
    bits = _le_uint(p, 35, 2)
    data_len = _le_uint(p, 41, 4)
    ms = data_len * 1000
    duration_ms = (ms - ms % byte_rate) / byte_rate
    return docs_with_payload.select(
        "doc_id",
        is_wav.cast("long").alias("is_wav"),
        F.when(is_wav, channels).alias("channels"),
        F.when(is_wav, rate).alias("sample_rate"),
        F.when(is_wav, byte_rate).alias("byte_rate"),
        F.when(is_wav, bits).alias("bits_per_sample"),
        F.when(is_wav, data_len).alias("data_len"),
        F.when(is_wav & (byte_rate > 0), duration_ms.cast("long")).alias(
            "duration_ms"
        ),
    )


_RIFF_WALK_STEPS = 3  # fixture bound: fmt + data (+1 overshoot guard)


def riff_chunk_index(docs_with_payload: DataFrame) -> DataFrame:
    """Generic RIFF chunk-table index — the LITTLE-endian sibling of
    mp4_box_index (BE size-prefixed) and png_chunk_index (BE + CRC):
    validate 'RIFF'+'WAVE', then hop (fourcc, LE u32 size) chunk
    headers from offset 12 size-by-size, honoring the RIFF even-byte
    padding rule (an odd-size chunk is followed by one pad byte). The
    hop is ONE F.aggregate fold (the jpeg CollapseProject lesson)
    emitting a bounded chunk array that explodes via the
    struct-transform idiom. wav_fmt_meta reads this container with
    FIXED offsets; this walker earns its keep on layouts where chunk
    order/length varies — and end_ok proves the size chain is
    consistent with the payload length (writers commonly omit the
    FINAL pad byte, so landing one byte past the end after an odd
    final chunk also passes).

    100 TB shape: O(chunks)/row expressions below the explicit-count
    repartition barrier, zero shuffle beyond it, zero UDF."""
    p = F.col("payload")
    plen = F.octet_length(p)
    is_riff = (F.hex(F.substring(p, 1, 4)) == "52494646") & (
        F.hex(F.substring(p, 9, 4)) == "57415645"
    )

    le_u32 = lambda off: _le_uint(p, off + 1, 4)  # noqa: E731 — off: 0-based Column
    step = lambda sz: sz + 8 + sz % 2  # noqa: E731 — header + data + pad
    chunks = F.aggregate(
        F.sequence(F.lit(1), F.lit(_RIFF_WALK_STEPS)),
        F.struct(
            F.lit(12).cast("long").alias("off"),
            F.array().cast(
                "array<struct<idx:long,off:long,size:long,fourcc:string>>"
            ).alias("acc"),
        ),
        lambda acc, i: F.when(
            acc["off"] + 8 <= plen,
            F.struct(
                (acc["off"] + step(le_u32(acc["off"] + 4))).alias("off"),
                F.concat(
                    acc["acc"],
                    F.array(
                        F.struct(
                            (i - 1).cast("long").alias("idx"),
                            acc["off"].alias("off"),
                            le_u32(acc["off"] + 4).alias("size"),
                            F.substring(p, (acc["off"] + 1).cast("int"), 4)
                            .cast("string").alias("fourcc"),
                        )
                    ),
                ).alias("acc"),
            ),
        ).otherwise(acc),
    )
    base = (
        docs_with_payload.repartition(
            _shuffle_partitions(docs_with_payload), "doc_id"
        )
        .select(
            "doc_id",
            plen.alias("plen"),
            is_riff.alias("is_riff"),
            F.when(is_riff, chunks).alias("c"),
        )
    )
    exploded = base.select(
        "doc_id", "plen", "is_riff",
        F.col("c.off").alias("end_off"),
        F.explode_outer(
            F.when(F.col("is_riff"), F.col("c.acc")).otherwise(
                F.array(
                    F.lit(None).cast(
                        "struct<idx:long,off:long,size:long,fourcc:string>"
                    )
                )
            )
        ).alias("m"),
    )
    return exploded.select(
        "doc_id",
        F.col("is_riff").cast("long").alias("is_riff"),
        F.col("m.idx").alias("chunk_idx"),
        F.col("m.fourcc").alias("fourcc"),
        F.col("m.size").alias("chunk_size"),
        F.col("m.off").alias("chunk_offset"),
        F.when(
            F.col("is_riff"),
            (F.col("end_off") == F.col("plen"))
            | (F.col("end_off") == F.col("plen") + 1),
        ).alias("end_ok"),
    )


def pcm_frame_energy(
    docs_with_payload: DataFrame,
    frame_len: int = 16,
    max_samples: int = 256,
    silence_rms: float = 8.0,
) -> DataFrame:
    """Audio feature extraction without a codec: frame-level RMS energy
    and peak deviation over the 8-bit PCM samples of WAV payloads
    (with_wav_payload puts the sample data at byte 45, after the 44-byte
    canonical header). The frame-energy / silence-detection pass an
    audio curation pipeline runs before expensive transcription — drop
    silent or clipped clips early.

    Per row: slice ``max_samples`` PCM bytes (BINARY substring, O(1) in
    blob size), hex to byte values, then one frame row per FULL
    ``frame_len``-sample window: rms = sqrt(mean((v-128)²)) (128 = the
    unsigned-8-bit DC offset), peak_dev = max |v-128|, is_silence =
    rms < ``silence_rms``. The sum of squares stays exact-integer until
    a single /frame_len division, so the double is bit-identical with
    the SQL oracle (which reads the same bytes straight from
    encode(text) — the fixture's PCM section IS the UTF-8 text bytes).
    Row inflation is bounded by max_samples/frame_len = 16 frames/doc;
    zero shuffles, zero UDFs."""
    p = F.col("payload")
    is_wav = (F.hex(F.substring(p, 1, 4)) == "52494646") & (
        F.hex(F.substring(p, 9, 8)) == "57415645666D7420"
    )
    vals = F.transform(
        F.regexp_extract_all(
            F.hex(F.substring(p, 45, max_samples)), F.lit("(..)"), 1
        ),
        lambda x: F.conv(x, 16, 10).cast("long"),
    )
    base = docs_with_payload.filter(is_wav).select("doc_id", vals.alias("_v"))
    nf = F.floor(F.size("_v") / frame_len).cast("int")
    frames = base.filter(F.size("_v") >= frame_len).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nf - 1)).alias("fi"),
        F.col("_v"),
    )
    samples = F.slice(F.col("_v"), F.col("fi") * frame_len + 1, frame_len)
    sum_sq = F.aggregate(
        samples,
        F.lit(0).cast("long"),
        lambda acc, v: acc + (v - 128) * (v - 128),
    )
    rms = F.round(F.sqrt(sum_sq.cast("double") / F.lit(float(frame_len))), 6)
    peak = F.array_max(F.transform(samples, lambda v: F.abs(v - 128)))
    return frames.select(
        "doc_id",
        F.col("fi").cast("long").alias("frame_idx"),
        rms.alias("rms"),
        peak.cast("long").alias("peak_dev"),
        (rms < silence_rms).alias("is_silence"),
    )


def ahash_dedup(docs_with_payload: DataFrame, n_bytes: int = 64) -> DataFrame:
    """Perceptual average-hash dedup over a binary column — the image
    near-dup pass (aHash: threshold each of the 8x8 grayscale cells
    against their mean) run on the payload's first ``n_bytes`` bytes as
    the deterministic stand-in for decoded pixels; with a real codec the
    byte slice is replaced by the decoder UDF's 8x8 thumbnail and
    NOTHING else changes.

    The threshold compare stays exact-integer (byte*n > sum avoids the
    mean division), the 64 bits serialize as a '0'/'1' string, and the
    dedup is ONE hash aggregate on the hash key with keep-min-id —
    identical scale shape to dedup_hash: narrow per-row work, one
    mergeable Exchange. Payloads shorter than ``n_bytes`` are excluded
    (a real aHash always has its full 64 cells). Hamming-near pairs are
    the simhash/banding family's job; the aHash stage collapses
    EXACT perceptual hashes, which is the dominant real-world case."""
    p = F.col("payload")
    vals = F.transform(
        F.regexp_extract_all(
            F.hex(F.substring(p, 1, n_bytes)), F.lit("(..)"), 1
        ),
        lambda x: F.conv(x, 16, 10).cast("long"),
    )
    base = (
        docs_with_payload.filter(F.octet_length(p) >= n_bytes)
        .select("doc_id", vals.alias("_v"))
    )
    total = F.aggregate(F.col("_v"), F.lit(0).cast("long"), lambda a, v: a + v)
    bits = F.array_join(
        F.transform(
            F.col("_v"),
            lambda v: F.when(v * n_bytes > total, F.lit("1")).otherwise(
                F.lit("0")
            ),
        ),
        "",
    )
    return (
        base.select("doc_id", bits.alias("ahash"))
        .groupBy("ahash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def audio_trim_bounds(docs_with_payload: DataFrame,
                      frame_len: int = 16,
                      max_samples: int = 256,
                      silence_rms: float = 8.0) -> DataFrame:
    """Silence trimming — the clip-preparation step after frame-energy
    analysis: per WAV doc, the first and last NON-silent frame bound
    the kept span; leading/trailing silence is dropped and the trim
    report (kept frame range, kept sample count, fraction retained)
    is emitted. Pure composition over pcm_frame_energy's per-frame
    rows: one mergeable per-doc aggregate with conditional min/max —
    no new parsing, no new shuffle class. Docs whose every frame is
    silent report a zero-length keep (kept_frames = 0)."""
    frames = pcm_frame_energy(
        docs_with_payload, frame_len=frame_len,
        max_samples=max_samples, silence_rms=silence_rms,
    )
    loud = F.when(~F.col("is_silence"), F.col("frame_idx"))
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.min(loud).alias("first_loud"),
        F.max(loud).alias("last_loud"),
    ).select(
        "doc_id",
        "n_frames",
        "first_loud",
        "last_loud",
        F.coalesce(
            F.col("last_loud") - F.col("first_loud") + 1, F.lit(0).cast("long")
        ).alias("kept_frames"),
        F.round(
            F.coalesce(
                F.col("last_loud") - F.col("first_loud") + 1,
                F.lit(0).cast("long"),
            ).cast("double")
            / F.col("n_frames"),
            6,
        ).alias("kept_frac"),
    )


_CDC_W = 8            # rolling-hash window (bytes)
_CDC_MOD = 1 << 20    # hash modulus
_CDC_MASK = 63        # boundary when h % 64 == 0 -> ~64-byte avg chunks
_CDC_POW = [pow(31, j, _CDC_MOD) for j in range(_CDC_W)]


def cdc_chunk_stats(docs_with_payload: DataFrame,
                    max_bytes: int = 256) -> DataFrame:
    """Content-defined chunking (rsync/FastCDC-style) over a binary
    column: a polynomial rolling hash over every ``_CDC_W``-byte window
    places chunk boundaries where h % 64 == 0, so INSERTING bytes into
    a blob shifts only the neighboring chunk's boundary — the property
    that makes CDC the dedup primitive for binary/media data (fixed
    blocks lose alignment after one insert). Chunks are md5'd and
    matched ACROSS the corpus; per doc: chunk count, bytes chunked, and
    how many of its chunks also appear in another document.

    Plan shape: the hash positions are EXPLODED to rows and each row
    evaluates one flat zip_with-slice-aggregate — the frame-energy
    pattern. A transform(filter(aggregate(...))) triple-nested INSIDE
    one row falls off whole-stage codegen into interpreted evaluation.
    Boundary lists come back with one collect_list
    aggregate (≤ max_bytes/64 ints per doc), chunks explode bounded by
    max_bytes, and the cross-corpus match is ONE mergeable md5-keyed
    aggregate — dedup_hash's scale class with boundary-shift
    robustness. All integer arithmetic (31^j mod 2^20 literals, %
    compares) is exact on both engines."""
    p = F.col("payload")
    hexs = F.hex(F.substring(p, 1, max_bytes))
    base = (
        docs_with_payload.repartition(
            _shuffle_partitions(docs_with_payload), "doc_id"
        )
        .select("doc_id", hexs.alias("_h"))
        .withColumn(
            "_v",
            F.transform(
                F.regexp_extract_all(F.col("_h"), F.lit("(..)"), 1),
                lambda x: F.conv(x, 16, 10).cast("long"),
            ),
        )
        .filter(F.size("_v") >= _CDC_W)
        .withColumn("_n", F.size("_v"))
    )
    # The position-hash stage is CPU-dense but BYTE-light, so without
    # the explicit doc_id repartition it inherits the scan's split
    # count — one partition on a small single-file input — and runs
    # single-core. At 100 TB the same reasoning holds in reverse: the
    # exchange is one narrow (doc_id, payload<=256B) pass, amortized by
    # spreading the 8-term-per-byte rolling-hash burn across the cluster
    # instead of the scan's split layout.
    pos = base.select(
        "doc_id", "_v",
        F.explode(F.sequence(F.lit(_CDC_W), F.col("_n"))).alias("i"),
    )
    # h = Σ_j v[i-j]·31^j, UNROLLED to 8 plain element_at terms: the
    # slice/reverse/zip_with array form allocates three arrays per
    # position; straight arithmetic stays in whole-stage codegen
    h = sum(
        (
            F.element_at(F.col("_v"), (F.col("i") - j).cast("int"))
            * F.lit(_CDC_POW[j])
            for j in range(1, _CDC_W)
        ),
        F.element_at(F.col("_v"), F.col("i").cast("int")) * F.lit(_CDC_POW[0]),
    ) % _CDC_MOD
    bounds = (
        pos.filter(h % (_CDC_MASK + 1) == 0)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("_b"))
    )
    withb = base.join(bounds, "doc_id", "left").withColumn(
        "_b", F.coalesce(F.col("_b"), F.array().cast("array<int>"))
    )
    starts = F.concat(
        F.array(F.lit(1).cast("int")),
        F.transform(F.col("_b"), lambda b: (b + 1).cast("int")),
    )
    ends = F.concat(
        F.transform(F.col("_b"), lambda b: b.cast("int")),
        F.array(F.col("_n").cast("int")),
    )
    chunked = (
        withb.withColumn(
            "_chunks",
            F.filter(
                F.zip_with(
                    starts, ends, lambda s, e: F.struct(
                        s.alias("s"), e.alias("e")
                    )
                ),
                lambda c: c["s"] <= c["e"],
            ),
        )
        .select("doc_id", F.explode("_chunks").alias("c"), F.col("_h"))
        .select(
            "doc_id",
            (F.col("c.e") - F.col("c.s") + 1).cast("long").alias("chunk_bytes"),
            F.md5(
                F.expr("substring(_h, 2 * (c.s - 1) + 1, 2 * (c.e - c.s + 1))")
            ).alias("chunk_md5"),
        )
    )
    shared = chunked.groupBy("chunk_md5").agg(
        F.count_distinct("doc_id").alias("n_docs_with_chunk")
    )
    return (
        chunked.join(shared, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_bytes").alias("bytes_chunked"),
            F.sum(
                (F.col("n_docs_with_chunk") > 1).cast("long")
            ).alias("n_shared_chunks"),
        )
    )


def _npy_header(descr: str, shape: int) -> str:
    """NumPy .npy v1.0 header dict string, space-padded so the full
    preamble (6-byte magic + 2-byte version + 2-byte header length +
    header) is 64-byte aligned and newline-terminated — the exact
    layout numpy.lib.format writes."""
    h = "{'descr': '%s', 'fortran_order': False, 'shape': (%d,), }" % (
        descr, shape,
    )
    base = 10 + len(h) + 1
    pad = (64 - base % 64) % 64
    return h + " " * pad + "\n"


def with_npy_payload(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Deterministic .npy container fixture over the embeddings table:
    each vector gets a byte payload in NumPy's .npy v1.0 layout —
    magic \\x93NUMPY, version (1,0), little-endian uint16 header
    length, the padded header dict, then a data section of the correct
    byte length (dtype '<f8' for even vec_ids, '<f4' for odd — so the
    parser's itemsize arithmetic is exercised, not constant). The
    first 8 data bytes carry the big-endian vec_id (row-unique, so the
    parse can prove it read the DATA region, not just the header);
    the rest are zeros. Mirrored byte-for-byte by the SQL oracle."""
    h8, h4 = _npy_header("<f8", dim), _npy_header("<f4", dim)

    def preamble(h: str) -> bytes:
        return (
            b"\x93NUMPY\x01\x00"
            + bytes([len(h) % 256, len(h) // 256])
            + h.encode()
        )

    def tail(nbytes: int) -> bytes:
        return bytes(nbytes - 8)

    even = F.lit(preamble(h8))
    odd = F.lit(preamble(h4))
    id_be = F.unhex(F.lpad(F.hex(F.col("vec_id")), 16, "0"))
    return emb.select(
        "vec_id",
        F.concat(
            F.when(F.col("vec_id") % 2 == 0, even).otherwise(odd),
            id_be,
            F.when(
                F.col("vec_id") % 2 == 0, F.lit(tail(dim * 8))
            ).otherwise(F.lit(tail(dim * 4))),
        ).alias("payload"),
    )


def npy_header_meta(npy: DataFrame) -> DataFrame:
    """Parse .npy container metadata with pure expressions — the
    tensor-interchange sibling of the PNG IHDR / RIFF WAV parsers: the
    format detect + shape/dtype audit a training pipeline runs over a
    directory of serialized arrays before mmap-ing them. Validates the
    magic, reads the little-endian header length, extracts descr and
    shape from the header dict via regex, checks the data-section byte
    length against shape x itemsize, and proves data-region access by
    recovering the big-endian id planted in the first 8 data bytes.

    100 TB shape: fixed-offset BINARY substring + conv arithmetic,
    O(1) per row, zero shuffle — binary substring is a byte slice
    (never the O(len²) string-substring trap)."""
    p = F.col("payload")
    magic_ok = F.hex(F.substring(p, 1, 6)) == "934E554D5059"
    ver_major = F.conv(F.hex(F.substring(p, 7, 1)), 16, 10).cast("long")
    hlen = (
        F.conv(F.hex(F.substring(p, 9, 1)), 16, 10).cast("long")
        + 256 * F.conv(F.hex(F.substring(p, 10, 1)), 16, 10).cast("long")
    )
    header = F.substring(p, 11, hlen.cast("int")).cast("string")
    descr = F.regexp_extract(header, "'descr': '([^']+)'", 1)
    shape = F.regexp_extract(header, r"'shape': \((\d+),", 1).cast("long")
    itemsize = F.regexp_extract(descr, r"(\d+)$", 1).cast("long")
    data_len = F.length(p).cast("long") - 10 - hlen
    embedded_id = F.conv(
        F.hex(F.substring(p, (11 + hlen).cast("int"), 8)), 16, 10
    ).cast("long")
    return npy.select(
        "vec_id",
        magic_ok.alias("magic_ok"),
        ver_major.alias("ver_major"),
        hlen.alias("header_len"),
        descr.alias("dtype"),
        shape.alias("shape"),
        (data_len == shape * itemsize).alias("data_len_ok"),
        (embedded_id == F.col("vec_id")).alias("data_roundtrip_ok"),
    )


def with_tiff_payload(docs: DataFrame) -> DataFrame:
    """Deterministic TIFF container fixture over documents: each doc
    gets a structurally valid single-IFD TIFF — byte-order mark 'II'
    (little-endian) for even doc_ids, 'MM' (big-endian) for odd, so
    BOTH endiannesses are exercised in one table (TIFF is the classic
    dual-endian container; PNG is always BE, WAV always LE); magic 42;
    a NON-constant first-IFD offset (8 + doc_id % 5 pad bytes, so the
    parser must actually read the offset field); an IFD with two LONG
    entries (tag 256 ImageWidth = 16 + doc_id % 241, tag 257
    ImageLength = 16 + doc_id % 181) and a zero next-IFD pointer; then
    the UTF-8 text bytes as stand-in strip data. Mirrored byte-for-byte
    by the SQL oracle."""
    d = F.col("doc_id")
    width = (d % 241 + 16).cast("bigint")
    height = (d % 181 + 16).cast("bigint")
    pad = (d % 5).cast("int")
    ifd_off = (pad + 8).cast("bigint")

    def le16(v):
        b = F.lpad(F.hex(v.cast("bigint")), 4, "0")
        return F.concat(F.substring(b, 3, 2), F.substring(b, 1, 2))

    def le32(v):
        b = F.lpad(F.hex(v.cast("bigint")), 8, "0")
        return F.concat(
            F.substring(b, 7, 2), F.substring(b, 5, 2),
            F.substring(b, 3, 2), F.substring(b, 1, 2),
        )

    def entry(tag: int, value, u16, u32):
        # 12-byte IFD entry: tag, type LONG (4), count 1, value
        return F.concat(
            u16(F.lit(tag)), u16(F.lit(4)), u32(F.lit(1)), u32(value)
        )

    def ifd(u16, u32):
        return F.concat(
            u16(F.lit(2)),                      # entry count
            entry(256, width, u16, u32),        # ImageWidth
            entry(257, height, u16, u32),       # ImageLength
            u32(F.lit(0)),                      # next IFD: none
        )

    le_hex = F.concat(F.lit("49492A00"), le32(ifd_off),
                      F.repeat(F.lit("00"), pad), ifd(le16, le32))
    be_hex = F.concat(
        F.lit("4D4D002A"), _be_hex(ifd_off, 4), F.repeat(F.lit("00"), pad),
        ifd(lambda v: _be_hex(v, 2), lambda v: _be_hex(v, 4)),
    )
    hdr = F.when(d % 2 == 0, F.unhex(le_hex)).otherwise(F.unhex(be_hex))
    return docs.select(
        "doc_id",
        F.concat(hdr, F.encode(F.col("text"), "UTF-8")).alias("payload"),
    )


def tiff_header_meta(tiff: DataFrame) -> DataFrame:
    """Parse TIFF/EXIF container metadata with pure expressions — the
    dual-endian member of the container-parser family (PNG IHDR is
    fixed big-endian, RIFF/WAV fixed little-endian, .npy little-endian
    with a text header; TIFF's byte order is DECLARED by the file
    itself, so every field read must branch on the BOM): validates the
    magic (42 in the declared order), follows the first-IFD offset,
    reads the entry count, and walks the 12-byte IFD entries to pull
    ImageWidth (tag 256) and ImageLength (tag 257), checking the
    next-IFD pointer is 0.

    100 TB shape: fixed-offset BINARY substrings + conv arithmetic and
    one bounded transform over n_entries (2 here; tens in real EXIF) —
    O(entries) per row, one shuffle, zero UDF. The first repartition
    materializes `payload` as a column AND spreads the interpreted
    conv/hex parse across the cluster instead of the scan's (few-file)
    partitioning. The second repartition's exchange is ELIDED by
    EnsureRequirements (same key and count) — it survives only as a
    projection boundary, which is the point: with `entries` aliased in
    one Project and referenced as a COLUMN by the two tag_value()
    filters in the next, CollapseProject's multi-reference/expensive
    guard keeps the entries construction evaluated ONCE (inline, the
    local-expression form evaluated it three times)."""
    tiff = tiff.repartition(_shuffle_partitions(tiff), "doc_id")
    p = F.col("payload")
    le = F.hex(F.substring(p, 1, 2)) == "4949"

    def u16(off):  # off: 1-based byte offset Column
        lo = F.conv(F.hex(F.substring(p, off.cast("int"), 1)), 16, 10)
        hi = F.conv(F.hex(F.substring(p, (off + 1).cast("int"), 1)), 16, 10)
        return F.when(le, lo + 256 * hi).otherwise(256 * lo + hi).cast("long")

    def u32(off):
        lo = u16(off)
        hi = u16(off + 2)
        return (
            F.when(le, lo + 65536 * hi).otherwise(65536 * lo + hi)
        ).cast("long")

    magic_ok = u16(F.lit(3)) == 42
    ifd_off = u32(F.lit(5))
    base = ifd_off + 1  # 1-based position of the IFD
    n_entries = u16(base)
    entries = F.transform(
        F.sequence(F.lit(0), (n_entries - 1).cast("int")),
        lambda i: F.struct(
            u16(base + 2 + 12 * i).alias("tag"),
            u16(base + 4 + 12 * i).alias("ftype"),
            u32(base + 10 + 12 * i).alias("value"),
        ),
    )

    def tag_value(tag: int):
        hits = F.filter(F.col("entries"), lambda e: e["tag"] == tag)
        return F.when(
            F.size(hits) == 1, F.element_at(hits, 1)["value"]
        ).cast("long")

    next_ifd = u32(base + 2 + 12 * n_entries)
    # Projection boundary (exchange elided — see docstring): entries is
    # aliased here and read as a COLUMN below, so the construction
    # evaluates once instead of once per tag_value() consumer.
    parsed = tiff.select(
        "doc_id",
        le.alias("is_little_endian"),
        magic_ok.alias("magic_ok"),
        ifd_off.alias("ifd_offset"),
        n_entries.alias("n_entries"),
        entries.alias("entries"),
        (next_ifd == 0).alias("last_ifd"),
    )
    parsed = parsed.repartition(_shuffle_partitions(parsed), "doc_id")
    return parsed.select(
        "doc_id",
        "is_little_endian",
        "magic_ok",
        "ifd_offset",
        "n_entries",
        tag_value(256).alias("width"),
        tag_value(257).alias("height"),
        "last_ifd",
    )


_TAR_NAMES = ("member0.txt", "member1.txt", "member2.txt")


def _tar_const_sum(name: str) -> int:
    """Byte-sum of a ustar header's CONSTANT fields (everything except
    the 12-byte size field), with the checksum field counted as 8
    spaces per the tar spec: name, mode 0000644, uid/gid 0000000,
    mtime zeros, typeflag '0', magic 'ustar\\0' + version '00'."""
    return (
        sum(name.encode())
        + sum(b"0000644\x00")
        + 2 * sum(b"0000000\x00")
        + sum(b"00000000000\x00")
        + 8 * 0x20
        + ord("0")
        + sum(b"ustar\x00")
        + sum(b"00")
    )


def _oct_str(v, digits: int):
    """Fixed-width octal rendering of a BIGINT column as a string —
    manual digit arithmetic (integer div/mod), identical in DuckDB."""
    parts = [
        ((v / (8 ** i)).cast("long") % 8).cast("string")
        for i in range(digits - 1, -1, -1)
    ]
    return F.concat(*parts)


def _oct_digit_sum(v, digits: int):
    """Sum of the octal digits of a BIGINT column."""
    out = F.lit(0).cast("long")
    for i in range(digits):
        out = out + (v / (8 ** i)).cast("long") % 8
    return out


def with_tar_payload(docs: DataFrame) -> DataFrame:
    """Deterministic ustar (POSIX tar) fixture over documents: each doc
    becomes a 3-member tar archive — fixed names, data-dependent sizes
    (member 1 spans 1-3 data blocks, so member offsets genuinely
    depend on parsing the PREVIOUS member's size — the property that
    makes tar an index-walk, not a fixed-offset read), correct octal
    size fields, VALID checksums (constant-field byte sums precomputed
    + octal-digit arithmetic for the size field), zero-padded data
    blocks, and the 1024-byte end-of-archive trailer. Validated
    byte-for-byte against Python's tarfile in tests."""
    d = F.col("doc_id")
    sizes = [
        (d % 300 + 100).cast("long"),
        (d % 800 + 400).cast("long"),
        F.lit(50).cast("long"),
    ]
    pieces = []
    for j, size in enumerate(sizes):
        name = _TAR_NAMES[j]
        header_prefix = (  # name[100] mode[8] uid[8] gid[8]
            name.encode() + bytes(100 - len(name))
            + b"0000644\x00" + b"0000000\x00" + b"0000000\x00"
        )
        chk = _tar_const_sum(name) + 11 * 0x30 + _oct_digit_sum(size, 11)
        header = F.concat(
            F.lit(header_prefix),
            F.encode(_oct_str(size, 11), "UTF-8"), F.lit(b"\x00"),
            F.lit(b"00000000000\x00"),                       # mtime[12]
            F.encode(_oct_str(chk, 6), "UTF-8"),
            F.lit(b"\x00 "),                                  # chksum[8]
            F.lit(b"0"),                                      # typeflag
            F.lit(bytes(100)),                                # linkname
            F.lit(b"ustar\x0000"),                            # magic+ver
            F.lit(bytes(512 - 265)),                          # rest of block
        )
        data = F.encode(
            F.expr(
                f"rpad(substring(text, 1, 10), "
                f"CAST({'doc_id % 300 + 100' if j == 0 else 'doc_id % 800 + 400' if j == 1 else '50'} AS INT), 'x')"
            ),
            "UTF-8",
        )
        pad = ((512 - size % 512) % 512).cast("int")
        pieces += [header, data, F.unhex(F.repeat(F.lit("00"), pad))]
    pieces.append(F.lit(bytes(1024)))  # end-of-archive trailer
    return docs.select("doc_id", F.concat(*pieces).alias("payload"))


def tar_index(tar: DataFrame) -> DataFrame:
    """Index a ustar archive with pure expressions — the
    variable-offset member of the container-parser family (PNG/WAV/
    npy/TIFF all read fixed or pointer-addressed offsets; tar member k
    starts only where members 0..k-1's parsed sizes put it, so the
    parser WALKS: parse size, advance 512 + 512*ceil(size/512),
    repeat — unrolled for the fixture's 3 members, the unrolled-rounds
    idiom). Per member: NUL-trimmed name, octal size, magic check,
    full 512-byte checksum recomputation (checksum field as spaces, per
    spec) compared against the stored value, the member's byte offset,
    and an md5 of the data region proving the offsets address real
    data.

    100 TB shape: row-local BINARY slices; the checksum re-sum is a
    bounded 512-step fold per member. The member offsets/sizes/header
    hex are materialized as COLUMNS below an explicit repartition
    barrier before the folds run: inlined into the 512-element lambdas
    they re-evaluate per ELEMENT (member 2's offset transitively
    re-parses members 0-1's octal sizes → ~20k interpreted ops/row and
    a single-core scan stage — the CollapseProject lesson of
    _shingle_arrays, in lambda form), and the same exchange spreads the
    CPU-bound fold across the cluster instead of the scan's partitioning."""
    p = F.col("payload")

    def oct_field(off, digits):  # parse fixed-width octal at 0-based off
        # ONE conv() over the ASCII digits (ustar octal fields are
        # ASCII '0'-'7'), NOT a per-digit _be_uint fold: the fold
        # referenced `off` once per digit, and since each walked offset
        # embeds the previous member's parsed size, the pass-1
        # expression tree grew geometrically per member (a multi-MB
        # task binary and seconds of planning per fresh plan). One
        # reference per field keeps the walk's tree LINEAR in members.
        #
        # The parse is ANCHORED to the ustar field layout (optional
        # leading spaces, octal digits, space/NUL padding to the end):
        # a non-conforming field (GNU base-256 size, interior junk like
        # '12 34') fails the regexp and yields NULL — conv('') is null
        # — instead of concatenating surviving digits into a
        # plausible-but-wrong number.
        return F.conv(
            F.regexp_extract(
                F.substring(p, (off + 1).cast("int"), digits).cast("string"),
                "^ *([0-7]*)[ \\x00]*$",
                1,
            ),
            8,
            10,
        ).cast("long")

    # pass 1 (below the barrier): walk the sizes once per row
    off0 = F.lit(0).cast("long")
    s0 = oct_field(off0 + 124, 11)
    off1 = off0 + 512 + 512 * ((s0 + 511) / 512).cast("long")
    s1 = oct_field(off1 + 124, 11)
    off2 = off1 + 512 + 512 * ((s1 + 511) / 512).cast("long")
    s2 = oct_field(off2 + 124, 11)
    staged = tar.select(
        "doc_id", "payload",
        off0.alias("off_0"), s0.alias("size_0"),
        off1.alias("off_1"), s1.alias("size_1"),
        off2.alias("off_2"), s2.alias("size_2"),
        *[
            F.hex(
                F.substring(
                    p,
                    ([off0, off1, off2][j] + 1).cast("int"),
                    100,
                )
            ).alias(f"name_hex_{j}")
            for j in range(3)
        ],
    ).repartition(_shuffle_partitions(tar), "doc_id")

    def member(j):
        off = F.col(f"off_{j}")
        size = F.col(f"size_{j}")
        name_hex = F.col(f"name_hex_{j}")
        nul_idx = F.element_at(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.lit(99)),
                    lambda i: F.when(
                        F.substring(name_hex, i * 2 + 1, 2) == "00", i
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
            1,
        )
        name_len = F.coalesce(nul_idx, F.lit(100))
        name = F.unhex(
            F.substring(name_hex, 1, (name_len * 2).cast("int"))
        ).cast("string")
        stored_chk = oct_field(off + 148, 6)
        real_chk = F.aggregate(
            F.sequence(F.lit(0), F.lit(511)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                (i >= 148) & (i <= 155), F.lit(32).cast("long")
            ).otherwise(_be_uint(p, off + i, 1)),
        )
        magic_ok = (
            F.substring(p, (off + 258).cast("int"), 5).cast("string")
            == "ustar"
        )
        data_md5 = F.md5(
            F.substring(p, (off + 513).cast("int"), size.cast("int"))
        )
        return F.struct(
            F.lit(j).cast("bigint").alias("member_idx"),
            name.alias("name"),
            size.alias("size"),
            off.alias("byte_offset"),
            (stored_chk == real_chk).alias("checksum_ok"),
            magic_ok.alias("magic_ok"),
            data_md5.alias("data_md5"),
        )

    members = F.array(member(0), member(1), member(2))
    return staged.select(
        "doc_id", F.explode_outer(members).alias("m")
    ).select("doc_id", "m.*")




# --------------------------------------------------------------------------
# JPEG marker-segment walk
# --------------------------------------------------------------------------

_JPEG_WALK_STEPS = 5  # fixture bound: SOI + at most 3 skippable segments


def with_jpeg_payload(docs: DataFrame) -> DataFrame:
    """Deterministic JFIF fixture over documents: ~4/5 of docs become a
    JPEG byte stream — SOI, an APP0/JFIF segment, ONE or TWO comment
    segments whose lengths depend on doc_id (so the SOF offset is only
    reachable by parsing the length fields segment by segment — the
    marker-walk property; a fixed-offset read cannot work), then a
    SOF0 (baseline, even doc_id) or SOF2 (progressive, odd doc_id)
    frame header carrying real big-endian height/width, then the doc
    text as stand-in entropy data. doc_id % 5 == 4 rows keep raw text
    (not a JPEG) to exercise the rejection path. Validated against a
    Python struct/marker reference in tests."""
    d = F.col("doc_id")
    com1_payload = (d % 7 + 2).cast("int")  # bytes; len field = payload+2
    h = (d % 480 + 8).cast("long")
    w = (d % 640 + 8).cast("long")

    jpeg_hex = F.concat(
        F.lit("FFD8"),                                   # SOI
        F.lit("FFE0" + "0010" + "4A46494600"             # APP0/JFIF
              + "0101" + "00" + "0048" + "0048" + "0000"),
        F.lit("FFFE"), _be_hex(com1_payload + 2, 2),     # COM #1
        F.repeat(F.lit("58"), com1_payload),
        F.when(d % 3 == 0,                               # COM #2 (some docs)
               F.concat(F.lit("FFFE0005"), F.repeat(F.lit("59"), 3))
               ).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("FFC0")).otherwise(F.lit("FFC2")),
        F.lit("0011" + "08"), _be_hex(h, 2), _be_hex(w, 2),  # len, prec, H, W
        F.lit("03" + "011100" + "021101" + "031101"),    # 3 components
    )
    payload = F.when(
        d % 5 == 4, F.encode(F.col("text"), "UTF-8")
    ).otherwise(F.concat(F.unhex(jpeg_hex), F.encode(F.col("text"), "UTF-8")))
    return docs.select("doc_id", payload.alias("payload"))


def jpeg_sof_meta(jpeg: DataFrame) -> DataFrame:
    """Parse JPEG frame geometry with pure expressions: validate the
    FFD8 SOI magic, then WALK the marker segments (marker u8, length
    u16 covering itself, next segment at off + 2 + len) until a SOF0 /
    SOF2 frame header, and read precision, height, width, component
    count from it. The walk is the unrolled-rounds idiom (tar_index's
    sibling with length-prefixed instead of size-padded records),
    bounded by the fixture's segment count; each step is an O(1)
    BINARY substring, so the whole parse is a handful of row-local
    exprs — no UDF, no Python.

    100 TB shape: map-only, zero Exchange; offsets never materialize
    more than _JPEG_WALK_STEPS fixed-size reads per row."""
    p = F.col("payload")
    is_jpeg = F.hex(F.substring(p, 1, 2)) == "FFD8"
    # Walk reads go through the jpeg-gated payload: non-JPEG rows (and
    # any runaway offset) yield NULL slices -> NULL offsets instead of
    # conv() on ragged hex fragments; NULLs propagate to the outputs.
    pj = F.when(is_jpeg, p)

    def u8(off):  # 0-based byte offset -> unsigned byte value
        return _be_uint(pj, off, 1)

    def u16(off):
        return _be_uint(pj, off, 2)

    # The walk is a FOLD, not an unrolled expression chain: inside
    # F.aggregate the offset accumulator is a bound variable evaluated
    # once per step, whereas unrolled off_k expressions re-inline
    # off_{k-1} into every byte read (CollapseProject) — ~4^steps
    # reads/row and a codegen blow-up (the tar_index lesson in lambda
    # form).
    off = F.aggregate(
        F.sequence(F.lit(1), F.lit(_JPEG_WALK_STEPS)),
        F.lit(2).cast("long"),
        lambda acc, _: F.when(
            (u8(acc) == 0xFF)
            & ((u8(acc + 1) == 0xC0) | (u8(acc + 1) == 0xC2)),
            acc,
        ).otherwise(acc + 2 + u16(acc + 2)),
    )
    sof_m = u8(off + 1)
    sof_ok = is_jpeg & (u8(off) == 0xFF) & ((sof_m == 0xC0) | (sof_m == 0xC2))
    return jpeg.select(
        "doc_id",
        is_jpeg.cast("bigint").alias("is_jpeg"),
        F.when(sof_ok, (sof_m == 0xC2).cast("bigint")).alias("progressive"),
        F.when(sof_ok, u8(off + 4)).alias("precision"),
        F.when(sof_ok, u16(off + 5)).alias("height"),
        F.when(sof_ok, u16(off + 7)).alias("width"),
        F.when(sof_ok, u8(off + 9)).alias("n_components"),
        F.when(sof_ok, off).alias("sof_offset"),
    )


# --------------------------------------------------------------------------
# ZIP central-directory walk
# --------------------------------------------------------------------------

_ZIP_NAMES = ("a.txt", "bb.txt", "ccc.txt")


def with_zip_payload(docs: DataFrame) -> DataFrame:
    """Deterministic ZIP fixture over documents: each doc becomes a
    3-member STORED (method 0) archive with data-dependent sizes,
    REAL CRC-32s (F.crc32 over the exact data bytes — Python's zipfile
    verifies them on read in tests), correct local headers, a central
    directory, and the end-of-central-directory record. Unlike tar
    (size-padded, walked from the front), ZIP is indexed from the
    BACK: EOCD at the tail points at the central directory, whose
    variable-length entries (46 bytes + name) chain to every member's
    local header — the pointer-chasing member of the container-parser
    family."""
    d = F.col("doc_id")
    sizes = [
        (d % 200 + 50).cast("long"),
        (d % 500 + 200).cast("long"),
        F.lit(40).cast("long"),
    ]

    def data(j, size):
        return F.encode(
            F.expr(
                f"rpad(substring(text, 1, 10), CAST("
                f"{'doc_id % 200 + 50' if j == 0 else 'doc_id % 500 + 200' if j == 1 else '40'}"
                f" AS INT), 'y')"
            ),
            "UTF-8",
        )

    # local header: PK34 ver flags method time date crc csize usize
    #               namelen extralen | name | data
    locals_, centrals, offs = [], [], []
    off = F.lit(0).cast("long")
    for j, name in enumerate(_ZIP_NAMES):
        size = sizes[j]
        crc_le = _le_hex(F.crc32(data(j, size)), 4)
        sz_le = _le_hex(size, 4)
        nl = len(name)
        common = F.concat(
            F.lit("0000" + "0000"),              # time date (zeros)
            crc_le, sz_le, sz_le,                 # crc csize usize
            _le_hex(F.lit(nl), 2), F.lit("0000"),  # namelen extralen
        )
        locals_.append(F.concat(
            F.unhex(F.concat(F.lit("504B0304" + "1400" + "0000" + "0000"),
                             common)),
            F.lit(name.encode()), data(j, size),
        ))
        centrals.append(F.concat(
            F.unhex(F.concat(
                F.lit("504B0102" + "1400" + "1400" + "0000" + "0000"),
                common,
                F.lit("0000" + "0000" + "0000" + "00000000"),  # cmt dsk att
                _le_hex(off, 4),                   # local header offset
            )),
            F.lit(name.encode()),
        ))
        offs.append(off)
        off = off + 30 + nl + size
    cd_off = off
    cd_size = F.lit(sum(46 + len(n) for n in _ZIP_NAMES)).cast("long")
    eocd = F.unhex(F.concat(
        F.lit("504B0506" + "0000" + "0000" + "0300" + "0300"),
        _le_hex(cd_size, 4), _le_hex(cd_off, 4), F.lit("0000"),
    ))
    payload = F.concat(*locals_, *centrals, eocd)
    return docs.select("doc_id", payload.alias("payload"))


def zip_index(z: DataFrame) -> DataFrame:
    """Index a ZIP archive with pure expressions, the way unzip does:
    read the EOCD record at the tail (fixed 22 bytes when commentless),
    follow cd_offset to the central directory, WALK its
    variable-length entries (46 bytes + namelen + extralen +
    commentlen, so entry k's offset needs entry k-1 parsed — an
    F.aggregate fold accumulating the offset array, the back-pointer
    sibling of tar_index's front walk), then per member emit the name,
    sizes, method, the local-header offset, magic checks at BOTH
    header sites, and an md5 of the data region proving the chain
    lands on real bytes.

    100 TB shape: row-local BINARY reads; the fold does O(#members)
    steps of O(1) field reads; md5 touches each member's span once.
    The payload column MATERIALIZES through a repartition barrier
    before any read: zip_index makes ~30 references to it, and
    CollapseProject would otherwise re-inline the whole fixture
    construction (concat + three crc32s) into every one — the
    tar_index barrier lesson on the build side instead of the walk
    side."""
    z = z.repartition(_shuffle_partitions(z), "doc_id")
    p = F.col("payload")

    def u16(off):  # little-endian, 0-based offset
        return (
            F.conv(F.hex(F.substring(p, (off + 1).cast("int"), 1)), 16, 10)
            .cast("long")
            + F.conv(F.hex(F.substring(p, (off + 2).cast("int"), 1)), 16, 10)
            .cast("long") * 256
        )

    def u32(off):
        return u16(off) + u16(off + 2) * 65536

    def magic(off, want):
        return F.hex(F.substring(p, (off + 1).cast("int"), 4)) == want

    eocd = (F.length(p) - 22).cast("long")
    n_total = u16(eocd + 10)
    cd_off = u32(eocd + 16)
    staged = z.select(
        "doc_id", "payload",
        magic(eocd, "504B0506").alias("eocd_ok"),
        n_total.alias("n_total"),
        # the walk: fold entry index -> append next entry's offset
        # (prev + 46 + namelen + extralen + commentlen)
        F.aggregate(
            F.sequence(F.lit(2), n_total.cast("int")),
            F.array(cd_off),
            lambda acc, _: F.concat(
                acc,
                F.array(
                    F.element_at(acc, -1)
                    + 46
                    + u16(F.element_at(acc, -1) + 28)
                    + u16(F.element_at(acc, -1) + 30)
                    + u16(F.element_at(acc, -1) + 32)
                ),
            ),
        ).alias("entry_offs"),
    )
    e = F.col("e")
    nl = u16(e + 28)
    local_off = u32(e + 42)
    usize = u32(e + 24)
    name = F.substring(p, (e + 47).cast("int"), nl.cast("int")).cast("string")
    # explode(transform(-> struct)) rather than posexplode: GenerateExec
    # with PosExplode takes a pathological row-copy path on this frame;
    # the struct-array form is the same shape tar_index uses.
    return (
        staged.select(
            "doc_id", "payload", "eocd_ok", "n_total",
            F.explode(
                F.transform(
                    "entry_offs",
                    lambda off, i: F.struct(
                        i.alias("member_idx"), off.alias("e")
                    ),
                )
            ).alias("m"),
        )
        .select(
            "doc_id", "payload", "eocd_ok", "n_total",
            F.col("m.member_idx").alias("member_idx"),
            F.col("m.e").alias("e"),
        )
        .select(
            "doc_id",
            F.col("member_idx").cast("bigint").alias("member_idx"),
            name.alias("name"),
            u16(e + 10).alias("method"),
            usize.alias("usize"),
            local_off.alias("local_offset"),
            (F.col("eocd_ok") & magic(e, "504B0102")).alias("cd_ok"),
            magic(local_off, "504B0304").alias("local_ok"),
            F.md5(
                F.substring(
                    p,
                    (
                        local_off + 31 + u16(local_off + 26)
                        + u16(local_off + 28)
                    ).cast("int"),
                    usize.cast("int"),
                )
            ).alias("data_md5"),
        )
    )


# --------------------------------------------------------------------------
# GIF / BMP / WebP / ISO-BMFF (MP4) container parsers.
# The image-format corners the PNG/JPEG/TIFF family doesn't cover:
# GIF's packed bit-field byte, BMP's SIGNED little-endian height
# (negative = top-down row order), WebP's three-way RIFF variant
# dispatch with VP8L's sub-byte 14-bit fields, and the MP4 box walk
# (the length-prefixed BE sibling of tar/zip's member walks — the
# video-shard indexing pass). All fixtures are deterministic and
# mirrored closed-form by the SQL oracles; the physical byte parses
# are pinned by struct.pack reference tests.
# --------------------------------------------------------------------------


def with_gif_payload(docs: DataFrame) -> DataFrame:
    """GIF fixture: 4/5 of rows carry a valid 13-byte GIF header +
    Logical Screen Descriptor ('GIF87a' for even doc_ids, 'GIF89a' for
    odd; LE u16 width/height; a packed byte exercising all three bit
    fields: GCT flag = doc_id % 3 != 0, color resolution = doc_id % 8,
    GCT size = doc_id % 8) followed by the UTF-8 text bytes; doc_id %
    5 == 4 rows are bare text (the rejection path)."""
    d = F.col("doc_id")
    version = F.when(d % 2 == 0, F.lit("3761")).otherwise(F.lit("3961"))
    width = d % 500 + 1
    height = d % 300 + 1
    packed = (
        F.when(d % 3 != 0, F.lit(128)).otherwise(F.lit(0))
        + (d % 8) * 16
        + d % 8
    )
    hdr = F.concat(
        F.lit("474946" + "38"), version,
        _le_hex(width, 2), _le_hex(height, 2),
        _le_hex(packed, 1), _le_hex(d % 256, 1), F.lit("00"),
    )
    payload = F.when(
        d % 5 == 4, F.encode(F.col("text"), "UTF-8")
    ).otherwise(F.concat(F.unhex(hdr), F.encode(F.col("text"), "UTF-8")))
    return docs.select("doc_id", payload.alias("payload"))


def gif_lsd_meta(gif: DataFrame) -> DataFrame:
    """Parse the GIF Logical Screen Descriptor with pure expressions:
    validate 'GIF87a'/'GIF89a', read LE u16 width/height, and unpack
    the flags byte's three bit fields (bit 7 = global color table
    flag, bits 6-4 = color resolution, bits 2-0 = GCT size with
    2^(size+1) table entries). O(1) fixed-offset reads per row, zero
    shuffle, zero UDF — the bit-field member of the container family
    (TIFF branches on endianness; GIF packs three fields in one
    byte)."""
    p = F.col("payload")
    sig6 = F.hex(F.substring(p, 1, 6))
    is_gif = sig6.isin("474946383761", "474946383961")

    packed = _le_uint(p, 11, 1)
    has_gct = F.shiftright(packed, 7).bitwiseAND(F.lit(1)) == 1
    color_res = F.shiftright(packed, 4).bitwiseAND(F.lit(7))
    gct_size = packed.bitwiseAND(F.lit(7))
    return gif.select(
        "doc_id",
        is_gif.cast("long").alias("is_gif"),
        F.when(is_gif, F.when(sig6.endswith("3761"), "87a").otherwise("89a"))
        .alias("version"),
        F.when(is_gif, _le_uint(p, 7, 2)).alias("width"),
        F.when(is_gif, _le_uint(p, 9, 2)).alias("height"),
        F.when(is_gif, has_gct).alias("has_gct"),
        F.when(is_gif, color_res.cast("long")).alias("color_resolution"),
        F.when(
            is_gif,
            # 2^(size+1) via pow (shiftleft needs a literal shift); size
            # <= 7 so the double is exact
            F.when(
                has_gct,
                F.pow(F.lit(2.0), (gct_size + 1).cast("double")),
            ).otherwise(F.lit(0)).cast("long"),
        ).alias("gct_entries"),
        F.when(is_gif, _le_uint(p, 12, 1)).alias("bg_index"),
    )


def with_bmp_payload(docs: DataFrame) -> DataFrame:
    """BMP fixture: 4/5 of rows carry a valid 54-byte
    BITMAPFILEHEADER + BITMAPINFOHEADER ('BM', LE u32 file size, LE
    u32 pixel-data offset = 54, DIB size = 40, i32 width, SIGNED i32
    height — negative, i.e. top-down row order, when doc_id % 3 == 0
    (two's-complement encoding is the novel parse), planes = 1, bpp
    cycling 8/16/24, compression = 0) followed by the text bytes as
    stand-in pixel data; doc_id % 5 == 4 rows are bare text."""
    d = F.col("doc_id")
    text_len = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    width = d % 400 + 1
    hmag = d % 300 + 1
    # two's complement of -hmag as an unsigned u32
    height_raw = F.when(d % 3 == 0, F.lit(2**32).cast("long") - hmag).otherwise(hmag)
    bpp = (d % 3) * 8 + 8  # 8 / 16 / 24 by residue — keep derivable
    hdr = F.concat(
        F.lit("424D"),                      # 'BM'
        _le_hex(text_len + 54, 4),          # file size
        F.lit("00000000"),                  # reserved
        _le_hex(F.lit(54), 4),              # pixel-data offset
        _le_hex(F.lit(40), 4),              # DIB header size
        _le_hex(width, 4),
        _le_hex(height_raw, 4),
        _le_hex(F.lit(1), 2),               # planes
        _le_hex(bpp, 2),
        _le_hex(F.lit(0), 4),               # compression = BI_RGB
        F.repeat(F.lit("00"), 20),          # remaining DIB fields
    )
    payload = F.when(
        d % 5 == 4, F.encode(F.col("text"), "UTF-8")
    ).otherwise(F.concat(F.unhex(hdr), F.encode(F.col("text"), "UTF-8")))
    return docs.select("doc_id", payload.alias("payload"))


def bmp_header_meta(bmp: DataFrame) -> DataFrame:
    """Parse BMP headers with pure expressions — the SIGNED-field
    member of the container family: height is a little-endian two's-
    complement i32 whose sign encodes row order (negative = top-down),
    so the parser must reconstruct the sign from the unsigned read
    (v >= 2^31 -> v - 2^32). Also validates 'BM', reads file size,
    pixel-data offset, width, planes, bpp, compression. O(1)/row.

    Rejection check is deliberately stronger than the 2-byte magic:
    'BM' is a plausible English text prefix (unlike the 6-8 byte
    GIF/WebP/PNG magics), so a bare-text row starting with "BM..."
    must not be classified as a BMP. We additionally require the
    payload to hold a full BITMAPINFOHEADER (>= 54 bytes) with the
    DIB header-size field (LE u32 at offset 14) == 40 — the BMP
    variant the fixture writes."""
    p = F.col("payload")

    is_bmp = (
        (F.hex(F.substring(p, 1, 2)) == "424D")
        & (F.octet_length(p) >= 54)
        & (_le_uint(p, 15, 4) == 40)
    )

    hraw = _le_uint(p, 23, 4)
    hsigned = F.when(hraw >= 2**31, hraw - F.lit(2**32).cast("long")).otherwise(hraw)
    return bmp.select(
        "doc_id",
        is_bmp.cast("long").alias("is_bmp"),
        F.when(is_bmp, _le_uint(p, 3, 4)).alias("file_size"),
        F.when(is_bmp, _le_uint(p, 11, 4)).alias("data_offset"),
        F.when(is_bmp, _le_uint(p, 19, 4)).alias("width"),
        F.when(is_bmp, F.abs(hsigned)).alias("height"),
        F.when(is_bmp, (hsigned < 0)).alias("top_down"),
        F.when(is_bmp, _le_uint(p, 29, 2)).alias("bits_per_pixel"),
        F.when(is_bmp, _le_uint(p, 31, 4) == 0).alias("uncompressed"),
    )


def with_webp_payload(docs: DataFrame) -> DataFrame:
    """WebP fixture: 4/5 of rows carry a valid RIFF/WEBP container —
    lossy 'VP8 ' bitstream for even doc_ids (3-byte frame tag, the
    9D 01 2A start code, 14-bit width/height in LE u16s with 2-bit
    scale fields = doc_id % 4) and lossless 'VP8L' for odd (the 2F
    signature byte, then width-1 / height-1 as 14-bit fields packed
    into one LE u32 with an alpha bit = doc_id % 2 of doc_id/2);
    doc_id % 5 == 4 rows are bare text. Text bytes follow as stand-in
    bitstream payload."""
    d = F.col("doc_id")
    text_len = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    width = d % 800 + 1
    height = d % 600 + 1
    scale = d % 4
    # lossy: u16 = (scale << 14) | dim
    lossy_chunk = F.concat(
        F.lit("56503820"),                        # 'VP8 '
        _le_hex(text_len + 10, 4),                # chunk size
        _le_hex(d % 256, 1), F.lit("0000"),       # frame tag (3 bytes)
        F.lit("9D012A"),                          # start code
        _le_hex(scale * 16384 + width, 2),
        _le_hex(scale * 16384 + height, 2),
    )
    alpha = F.floor(d / 2) % 2
    packed = (width - 1) + (height - 1) * 16384 + alpha * F.lit(2**28).cast("long")
    lossless_chunk = F.concat(
        F.lit("5650384C"),                        # 'VP8L'
        _le_hex(text_len + 5, 4),                 # chunk size
        F.lit("2F"),                              # VP8L signature
        _le_hex(packed, 4),
    )
    chunk = F.when(d % 2 == 0, lossy_chunk).otherwise(lossless_chunk)
    riff = F.concat(
        F.lit("52494646"),
        _le_hex(
            text_len + F.when(d % 2 == 0, F.lit(22)).otherwise(F.lit(17)), 4
        ),                                        # RIFF size = total - 8
        F.lit("57454250"),                        # 'WEBP'
        chunk,
    )
    payload = F.when(
        d % 5 == 4, F.encode(F.col("text"), "UTF-8")
    ).otherwise(F.concat(F.unhex(riff), F.encode(F.col("text"), "UTF-8")))
    return docs.select("doc_id", payload.alias("payload"))


def webp_meta(webp: DataFrame) -> DataFrame:
    """Parse WebP dimensions with pure expressions — the
    variant-dispatch member of the container family: one RIFF
    container, three bitstream layouts ('VP8 ' lossy = 14-bit fields
    inside LE u16s after a start code; 'VP8L' lossless = two 14-bit
    fields + alpha bit packed into one LE u32, stored MINUS ONE; the
    parser dispatches on the chunk fourcc and decodes each shape).
    O(1)/row, zero shuffle, zero UDF."""
    p = F.col("payload")
    is_webp = (F.hex(F.substring(p, 1, 4)) == "52494646") & (
        F.hex(F.substring(p, 9, 4)) == "57454250"
    )
    fourcc = F.substring(p, 13, 4).cast("string")

    lossy_ok = F.hex(F.substring(p, 24, 3)) == "9D012A"
    lossy_w = _le_uint(p, 27, 2).bitwiseAND(F.lit(16383))
    lossy_h = _le_uint(p, 29, 2).bitwiseAND(F.lit(16383))
    vp8l_ok = F.hex(F.substring(p, 21, 1)) == "2F"
    packed = _le_uint(p, 22, 4)
    vp8l_w = packed.bitwiseAND(F.lit(16383)) + 1
    vp8l_h = F.shiftright(packed, 14).bitwiseAND(F.lit(16383)) + 1
    vp8l_alpha = F.shiftright(packed, 28).bitwiseAND(F.lit(1)) == 1
    fmt = F.when(fourcc == "VP8 ", F.lit("lossy")).when(
        fourcc == "VP8L", F.lit("lossless")
    )
    ok = (
        F.when(fourcc == "VP8 ", lossy_ok)
        .when(fourcc == "VP8L", vp8l_ok)
        .otherwise(F.lit(False))
    )
    return webp.select(
        "doc_id",
        is_webp.cast("long").alias("is_webp"),
        F.when(is_webp & ok, fmt).alias("format"),
        F.when(
            is_webp & ok,
            F.when(fourcc == "VP8 ", lossy_w).otherwise(vp8l_w),
        ).alias("width"),
        F.when(
            is_webp & ok,
            F.when(fourcc == "VP8 ", lossy_h).otherwise(vp8l_h),
        ).alias("height"),
        F.when(is_webp & ok & (fourcc == "VP8L"), vp8l_alpha).alias(
            "has_alpha"
        ),
    )


_MP4_WALK_STEPS = 4  # fixture bound: ftyp + free + mdat + moov


def with_mp4_payload(docs: DataFrame) -> DataFrame:
    """ISO-BMFF (MP4) fixture: 4/5 of rows carry a 4-box file —
    ftyp(20: brand 'isom', minor 0x200, one compatible brand 'iso2'),
    free(doc_id % 32 + 8: zero padding, so the walk must READ the size
    field), mdat(8 + text bytes), moov(8, stand-in) — sizes and types
    as u32-BE + fourcc box headers; doc_id % 5 == 4 rows are bare
    text."""
    d = F.col("doc_id")
    text_len = F.octet_length(F.encode(F.col("text"), "UTF-8"))

    free_len = d % 32 + 8
    boxes = F.concat(
        _be_hex(F.lit(20), 4), F.lit("66747970"),       # ftyp
        F.lit("69736F6D"), _be_hex(F.lit(512), 4),      # brand, minor
        F.lit("69736F32"),                             # compatible brand
        _be_hex(free_len, 4), F.lit("66726565"),        # free
        F.repeat(F.lit("00"), (free_len - 8).cast("int")),
        _be_hex(text_len + 8, 4), F.lit("6D646174"),    # mdat
    )
    tail = F.unhex(F.concat(_be_hex(F.lit(8), 4), F.lit("6D6F6F76")))  # moov
    payload = F.when(d % 5 == 4, F.encode(F.col("text"), "UTF-8")).otherwise(
        F.concat(F.unhex(boxes), F.encode(F.col("text"), "UTF-8"), tail)
    )
    return docs.select("doc_id", payload.alias("payload"))


def mp4_box_index(mp4: DataFrame) -> DataFrame:
    """Index the top-level box table of an ISO-BMFF (MP4) payload —
    the big-endian length-prefixed sibling of tar_index (size-padded)
    and zip_index (tail-directory): each box is u32-BE size + fourcc,
    and the walk hops size-by-size from offset 0. The hop runs as ONE
    F.aggregate fold (the multimodal_jpeg_meta CollapseProject lesson:
    per-step column expressions re-inline exponentially), emitting a
    bounded 4-entry box array that explodes via the struct-transform
    idiom (NOT posexplode — see the zip_index ladder). Non-MP4 rows
    keep one row with NULL box fields; end_ok checks the walk landed
    exactly on the payload end.

    100 TB shape: O(boxes)/row expressions below one repartition
    barrier, zero shuffle beyond it, zero UDF — a WebDataset-style
    video-shard indexing pass."""
    p = F.col("payload")
    plen = F.octet_length(p)
    is_mp4 = F.hex(F.substring(p, 5, 4)) == "66747970"

    boxes = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MP4_WALK_STEPS)),
        F.struct(
            F.lit(0).cast("long").alias("off"),
            F.array().cast(
                "array<struct<idx:long,off:long,size:long,type:string>>"
            ).alias("acc"),
        ),
        lambda acc, i: F.struct(
            (acc["off"] + _be_uint(p, acc["off"], 4)).alias("off"),
            F.concat(
                acc["acc"],
                F.array(
                    F.struct(
                        (i - 1).cast("long").alias("idx"),
                        acc["off"].alias("off"),
                        _be_uint(p, acc["off"], 4).alias("size"),
                        F.substring(
                            p, (acc["off"] + 5).cast("int"), 4
                        ).cast("string").alias("type"),
                    )
                ),
            ).alias("acc"),
        ),
    )
    base = (
        mp4.repartition(_shuffle_partitions(mp4), "doc_id")
        .select(
            "doc_id",
            plen.alias("plen"),
            is_mp4.alias("is_mp4"),
            F.when(is_mp4, boxes).alias("b"),
        )
    )
    exploded = base.select(
        "doc_id", "plen", "is_mp4",
        F.col("b.off").alias("end_off"),
        F.explode_outer(
            F.when(
                F.col("is_mp4"),
                F.col("b.acc"),
            ).otherwise(
                F.array(
                    F.lit(None).cast(
                        "struct<idx:long,off:long,size:long,type:string>"
                    )
                )
            )
        ).alias("m"),
    )
    return exploded.select(
        "doc_id",
        F.col("is_mp4").cast("long").alias("is_mp4"),
        F.col("m.idx").alias("box_idx"),
        F.col("m.type").alias("box_type"),
        F.col("m.size").alias("box_size"),
        F.col("m.off").alias("box_offset"),
        F.when(F.col("is_mp4"), F.col("end_off") == F.col("plen")).alias(
            "end_ok"
        ),
    )


_PNG_WALK_STEPS = 4  # fixture bound: IHDR + tEXt + IDAT + IEND


def with_png_chunks_payload(docs: DataFrame) -> DataFrame:
    """Full-structure PNG fixture: 4/5 of rows carry a spec-valid
    4-chunk PNG — signature, IHDR (width/height from doc_id, 8-bit
    RGB), a tEXt chunk whose keyword length varies by doc_id (offsets
    unknowable without the walk), an IDAT carrying a text-prefix as
    stand-in compressed data, and IEND — with REAL CRC-32s
    (F.crc32 over type+data, the PNG spec's coverage). Rows with
    doc_id % 7 == 3 get their tEXt CRC corrupted (xor 0xFF), so CRC
    verification is load-bearing, not decorative; doc_id % 5 == 4 rows
    are bare text (rejection path)."""
    d = F.col("doc_id")

    def chunk(type_hex: str, data_hex, corrupt=None):
        body = F.concat(F.lit(type_hex), data_hex)
        crc = F.crc32(F.unhex(body))
        if corrupt is not None:
            crc = F.when(corrupt, crc.bitwiseXOR(F.lit(255))).otherwise(crc)
        return F.concat(
            _be_hex(F.octet_length(F.unhex(data_hex)), 4), body, _be_hex(crc, 4)
        )

    ihdr_data = F.concat(
        _be_hex(d % 480 + 8, 4), _be_hex(d % 640 + 8, 4),
        F.lit("08") , F.lit("02"),          # bit depth 8, color type RGB
        F.lit("000000"),                    # compression/filter/interlace
    )
    text_kw = F.repeat(F.lit("6B"), (d % 20 + 1).cast("int"))  # 'k' * n
    text_data = F.concat(text_kw, F.lit("00"), F.lit("76"))     # kw NUL 'v'
    idat_data = F.substring(
        F.hex(F.encode(F.col("text"), "UTF-8")), 1, 160
    )  # 80-byte stand-in stream (hex substring keeps whole bytes)
    png = F.concat(
        F.lit("89504E470D0A1A0A"),
        chunk("49484452", ihdr_data),
        chunk("74455874", text_data, corrupt=(d % 7 == 3)),
        chunk("49444154", idat_data),
        chunk("49454E44", F.lit("")),
    )
    payload = F.when(
        d % 5 == 4, F.encode(F.col("text"), "UTF-8")
    ).otherwise(F.unhex(png))
    return docs.select("doc_id", payload.alias("payload"))


def png_chunk_index(png: DataFrame) -> DataFrame:
    """Index a PNG's chunk table with REAL CRC-32 verification — the
    checksummed member of the walk family (tar verifies octal header
    checksums, zip verifies CRCs via the spec test; PNG's CRC covers
    type+data and F.crc32 recomputes it IN-PLAN): hop
    length-BE/type/data/CRC records from byte 8 as ONE F.aggregate
    fold, then explode and verify each chunk's stored CRC against
    F.crc32 of the type+data slice. Corrupted chunks (the fixture
    plants them) surface as crc_ok = false.

    100 TB shape: O(chunks)/row expressions below a repartition
    barrier; bounded ×4 explode; zero shuffle beyond the barrier, zero
    UDF — the integrity-scan pass of an image-corpus ingest."""
    p = F.col("payload")
    plen = F.octet_length(p)
    is_png = F.hex(F.substring(p, 1, 8)) == "89504E470D0A1A0A"

    chunks = F.aggregate(
        F.sequence(F.lit(1), F.lit(_PNG_WALK_STEPS)),
        F.struct(
            F.lit(8).cast("long").alias("off"),
            F.array().cast(
                "array<struct<idx:long,off:long,dlen:long,type:string>>"
            ).alias("acc"),
        ),
        lambda acc, i: F.struct(
            (acc["off"] + 12 + _be_uint(p, acc["off"], 4)).alias("off"),
            F.concat(
                acc["acc"],
                F.array(
                    F.struct(
                        (i - 1).cast("long").alias("idx"),
                        acc["off"].alias("off"),
                        _be_uint(p, acc["off"], 4).alias("dlen"),
                        F.substring(
                            p, (acc["off"] + 5).cast("int"), 4
                        ).cast("string").alias("type"),
                    )
                ),
            ).alias("acc"),
        ),
    )
    base = (
        png.repartition(_shuffle_partitions(png), "doc_id")
        .select(
            "doc_id",
            "payload",
            plen.alias("plen"),
            is_png.alias("is_png"),
            F.when(is_png, chunks).alias("c"),
        )
    )
    # struct-transform explode (NOT posexplode) carries the payload
    # column safely — the zip_index ladder's lesson
    exploded = base.select(
        "doc_id", "payload", "plen", "is_png",
        F.col("c.off").alias("end_off"),
        F.explode_outer(
            F.when(F.col("is_png"), F.col("c.acc")).otherwise(
                F.array(
                    F.lit(None).cast(
                        "struct<idx:long,off:long,dlen:long,type:string>"
                    )
                )
            )
        ).alias("m"),
    )
    off, dlen = F.col("m.off"), F.col("m.dlen")
    stored = F.conv(
        F.hex(F.substring(p, (off + 9 + dlen).cast("int"), 4)), 16, 10
    ).cast("long")
    calc = F.crc32(F.substring(p, (off + 5).cast("int"), (dlen + 4).cast("int")))
    return exploded.select(
        "doc_id",
        F.col("is_png").cast("long").alias("is_png"),
        F.col("m.idx").alias("chunk_idx"),
        F.col("m.type").alias("chunk_type"),
        dlen.alias("data_len"),
        off.alias("chunk_offset"),
        F.when(F.col("is_png"), stored == calc).alias("crc_ok"),
        F.when(F.col("is_png"), F.col("end_off") == F.col("plen")).alias(
            "end_ok"
        ),
    )
