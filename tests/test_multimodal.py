"""Property + adversarial-payload tests for the binary-column operators
(operators/multimodal.py): byte_entropy / byte_chisq / detect_format /
png_ihdr_meta must agree with tiny plain-Python specifications on
payloads the synthetic corpus never produces — empty, 1-byte,
all-identical bytes (entropy 0), all-256-distinct bytes (entropy 8),
multi-byte UTF-8, truncated magics, and random byte strings."""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
    _be_uint,
    _le_uint,
    byte_chisq,
    byte_entropy,
    detect_format,
    png_ihdr_meta,
    with_container_payload,
)

MAX_BYTES = 256


def py_byte_stats(payload: bytes) -> dict | None:
    """Executable spec: entropy/chi-square over the first 256 bytes.
    None == the zero-length drop rule."""
    b = payload[:MAX_BYTES]
    n = len(b)
    if n == 0:
        return None
    c = Counter(b)
    entropy = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
    chi2 = 256.0 * sum(v * v for v in c.values()) / n - n
    return {
        "byte_len": len(payload),
        "n_bytes": n,
        "n_distinct_bytes": len(c),
        "entropy_bits": entropy,
        "chi_square": chi2,
    }


def _payload_df(spark, payloads: list[bytes]):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )


def _check_against_spec(spark, payloads: list[bytes]) -> None:
    df = _payload_df(spark, payloads)
    ent = {r["doc_id"]: r for r in byte_entropy(df).collect()}
    chi = {r["doc_id"]: r for r in byte_chisq(df).collect()}
    for i, p in enumerate(payloads):
        spec = py_byte_stats(p)
        if spec is None:
            assert i not in ent and i not in chi, "zero-length row kept"
            continue
        for got in (ent[i], chi[i]):
            assert got["byte_len"] == spec["byte_len"]
            assert got["n_bytes"] == spec["n_bytes"]
            assert got["n_distinct_bytes"] == spec["n_distinct_bytes"]
        assert abs(ent[i]["entropy_bits"] - spec["entropy_bits"]) < 1e-6
        assert abs(chi[i]["chi_square"] - spec["chi_square"]) < 1e-6


def test_byte_stats_boundary_payloads(spark):
    """The hand-picked adversarial set: empty (dropped), 1-byte
    (entropy 0, chi2 255), all-identical (entropy 0), all-256-distinct
    (entropy 8, chi2 0), >256 bytes (slice rule), multi-byte UTF-8."""
    payloads = [
        b"",
        b"\x00",
        b"a" * 7,
        bytes(range(256)),
        bytes(range(256)) * 3 + b"tail beyond the slice",
        "héllo wörld \U0001f389".encode("utf-8"),
        b"\xff" * 300,
    ]
    _check_against_spec(spark, payloads)

    df = _payload_df(spark, payloads)
    ent = {r["doc_id"]: r for r in byte_entropy(df).collect()}
    chi = {r["doc_id"]: r for r in byte_chisq(df).collect()}
    assert ent[1]["entropy_bits"] == 0.0 and chi[1]["chi_square"] == 255.0
    assert ent[2]["entropy_bits"] == 0.0
    assert ent[3]["entropy_bits"] == 8.0 and chi[3]["chi_square"] == 0.0
    # slice rule: only the first 256 bytes count, byte_len sees them all
    assert ent[4]["n_bytes"] == 256 and ent[4]["byte_len"] == len(
        bytes(range(256)) * 3 + b"tail beyond the slice"
    )
    # multi-byte UTF-8: stats are BYTE-level (17 bytes, not 13 chars)
    assert ent[5]["n_bytes"] == len("héllo wörld \U0001f389".encode("utf-8"))


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=400), min_size=1, max_size=8
    )
)
def test_byte_stats_match_python_spec(spark, payloads):
    _check_against_spec(spark, payloads)


@st.composite
def _fields(draw):
    """(offset, width, payloads): a field of 1-4 bytes at a 0-based
    offset, and payloads long enough to hold it."""
    off = draw(st.integers(0, 12))
    nbytes = draw(st.integers(1, 4))
    size = st.binary(min_size=off + nbytes, max_size=off + nbytes + 6)
    return off, nbytes, draw(st.lists(size, min_size=1, max_size=8))


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(_fields())
def test_byte_readers_match_int_from_bytes(spark, field):
    """The payload readers every container parser uses: _le_uint (1-based
    int position) and _be_uint (0-based Column offset) read the same
    unsigned field as int.from_bytes in their byte order."""
    off, nbytes, payloads = field
    p = F.col("payload")
    got = spark.createDataFrame(
        list(enumerate(payloads)), "i long, payload binary"
    ).select(
        "i",
        _le_uint(p, off + 1, nbytes).alias("le"),
        _be_uint(p, F.lit(off), nbytes).alias("be"),
    ).collect()
    for r in got:
        field_bytes = payloads[r.i][off:off + nbytes]
        assert r.le == int.from_bytes(field_bytes, "little")
        assert r.be == int.from_bytes(field_bytes, "big")


def test_detect_format_truncated_magics(spark):
    """Payloads shorter than the sniff window or matching only a magic
    prefix must not error and must classify like a prefix table would."""
    cases = [
        (b"", "unknown"),
        (b"\x89", "unknown"),                      # 1 byte of PNG magic
        (b"\x89PNG\r\n\x1a\n", "png"),             # exactly the magic
        (b"\xff\xd8\xff", "jpeg"),                 # JPEG SOI+1, no APP0
        (b"\xff\xd8", "unknown"),                  # too short for FFD8FF
        (b"GIF87a", "gif"),
        (b"GIF87", "unknown"),
        (b"\x89PNG\r\n\x1a\ntrailing-bytes", "png"),
    ]
    df = _payload_df(spark, [p for p, _ in cases])
    got = {r["doc_id"]: r["detected_format"] for r in detect_format(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"payload {i}: got {got[i]}, want {want}"


def test_png_ihdr_meta_parses_real_png_header(spark):
    """png_ihdr_meta reads the actual big-endian IHDR fields of a real
    PNG header byte string, and rejects truncated or magic-only
    payloads (NULL dimensions, row kept)."""
    real = (
        b"\x89PNG\r\n\x1a\n"          # magic
        + (13).to_bytes(4, "big")      # IHDR length
        + b"IHDR"
        + (1920).to_bytes(4, "big")    # width
        + (1080).to_bytes(4, "big")    # height
        + bytes([16, 6])               # bit depth 16, color type RGBA
    )
    magic_only = b"\x89PNG\r\n\x1a\n"
    truncated = real[:14]  # magic + length + 'I' only
    df = _payload_df(spark, [real, magic_only, truncated, b"not a png"])
    rows = {r["doc_id"]: r for r in png_ihdr_meta(df).collect()}
    assert rows[0]["is_png"] == 1
    assert rows[0]["width"] == 1920 and rows[0]["height"] == 1080
    assert rows[0]["bit_depth"] == 16 and rows[0]["color_type"] == 6
    for i in (1, 2, 3):
        assert rows[i]["is_png"] == 0
        assert rows[i]["width"] is None and rows[i]["height"] is None


def test_container_payload_roundtrip(spark, sf_dir):
    """with_container_payload -> png_ihdr_meta closes the loop: every
    doc_id % 4 == 0 row parses back exactly the width/height the
    generator encoded; every other residue yields NULL dims."""
    from pipeline_apache_beam_entrega1_cs_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = png_ihdr_meta(with_container_payload(docs))
    bad = out.filter(
        (
            (F.col("doc_id") % 4 == 0)
            & (
                (F.col("is_png") != 1)
                | (F.col("width") != F.col("doc_id") % 640 + 16)
                | (F.col("height") != F.col("doc_id") % 480 + 16)
                | (F.col("bit_depth") != 8)
                | (F.col("color_type") != 2)
            )
        )
        | ((F.col("doc_id") % 4 != 0) & (F.col("is_png") != 0))
    )
    assert bad.count() == 0
    assert out.count() == docs.count()


def test_wav_fmt_meta_parses_real_struct_header(spark):
    """wav_fmt_meta against ground truth: a canonical 44-byte PCM WAV
    header built independently with struct.pack (the layout from the
    RIFF spec, not from the operator's own builder) parses to the
    planted field values; truncated and non-RIFF payloads yield
    is_wav=0 with NULL fields."""
    import struct

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import wav_fmt_meta

    def wav(channels, rate, bits, n_samples):
        data_len = n_samples * channels * bits // 8
        byte_rate = rate * channels * bits // 8
        return (
            b"RIFF"
            + struct.pack("<I", 36 + data_len)
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate,
                          channels * bits // 8, bits)
            + b"data"
            + struct.pack("<I", data_len)
            + b"\x00" * data_len
        )

    rows = [
        (1, wav(2, 44100, 16, 44100)),       # 1 s stereo CD audio
        (2, wav(1, 8000, 8, 4000)),          # 0.5 s telephone mono
        (3, b"RIFF"),                         # truncated
        (4, b"\x89PNG\r\n\x1a\nxxxx"),       # wrong container
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in wav_fmt_meta(df).collect()}
    assert out[1]["is_wav"] == 1 and out[1]["channels"] == 2
    assert out[1]["sample_rate"] == 44100 and out[1]["bits_per_sample"] == 16
    assert out[1]["byte_rate"] == 176400 and out[1]["duration_ms"] == 1000
    assert out[2]["is_wav"] == 1 and out[2]["channels"] == 1
    assert out[2]["sample_rate"] == 8000 and out[2]["duration_ms"] == 500
    for bad in (3, 4):
        assert out[bad]["is_wav"] == 0
        assert out[bad]["sample_rate"] is None and out[bad]["duration_ms"] is None


def test_resize_stub_aspect_and_thumb_spec(spark):
    """Resize plumbing vs a plain-Python spec on planted payloads:
    aspect ratio is preserved within floor rounding, output never
    exceeds the 224 box, small images are NEVER upscaled, and the
    strided thumbnail is exactly payload[::stride][:16]."""
    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        resize_image_stub,
    )

    texts = ["", "a", "x" * 31, "y" * 32, "z" * 1000, "w" * 700]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out = {r["doc_id"]: r for r in resize_image_stub(docs).collect()}
    assert set(out) == set(range(len(texts)))
    for i, t in enumerate(texts):
        b = t.encode()
        blen = len(b)
        w, h = blen % 640 + 1, blen % 480 + 1
        scale = min(224 / w, 224 / h, 1.0)
        stride = max(1, blen // 32)
        r = out[i]
        assert (r["in_w"], r["in_h"]) == (w, h)
        assert r["out_w"] == max(1, int(w * scale))
        assert r["out_h"] == max(1, int(h * scale))
        assert r["out_w"] <= 224 and r["out_h"] <= 224
        if w <= 224 and h <= 224:  # no upscale
            assert (r["out_w"], r["out_h"]) == (w, h)
        assert r["stride"] == stride
        assert r["thumb_hex"] == b[::stride][:16].hex()
        assert r["thumb_len"] == len(b[::stride][:16])


def test_ahash_matches_python_spec(spark):
    """The aHash bit string must equal a plain-Python threshold pass,
    identical payloads must land in one group, and a single changed
    byte must flip only a small number of bits (perceptual locality)."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        ahash_dedup,
        with_binary_payload,
    )

    base = "x" * 30 + "HELLO WORLD, THIS IS A PAYLOAD!!" + "y" * 10
    variant = "     " + base[5:]  # 5 bright bytes -> spaces: crosses mean
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, variant), (4, "tiny")],
        ["doc_id", "text"],
    )
    rows = ahash_dedup(with_binary_payload(docs)).collect()

    def spec(s):
        v = [b for b in s.encode()[:64]]
        t = sum(v)
        return "".join("1" if x * 64 > t else "0" for x in v)

    groups = {r.ahash: r for r in rows}
    assert groups[spec(base)].n_docs == 2  # docs 1+2 collapse
    assert groups[spec(base)].keeper_id == 1
    assert spec(variant) in groups and groups[spec(variant)].n_docs == 1
    assert sum(r.n_docs for r in rows) == 3  # doc 4 (<64 bytes) excluded
    # perceptual locality: a 5-byte edit flips few bits, never ~half
    ham = sum(a != b for a, b in zip(spec(base), spec(variant)))
    assert 0 < ham <= 12


def test_cdc_boundary_shift_robustness(spark):
    """The CDC property itself: inserting bytes at the FRONT of a blob
    must leave the tail chunks identical (fixed-size blocks would lose
    all alignment). Two docs sharing a long tail must report shared
    chunks."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        cdc_chunk_stats,
        with_binary_payload,
    )

    tail = ("the common tail content that should chunk identically "
            "regardless of what precedes it ") * 4
    docs = spark.createDataFrame(
        [(1, tail), (2, "INSERTED PREFIX >>> " + tail)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           cdc_chunk_stats(with_binary_payload(docs)).collect()}
    # both docs found at least one chunk the other also contains
    assert out[1].n_shared_chunks >= 1
    assert out[2].n_shared_chunks >= 1
    assert out[1].bytes_chunked == min(256, len(tail.encode()))


def test_audio_trim_bounds_spec(spark):
    """Leading/trailing silence must be trimmed: a clip whose PCM is
    quiet-loud-quiet keeps exactly the loud span; an all-quiet clip
    reports kept_frames = 0."""
    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        audio_trim_bounds,
        with_wav_payload,
    )

    # PCM bytes are UTF-8 text bytes, so silence must be a 1-byte char
    # near the 128 DC offset: DEL (127) has deviation 1 -> rms 1 < 8
    quiet = chr(127) * 64
    loud = "A" * 64               # dev 63 -> rms 63
    docs = spark.createDataFrame(
        [(1, quiet + loud + quiet), (5, quiet * 3)],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in
            audio_trim_bounds(with_wav_payload(docs)).collect()}
    r1 = rows[1]
    assert (r1.first_loud, r1.last_loud) == (4, 7)  # frames 4..7 = loud 64B
    assert r1.kept_frames == 4 and r1.n_frames == 12
    r5 = rows[5]
    assert r5.kept_frames == 0 and r5.first_loud is None
def test_npy_payload_matches_real_numpy(spark):
    """The .npy fixture must be byte-identical to numpy.save output for
    the same dtype/shape (zero data): if numpy's writer and our
    expression-built container ever disagree, the parser is being
    tested against a fantasy format."""
    import io

    import numpy as np

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        npy_header_meta,
        with_npy_payload,
    )

    emb = spark.createDataFrame([(0,), (1,)], "vec_id long")
    rows = {r.vec_id: bytes(r.payload)
            for r in with_npy_payload(emb, dim=64).collect()}

    for vec_id, dtype in ((0, "<f8"), (1, "<f4")):
        buf = io.BytesIO()
        np.save(buf, np.zeros(64, dtype=dtype))
        ref = bytearray(buf.getvalue())
        got = rows[vec_id]
        # our fixture plants the big-endian vec_id in the first 8 data
        # bytes; zero it to compare the container layout
        data_start = len(ref) - 64 * (8 if dtype == "<f8" else 4)
        got_zeroed = bytearray(got)
        got_zeroed[data_start:data_start + 8] = b"\x00" * 8
        assert bytes(got_zeroed) == bytes(ref), (
            vec_id, got[:80], bytes(ref)[:80])

    meta = {r.vec_id: r for r in
            npy_header_meta(with_npy_payload(emb, dim=64)).collect()}
    assert meta[0].dtype == "<f8" and meta[1].dtype == "<f4"
    assert all(m.magic_ok and m.data_len_ok and m.data_roundtrip_ok
               and m.shape == 64 for m in meta.values())


def test_tiff_payload_matches_struct_reference(spark):
    """The TIFF fixture must be byte-identical to a struct.pack-built
    reference TIFF in BOTH byte orders, and the expression parser must
    agree with a pure-Python struct parse of those bytes."""
    import struct

    from pyspark.sql import functions as F

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        tiff_header_meta,
        with_tiff_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"strip data {i}") for i in range(12)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload)
            for r in with_tiff_payload(docs).collect()}

    def ref_tiff(doc_id, text):
        le = doc_id % 2 == 0
        e = "<" if le else ">"
        pad = doc_id % 5
        ifd_off = 8 + pad
        width, height = 16 + doc_id % 241, 16 + doc_id % 181
        out = (b"II" if le else b"MM") + struct.pack(e + "H", 42)
        out += struct.pack(e + "I", ifd_off) + b"\x00" * pad
        out += struct.pack(e + "H", 2)
        out += struct.pack(e + "HHII", 256, 4, 1, width)
        out += struct.pack(e + "HHII", 257, 4, 1, height)
        out += struct.pack(e + "I", 0)
        return out + text.encode()

    def ref_parse(b):
        le = b[:2] == b"II"
        e = "<" if le else ">"
        magic = struct.unpack_from(e + "H", b, 2)[0]
        ifd = struct.unpack_from(e + "I", b, 4)[0]
        n = struct.unpack_from(e + "H", b, ifd)[0]
        dims = {}
        for i in range(n):
            tag, ftype, cnt, val = struct.unpack_from(
                e + "HHII", b, ifd + 2 + 12 * i)
            dims[tag] = val
        nxt = struct.unpack_from(e + "I", b, ifd + 2 + 12 * n)[0]
        return (le, magic == 42, ifd, n, dims[256], dims[257], nxt == 0)

    for i in range(12):
        assert rows[i] == ref_tiff(i, f"strip data {i}"), i

    meta = {r.doc_id: r for r in
            tiff_header_meta(with_tiff_payload(docs)).collect()}
    for i in range(12):
        got = meta[i]
        assert (got.is_little_endian, got.magic_ok, got.ifd_offset,
                got.n_entries, got.width, got.height, got.last_ifd
                ) == ref_parse(rows[i]), i


def test_tar_payload_validates_with_python_tarfile(spark):
    """The ustar fixture must be a REAL tar: Python's tarfile opens it,
    lists exactly the 3 members with the expected names/sizes/offsets,
    and member data matches; the expression parser agrees with
    tarfile's own index (including checksum validity — tarfile raises
    on a bad header checksum)."""
    import io
    import tarfile

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        tar_index,
        with_tar_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"payload text {i}") for i in (0, 1, 7, 112, 511, 799)],
        "doc_id long, text string",
    )
    payloads = {r.doc_id: bytes(r.payload)
                for r in with_tar_payload(docs).collect()}
    parsed = {}
    for r in tar_index(with_tar_payload(docs)).collect():
        parsed[(r.doc_id, r.member_idx)] = r

    import hashlib

    for doc_id, blob in payloads.items():
        tf = tarfile.open(fileobj=io.BytesIO(blob))  # raises on bad chksum
        members = tf.getmembers()
        assert [m.name for m in members] == [
            "member0.txt", "member1.txt", "member2.txt"]
        for j, m in enumerate(members):
            r = parsed[(doc_id, j)]
            assert r.name == m.name
            assert r.size == m.size
            # tarfile's offset is the HEADER offset — same convention
            assert r.byte_offset == m.offset, (doc_id, j, r.byte_offset, m.offset)
            assert r.checksum_ok and r.magic_ok
            data = tf.extractfile(m).read()
            assert r.data_md5 == hashlib.md5(data).hexdigest()
        tf.close()


def test_jpeg_payload_matches_marker_walk_reference(spark, sf_dir):
    """The Spark-side expression walk equals a pure-Python JPEG marker
    walker (struct-based, no codec) over the same payloads: SOI
    validation, segment hops via big-endian length fields, SOF0/SOF2
    geometry, the progressive flag, and the non-JPEG rejection path."""
    import struct
    import pipeline_apache_beam_entrega1_cs_spark.operators.multimodal as M

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in M.with_jpeg_payload(docs).collect()
    }
    got = {
        r.doc_id: (r.is_jpeg, r.progressive, r.precision, r.height,
                   r.width, r.n_components, r.sof_offset)
        for r in M.jpeg_sof_meta(M.with_jpeg_payload(docs)).collect()
    }

    def reference(p):
        if p[:2] != b"\xff\xd8":
            return (0, None, None, None, None, None, None)
        off = 2
        for _ in range(64):
            if p[off] == 0xFF and p[off + 1] in (0xC0, 0xC2):
                prec = p[off + 4]
                h, w = struct.unpack(">HH", p[off + 5:off + 9])
                return (1, int(p[off + 1] == 0xC2), prec, h, w,
                        p[off + 9], off)
            (ln,) = struct.unpack(">H", p[off + 2:off + 4])
            off += 2 + ln
        raise AssertionError("no SOF found")

    saw_prog = saw_base = saw_reject = saw_two_com = False
    for doc_id, p in payloads.items():
        assert got[doc_id] == reference(p), doc_id
        if got[doc_id][0] == 0:
            saw_reject = True
        elif got[doc_id][1] == 1:
            saw_prog = True
        else:
            saw_base = True
        if doc_id % 3 == 0 and doc_id % 5 != 4:
            saw_two_com = True
            # two COM segments -> SOF offset really depends on the walk
            assert got[doc_id][6] > 24
    assert saw_prog and saw_base and saw_reject and saw_two_com


def test_zip_payload_validates_with_python_zipfile(spark, sf_dir):
    """The expression-built ZIP archives are REAL: Python's zipfile
    lists the same members at the same offsets the Spark-side walk
    reports, and reading each member verifies the F.crc32-stamped
    checksums byte-for-byte; md5 of the read data matches the walk's
    data_md5 (the offsets address real bytes)."""
    import hashlib
    import io
    import zipfile
    import pipeline_apache_beam_entrega1_cs_spark.operators.multimodal as M

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in M.with_zip_payload(docs).limit(64).collect()
    }
    got = {}
    for r in M.zip_index(M.with_zip_payload(docs)).collect():
        if r.doc_id in payloads:
            assert r.cd_ok and r.local_ok and r.method == 0, r
            got[(r.doc_id, r.name)] = (r.usize, r.local_offset, r.data_md5)
    for doc_id, p in payloads.items():
        zf = zipfile.ZipFile(io.BytesIO(p))
        infos = zf.infolist()
        assert [i.filename for i in infos] == list(M._ZIP_NAMES)
        for i in infos:
            data = zf.read(i.filename)  # raises BadZipFile on CRC error
            assert len(data) == i.file_size
            usize, off, md5 = got[(doc_id, i.filename)]
            assert usize == i.file_size
            assert off == i.header_offset
            assert md5 == hashlib.md5(data).hexdigest()
    assert zf.testzip() is None


def test_gif_payload_and_parse_match_struct_reference(spark):
    """The GIF fixture is byte-identical to a struct.pack-built
    reference (GIF89a spec layout), and gif_lsd_meta agrees with a
    pure-Python unpack of those bytes; % 5 == 4 rows reject."""
    import struct

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        gif_lsd_meta,
        with_gif_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"frame data {i}") for i in range(17)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload)
            for r in with_gif_payload(docs).collect()}

    def ref_gif(doc_id, text):
        if doc_id % 5 == 4:
            return text.encode()
        sig = b"GIF87a" if doc_id % 2 == 0 else b"GIF89a"
        packed = (128 if doc_id % 3 != 0 else 0) | ((doc_id % 8) << 4) | (doc_id % 8)
        lsd = struct.pack("<HHBBB", doc_id % 500 + 1, doc_id % 300 + 1,
                          packed, doc_id % 256, 0)
        return sig + lsd + text.encode()

    for i in range(17):
        assert rows[i] == ref_gif(i, f"frame data {i}"), i

    meta = {r.doc_id: r for r in
            gif_lsd_meta(with_gif_payload(docs)).collect()}
    for i in range(17):
        b = rows[i]
        r = meta[i]
        if i % 5 == 4:
            assert r.is_gif == 0 and r.width is None and r.version is None
            continue
        w, h, packed, bg, _ = struct.unpack_from("<HHBBB", b, 6)
        assert r.is_gif == 1
        assert r.version == b[3:6].decode() == ("87a" if i % 2 == 0 else "89a")
        assert (r.width, r.height, r.bg_index) == (w, h, bg)
        assert r.has_gct == bool(packed >> 7)
        assert r.color_resolution == (packed >> 4) & 7
        assert r.gct_entries == (2 << (packed & 7) if packed >> 7 else 0)


def test_bmp_payload_and_parse_match_struct_reference(spark):
    """The BMP fixture is byte-identical to a struct.pack reference
    (BITMAPFILEHEADER + BITMAPINFOHEADER), and bmp_header_meta decodes
    the SIGNED i32 height (negative = top-down) like struct's '<i'."""
    import struct

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        bmp_header_meta,
        with_bmp_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"pixel rows {i}") for i in range(17)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload)
            for r in with_bmp_payload(docs).collect()}

    def ref_bmp(doc_id, text):
        if doc_id % 5 == 4:
            return text.encode()
        data = text.encode()
        h = doc_id % 300 + 1
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        dib = struct.pack("<IiiHHI", 40, doc_id % 400 + 1,
                          -h if doc_id % 3 == 0 else h,
                          1, (doc_id % 3) * 8 + 8, 0) + b"\x00" * 20
        return hdr + dib + data

    for i in range(17):
        assert rows[i] == ref_bmp(i, f"pixel rows {i}"), i

    meta = {r.doc_id: r for r in
            bmp_header_meta(with_bmp_payload(docs)).collect()}
    for i in range(17):
        r = meta[i]
        if i % 5 == 4:
            assert r.is_bmp == 0 and r.width is None
            continue
        b = rows[i]
        fsize, _, _, off = struct.unpack_from("<IHHI", b, 2)
        _, w, hraw, planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
        assert r.is_bmp == 1
        assert (r.file_size, r.data_offset, r.width) == (fsize, off, w)
        assert r.height == abs(hraw) and r.top_down == (hraw < 0)
        assert r.bits_per_pixel == bpp and r.uncompressed == (comp == 0)


def test_webp_payload_and_parse_match_struct_reference(spark):
    """The WebP fixture is byte-identical to a struct.pack reference
    (RIFF + VP8 lossy / VP8L lossless bitstream headers) and webp_meta
    decodes both variants' packed 14-bit fields like a Python unpack."""
    import struct

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        webp_meta,
        with_webp_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"bitstream {i}") for i in range(17)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload)
            for r in with_webp_payload(docs).collect()}

    def ref_webp(doc_id, text):
        if doc_id % 5 == 4:
            return text.encode()
        data = text.encode()
        w, h, scale = doc_id % 800 + 1, doc_id % 600 + 1, doc_id % 4
        if doc_id % 2 == 0:
            chunk = (b"VP8 " + struct.pack("<I", len(data) + 10)
                     + bytes([doc_id % 256, 0, 0]) + b"\x9d\x01\x2a"
                     + struct.pack("<HH", (scale << 14) | w, (scale << 14) | h))
            riff_size = len(data) + 22
        else:
            packed = (w - 1) | ((h - 1) << 14) | (((doc_id // 2) % 2) << 28)
            chunk = (b"VP8L" + struct.pack("<I", len(data) + 5)
                     + b"\x2f" + struct.pack("<I", packed))
            riff_size = len(data) + 17
        return b"RIFF" + struct.pack("<I", riff_size) + b"WEBP" + chunk + data

    for i in range(17):
        assert rows[i] == ref_webp(i, f"bitstream {i}"), i

    meta = {r.doc_id: r for r in
            webp_meta(with_webp_payload(docs)).collect()}
    for i in range(17):
        r = meta[i]
        if i % 5 == 4:
            assert r.is_webp == 0 and r.format is None
            continue
        b = rows[i]
        assert r.is_webp == 1
        if b[12:16] == b"VP8 ":
            wraw, hraw = struct.unpack_from("<HH", b, 26)
            assert r.format == "lossy"
            assert (r.width, r.height) == (wraw & 0x3FFF, hraw & 0x3FFF)
            assert r.has_alpha is None
        else:
            packed = struct.unpack_from("<I", b, 21)[0]
            assert r.format == "lossless"
            assert r.width == (packed & 0x3FFF) + 1
            assert r.height == ((packed >> 14) & 0x3FFF) + 1
            assert r.has_alpha == bool((packed >> 28) & 1)


def test_mp4_box_index_matches_struct_walk(spark):
    """mp4_box_index equals a pure-Python size-by-size box walk of the
    fixture bytes (u32-BE + fourcc, the ISO-BMFF top-level layout);
    end_ok verifies the walk lands exactly on the payload end, and
    non-MP4 rows yield one NULL-box row."""
    import struct

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        mp4_box_index,
        with_mp4_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"sample bytes {i}") for i in range(17)],
        "doc_id long, text string",
    )
    payloads = {r.doc_id: bytes(r.payload)
                for r in with_mp4_payload(docs).collect()}
    out = {}
    for r in mp4_box_index(with_mp4_payload(docs)).collect():
        out.setdefault(r.doc_id, []).append(r)

    for i in range(17):
        b = payloads[i]
        got = sorted(out[i], key=lambda r: (r.box_idx is None, r.box_idx))
        if i % 5 == 4:
            assert len(got) == 1 and got[0].is_mp4 == 0
            assert got[0].box_type is None and got[0].end_ok is None
            continue
        walk, off = [], 0
        while off < len(b) and len(walk) < 4:
            size = struct.unpack_from(">I", b, off)[0]
            walk.append((len(walk), b[off + 4:off + 8].decode(), size, off))
            off += size
        assert off == len(b)
        assert len(got) == 4
        for (idx, typ, size, boff), r in zip(walk, got):
            assert (r.box_idx, r.box_type, r.box_size, r.box_offset) == \
                (idx, typ, size, boff)
            assert r.is_mp4 == 1 and r.end_ok is True


def test_png_chunk_index_matches_zlib_reference(spark):
    """The 4-chunk PNG fixture parses identically to a pure-Python
    struct walk with REAL zlib.crc32 verification: planted tEXt
    corruptions (doc_id % 7 == 3) surface as crc_ok=False, everything
    else verifies, and the walk lands exactly on the payload end."""
    import struct
    import zlib

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        png_chunk_index,
        with_png_chunks_payload,
    )

    docs = spark.createDataFrame(
        [(i, f"image bytes {i} " * 9) for i in range(22)],
        "doc_id long, text string",
    )
    payloads = {r.doc_id: bytes(r.payload)
                for r in with_png_chunks_payload(docs).collect()}
    out = {}
    for r in png_chunk_index(with_png_chunks_payload(docs)).collect():
        out.setdefault(r.doc_id, []).append(r)

    for i in range(22):
        b = payloads[i]
        got = sorted(out[i], key=lambda r: (r.chunk_idx is None, r.chunk_idx))
        if i % 5 == 4:
            assert len(got) == 1 and got[0].is_png == 0
            assert got[0].chunk_type is None and got[0].crc_ok is None
            continue
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        walk, off = [], 8
        while off < len(b) and len(walk) < 4:
            (dlen,) = struct.unpack_from(">I", b, off)
            typ = b[off + 4:off + 8]
            (stored,) = struct.unpack_from(">I", b, off + 8 + dlen)
            ok = zlib.crc32(b[off + 4:off + 8 + dlen]) == stored
            walk.append((len(walk), typ.decode(), dlen, off, ok))
            off += 12 + dlen
        assert off == len(b) and len(got) == 4
        for (idx, typ, dlen, boff, ok), r in zip(walk, got):
            assert (r.chunk_idx, r.chunk_type, r.data_len,
                    r.chunk_offset, r.crc_ok) == (idx, typ, dlen, boff, ok)
            assert r.end_ok is True
        # the planted corruption is real and only where planted
        assert [w[4] for w in walk] == \
            [True, i % 7 != 3, True, True]


def test_tar_octal_parse_roundtrip_and_real_tarfile_headers(spark):
    """Round-13 regression guard for the conv()-based octal parse that
    replaced the per-digit byte fold: (1) for adversarial sizes
    (0, max 11-digit octal, values forcing every digit) a REAL
    Python-tarfile-written archive parses back exactly; (2) the parse
    tolerates the GNU/POSIX variants of field termination (NUL, space)
    via the layout-anchored regexp (leading spaces, octal digits,
    space/NUL padding)."""
    import io
    import tarfile

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        tar_index,
    )

    blobs = []
    # one archive of 3 members per size triple, built by tarfile itself
    # (space/NUL conventions are whatever the stdlib writes)
    for i, sizes in enumerate([(0, 1, 511), (512, 513, 1), (7, 4095, 50)]):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for j, sz in enumerate(sizes):
                info = tarfile.TarInfo(name=f"member{j}.txt")
                info.size = sz
                tf.addfile(info, io.BytesIO(b"y" * sz))
        blobs.append((i, buf.getvalue()))
    df = spark.createDataFrame(blobs, "doc_id long, payload binary")
    got = {(r.doc_id, r.member_idx): r for r in tar_index(df).collect()}
    for i, blob in blobs:
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        for j, m in enumerate(tf.getmembers()):
            r = got[(i, j)]
            assert (r.name, r.size, r.byte_offset) == (m.name, m.size, m.offset)
            assert r.checksum_ok and r.magic_ok, (i, j)
        tf.close()


def test_tar_octal_parse_rejects_malformed_fields(spark):
    """ADVICE r13: the octal parse is ANCHORED to the ustar field
    layout — a non-conforming size field (interior junk like '12 34',
    or a GNU base-256 length) must yield NULL, not concatenate the
    surviving octal digits into a plausible-but-wrong size."""
    import io
    import tarfile

    from pipeline_apache_beam_entrega1_cs_spark.operators.multimodal import (
        tar_index,
    )

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for j in range(3):
            info = tarfile.TarInfo(name=f"member{j}.txt")
            info.size = 10
            tf.addfile(info, io.BytesIO(b"y" * 10))
    blob = bytearray(buf.getvalue())
    # Corrupt member 0's size field (offset 124, 12 bytes) with
    # interior junk: a strip-based parse would read conv('1234',8)=668.
    blob[124:136] = b"12 34\x00      "
    df = spark.createDataFrame(
        [(0, bytes(blob))], "doc_id long, payload binary"
    )
    rows = {r.member_idx: r for r in tar_index(df).collect()}
    assert rows[0].size is None
    # The walk cannot advance past an unparseable size: the next
    # member's offset is null too — never a fabricated position.
    assert rows[1].byte_offset is None
