"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference treats every payload as opaque bytes (SURVEY §1.3); a training
-data pipeline extends that to image/audio/video columns: ``binary`` payload
+ a metadata struct, processed by Arrow-batched ``mapInPandas`` operators.

The actual media codecs are NOT in this container, so the decode step is a
deterministic fake behind ``set_decoder`` (clearly marked); the Spark-side
plumbing -- schema, batch shape, partition sizing, UDF signatures -- is real
and tested.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, digest string, feature array<double>"


def _fake_decode(payload: bytes, kind: str) -> list[float]:
    """STUB decoder: real image/audio libs are not installed here.  Produces
    a deterministic 8-dim 'feature' from the payload digest so the pipeline
    shape is testable end-to-end.  Swap via set_decoder() in production."""
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:8]]


_DECODER: Callable[[bytes, str], list[float]] = _fake_decode


def set_decoder(fn: Callable[[bytes, str], list[float]]) -> None:
    global _DECODER
    _DECODER = fn


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapt the documents fixture into the media envelope (payload = encoded
    text) -- the test stand-in for a real binary column."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def extract_features(df: DataFrame, batch_hint_rows: int = 1024) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas``: Arrow-batched, one
    Python worker per partition, constant memory per batch.  At 100 TB the
    payload column dominates -- partitions must be sized by bytes
    (spark.sql.files.maxPartitionBytes), not rows, and the feature output is
    narrow so the shuffle after this op is cheap."""

    from kcl_akka_stream_spark.plans.hygiene import spread

    df = spread(df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_DECODER(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len),
                    "digest": pdf["payload"].map(lambda b: hashlib.sha256(b).hexdigest()),
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def _fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """STUB resizer: a real implementation would decode -> resample ->
    re-encode (PIL/ffmpeg, not installed here).  Deterministic fake:
    truncate the payload to the target pixel count so the byte-level
    plumbing (binary in, binary out, metadata rewrite) is real and
    oracle-checkable."""
    return payload[: w * h]


def resize_images(df: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize plumbing over the media envelope: Arrow-batched mapInPandas,
    binary -> binary, metadata struct rewritten to the target dims.  The
    decode/re-encode inside is stubbed (_fake_resize); the schema, batch
    shape and partition behavior are the production shape."""
    out_schema = "media_id long, width int, height int, n_bytes long, digest string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_fake_resize(p, width, height) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "n_bytes": [len(b) for b in resized],
                    "digest": [hashlib.sha256(b).hexdigest() for b in resized],
                }
            )

    from kcl_akka_stream_spark.plans.hygiene import spread

    return spread(df).mapInPandas(run, schema=out_schema)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: explode n_frames into sampled frame
    indices (decode stubbed).  Pure built-ins -- the explode happens JVM-side;
    real decode would be a second mapInPandas over (media_id, frame_idx)."""
    return (
        df.filter(F.col("meta.n_frames").isNotNull())
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))).alias("frame_idx"),
        )
    )


def payload_simhash(
    df: DataFrame,
    gram: int = 4,
    stride: int = 4,
    bits: int = 16,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Byte-gram SimHash over an opaque BINARY payload -- near-duplicate
    fingerprinting that needs NO codec, so it works on any media column
    as-is (re-encoded copies, watermarked variants, truncated uploads all
    land within small hamming distance; a pixel-space pHash slots into
    the same banding once a decoder exists, ``set_decoder`` style).

    Same bit convention as the text simhash (operators/dedup.py): each
    ``gram``-byte window (start offsets 0, stride, 2*stride, ...; tail
    windows shorter than ``gram`` dropped) hashes with md5, bit i of a
    window = hex digit i+1 >= '8', per-bit sign-sum over the payload,
    fingerprint bit set iff the sum is positive.  Payloads with no full
    window produce no row.

    MAP-ONLY: one Arrow pass (mapInPandas) emitting (id, simhash);
    feed the result to ``dedup.fingerprint_band_pairs`` for the banded
    candidate join + hamming verify.

    Vectorized (r16, guide §4.2): the previous form looped over every
    window in interpreted Python and called md5 PER WINDOW (~L/stride
    hashes per payload).  Byte grams repeat heavily in real media (and
    overwhelmingly in text-backed fixtures), so the hash is now computed
    once per DISTINCT gram -- windows extract as one numpy slice per
    payload, ``np.unique`` maps them to gram ids, a per-task dict caches
    each gram's 16-bit md5 sign vector across batches, and the per-bit
    sign-sums fold as one int64 matrix sum per payload.  Identical md5
    per gram and identical counts, so the fingerprint is bit-for-bit the
    old one (pinned by test_payload_simhash_vectorized_matches_scalar).
    """
    src = df.select(id_col, payload_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        highs = frozenset(b"89abcdef")
        gram_bits: dict[bytes, object] = {}  # gram -> (bits,) uint8 vector

        def bits_of(g: bytes):
            v = gram_bits.get(g)
            if v is None:
                h = hashlib.md5(g).hexdigest().encode()
                v = np.frombuffer(
                    bytes(1 if h[i] in highs else 0 for i in range(bits)),
                    dtype=np.uint8,
                )
                gram_bits[g] = v
            return v

        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                if len(data) < gram:
                    continue
                arr = np.frombuffer(data, dtype=np.uint8)
                offs = np.arange(0, len(data) - gram + 1, stride)
                n = len(offs)
                wins = arr[offs[:, None] + np.arange(gram)]  # (n, gram)
                # void view: an S view would strip trailing NULs and hash
                # b"ab\0\0" as b"ab"
                keys = wins.copy().view(f"V{gram}").ravel()
                uniq, cnt = np.unique(keys, return_counts=True)
                # counts[i] = sum over windows of bit i -- fold the
                # distinct-gram bit matrix weighted by multiplicity
                mat = np.stack([bits_of(bytes(g)) for g in uniq]).astype(np.int64)
                counts = (mat * cnt[:, None]).sum(axis=0)  # (bits,)
                fp = int(
                    ((2 * counts - n > 0).astype(np.int64)
                     << np.arange(bits, dtype=np.int64)).sum()
                )
                ids.append(mid)
                fps.append(fp)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "simhash": pd.Series(fps, dtype="int64")})

    from kcl_akka_stream_spark.plans.hygiene import spread

    return spread(src).mapInPandas(run, schema=f"{id_col} long, simhash long")


# ---------------------------------------------------------------------------
# Container-level metadata extraction (wave 43): parse WAV / MP4 HEADERS with
# pure byte-ops -- duration, rates, channel counts -- with NO codec and NO
# Python in the row path.  This is the metadata sweep a multimodal ingest
# runs across 100 TB of blobs before any decode is scheduled (the
# magic-sniff pattern, one level deeper into the container).  Offsets are
# read from the hex projection of the payload because that slicing exists
# identically in Spark and the DuckDB oracle (blob substring does not).


def _hex_be(byte_off, nbytes: int) -> str:
    """SQL expr: big-endian unsigned int read from __h (hex of payload).
    ``byte_off`` is a 0-based byte offset, as an int or a SQL expression
    string (dynamic offsets make it a real parser, not a fixed template)."""
    off = byte_off if isinstance(byte_off, str) else str(byte_off)
    return (
        f"cast(conv(substring(__h, 2 * ({off}) + 1, {2 * nbytes}), 16, 10)"
        " as bigint)"
    )


def _hex_le(byte_off: int, nbytes: int) -> str:
    """SQL expr: little-endian unsigned int read from __h (hex of payload)."""
    parts = ", ".join(
        f"substring(__h, {2 * (byte_off + i) + 1}, 2)"
        for i in reversed(range(nbytes))
    )
    return f"cast(conv(concat({parts}), 16, 10) as bigint)"


def _hex_4cc(byte_off) -> str:
    """SQL expr: the 4-character code at a byte offset, decoded to string."""
    off = byte_off if isinstance(byte_off, str) else str(byte_off)
    return f"decode(unhex(substring(__h, 2 * ({off}) + 1, 8)), 'UTF-8')"


def parse_wav_header(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse the canonical 44-byte PCM WAV (RIFF) header from a binary
    column: signature check, fmt fields, data-chunk size, and the exact
    integer duration floor(data_bytes * 1e6 / byte_rate) microseconds.

    Layout (RIFF spec, public): 'RIFF' sz 'WAVE' 'fmt ' 16 fmt=1 ch sr
    byte_rate block_align bits 'data' data_sz -- all multi-byte fields
    LITTLE-endian.  Map-only; appends typed columns, keeps input columns.
    Rows failing the signature get riff_ok=0 and NULL fields (a corrupt
    blob must not poison the aggregate, only be counted)."""
    ok = (
        "(substring(__h, 1, 8) = '52494646'"     # 'RIFF'
        " AND substring(__h, 17, 8) = '57415645'"  # 'WAVE'
        " AND substring(__h, 25, 8) = '666D7420'"  # 'fmt '
        # The fixed 44-byte offsets below are only valid for the CANONICAL
        # 16-byte-fmt PCM layout with 'data' directly after fmt.  A valid
        # 18-byte-fmt WAV or one with a LIST chunk would otherwise get
        # riff_ok=1 with data_bytes/duration read from the WRONG offsets
        # (ADVICE r12) -- such variants must land in the counted bad
        # bucket, not pollute the aggregate.
        " AND substring(__h, 33, 8) = '10000000'"   # fmt chunk size == 16 (LE)
        " AND substring(__h, 73, 8) = '64617461')"  # 'data' @36
    )
    out = (
        df.withColumn("__h", F.hex(F.col(payload_col)))
        .withColumn("riff_ok", F.expr(f"cast({ok} as int)"))
        .withColumn(
            "channels",
            F.expr(f"case when {ok} then {_hex_le(22, 2)} end"),
        )
        .withColumn(
            "sample_rate",
            F.expr(f"case when {ok} then {_hex_le(24, 4)} end"),
        )
        .withColumn(
            "byte_rate",
            F.expr(f"case when {ok} then {_hex_le(28, 4)} end"),
        )
        .withColumn(
            "bits",
            F.expr(f"case when {ok} then {_hex_le(34, 2)} end"),
        )
        .withColumn(
            "data_bytes",
            F.expr(f"case when {ok} then {_hex_le(40, 4)} end"),
        )
        .withColumn(
            "duration_us",
            F.expr(
                f"case when {ok} then"
                f" {_hex_le(40, 4)} * 1000000 div {_hex_le(28, 4)} end"
            ),
        )
    )
    return out.drop("__h")


def parse_mp4_header(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse ISO-BMFF (MP4) top-of-file metadata from a binary column:
    major brand from the ftyp box, then timescale / duration from the
    mvhd box inside moov -- duration_ms as the exact integer
    floor(ticks * 1000 / timescale).

    A REAL (if shallow) box walk: the moov offset is the ftyp box's own
    size field read from the data, not a fixed template offset; the
    moov/mvhd 4CCs are verified at the computed positions (all sizes and
    fields BIG-endian, ISO 14496-12, public).  Assumes moov follows ftyp
    directly -- the faststart layout a streaming ingest requires anyway;
    anything else gets mp4_ok=0 and NULL fields."""
    ftyp_sz = _hex_be(0, 4)
    ok = (
        f"(substring(__h, 9, 8) = '66747970'"          # 'ftyp' @4
        f" AND {_hex_4cc(f'{ftyp_sz} + 4')} = 'moov'"
        f" AND {_hex_4cc(f'{ftyp_sz} + 12')} = 'mvhd'"
        # mvhd version must be 0 (32-bit times): a valid version-1 mvhd
        # stores 64-bit creation/modification times, so the v0 offsets
        # below would read timescale/duration out of the creation-time
        # bytes (ADVICE r12) -- count v1 as bad instead of mis-parsing.
        f" AND {_hex_be(f'{ftyp_sz} + 16', 1)} = 0)"
    )
    ts = _hex_be(f"{ftyp_sz} + 28", 4)
    dur = _hex_be(f"{ftyp_sz} + 32", 4)
    out = (
        df.withColumn("__h", F.hex(F.col(payload_col)))
        .withColumn("mp4_ok", F.expr(f"cast({ok} as int)"))
        .withColumn(
            "brand", F.expr(f"case when {ok} then {_hex_4cc(8)} end")
        )
        .withColumn(
            "timescale", F.expr(f"case when {ok} then {ts} end")
        )
        .withColumn(
            "duration_ticks", F.expr(f"case when {ok} then {dur} end")
        )
        .withColumn(
            "duration_ms",
            F.expr(f"case when {ok} then {dur} * 1000 div {ts} end"),
        )
    )
    return out.drop("__h")


def parse_png_header(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse the PNG signature + IHDR chunk from a binary column: width,
    height, bit depth, color type (all reads BIG-endian; PNG spec /
    RFC 2083, public).  IHDR is REQUIRED to be the first chunk, so the
    offsets are fixed by the spec -- unlike MP4 there is nothing to walk.
    Rows failing the 8-byte signature or the IHDR tag get png_ok=0 and
    NULL fields.  Same census posture as the WAV/MP4 parsers: hex-slice
    reads inside codegen, no codec, no Python row path."""
    ok = (
        "(substring(__h, 1, 16) = '89504E470D0A1A0A'"  # PNG signature
        " AND substring(__h, 25, 8) = '49484452')"      # 'IHDR' @12
    )
    out = (
        df.withColumn("__h", F.hex(F.col(payload_col)))
        .withColumn("png_ok", F.expr(f"cast({ok} as int)"))
        .withColumn(
            "width", F.expr(f"case when {ok} then {_hex_be(16, 4)} end")
        )
        .withColumn(
            "height", F.expr(f"case when {ok} then {_hex_be(20, 4)} end")
        )
        .withColumn(
            "bit_depth", F.expr(f"case when {ok} then {_hex_be(24, 1)} end")
        )
        .withColumn(
            "color_type", F.expr(f"case when {ok} then {_hex_be(25, 1)} end")
        )
        .withColumn(
            "n_pixels",
            F.expr(
                f"case when {ok} then {_hex_be(16, 4)} * {_hex_be(20, 4)} end"
            ),
        )
    )
    return out.drop("__h")


def parse_jpeg_header(
    df: DataFrame, payload_col: str = "payload", max_segments: int = 6
) -> DataFrame:
    """Parse JPEG (JFIF) dimensions from a binary column by WALKING the
    marker-segment chain to the first SOF0 (baseline) or SOF2
    (progressive) frame header (ITU T.81 / JFIF, public): after the SOI
    marker, each segment is [FF mk] [len:2 BE, includes itself] [body],
    and the Start-Of-Frame body carries precision, height, width and the
    component count.  Unlike PNG (IHDR fixed first) the SOF position is
    data-dependent -- APPn / DQT / DHT segments of arbitrary length
    precede it -- so this is a real bounded walk (``max_segments``
    hops), the JPEG analogue of the MP4 box walk.

    Implementation: one projected column per hop (offset, marker,
    validity), all plain hex-slice integer reads inside whole-stage
    codegen; Catalyst collapses the chain into a single projection.  A
    file whose SOF is not reached within ``max_segments`` (or any
    corrupt / non-JPEG payload) gets jpeg_ok=0 and NULL fields --
    counted in the bad bucket, never mis-parsed."""
    cur = df.withColumn("__h", F.hex(F.col(payload_col))).withColumn(
        "__o0", F.lit(2).cast("bigint")
    )
    sof_branches = []
    valid = "substring(__h, 1, 4) = 'FFD8'"
    for i in range(max_segments):
        # marker at __o{i}: first byte must be FF; walk validity is
        # CUMULATIVE so a garbage tail cannot fake a late SOF match
        cur = cur.withColumn(
            f"__v{i}",
            F.expr(f"({valid}) AND substring(__h, 2 * __o{i} + 1, 2) = 'FF'"),
        )
        cur = cur.withColumn(
            f"__m{i}", F.expr(f"substring(__h, 2 * __o{i} + 3, 2)")
        )
        sof_branches.append(
            f"when __v{i} and __m{i} in ('C0', 'C2') then __o{i}"
        )
        cur = cur.withColumn(
            f"__o{i + 1}",
            F.expr(f"__o{i} + 2 + {_hex_be(f'__o{i} + 2', 2)}"),
        )
        valid = f"__v{i} AND __m{i} NOT IN ('C0', 'C2', 'D9', 'DA')"
    sof = "case " + " ".join(sof_branches) + " end"
    cur = cur.withColumn("__sof", F.expr(sof))
    ok = "__sof is not null"
    out = (
        cur.withColumn("jpeg_ok", F.expr(f"cast({ok} as int)"))
        .withColumn(
            "sof_kind",
            F.expr(
                f"case when {ok} then case substring(__h, 2 * __sof + 3, 2)"
                " when 'C0' then 'baseline' else 'progressive' end end"
            ),
        )
        .withColumn(
            "precision",
            F.expr(f"case when {ok} then {_hex_be('__sof + 4', 1)} end"),
        )
        .withColumn(
            "height",
            F.expr(f"case when {ok} then {_hex_be('__sof + 5', 2)} end"),
        )
        .withColumn(
            "width",
            F.expr(f"case when {ok} then {_hex_be('__sof + 7', 2)} end"),
        )
        .withColumn(
            "n_components",
            F.expr(f"case when {ok} then {_hex_be('__sof + 9', 1)} end"),
        )
        .withColumn(
            "n_pixels",
            F.expr(
                f"case when {ok} then {_hex_be('__sof + 5', 2)}"
                f" * {_hex_be('__sof + 7', 2)} end"
            ),
        )
    )
    drop = ["__h", "__sof"] + [
        c
        for i in range(max_segments + 1)
        for c in (f"__o{i}", f"__v{i}", f"__m{i}")
        if c in cur.columns
    ]
    return out.drop(*drop)


#: MPEG-1 Layer III bitrate table, kbps by header index (ISO 11172-3,
#: public); indexes 0 ('free') and 15 ('bad') are rejected by the parser.
MP3_BITRATE_KBPS = {
    1: 32, 2: 40, 3: 48, 4: 56, 5: 64, 6: 80, 7: 96,
    8: 112, 9: 128, 10: 160, 11: 192, 12: 224, 13: 256, 14: 320,
}

#: MPEG-1 sample-rate table, Hz by header index; index 3 is reserved.
MP3_SAMPLE_RATE = {0: 44100, 1: 48000, 2: 32000}


def parse_mp3_header(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse the first MPEG-1 Layer III frame header from a binary
    column -- bitrate, sample rate, exact integer frame size and a
    whole-file duration estimate -- skipping an ID3v2 tag if present
    (both specs public: ISO 11172-3 frame header, id3.org ID3v2).

    The ID3v2 skip is a real read: the tag size is a 4-byte SYNCSAFE
    integer (7 bits per byte) at offset 6, so the first audio frame
    lands at a data-dependent offset.  Frame math is exact int64:
    frame_bytes = 144000 * bitrate_kbps div sample_rate + padding
    (the Layer III frame equation), est_frames = payload bytes after
    the tag div frame_bytes, duration_ms = est_frames * 1152000 div
    sample_rate (1152 samples per Layer III frame).  Invalid sync /
    version / layer / reserved table indexes get mp3_ok=0 and NULL
    fields -- counted, never mis-parsed."""
    id3 = "substring(__h, 1, 6) = '494433'"
    ss = (
        f"({_hex_be(6, 1)} * 2097152 + {_hex_be(7, 1)} * 16384"
        f" + {_hex_be(8, 1)} * 128 + {_hex_be(9, 1)})"
    )
    cur = (
        df.withColumn("__h", F.hex(F.col(payload_col)))
        .withColumn(
            "__off",
            F.expr(f"case when {id3} then 10 + {ss} else cast(0 as bigint) end"),
        )
        .withColumn("__b1", F.expr(_hex_be("__off + 1", 1)))
        .withColumn("__b2", F.expr(_hex_be("__off + 2", 1)))
    )
    br_case = "case __b2 div 16 " + " ".join(
        f"when {i} then {k}" for i, k in MP3_BITRATE_KBPS.items()
    ) + " end"
    sr_case = "case (__b2 div 4) % 4 " + " ".join(
        f"when {i} then {h}" for i, h in MP3_SAMPLE_RATE.items()
    ) + " end"
    ok = (
        "(substring(__h, 2 * __off + 1, 2) = 'FF'"   # sync byte 1
        " AND __b1 div 32 = 7"                        # sync bits 9..11
        " AND (__b1 div 8) % 4 = 3"                   # version: MPEG-1
        " AND (__b1 div 2) % 4 = 1"                   # layer: III
        " AND __b2 div 16 BETWEEN 1 AND 14"           # bitrate index valid
        " AND (__b2 div 4) % 4 <= 2)"                 # sample-rate idx valid
    )
    frame = f"((144000 * ({br_case})) div ({sr_case}) + (__b2 div 2) % 2)"
    est = f"((octet_length({payload_col}) - __off) div {frame})"
    out = (
        cur.withColumn("mp3_ok", F.expr(f"cast({ok} as int)"))
        .withColumn("has_id3", F.expr(f"cast({id3} as int)"))
        .withColumn(
            "bitrate_kbps",
            F.expr(f"case when {ok} then cast({br_case} as bigint) end"),
        )
        .withColumn(
            "sample_rate",
            F.expr(f"case when {ok} then cast({sr_case} as bigint) end"),
        )
        .withColumn(
            "frame_bytes",
            F.expr(f"case when {ok} then cast({frame} as bigint) end"),
        )
        .withColumn(
            "est_frames",
            F.expr(f"case when {ok} then cast({est} as bigint) end"),
        )
        .withColumn(
            "duration_ms",
            F.expr(
                f"case when {ok} then"
                f" cast({est} * 1152000 div ({sr_case}) as bigint) end"
            ),
        )
    )
    return out.drop("__h", "__off", "__b1", "__b2")


def parse_gif_header(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse the GIF header + logical screen descriptor from a binary
    column (GIF87a/89a spec, public): 6-byte version magic, then width
    and height as LITTLE-endian uint16 (the twist vs PNG/JPEG's BE --
    GIF shares WAV's byte order), then the packed byte whose top bit
    flags a global color table of 2^(N+1) entries (N = low 3 bits).
    Rows failing the magic get gif_ok=0 and NULL fields.  Same census
    posture as the other five container parsers: hex-slice reads inside
    whole-stage codegen, no codec, no Python row path."""
    ok = (
        "(substring(__h, 1, 6) = '474946'"  # 'GIF'
        " AND substring(__h, 7, 6) IN ('383761', '383961'))"  # 87a / 89a
    )
    # 2^(exp+1) GCT entries spelled as an 8-way CASE: no reliance on
    # cross-engine shift operators
    gct = (
        "CASE (" + _hex_be(10, 1) + ") % 8 "
        + " ".join(f"WHEN {e} THEN {1 << (e + 1)}" for e in range(8))
        + " END"
    )
    out = (
        df.withColumn("__h", F.hex(F.col(payload_col)))
        .withColumn("gif_ok", F.expr(f"cast({ok} as int)"))
        .withColumn(
            "version",
            F.expr(
                f"case when {ok} then"
                " case substring(__h, 7, 6) when '383761' then '87a'"
                " else '89a' end end"
            ),
        )
        .withColumn(
            "width", F.expr(f"case when {ok} then {_hex_le(6, 2)} end")
        )
        .withColumn(
            "height", F.expr(f"case when {ok} then {_hex_le(8, 2)} end")
        )
        .withColumn(
            "gct_flag",
            F.expr(
                f"case when {ok} then ({_hex_be(10, 1)}) div 128 end"
            ),
        )
        .withColumn(
            "gct_entries",
            F.expr(
                f"case when {ok} and ({_hex_be(10, 1)}) div 128 = 1"
                f" then {gct} else 0 end"
            ),
        )
        .withColumn(
            "n_pixels",
            F.expr(
                f"case when {ok} then {_hex_le(6, 2)} * {_hex_le(8, 2)} end"
            ),
        )
    )
    return out.drop("__h")
