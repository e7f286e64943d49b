"""Roaring-bitmap + Z85 codecs (catalog/roaring.py) — from-scratch
implementations of the public RoaringFormatSpec, Delta's portable
RoaringBitmapArray wrapper, the ZeroMQ 32/Z85 text encoding, and the DV
file framing, pinned against the specs' own test vectors and
property-tested round trips. Pure-Python: no Spark session needed."""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lakefs_iceberg_catalog_spark.catalog import roaring as r

# --- Z85 (ZeroMQ spec 32's own test vector) --------------------------------


def test_z85_spec_vector():
    hw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert r.z85_encode(hw) == "HelloWorld"
    assert r.z85_decode("HelloWorld") == hw


def test_z85_rejects_bad_lengths_and_chars():
    with pytest.raises(ValueError, match="multiple of 4"):
        r.z85_encode(b"abc")
    with pytest.raises(ValueError, match="multiple of 5"):
        r.z85_decode("abcd")
    with pytest.raises(ValueError, match="invalid Z85"):
        r.z85_decode('"""""')


@given(st.binary(min_size=0, max_size=64).map(lambda b: b[: len(b) - len(b) % 4]))
def test_z85_roundtrip(data):
    assert r.z85_decode(r.z85_encode(data)) == data


# --- 32-bit roaring portable ------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=1 << 20), max_size=6000).map(
        lambda xs: sorted(set(xs))
    )
)
def test_roaring32_roundtrip(values):
    blob = r.serialize_roaring32(values)
    back, end = r.deserialize_roaring32(blob)
    assert back == values
    assert end == len(blob)


def test_roaring32_dense_container_uses_bitmap_form():
    """> 4096 values in one 2^16 chunk must serialize as the 8 KiB bitset
    container — and read back exactly."""
    dense = list(range(0, 9000, 2)) + list(range(65536, 65600))
    blob = r.serialize_roaring32(dense)
    back, end = r.deserialize_roaring32(blob)
    assert back == dense and end == len(blob)
    assert len(blob) > 8192  # the bitset container is present


def test_roaring32_reads_run_containers():
    """Writers MAY emit run containers (cookie 12347) — readers MUST
    accept them. Hand-built: two containers, first a run [5..9]+[20..20],
    second an array {1, 3} (run-flag bit clear)."""
    blob = (
        struct.pack("<HH", 12347, 1)  # cookie, containers-1
        + bytes([0b01])  # container 0 is a run container
        + struct.pack("<HH", 0, 6)  # key 0, card-1 (5..9 and 20)
        + struct.pack("<HH", 1, 1)  # key 1, card-1 ({1,3})
        + struct.pack("<H", 2)  # 2 runs
        + struct.pack("<HH", 5, 4)  # run 5 len+1=5
        + struct.pack("<HH", 20, 0)  # run 20 len+1=1
        + struct.pack("<2H", 1, 3)  # array container lows
    )
    back, end = r.deserialize_roaring32(blob)
    assert back == [5, 6, 7, 8, 9, 20, (1 << 16) | 1, (1 << 16) | 3]
    assert end == len(blob)


def test_roaring32_rejects_unsorted_and_bad_cookie():
    with pytest.raises(ValueError, match="sorted"):
        r.serialize_roaring32([3, 1])
    with pytest.raises(ValueError, match="cookie"):
        r.deserialize_roaring32(struct.pack("<II", 999, 0))


# --- 64-bit RoaringBitmapArray (Delta's wrapper) -----------------------------


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 33)), max_size=2000
    ).map(lambda xs: sorted(set(xs)))
)
def test_bitmap_array_roundtrip(positions):
    assert r.deserialize_bitmap_array(r.serialize_bitmap_array(positions)) == positions


def test_bitmap_array_magic_pinned():
    """Delta PROTOCOL.md fixes the magic at 1681511377 — a different
    constant would be unreadable by stock readers."""
    blob = r.serialize_bitmap_array([1, 2, 3])
    assert struct.unpack_from("<I", blob)[0] == 1681511377
    with pytest.raises(ValueError, match="magic"):
        r.deserialize_bitmap_array(b"\x00" * 12)


def _naive_bitmap_array(blob: bytes) -> list[int]:
    """Straight-line reading of the two specs, one value at a time: the
    RoaringBitmapArray wrapper, then each portable 32-bit bitmap."""
    magic, n_maps = struct.unpack_from("<Iq", blob, 0)
    assert magic == 1681511377
    pos, out = 12, []
    for m in range(n_maps):
        (cookie,) = struct.unpack_from("<H", blob, pos)
        if cookie == 12347:
            n = struct.unpack_from("<H", blob, pos + 2)[0] + 1
            pos += 4
            flags = blob[pos : pos + (n + 7) // 8]
            pos += (n + 7) // 8
            runs = [bool(flags[i // 8] & (1 << (i % 8))) for i in range(n)]
            offset_header = n >= 4
        else:
            n = struct.unpack_from("<I", blob, pos + 4)[0]
            pos += 8
            runs, offset_header = [False] * n, True
        desc = [struct.unpack_from("<HH", blob, pos + 4 * i) for i in range(n)]
        pos += 4 * n + (4 * n if offset_header else 0)
        for is_run, (key, card_minus1) in zip(runs, desc):
            base = (m << 32) | (key << 16)
            if is_run:
                (n_runs,) = struct.unpack_from("<H", blob, pos)
                pos += 2
                for _ in range(n_runs):
                    first, length_minus1 = struct.unpack_from("<HH", blob, pos)
                    pos += 4
                    for v in range(first, first + length_minus1 + 1):
                        out.append(base | v)
            elif card_minus1 + 1 <= 4096:
                for _ in range(card_minus1 + 1):
                    out.append(base | struct.unpack_from("<H", blob, pos)[0])
                    pos += 2
            else:
                for bit in range(1 << 16):
                    if blob[pos + bit // 8] & (1 << (bit % 8)):
                        out.append(base | bit)
                pos += 8192
    return out


def _portable_with_runs(containers) -> bytes:
    """Hand-build a cookie-12347 bitmap from (key, kind, sorted lows)
    with kind in {"run", "array", "bitmap"}; four or more containers
    carry the offset header."""
    n = len(containers)
    flags = bytearray((n + 7) // 8)
    bodies = []
    for i, (_key, kind, lows) in enumerate(containers):
        if kind == "run":
            flags[i // 8] |= 1 << (i % 8)
            runs = []
            for v in lows:
                if runs and runs[-1][0] + runs[-1][1] + 1 == v:
                    runs[-1][1] += 1
                else:
                    runs.append([v, 0])
            bodies.append(
                struct.pack("<H", len(runs))
                + b"".join(struct.pack("<HH", s, ln) for s, ln in runs)
            )
        elif kind == "array":
            bodies.append(struct.pack(f"<{len(lows)}H", *lows))
        else:
            words = [0] * 1024
            for v in lows:
                words[v >> 6] |= 1 << (v & 63)
            bodies.append(struct.pack("<1024Q", *words))
    head = struct.pack("<HH", 12347, n - 1) + bytes(flags)
    head += b"".join(struct.pack("<HH", k, len(lows) - 1) for k, _, lows in containers)
    if n >= 4:
        pos = len(head) + 4 * n
        offsets = []
        for b in bodies:
            offsets.append(pos)
            pos += len(b)
        head += struct.pack(f"<{n}I", *offsets)
    return head + b"".join(bodies)


def test_vectorized_decode_matches_naive_decoder():
    """The numpy decoder against a one-value-at-a-time reading of the
    spec: bucket 0 mixes run, array and bitmap containers (with the
    offset header), bucket 1 holds positions >= 2^32."""
    import random

    rng = random.Random(7)
    run_lows = list(range(10, 300)) + [400] + list(range(60000, 65536))
    array_lows = sorted(rng.sample(range(1 << 16), 700))
    bitmap_lows = sorted(rng.sample(range(1 << 16), 9000))
    bucket0 = [
        (0, "run", run_lows),
        (1, "array", array_lows),
        (3, "bitmap", bitmap_lows),
        (9, "run", [0, 1, 2, 65535]),
    ]
    high = [5, 70000, (1 << 32) - 1]
    blob = (
        struct.pack("<Iq", 1681511377, 2)
        + _portable_with_runs(bucket0)
        + r.serialize_roaring32(high)
    )
    expected = [
        (key << 16) | v for key, _kind, lows in bucket0 for v in lows
    ] + [(1 << 32) | v for v in high]
    assert _naive_bitmap_array(blob) == expected
    assert r.deserialize_bitmap_array(blob) == expected
    arr = r.bitmap_array_positions(blob)
    assert arr.dtype == "int64" and arr.tolist() == expected


# --- DV file framing ---------------------------------------------------------


def test_dv_framing_roundtrip_and_offsets():
    p1 = r.serialize_bitmap_array([0, 7])
    p2 = r.serialize_bitmap_array([1])
    file_bytes, offsets = r.frame_dv_file([p1, p2])
    assert file_bytes[0] == 1  # format version byte
    assert r.read_dv_payload(file_bytes, offsets[0], len(p1)) == p1
    assert r.read_dv_payload(file_bytes, offsets[1], len(p2)) == p2


def test_dv_framing_detects_corruption():
    p = r.serialize_bitmap_array([0, 7])
    file_bytes, offsets = r.frame_dv_file([p])
    corrupt = bytearray(file_bytes)
    corrupt[6] ^= 0xFF  # flip a payload byte
    with pytest.raises(ValueError, match="CRC-32"):
        r.read_dv_payload(bytes(corrupt), offsets[0], len(p))
    with pytest.raises(ValueError, match="size mismatch"):
        r.read_dv_payload(file_bytes, offsets[0], len(p) - 1)


def test_dv_crc_is_zlib_crc32_of_payload():
    p = r.serialize_bitmap_array([3])
    file_bytes, offsets = r.frame_dv_file([p])
    tail = file_bytes[offsets[0] + 4 + len(p) :][:4]
    assert struct.unpack(">I", tail)[0] == zlib.crc32(p) & 0xFFFFFFFF
