"""AV1 bitstream probe + AVIF container probe — the HONEST FIRST SLICE
of the AVIF boundary (r12 verdict "Next round" #4): OBU walk (AV1
spec §5.3), full sequence-header parse (§5.5: profile, level, still
picture, geometry, color_config bit depth / monochrome / subsampling),
and the av1C ISOBMFF codec-configuration record (AV1-ISOBMFF binding
§2.3), pinned against REAL AVIF files written by the system libheif's
libaom plugin (tests/test_realworld_r13.py). The transform DECODE
remains a named ValueError boundary — the codec-registry 'avif' key is
the documented swap seam (operators/multimodal.py), and this probe is
the metadata path a 100 TB crawl actually scans.

Why the from-spec transform decode stays a gap (r14 adjudication):
every AV1 symbol read needs the spec's default-CDF initialization
data — thousands of u16 probability entries across dozens of syntax
elements — and that blob has NO honest source on this host: no AV1
spec document, no libaom/dav1d/gav1/rav1e/svt-av1 source or headers,
and all five binaries are stripped (no symtab to locate + extraction-
pin the tables, the brotli_data.py pattern). Transcribing them from
memory would violate the never-wrong-bytes contract (the documented
LZW-timing lesson). tests/test_realworld_r14.py carries a TRIPWIRE
that fails loudly if a usable source ever appears, and pins the swap
seam end-to-end with libheif pixels (register_image_decoder('avif')
→ decode → aHash).

Tear contract: ValueError — and only ValueError — on torn input.
Scale shape: Arrow ``mapInPandas``, one payload per call,
partition-local, no pixel work.
"""

from __future__ import annotations

import numpy as np  # noqa: F401  (house import convention)

_OBU_NAMES = {
    1: "sequence_header",
    2: "temporal_delimiter",
    3: "frame_header",
    4: "tile_group",
    5: "metadata",
    6: "frame",
    7: "redundant_frame_header",
    8: "tile_list",
    15: "padding",
}


class _Bits:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def u(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise ValueError("torn AV1 bitstream")
        v = 0
        p = self.pos
        for _ in range(n):
            v = (v << 1) | ((self.data[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.pos = p
        return v


def _leb128(data: bytes, off: int) -> tuple[int, int]:
    v = 0
    for i in range(8):
        if off >= len(data):
            raise ValueError("torn AV1 leb128")
        b = data[off]
        off += 1
        v |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return v, off
    raise ValueError("AV1 leb128 longer than 8 bytes")


def _color_config(b: _Bits, profile: int) -> dict:
    high = b.u(1)
    if profile == 2 and high:
        bd = 12 if b.u(1) else 10
    else:
        bd = 10 if high else 8
    mono = 0 if profile == 1 else b.u(1)
    if b.u(1):  # color_description_present
        primaries = b.u(8)
        transfer = b.u(8)
        matrix = b.u(8)
    else:
        primaries, transfer, matrix = 2, 2, 2
    if mono:
        b.u(1)  # color_range
        sx = sy = 1
    elif primaries == 1 and transfer == 13 and matrix == 0:  # sRGB
        sx = sy = 0
    else:
        b.u(1)  # color_range
        if profile == 0:
            sx = sy = 1
        elif profile == 1:
            sx = sy = 0
        else:
            if bd == 12:
                sx = b.u(1)
                sy = b.u(1) if sx else 0
            else:
                sx, sy = 1, 0
        if sx and sy:
            b.u(2)  # chroma_sample_position
    b.u(1)  # separate_uv_delta_q
    return {
        "bit_depth": bd,
        "monochrome": bool(mono),
        "subsampling": f"{4}:{2 if sx else 4}:{0 if (sx and sy) else (2 if sx else 4)}",
    }


def parse_sequence_header(payload: bytes) -> dict:
    """Full §5.5 sequence_header_obu parse (both the
    reduced_still_picture_header AVIF shape and the general shape)."""
    b = _Bits(payload)
    profile = b.u(3)
    if profile > 2:
        raise ValueError(f"AV1 seq_profile {profile} out of range")
    still = b.u(1)
    reduced = b.u(1)
    if reduced:
        level = b.u(5)
    else:
        if b.u(1):  # timing_info_present
            # timing_info(): num_units_in_display_tick u(32),
            # time_scale u(32), equal_picture_interval u(1) [+uvlc]
            b.u(32)
            b.u(32)
            if b.u(1):
                # num_ticks_per_picture_minus_1 uvlc
                lead = 0
                while b.u(1) == 0:
                    lead += 1
                    if lead > 32:
                        raise ValueError("AV1 uvlc out of range")
                if lead:
                    b.u(lead)
            if b.u(1):  # decoder_model_info_present
                raise ValueError(
                    "AV1 decoder_model_info outside the declared scope"
                )
        idd_present = b.u(1)  # initial_display_delay_present_flag
        n_ops = b.u(5) + 1
        level = 0
        for i in range(n_ops):
            b.u(12)  # operating_point_idc
            li = b.u(5)
            if i == 0:
                level = li
            if li > 7:
                b.u(1)  # seq_tier
            if idd_present:
                # §5.5.1: per-op initial_display_delay_present_for_this_op
                # (+ initial_display_delay_minus_1 u(4) when set)
                if b.u(1):
                    b.u(4)
    wbits = b.u(4) + 1
    hbits = b.u(4) + 1
    width = b.u(wbits) + 1
    height = b.u(hbits) + 1
    if not reduced:
        if b.u(1):  # frame_id_numbers_present
            b.u(4)
            b.u(3)
    b.u(1)  # use_128x128_superblock
    b.u(1)  # enable_filter_intra
    b.u(1)  # enable_intra_edge_filter
    if not reduced:
        b.u(1)  # enable_interintra_compound
        b.u(1)  # enable_masked_compound
        b.u(1)  # enable_warped_motion
        b.u(1)  # enable_dual_filter
        order_hint = b.u(1)
        if order_hint:
            b.u(1)  # enable_jnt_comp
            b.u(1)  # enable_ref_frame_mvs
        if not b.u(1):  # seq_choose_screen_content_tools
            force_sct = b.u(1)
        else:
            force_sct = 2
        if force_sct:
            if not b.u(1):  # seq_choose_integer_mv
                b.u(1)
        if order_hint:
            b.u(3)  # order_hint_bits_minus_1
    b.u(1)  # enable_superres
    b.u(1)  # enable_cdef
    b.u(1)  # enable_restoration
    cc = _color_config(b, profile)
    b.u(1)  # film_grain_params_present
    return {
        "profile": profile,
        "still_picture": bool(still),
        "reduced_header": bool(reduced),
        "seq_level_idx": level,
        "width": width,
        "height": height,
        **cc,
    }


def probe_av1_obus(data: bytes) -> dict:
    """Walk a length-delimited AV1 OBU stream (the AVIF item / §5.2
    low-overhead format): OBU census + the first sequence header's
    geometry/color facts."""
    if not data:
        raise ValueError("empty AV1 OBU stream")
    off = 0
    census: dict = {}
    seq = None
    n = 0
    while off < len(data):
        hdr = data[off]
        if hdr & 0x80:
            raise ValueError("AV1 obu forbidden bit set")
        typ = (hdr >> 3) & 0xF
        ext = (hdr >> 2) & 1
        has_size = (hdr >> 1) & 1
        off += 1
        if ext:
            if off >= len(data):
                raise ValueError("torn AV1 obu extension header")
            off += 1
        if has_size:
            size, off = _leb128(data, off)
        else:
            size = len(data) - off  # last OBU spans the rest (§5.2)
        if off + size > len(data):
            raise ValueError("torn AV1 obu payload")
        name = _OBU_NAMES.get(typ, f"reserved_{typ}")
        census[name] = census.get(name, 0) + 1
        if typ == 1 and seq is None:
            seq = parse_sequence_header(data[off:off + size])
        off += size
        n += 1
        if n > 1 << 16:
            raise ValueError("AV1 OBU stream exceeds the unit bound")
    out = {"n_obus": n, "obu_census": dict(sorted(census.items()))}
    if seq:
        out.update(seq)
    return out


def parse_av1c(body: bytes) -> dict:
    """AV1CodecConfigurationRecord (AV1-ISOBMFF §2.3)."""
    if len(body) < 4:
        raise ValueError("torn av1C box")
    if body[0] != 0x81:  # marker=1, version=1
        raise ValueError(f"av1C marker/version byte {body[0]:#x} invalid")
    profile = body[1] >> 5
    level = body[1] & 0x1F
    tier = body[2] >> 7
    high = (body[2] >> 6) & 1
    twelve = (body[2] >> 5) & 1
    mono = (body[2] >> 4) & 1
    sx = (body[2] >> 3) & 1
    sy = (body[2] >> 2) & 1
    bd = 12 if (profile == 2 and high and twelve) else (10 if high else 8)
    return {
        "profile": profile,
        "seq_level_idx": level,
        "tier": tier,
        "bit_depth": bd,
        "monochrome": bool(mono),
        "subsampling": f"4:{2 if sx else 4}:{0 if (sx and sy) else (2 if sx else 4)}",
        "config_obus": body[4:],
    }


def probe_avif(payload: bytes) -> dict:
    """AVIF still probe: the HEIF item walk (shared with
    operators/heif.py) + av1C record + the av01 item's own OBU census;
    av1C and the sequence header are cross-checked so a mismatched
    container tears loudly."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.heif import (
        _find_meta,
        _irot,
        _ispe,
        _item_data,
        _item_props,
    )

    meta, brand = _find_meta(payload)
    pid = meta["primary"]
    item = meta["items"].get(pid)
    if item is None:
        raise ValueError("AVIF primary item missing from iinf")
    if item["type"] != b"av01":
        raise ValueError(
            f"AVIF primary item type {item['type']!r} is not av01"
        )
    props = _item_props(meta, pid)
    av1c = None
    for typ, body in props:
        if typ == b"av1C":
            av1c = parse_av1c(body)
    if av1c is None:
        raise ValueError("AVIF av01 item has no av1C property")
    wh = _ispe(props)
    obus = probe_av1_obus(_item_data(payload, meta, pid))
    if "profile" in obus and obus["profile"] != av1c["profile"]:
        raise ValueError(
            "AVIF av1C profile disagrees with the sequence header"
        )
    if "bit_depth" in obus and obus["bit_depth"] != av1c["bit_depth"]:
        raise ValueError(
            "AVIF av1C bit depth disagrees with the sequence header"
        )
    return {
        "brand": brand.decode("latin1"),
        "width": wh[0] if wh else obus.get("width"),
        "height": wh[1] if wh else obus.get("height"),
        "rotation": _irot(props) * 90,
        "profile": av1c["profile"],
        "seq_level_idx": av1c["seq_level_idx"],
        "bit_depth": av1c["bit_depth"],
        "monochrome": av1c["monochrome"],
        "subsampling": av1c["subsampling"],
        "still_picture": bool(obus.get("still_picture", True)),
        "n_obus": obus["n_obus"],
        "n_frames": obus["obu_census"].get("frame", 0)
        + obus["obu_census"].get("frame_header", 0),
    }


# --- fixture builders (r13) --------------------------------------------------


class _BitW:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list = []

    def u(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def tobytes(self) -> bytes:
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            acc = 0
            for b in self.bits[i:i + 8]:
                acc = (acc << 1) | b
            out.append(acc)
        return bytes(out)


def _leb128_enc(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def build_sequence_header(width: int, height: int, profile: int = 0,
                          bit_depth: int = 8, monochrome: bool = False,
                          still: bool = True, level: int = 0) -> bytes:
    """Emit a reduced_still_picture_header sequence_header_obu payload
    (§5.5) — the AVIF shape; the probe and the real-libaom battery pin
    the parse direction."""
    if profile not in (0, 1, 2):
        raise ValueError("AV1 profile out of range")
    if bit_depth not in (8, 10, 12):
        raise ValueError("AV1 bit depth out of range")
    if bit_depth == 12 and profile != 2:
        raise ValueError("12-bit needs profile 2")
    if monochrome and profile == 1:
        raise ValueError("profile 1 has no monochrome")
    w = _BitW()
    w.u(profile, 3)
    w.u(1 if still else 1, 1)  # still_picture (fixture is always still)
    w.u(1, 1)  # reduced_still_picture_header
    w.u(level, 5)
    wbits = max(1, (width - 1).bit_length())
    hbits = max(1, (height - 1).bit_length())
    w.u(wbits - 1, 4)
    w.u(hbits - 1, 4)
    w.u(width - 1, wbits)
    w.u(height - 1, hbits)
    w.u(1, 1)  # use_128x128_superblock
    w.u(0, 1)  # enable_filter_intra
    w.u(0, 1)  # enable_intra_edge_filter
    w.u(0, 1)  # enable_superres
    w.u(0, 1)  # enable_cdef
    w.u(1, 1)  # enable_restoration
    # color_config
    high = bit_depth > 8
    w.u(1 if high else 0, 1)
    if profile == 2 and high:
        w.u(1 if bit_depth == 12 else 0, 1)
    if profile != 1:
        w.u(1 if monochrome else 0, 1)
    w.u(0, 1)  # color_description_present
    w.u(0, 1)  # color_range
    if not monochrome:
        if profile == 2 and bit_depth == 12:
            w.u(1, 1)  # subsampling_x
            w.u(1, 1)  # subsampling_y
        if profile == 0:
            w.u(0, 2)  # chroma_sample_position (4:2:0 implied)
        elif profile == 2 and bit_depth == 12:
            w.u(0, 2)
    w.u(0, 1)  # separate_uv_delta_q
    w.u(0, 1)  # film_grain_params_present
    return w.tobytes()


def _obu(typ: int, payload: bytes) -> bytes:
    return bytes([(typ << 3) | 0b010]) + _leb128_enc(len(payload)) + payload


def build_avif(width: int, height: int, profile: int = 0,
               bit_depth: int = 8, monochrome: bool = False,
               rotation: int = 0) -> bytes:
    """Minimal AVIF container around a fixture OBU stream (the
    operators/heif.py box machinery, av01 + av1C instead of
    hvc1 + hvcC)."""
    import struct

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.heif import (
        _box,
        _fbox,
    )

    if rotation % 90:
        raise ValueError("AVIF irot rotation must be a multiple of 90")
    seq = build_sequence_header(width, height, profile, bit_depth,
                                monochrome)
    item = _obu(1, seq) + _obu(6, bytes([0x10, 0x00]) + b"\x5a" * 16)
    high = 1 if bit_depth > 8 else 0
    twelve = 1 if bit_depth == 12 else 0
    sx = 0 if (profile == 1) else 1
    sy = 0 if (profile == 1) else (1 if bit_depth != 12 or profile != 2 else 1)
    av1c = bytes([
        0x81,
        (profile << 5) | 0,
        (0 << 7) | (high << 6) | (twelve << 5)
        | ((1 if monochrome else 0) << 4) | (sx << 3) | (sy << 2),
        0,
    ]) + _obu(1, seq)
    props = [
        _box(b"av1C", av1c),
        _fbox(b"ispe", struct.pack(">II", width, height)),
    ]
    assoc = [1, 2]
    if rotation:
        props.append(_box(b"irot", bytes([(rotation // 90) % 4])))
        assoc.append(3)
    hdlr = _fbox(b"hdlr", struct.pack(">I", 0) + b"pict" + bytes(12)
                 + b"\x00")
    pitm = _fbox(b"pitm", struct.pack(">H", 1))
    infe = _fbox(b"infe", struct.pack(">HH", 1, 0) + b"av01\x00", ver=2)
    iinf = _fbox(b"iinf", struct.pack(">H", 1) + infe)
    ipma = _fbox(b"ipma", struct.pack(">I", 1) + struct.pack(">HB", 1,
                 len(assoc)) + bytes(0x80 | i for i in assoc))
    iprp = _box(b"iprp", _box(b"ipco", b"".join(props)) + ipma)

    def iloc_box(off):
        body = bytes([0x44, 0x00]) + struct.pack(">H", 1)
        body += struct.pack(">HHHHII", 1, 0, 0, 1, off, len(item))
        return _fbox(b"iloc", body, ver=1)

    ftyp = _box(b"ftyp", b"avif" + struct.pack(">I", 0) + b"mif1avif")
    meta_body = hdlr + pitm + iinf + iprp + iloc_box(0)
    meta_size = len(_fbox(b"meta", meta_body))
    off = len(ftyp) + meta_size + 8
    meta = _fbox(b"meta", hdlr + pitm + iinf + iprp + iloc_box(off))
    if len(meta) != meta_size:
        raise AssertionError("AVIF meta size changed between passes")
    return ftyp + meta + _box(b"mdat", item)
