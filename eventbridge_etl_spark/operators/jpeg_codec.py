"""Pure-stdlib baseline JPEG codec (encode + decode), no external deps.

Closes the last real-world image format gap in E3 (VERDICT r6 item 6):
PNG landed in round 6; baseline-sequential JPEG — what an actual web
image corpus is overwhelmingly made of — lands here.  Everything is
stdlib + numpy, same as the PNG codec: no PIL/libjpeg in this
environment, and the point is Spark-side plumbing with REAL decode.

Coverage:

- **decode** (`jpeg_pixels`): baseline sequential DCT (SOF0), 8-bit,
  1- or 3-component, arbitrary sampling factors 1-2 in each axis
  (4:4:4, 4:2:2, 4:2:0, ...), multiple DQT/DHT segments, restart
  intervals (DRI/RSTn), APPn/COM skipped, byte-unstuffing.  Huffman
  tables are decoded canonically per the spec; IDCT is the separable
  orthonormal DCT-III in float64, bit-reproducible.  Progressive
  (SOF2), arithmetic, 12-bit, and hierarchical files raise ValueError
  — same honesty contract as the PNG decoder's 16-bit/interlace.
- **encode** (`jpeg_encode`): baseline sequential, 4:4:4 (no
  subsampling — maximally compatible), JFIF APP0, Annex-K quantization
  tables scaled by libjpeg's quality formula, Annex-K "typical"
  Huffman tables, grayscale or RGB input.  Deterministic: same pixels
  + quality -> identical bytes.

The factory shape (`make_jpeg_codec()` returning local functions)
matches `_make_png_pixels` in multimodal.py, whose one shared codec
factory (`_make_media_codec`) calls it for all three media operators:
the mapInPandas closures capture the returned functions as locals, so
cloudpickle ships them BY VALUE and executors never need this package
importable.

Round-trip accuracy is pinned in tests/test_jpeg_codec.py: flat blocks
round-trip within +-1, smooth gradients within a small epsilon at
quality 95, and hypothesis drives random shapes (including non-multiple
-of-8) through encode->decode bounds.
"""

from __future__ import annotations


def make_jpeg_codec():
    """Build (jpeg_encode, jpeg_pixels) as self-contained local functions."""
    import struct as _struct

    import numpy as _np

    # ---------------------------------------------------------- tables
    # ITU-T T.81 Annex K.1 — luminance / chrominance quantization
    _QL = _np.array(
        [16, 11, 10, 16, 24, 40, 51, 61,
         12, 12, 14, 19, 26, 58, 60, 55,
         14, 13, 16, 24, 40, 57, 69, 56,
         14, 17, 22, 29, 51, 87, 80, 62,
         18, 22, 37, 56, 68, 109, 103, 77,
         24, 35, 55, 64, 81, 104, 113, 92,
         49, 64, 78, 87, 103, 121, 120, 101,
         72, 92, 95, 98, 112, 100, 103, 99], dtype=_np.int64)
    _QC = _np.array(
        [17, 18, 24, 47, 99, 99, 99, 99,
         18, 21, 26, 66, 99, 99, 99, 99,
         24, 26, 56, 99, 99, 99, 99, 99,
         47, 66, 99, 99, 99, 99, 99, 99,
         99, 99, 99, 99, 99, 99, 99, 99,
         99, 99, 99, 99, 99, 99, 99, 99,
         99, 99, 99, 99, 99, 99, 99, 99,
         99, 99, 99, 99, 99, 99, 99, 99], dtype=_np.int64)
    # zigzag scan order: _ZZ[k] = raster index of the k-th zigzag coeff
    _ZZ = _np.array(
        [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
         12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
         35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
         58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
        dtype=_np.int64)
    # Annex K.3 "typical" Huffman tables: (BITS counts 1..16, HUFFVAL)
    _DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(12)))
    _DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
    _AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
             [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
              0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
              0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
              0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
              0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
              0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
              0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
              0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
              0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
              0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
              0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
              0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
              0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
              0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
              0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
              0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
              0xF9, 0xFA])
    _AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
             [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
              0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
              0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
              0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
              0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
              0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
              0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
              0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
              0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
              0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
              0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
              0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
              0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
              0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
              0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
              0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
              0xF9, 0xFA])

    # orthonormal 8x8 DCT-II matrix (float64): Y = D @ X @ D.T
    k = _np.arange(8, dtype=_np.float64)
    _D = _np.cos((2 * k[None, :] + 1) * k[:, None] * _np.pi / 16) * 0.5
    _D[0, :] = 0.5 / _np.sqrt(2.0)

    def _canonical_codes(bits, values):
        """(length, code) per symbol from the BITS/HUFFVAL spec form."""
        codes, code = {}, 0
        i = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                codes[values[i]] = (ln, code)
                i += 1
                code += 1
            code <<= 1
        return codes

    def _quality_tables(quality):
        q = max(1, min(100, int(quality)))
        scale = 5000 // q if q < 50 else 200 - 2 * q
        ql = _np.clip((_QL * scale + 50) // 100, 1, 255)
        qc = _np.clip((_QC * scale + 50) // 100, 1, 255)
        return ql, qc

    # ---------------------------------------------------------- encode
    def jpeg_encode(px, quality=90, subsampling="444", restart_interval=0):
        """Encode uint8 pixels (h,w) gray or (h,w,3) RGB as baseline
        sequential JFIF JPEG bytes.  Deterministic.

        ``subsampling``: '444' (no chroma subsampling) or '420' (2x2
        box-averaged chroma — the web-corpus default).  A non-zero
        ``restart_interval`` emits DRI + RSTn markers every that many
        MCUs (what camera/scanner pipelines produce), exercising the
        decoder's resync path."""
        if not 0 <= int(restart_interval) <= 65535:
            raise ValueError(
                f"restart_interval must be 0..65535, got {restart_interval!r}"
            )
        px = _np.asarray(px, dtype=_np.uint8)
        if px.ndim == 2:
            comps_px = [px.astype(_np.float64)]
        elif px.ndim == 3 and px.shape[2] == 3:
            r = px[:, :, 0].astype(_np.float64)
            g = px[:, :, 1].astype(_np.float64)
            b = px[:, :, 2].astype(_np.float64)
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
            comps_px = [y, cb, cr]
        else:
            raise ValueError("jpeg_encode wants (h,w) gray or (h,w,3) RGB")
        h, w = px.shape[:2]
        if h == 0 or w == 0:
            raise ValueError("empty image")
        ncomp = len(comps_px)
        ql, qc = _quality_tables(quality)
        qtabs = [ql] + ([qc] if ncomp == 3 else [])

        enc_dc = [_canonical_codes(*_DC_L), _canonical_codes(*_DC_C)]
        enc_ac = [_canonical_codes(*_AC_L), _canonical_codes(*_AC_C)]

        out = bytearray()
        out += b"\xff\xd8"  # SOI
        out += b"\xff\xe0" + _struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + _struct.pack(">HHBB", 1, 1, 0, 0)
        for tid, qt in enumerate(qtabs):
            out += b"\xff\xdb" + _struct.pack(">HB", 67, tid)
            out += bytes(int(qt[_ZZ[i]]) for i in range(64))
        if subsampling not in ("444", "420"):
            raise ValueError("subsampling must be '444' or '420'")
        # per-component (h, v) sampling factors
        if ncomp == 3 and subsampling == "420":
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1)] * ncomp
        out += b"\xff\xc0" + _struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
        for ci in range(ncomp):
            hs, vs = samp[ci]
            out += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
        for tc, tables in ((0, (_DC_L, _DC_C)), (1, (_AC_L, _AC_C))):
            for th in range(2 if ncomp == 3 else 1):
                bits, vals = tables[th]
                out += b"\xff\xc4" + _struct.pack(">HB", 3 + 16 + len(vals), (tc << 4) | th)
                out += bytes(bits) + bytes(vals)
        if restart_interval:
            out += b"\xff\xdd" + _struct.pack(">HH", 4, int(restart_interval))
        out += b"\xff\xda" + _struct.pack(">HB", 6 + 2 * ncomp, ncomp)
        for ci in range(ncomp):
            td = 0 if ci == 0 else 1
            out += bytes([ci + 1, (td << 4) | td])
        out += bytes([0, 63, 0])

        # bit writer with FF stuffing
        buf = bytearray()
        acc = [0, 0]  # bit accumulator, count

        def put(ln, code):
            acc[0] = (acc[0] << ln) | (code & ((1 << ln) - 1))
            acc[1] += ln
            while acc[1] >= 8:
                byte = (acc[0] >> (acc[1] - 8)) & 0xFF
                buf.append(byte)
                if byte == 0xFF:
                    buf.append(0x00)
                acc[1] -= 8
                acc[0] &= (1 << acc[1]) - 1

        def magnitude(v):
            # category size + the spec's value bits (one's complement
            # for negatives)
            a = abs(v)
            s = a.bit_length()
            return s, (v if v >= 0 else v + (1 << s) - 1)

        hmax = max(hs for hs, _ in samp)
        vmax = max(vs for _, vs in samp)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        # per-component planes at their own resolution, padded to the
        # MCU grid with edge replication (smooth block boundaries);
        # 4:2:0 chroma is 2x2 box-averaged first
        planes = []
        for ci, p in enumerate(comps_px):
            hs, vs = samp[ci]
            if (hs, vs) != (hmax, vmax):
                # box-average downsample by the factor ratio (pad odd
                # dims by edge first so the 2x2 mean is defined)
                fy, fx = vmax // vs, hmax // hs
                ph = (h + fy - 1) // fy * fy
                pw = (w + fx - 1) // fx * fx
                q = _np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                p = q.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
            th, tw = mcuy * vs * 8, mcux * hs * 8
            pad = _np.pad(
                p,
                ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                mode="edge",
            )
            planes.append(pad - 128.0)

        def encode_block(ci, block):
            tid = 0 if ci == 0 else 1
            coef = _D @ block @ _D.T
            qt = qtabs[tid].reshape(8, 8).astype(_np.float64)
            qz = _np.round(coef / qt).astype(_np.int64)
            zz = qz.reshape(64)[_ZZ]
            diff = int(zz[0]) - dc_prev[ci]
            dc_prev[ci] = int(zz[0])
            s, bitsv = magnitude(diff)
            ln, code = enc_dc[tid][s]
            put(ln, code)
            if s:
                put(s, bitsv)
            run = 0
            nz = _np.nonzero(zz[1:])[0]
            last_nz = int(nz[-1]) + 1 if nz.size else 0
            for i in range(1, last_nz + 1):
                v = int(zz[i])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = enc_ac[tid][0xF0]  # ZRL
                    put(ln, code)
                    run -= 16
                s, bitsv = magnitude(v)
                ln, code = enc_ac[tid][(run << 4) | s]
                put(ln, code)
                put(s, bitsv)
                run = 0
            if last_nz < 63:
                ln, code = enc_ac[tid][0x00]  # EOB
                put(ln, code)

        def flush_bits():
            if acc[1] % 8:
                pad = 8 - acc[1] % 8
                put(pad, (1 << pad) - 1)  # pad with 1s per spec

        dc_prev = [0] * ncomp
        mcu_count = 0
        rst_n = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    flush_bits()
                    buf.append(0xFF)
                    buf.append(0xD0 + rst_n)
                    rst_n = (rst_n + 1) % 8
                    dc_prev = [0] * ncomp
                mcu_count += 1
                for ci in range(ncomp):
                    hs, vs = samp[ci]
                    for byi in range(vs):
                        for bxi in range(hs):
                            y0 = (my * vs + byi) * 8
                            x0 = (mx * hs + bxi) * 8
                            encode_block(
                                ci, planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                            )
        flush_bits()
        out += bytes(buf)
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # ---------------------------------------------------------- decode
    def jpeg_pixels(data):
        """Decode baseline-sequential JPEG bytes -> (pixels, ncomp).

        pixels: uint8 (h,w) for grayscale or (h,w,3) RGB.  Raises
        ValueError on progressive/arithmetic/12-bit/malformed input.
        """
        if data[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG (missing SOI)")
        pos = 2
        qt = {}
        huff = {}  # (class, id) -> decode map {(ln, code): symbol}
        frame = None
        restart_interval = 0
        scan = None
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                raise ValueError(f"marker expected at {pos}")
            # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a
            # marker; without skipping them, 'FF FF DB' read the second
            # FF as the marker and the real DB byte as segment-length
            # high byte — a misaligned parse of a spec-legal file
            # (review finding, r7)
            while pos + 1 < len(data) and data[pos + 1] == 0xFF:
                pos += 1
            if pos + 4 > len(data):
                break
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                continue
            (seglen,) = _struct.unpack(">H", data[pos : pos + 2])
            body = data[pos + 2 : pos + seglen]
            if len(body) != seglen - 2:
                raise ValueError("truncated segment")
            pos += seglen
            if marker == 0xDB:  # DQT
                b = 0
                while b < len(body):
                    pq, tq = body[b] >> 4, body[b] & 0xF
                    if pq != 0:
                        raise ValueError("16-bit quant tables unsupported")
                    tbl = _np.zeros(64, dtype=_np.int64)
                    tbl[_ZZ] = _np.frombuffer(
                        body[b + 1 : b + 65], dtype=_np.uint8
                    ).astype(_np.int64)
                    qt[tq] = tbl.reshape(8, 8)
                    b += 65
            elif marker == 0xC4:  # DHT
                b = 0
                while b < len(body):
                    tc, th = body[b] >> 4, body[b] & 0xF
                    bits = list(body[b + 1 : b + 17])
                    n = sum(bits)
                    vals = list(body[b + 17 : b + 17 + n])
                    dec = {}
                    code, i = 0, 0
                    for ln in range(1, 17):
                        for _ in range(bits[ln - 1]):
                            dec[(ln, code)] = vals[i]
                            i += 1
                            code += 1
                        code <<= 1
                    huff[(tc, th)] = dec
                    b += 17 + n
            elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
                prec, fh, fw, nc = body[0], *_struct.unpack(">HH", body[1:5]), body[5]
                if prec != 8:
                    raise ValueError("only 8-bit precision supported")
                # 4-component (Adobe CMYK/YCCK) files would otherwise
                # pass every check and silently decode the C/M/Y planes
                # as YCbCr — wrong pixels poisoning downstream
                # histograms/hashes; 2-component files crashed with
                # IndexError instead of the contractual ValueError
                # (review finding, r7)
                if nc not in (1, 3):
                    raise ValueError(
                        f"only 1- (gray) or 3-component (YCbCr) JPEG "
                        f"supported, got {nc} components"
                    )
                comps = []
                for ci in range(nc):
                    cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                    hs, vs = samp >> 4, samp & 0xF
                    if not (1 <= hs <= 2 and 1 <= vs <= 2):
                        raise ValueError(f"sampling {hs}x{vs} unsupported")
                    comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
                frame = {"h": fh, "w": fw, "comps": comps}
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                            0xCD, 0xCE, 0xCF):
                raise ValueError(
                    "only baseline sequential JPEG supported (got SOF "
                    f"0x{marker:02x})"
                )
            elif marker == 0xDD:  # DRI
                (restart_interval,) = _struct.unpack(">H", body[:2])
            elif marker == 0xDA:  # SOS
                ns = body[0]
                sel = {}
                for si in range(ns):
                    cs, tt = body[1 + 2 * si : 3 + 2 * si]
                    sel[cs] = (tt >> 4, tt & 0xF)
                scan = (sel, pos)
                break
            # APPn / COM / others: skipped
        if frame is None or scan is None:
            raise ValueError("missing SOF0/SOS")
        sel, spos = scan
        # contract: unsupported-but-valid layouts raise ValueError, not
        # KeyError mid-MCU-loop (r7 review finding) — a spec-legal
        # baseline file may code its components in separate scans
        for c in frame["comps"]:
            if c["id"] not in sel:
                raise ValueError(
                    "non-interleaved multi-scan baseline JPEG unsupported "
                    f"(component {c['id']} absent from the first scan)"
                )
            if c["tq"] not in qt:
                raise ValueError(f"missing quantization table {c['tq']}")

        hmax = max(c["h"] for c in frame["comps"])
        vmax = max(c["v"] for c in frame["comps"])
        mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
        mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)

        # entropy-coded bytes: unstuff FF00, stop collecting per RST/EOI
        # handled inline by the bit reader
        class _Bits:
            def __init__(self, buf, start):
                self.buf, self.p, self.acc, self.n = buf, start, 0, 0

            def _fill(self):
                while self.n <= 24:
                    if self.p >= len(self.buf):
                        self.acc = (self.acc << 8) | 0
                        self.n += 8
                        continue
                    byte = self.buf[self.p]
                    if byte == 0xFF:
                        nxt = self.buf[self.p + 1] if self.p + 1 < len(self.buf) else 0xD9
                        if nxt == 0x00:
                            self.p += 2
                        elif 0xD0 <= nxt <= 0xD7:
                            # restart marker: caller resyncs via align()
                            self.acc = (self.acc << 8) | 0
                            self.n += 8
                            continue
                        else:  # EOI or next segment: pad with zeros
                            self.acc = (self.acc << 8) | 0
                            self.n += 8
                            continue
                    else:
                        self.p += 1
                    self.acc = (self.acc << 8) | byte
                    self.n += 8

            def get(self, ln):
                if ln == 0:
                    return 0
                self._fill()
                v = (self.acc >> (self.n - ln)) & ((1 << ln) - 1)
                self.n -= ln
                self.acc &= (1 << self.n) - 1
                return v

            def resync(self):
                # drop partial byte, skip the RST marker itself
                self.acc, self.n = 0, 0
                while self.p + 1 < len(self.buf):
                    if self.buf[self.p] == 0xFF and 0xD0 <= self.buf[self.p + 1] <= 0xD7:
                        self.p += 2
                        return
                    self.p += 1

        bits = _Bits(data, spos)

        def decode_symbol(dec):
            ln, code = 0, 0
            for _ in range(16):
                code = (code << 1) | bits.get(1)
                ln += 1
                sym = dec.get((ln, code))
                if sym is not None:
                    return sym
            raise ValueError("invalid Huffman code")

        def extend(v, s):
            return v - ((1 << s) - 1) if s and v < (1 << (s - 1)) else v

        comps = frame["comps"]
        planes = [
            _np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=_np.float64)
            for c in comps
        ]
        dc_prev = [0] * len(comps)
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    bits.resync()
                    dc_prev = [0] * len(comps)
                mcu_count += 1
                for ci, c in enumerate(comps):
                    dc_dec = huff.get((0, sel[c["id"]][0]))
                    ac_dec = huff.get((1, sel[c["id"]][1]))
                    if dc_dec is None or ac_dec is None:
                        raise ValueError("missing Huffman table")
                    for byi in range(c["v"]):
                        for bxi in range(c["h"]):
                            s = decode_symbol(dc_dec)
                            diff = extend(bits.get(s), s)
                            dc_prev[ci] += diff
                            zz = _np.zeros(64, dtype=_np.int64)
                            zz[0] = dc_prev[ci]
                            kk = 1
                            while kk < 64:
                                rs = decode_symbol(ac_dec)
                                r, s = rs >> 4, rs & 0xF
                                if rs == 0x00:
                                    break
                                if rs == 0xF0:
                                    kk += 16
                                    continue
                                kk += r
                                if kk > 63:
                                    raise ValueError("AC index overflow")
                                zz[kk] = extend(bits.get(s), s)
                                kk += 1
                            blk = _np.zeros(64, dtype=_np.int64)
                            blk[_ZZ] = zz
                            deq = blk.reshape(8, 8).astype(_np.float64) * qt[
                                c["tq"]
                            ].astype(_np.float64)
                            spatial = _D.T @ deq @ _D + 128.0
                            y0 = (my * c["v"] + byi) * 8
                            x0 = (mx * c["h"] + bxi) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial

        h, w = frame["h"], frame["w"]
        full = []
        for ci, c in enumerate(comps):
            p = planes[ci]
            if c["h"] != hmax or c["v"] != vmax:
                p = _np.repeat(
                    _np.repeat(p, hmax // c["h"], axis=1), vmax // c["v"], axis=0
                )
            full.append(p[:h, :w])
        if len(comps) == 1:
            return (
                _np.clip(_np.round(full[0]), 0, 255).astype(_np.uint8),
                1,
            )
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = _np.stack([r, g, b], axis=2)
        return _np.clip(_np.round(rgb), 0, 255).astype(_np.uint8), 3

    return jpeg_encode, jpeg_pixels
