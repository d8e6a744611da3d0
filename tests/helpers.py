"""Shared assertion helpers: order-insensitive DataFrame vs DuckDB compare,
mirroring the driver's oracle gate (row-count + schema names + values)."""

from __future__ import annotations

import math


def normalize(rows, colnames):
    """Rows -> sorted list of tuples with column order sorted by name.

    Values are compared EXACTLY (repr for floats, so int 3 != float 3.0),
    mirroring the driver's exact value hash. Any query needing tolerance
    must build it into the query itself (decimal funnel / floor-scaling),
    not into this harness — round(v, 4) here is how scalar_math_funcs
    passed pytest yet failed the driver in round 1."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)  # exact, and type-distinguishing vs int
        if isinstance(v, list):
            return tuple(norm_val(x) for x in v)
        return v

    return sorted(
        (tuple(norm_val(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),  # None-safe total order
    )


def assert_df_matches_duck(df, duck, sql, check_names=True):
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if check_names:
        assert sorted(spark_cols) == sorted(duck_cols), (
            f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    a = normalize(spark_rows, spark_cols)
    b = normalize(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"value mismatch, first diffs: {mismatches[:3]}"


# --- reference JPEG encoder (tests only) ------------------------------
# Minimal grayscale encoder over ARBITRARY quantized coefficient
# blocks, in both sequential-baseline and progressive modes, using the
# genuine Annex K luma tables. Exists so the progressive decoder can
# be differentially tested against the (independently oracle-proven)
# sequential decoder on identical coefficient content.

def _jpeg_enc_tables():
    from hustle_spark.operators.multimodal import _jpeg_huff_table

    dc_counts = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    ac_counts = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    ac_vals = list(bytes.fromhex(
        "01020300041105122131410613516107227114328191a108"
        "2342b1c11552d1f02433627282090a161718191a25262728"
        "292a3435363738393a434445464748494a53545556575859"
        "5a636465666768696a737475767778797a83848586878889"
        "8a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6"
        "b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2"
        "e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9fa"
    ))

    def inv(counts, vals):
        table = _jpeg_huff_table(counts, vals)
        return {v: format(code, f"0{ln}b") for (ln, code), v in table.items()}

    dc_bytes = bytes([0x00] + dc_counts) + bytes(dc_vals)
    ac_bytes = bytes([0x10] + ac_counts) + bytes(ac_vals)
    return inv(dc_counts, dc_vals), inv(ac_counts, ac_vals), dc_bytes, ac_bytes


class _JpegBitSink:
    def __init__(self):
        self.bits = []

    def put(self, s):
        self.bits.append(s)

    def put_uint(self, v, n):
        if n:
            self.bits.append(format(v, f"0{n}b"))

    def flush(self):
        """1-pad to a byte boundary, 0xFF00-stuff, return bytes; reset."""
        s = "".join(self.bits)
        s += "1" * ((8 - len(s) % 8) % 8)
        out = bytearray()
        for j in range(0, len(s), 8):
            b = int(s[j: j + 8], 2)
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.bits = []
        return bytes(out)


def _mag_bits(d):
    """(category, value-bit-string) magnitude coding of a signed int."""
    if d == 0:
        return 0, ""
    cat = abs(d).bit_length()
    v = d if d > 0 else d + (1 << cat) - 1
    return cat, format(v, f"0{cat}b")


def jpeg_encode_gray(blocks, bw, bh, mode="sequential", scans=None,
                     restart_interval=0):
    """Encode raster-ordered 64-coef NATURAL-order quantized blocks
    (all-ones quant) as a grayscale JPEG. mode='sequential' -> one
    SOF0 baseline scan; mode='progressive' -> SOF2 with the given
    scan script: a list of ("dc", Ah, Al) and ("ac", Ss, Se, Ah, Al)
    entries obeying T.81's successive-approximation rules."""
    from hustle_spark.operators.multimodal import _JPEG_ZIGZAG

    dc_map, ac_map, dc_tbl, ac_tbl = _jpeg_enc_tables()
    if mode == "progressive":
        # Annex K's baseline AC table has no EOBn (r<<4, r>0) codes —
        # progressive scans need them, so ship a flat canonical table:
        # all 256 RS values at 9 bits (codes 0..255), valid and
        # trivially decodable by the canonical reconstruction.
        # 254 codes at 9 bits (0..253) + 2 at 10 bits (508, 509) —
        # counts are single bytes, so 256 won't fit in one length
        ac_map = {
            v: (format(v, "09b") if v < 254 else format(508 + v - 254, "010b"))
            for v in range(256)
        }
        counts = [0] * 16
        counts[8] = 254  # counts[i] = codes of length i+1
        counts[9] = 2
        ac_tbl = bytes([0x10]) + bytes(counts) + bytes(range(256))
    w, h = bw * 8, bh * 8
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes([1] * 64)
    out += b"\xff\xc4" + (2 + len(dc_tbl)).to_bytes(2, "big") + dc_tbl
    out += b"\xff\xc4" + (2 + len(ac_tbl)).to_bytes(2, "big") + ac_tbl
    sof = 0xC0 if mode == "sequential" else 0xC2
    out += bytes([0xFF, sof]) + (11).to_bytes(2, "big") + bytes([8])
    out += h.to_bytes(2, "big") + w.to_bytes(2, "big")
    out += bytes([1, 1, 0x11, 0])
    if restart_interval:
        out += (b"\xff\xdd" + (4).to_bytes(2, "big")
                + restart_interval.to_bytes(2, "big"))
    sink = _JpegBitSink()

    def sos(ss, se, ah, al):
        return (b"\xff\xda" + (8).to_bytes(2, "big")
                + bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    if mode == "sequential":
        out += sos(0, 63, 0, 0)
        pred = 0
        for blk in blocks:
            cat, vb = _mag_bits(blk[0] - pred)
            pred = blk[0]
            sink.put(dc_map[cat])
            sink.put(vb)
            run = 0
            for kz in range(1, 64):
                c = blk[_JPEG_ZIGZAG[kz]]
                if c == 0:
                    run += 1
                    continue
                while run > 15:
                    sink.put(ac_map[0xF0])
                    run -= 16
                cat, vb = _mag_bits(c)
                sink.put(ac_map[(run << 4) | cat])
                sink.put(vb)
                run = 0
            if run:
                sink.put(ac_map[0x00])
        out += sink.flush()
        out += b"\xff\xd9"
        return bytes(out)

    for scan in scans:
        if scan[0] == "dc":
            _, ah, al = scan
            out += sos(0, 0, ah, al)
            pred = 0
            nrst = 0
            for b, blk in enumerate(blocks):
                if restart_interval and b and b % restart_interval == 0:
                    out += sink.flush()
                    out += bytes([0xFF, 0xD0 + (nrst & 7)])
                    nrst += 1
                    pred = 0
                if ah == 0:
                    v = blk[0] >> al
                    cat, vb = _mag_bits(v - pred)
                    pred = v
                    sink.put(dc_map[cat])
                    sink.put(vb)
                else:
                    sink.put_uint((blk[0] >> al) & 1, 1)
        else:
            _, ss, se, ah, al = scan
            out += sos(ss, se, ah, al)
            if ah == 0:
                # first AC scan at precision al, with EOB runs
                # (EOBn code covers runs up to 32767 blocks — ample
                # for test grids)
                eob_pending = 0

                def flush_eob():
                    nonlocal eob_pending
                    while eob_pending:
                        n = min(eob_pending, 0x7FFF)
                        r = n.bit_length() - 1
                        sink.put(ac_map[r << 4])
                        sink.put_uint(n - (1 << r), r)
                        eob_pending -= n

                nrst = 0
                for b, blk in enumerate(blocks):
                    if restart_interval and b and b % restart_interval == 0:
                        flush_eob()
                        out += sink.flush()
                        out += bytes([0xFF, 0xD0 + (nrst & 7)])
                        nrst += 1
                    vals = []
                    for k in range(ss, se + 1):
                        c = blk[_JPEG_ZIGZAG[k]]
                        v = abs(c) >> al
                        vals.append(v if c >= 0 else -v)
                    if not any(vals):
                        eob_pending += 1
                        continue
                    flush_eob()
                    run = 0
                    last_nz = max(i for i, v in enumerate(vals) if v)
                    for i, v in enumerate(vals):
                        if i > last_nz:
                            eob_pending += 1
                            break
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            sink.put(ac_map[0xF0])
                            run -= 16
                        cat, vb = _mag_bits(v)
                        sink.put(ac_map[(run << 4) | cat])
                        sink.put(vb)
                        run = 0
                flush_eob()
            else:
                # AC refinement: a faithful simulation of the
                # decoder's walk (G.1.2.3) so every correction bit
                # lands in exactly the position-order slot the decoder
                # will read it from: sign bit right after the RS code,
                # nonzero-history correction bits interleaved up to
                # each placement / each ZRL's 16th zero-history skip,
                # and deferred EOBn emission carrying the run's
                # buffered correction bits (single EOBn per flush —
                # runs stay < 32767 in tests).
                eob_pending = 0
                eob_corr = []

                def flush_eob_r():
                    nonlocal eob_pending, eob_corr
                    if eob_pending:
                        assert eob_pending <= 0x7FFF
                        r = eob_pending.bit_length() - 1
                        sink.put(ac_map[r << 4])
                        sink.put_uint(eob_pending - (1 << r), r)
                        eob_pending = 0
                    for b in eob_corr:
                        sink.put_uint(b, 1)
                    eob_corr = []

                nrst = 0
                for b, blk in enumerate(blocks):
                    if restart_interval and b and b % restart_interval == 0:
                        flush_eob_r()
                        out += sink.flush()
                        out += bytes([0xFF, 0xD0 + (nrst & 7)])
                        nrst += 1
                    band = list(range(ss, se + 1))
                    hist = [abs(blk[_JPEG_ZIGZAG[k]]) >> (al + 1)
                            for k in band]
                    newb = [(abs(blk[_JPEG_ZIGZAG[k]]) >> al) & 1
                            for k in band]
                    sign = [1 if blk[_JPEG_ZIGZAG[k]] >= 0 else 0
                            for k in band]
                    births = [i for i in range(len(band))
                              if hist[i] == 0 and newb[i]]
                    if not births:
                        eob_pending += 1
                        eob_corr.extend(
                            newb[i] for i in range(len(band)) if hist[i]
                        )
                        continue
                    flush_eob_r()
                    i = 0
                    for j in births:
                        gap = sum(
                            1 for t in range(i, j) if hist[t] == 0
                        )
                        while gap > 15:
                            sink.put(ac_map[0xF0])
                            cnt = 0
                            while cnt < 16:
                                if hist[i]:
                                    sink.put_uint(newb[i], 1)
                                else:
                                    cnt += 1
                                i += 1
                            gap -= 16
                        sink.put(ac_map[(gap << 4) | 1])
                        sink.put_uint(sign[j], 1)
                        while i <= j:
                            if hist[i]:
                                sink.put_uint(newb[i], 1)
                            i += 1
                    if i < len(band):
                        # trailing region joins an EOB run whose
                        # correction bits are buffered until flush
                        eob_pending += 1
                        eob_corr.extend(
                            newb[t] for t in range(i, len(band))
                            if hist[t]
                        )
                flush_eob_r()
                flush_eob_r()
        out += sink.flush()
    out += b"\xff\xd9"
    return bytes(out)


def persistent_rdd_ids(spark) -> set:
    """Ids of the RDDs the JVM holds persisted: caches and checkpoints."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids
