"""Binary ``.xls`` (BIFF8) ingest — the pre-2007 Excel format a
2000s-era FAO/statistics crawl still surfaces next to the reference's
``read_xlsx`` workbooks (assess_changes.qmd:131-138; r12 verdict
"What's missing" #5).  Stdlib-pure, mirroring sources/excel.py's OOXML
reader: same ``(header, rows)`` parse contract, same type inference
(``_typed_schema``/``_coerce`` are REUSED), same fleet shape
(binaryFile scan → one mapInPandas task per workbook — the
parallelism unit for an unsplittable container).

Two layers, both from the public specs:

  * CFB container ([MS-CFB]: the OLE2 compound file): header → DIFAT →
    FAT chains → directory tree → per-stream bytes, including the
    MINI-FAT path for streams under the 4096-byte cutoff (real small
    workbooks live in the mini stream);
  * BIFF8 records ([MS-XLS]) inside the ``Workbook`` stream: the
    globals substream's BOUNDSHEET entries (sheet names + substream
    offsets) and SST shared-string table — with CONTINUE-record
    reassembly, including strings that SPLIT at a chunk boundary and
    re-state their compression flag — then per-sheet cell records:
    NUMBER, RK/MULRK (30-bit packed reals), LABELSST, inline LABEL,
    BOOLERR, FORMULA with cached numeric/boolean/STRING results, and
    BLANK/MULBLANK (skipped: absent cells densify to None exactly like
    the xlsx reader).

The fixture writer emits spec-correct minimal BIFF8 inside a real CFB
(FAT-allocated, deterministic zero timestamps), so reader and fixtures
share no code beyond the format documents themselves — the CSV-twin
oracle pattern of q_excel_clean applies unchanged.
"""

from __future__ import annotations

import io
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_CFB_SIG = bytes.fromhex("d0cf11e0a1b11ae1")
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC
_NOSTREAM = 0xFFFFFFFF


def _u16(b: bytes, o: int) -> int:
    return struct.unpack_from("<H", b, o)[0]


def _u32(b: bytes, o: int) -> int:
    return struct.unpack_from("<I", b, o)[0]


# --------------------------------------------------------------------------
# CFB (OLE2 compound file) reader.
# --------------------------------------------------------------------------


def cfb_streams(blob: bytes) -> dict[str, bytes]:
    """{stream name: bytes} for every stream in the compound file —
    FAT-allocated streams and mini-stream residents alike."""
    if blob[:8] != _CFB_SIG:
        raise ValueError("not a CFB (OLE2) file")
    ssz = 1 << _u16(blob, 30)
    mssz = 1 << _u16(blob, 32)
    first_dir = _u32(blob, 48)
    mini_cutoff = _u32(blob, 56)
    first_minifat = _u32(blob, 60)
    first_difat = _u32(blob, 68)

    def sector(n: int) -> bytes:
        off = 512 + n * ssz
        return blob[off : off + ssz]

    # DIFAT: 109 header slots, then chained DIFAT sectors
    fat_sectors = [
        _u32(blob, 76 + 4 * i) for i in range(109)
    ]
    d, hops = first_difat, 0
    while d not in (_ENDOFCHAIN, _FREESECT) and hops < 1 << 16:
        s = sector(d)
        fat_sectors += [_u32(s, 4 * i) for i in range(ssz // 4 - 1)]
        d = _u32(s, ssz - 4)
        hops += 1
    fat: list[int] = []
    for fs in fat_sectors:
        if fs in (_FREESECT, _ENDOFCHAIN):
            continue
        s = sector(fs)
        fat += list(struct.unpack(f"<{ssz // 4}I", s.ljust(ssz, b"\0")))

    def chain(start: int) -> list[int]:
        out: list[int] = []
        s, seen = start, set()
        while s < len(fat) and s not in seen:
            seen.add(s)
            out.append(s)
            s = fat[s]
        return out

    dirdata = b"".join(sector(s) for s in chain(first_dir))
    entries: list[tuple[str, int, int, int]] = []
    for off in range(0, len(dirdata) - 127, 128):
        e = dirdata[off : off + 128]
        nlen = _u16(e, 64)
        if nlen < 2 or nlen > 64:
            continue
        name = e[: nlen - 2].decode("utf-16-le", "replace")
        entries.append((name, e[66], _u32(e, 116),
                        struct.unpack_from("<Q", e, 120)[0]))

    mini: bytes = b""
    minifat: list[int] = []
    root = next((e for e in entries if e[1] == 5), None)
    if root is not None and root[2] not in (_ENDOFCHAIN, _FREESECT):
        mini = b"".join(sector(s) for s in chain(root[2]))[: root[3]]
        for s in chain(first_minifat) if first_minifat not in (
            _ENDOFCHAIN, _FREESECT
        ) else []:
            sec = sector(s)
            minifat += list(
                struct.unpack(f"<{ssz // 4}I", sec.ljust(ssz, b"\0"))
            )

    def minichain(start: int) -> list[int]:
        out: list[int] = []
        s, seen = start, set()
        while s < len(minifat) and s not in seen:
            seen.add(s)
            out.append(s)
            s = minifat[s]
        return out

    out: dict[str, bytes] = {}
    for name, typ, start, size in entries:
        if typ != 2:  # streams only
            continue
        if size < mini_cutoff:
            data = b"".join(
                mini[s * mssz : (s + 1) * mssz] for s in minichain(start)
            )
        else:
            data = b"".join(sector(s) for s in chain(start))
        out[name] = data[:size]
    return out


# --------------------------------------------------------------------------
# BIFF8 records.
# --------------------------------------------------------------------------

_R_BOF = 0x0809
_R_EOF = 0x000A
_R_BOUNDSHEET = 0x0085
_R_SST = 0x00FC
_R_CONTINUE = 0x003C
_R_NUMBER = 0x0203
_R_RK = 0x027E
_R_MULRK = 0x00BD
_R_LABELSST = 0x00FD
_R_LABEL = 0x0204
_R_BOOLERR = 0x0205
_R_FORMULA = 0x0006
_R_STRING = 0x0207


def _records(data: bytes, start: int = 0):
    """(record type, payload, offset) triples from ``start``."""
    pos = start
    while pos + 4 <= len(data):
        rt, ln = struct.unpack_from("<HH", data, pos)
        if rt == 0 and ln == 0:
            break  # zero padding after the last EOF
        yield rt, data[pos + 4 : pos + 4 + ln], pos
        pos += 4 + ln


def _rk_value(rk: int) -> float | int:
    div100 = rk & 1
    if rk & 2:  # 30-bit signed integer
        v: float | int = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
    else:  # top 30 bits of an IEEE double
        v = struct.unpack(
            "<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32)
        )[0]
    if div100:
        v = v / 100
        if isinstance(v, float) and v.is_integer() and rk & 2:
            v = int(v)
    return v


class _SSTCursor:
    """Reader over an SST record's payload plus its CONTINUE chunks.
    Fixed-width fields never split across chunks; STRING CHARACTERS
    may, and each continuation restates the 1-byte compression flag."""

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.off = 0

    def _advance(self) -> None:
        while (
            self.ci < len(self.chunks)
            and self.off >= len(self.chunks[self.ci])
        ):
            self.ci += 1
            self.off = 0

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n:
            self._advance()
            if self.ci >= len(self.chunks):
                raise ValueError("SST truncated")
            c = self.chunks[self.ci]
            take = min(n, len(c) - self.off)
            out += c[self.off : self.off + take]
            self.off += take
            n -= take
        return bytes(out)

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.read(2))[0]
        flags = self.read(1)[0]
        high = flags & 1
        c_run = struct.unpack("<H", self.read(2))[0] if flags & 8 else 0
        cb_ext = struct.unpack("<I", self.read(4))[0] if flags & 4 else 0
        parts: list[str] = []
        remaining = cch
        # the chunk the HEADER ended in: any later chunk reached while
        # characters remain is a CONTINUE, and per [MS-XLS] every
        # CONTINUE carrying this string's characters restates the
        # 1-byte compression flag — including the edge where the split
        # falls exactly BETWEEN the header and the first character
        # (parts is still empty there, so "off == 0 and parts" missed
        # it and decoded the flag byte as a character)
        hdr_chunk = self.ci
        while remaining:
            self._advance()
            if self.ci >= len(self.chunks):
                raise ValueError("SST string truncated")
            c = self.chunks[self.ci]
            if self.off == 0 and self.ci != hdr_chunk:
                # first bytes of a CONTINUE chunk: restated flag
                high = c[0] & 1
                self.off = 1
                hdr_chunk = self.ci
            width = 2 if high else 1
            avail = (len(c) - self.off) // width
            take = min(remaining, avail)
            raw = c[self.off : self.off + take * width]
            parts.append(
                raw.decode("utf-16-le" if high else "latin-1")
            )
            self.off += take * width
            remaining -= take
            if remaining and avail == take == 0:
                raise ValueError("SST string makes no progress")
        if c_run or cb_ext:
            self.read(4 * c_run + cb_ext)  # rich runs / phonetics
        return "".join(parts)


def _short_string(b: bytes, o: int) -> str:
    """ShortXLUnicodeString (BOUNDSHEET sheet names): u8 cch, u8
    flags, chars."""
    cch, flags = b[o], b[o + 1]
    if flags & 1:
        return b[o + 2 : o + 2 + 2 * cch].decode("utf-16-le")
    return b[o + 2 : o + 2 + cch].decode("latin-1")


def _xl_string(b: bytes, o: int) -> str:
    """XLUnicodeString (inline LABEL / cached STRING): u16 cch, u8
    flags, chars."""
    cch = _u16(b, o)
    flags = b[o + 2]
    if flags & 1:
        return b[o + 3 : o + 3 + 2 * cch].decode("utf-16-le")
    return b[o + 3 : o + 3 + cch].decode("latin-1")


def _parse_sst(chunks: list[bytes]) -> list[str]:
    cur = _SSTCursor(chunks)
    cur.read(4)  # cstTotal
    unique = struct.unpack("<I", cur.read(4))[0]
    return [cur.read_string() for _ in range(unique)]


def parse_xls_bytes(
    raw: bytes, skip_rows: int = 0, sheet: int | str = 0
) -> tuple[list[str], list[list]]:
    """Parse one worksheet of a BIFF8 ``.xls`` payload into
    ``(header, rows)`` — the exact contract of
    ``excel.parse_xlsx_bytes`` (skip ``skip_rows``, next row is the
    header, sparse cells densify to None, over-wide data rows get
    ``_c{i}`` names)."""
    streams = cfb_streams(raw)
    wb = streams.get("Workbook") or streams.get("Book")
    if wb is None:
        raise ValueError("no Workbook stream (not an Excel .xls?)")

    sheets: list[tuple[str, int]] = []  # (name, substream offset)
    sst: list[str] = []
    sst_chunks: list[bytes] | None = None
    for rt, payload, _off in _records(wb):
        if rt == _R_BOUNDSHEET:
            sheets.append((_short_string(payload, 6), _u32(payload, 0)))
        elif rt == _R_SST:
            sst_chunks = [payload]
        elif rt == _R_CONTINUE and sst_chunks is not None:
            sst_chunks.append(payload)
        elif rt == _R_EOF:
            break  # end of the globals substream
        elif sst_chunks is not None and rt not in (_R_SST, _R_CONTINUE):
            sst = _parse_sst(sst_chunks)
            sst_chunks = None
    if sst_chunks is not None:
        sst = _parse_sst(sst_chunks)
    if not sheets:
        raise ValueError("no BOUNDSHEET records")
    if isinstance(sheet, str):
        matches = [o for n, o in sheets if n == sheet]
        if not matches:
            raise ValueError(
                f"no sheet named {sheet!r}; have {[n for n, _ in sheets]}"
            )
        start = matches[0]
    else:
        start = sheets[sheet][1]

    cells: dict[int, dict[int, object]] = {}
    pending_formula: tuple[int, int] | None = None
    for rt, p, _off in _records(wb, start):
        if rt == _R_EOF:
            break
        if rt == _R_NUMBER:
            r, c = _u16(p, 0), _u16(p, 2)
            cells.setdefault(r, {})[c] = struct.unpack_from("<d", p, 6)[0]
        elif rt == _R_RK:
            r, c = _u16(p, 0), _u16(p, 2)
            cells.setdefault(r, {})[c] = _rk_value(_u32(p, 6))
        elif rt == _R_MULRK:
            r, c0 = _u16(p, 0), _u16(p, 2)
            n = (len(p) - 6) // 6
            for k in range(n):
                cells.setdefault(r, {})[c0 + k] = _rk_value(
                    _u32(p, 4 + 6 * k + 2)
                )
        elif rt == _R_LABELSST:
            r, c = _u16(p, 0), _u16(p, 2)
            isst = _u32(p, 6)
            cells.setdefault(r, {})[c] = (
                sst[isst] if isst < len(sst) else None
            )
        elif rt == _R_LABEL:
            r, c = _u16(p, 0), _u16(p, 2)
            cells.setdefault(r, {})[c] = _xl_string(p, 6)
        elif rt == _R_BOOLERR:
            r, c = _u16(p, 0), _u16(p, 2)
            if p[7] == 0:  # fErr=1 → error cell → None
                cells.setdefault(r, {})[c] = bool(p[6])
        elif rt == _R_FORMULA:
            r, c = _u16(p, 0), _u16(p, 2)
            cached = p[6:14]
            if cached[6:8] == b"\xff\xff":
                kind = cached[0]
                if kind == 0:  # string result in the following STRING
                    pending_formula = (r, c)
                elif kind == 1:
                    cells.setdefault(r, {})[c] = bool(cached[2])
                elif kind == 3:
                    cells.setdefault(r, {})[c] = ""
                # kind 2 (error) → absent → None
            else:
                cells.setdefault(r, {})[c] = struct.unpack(
                    "<d", cached
                )[0]
        elif rt == _R_STRING and pending_formula is not None:
            r, c = pending_formula
            cells.setdefault(r, {})[c] = _xl_string(p, 0)
            pending_formula = None

    if not cells:
        raise ValueError("xls sheet has no cells")
    grid: list[list] = []
    for r in range(max(cells) + 1):
        row = cells.get(r, {})
        width = max(row) + 1 if row else 0
        grid.append([row.get(i) for i in range(width)])
    grid = grid[skip_rows:]
    if not grid:
        raise ValueError("xls sheet has no rows after skip_rows")
    width = max(len(r) for r in grid)
    raw_header = grid[0] + [None] * (width - len(grid[0]))
    header = [
        str(h) if h is not None else f"_c{i}"
        for i, h in enumerate(raw_header)
    ]
    rows = [r + [None] * (width - len(r)) for r in grid[1:]]
    return header, rows


# --------------------------------------------------------------------------
# Spark surface (mirrors sources/excel.py).
# --------------------------------------------------------------------------


def read_xls(
    spark: SparkSession, path: str, skip_rows: int = 1,
    sheet: int | str = 0,
) -> DataFrame:
    """``read_xlsx(file, skip = 1)`` semantics for the binary format:
    skip, header, per-column long/double/boolean/string inference —
    the xlsx reader's body (``excel._read_book``) with the BIFF8
    parser."""
    from .excel import _read_book

    return _read_book(spark, path, parse_xls_bytes, skip_rows, sheet)


def read_xls_fleet(
    spark: SparkSession,
    dir_path: str,
    skip_rows: int = 1,
    sheet: int | str = 0,
    schema: T.StructType | None = None,
    workbook_col: str = "workbook",
) -> DataFrame:
    """Directory of ``.xls`` workbooks in one job: binaryFile scan →
    one mapInPandas decode task per workbook → union tagged with the
    workbook basename — the read_excel_fleet body
    (``excel._read_fleet``) with the BIFF8 parser."""
    from .excel import _read_fleet

    return _read_fleet(
        spark, dir_path, parse_xls_bytes, "xls", skip_rows, sheet,
        schema, workbook_col,
    )


# --------------------------------------------------------------------------
# Fixture writer: minimal spec-correct BIFF8 in a real CFB container.
# --------------------------------------------------------------------------


def _rec(rt: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rt, len(payload)) + payload


def _biff_bof(dt: int) -> bytes:
    # vers 0x0600 (BIFF8), dt, rupBuild/rupYear, file/stream flags
    return _rec(
        _R_BOF,
        struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0),
    )


def _sst_record(strings: list[str], total_refs: int) -> bytes:
    body = struct.pack("<II", total_refs, len(strings))
    for s in strings:
        if all(ord(ch) < 256 for ch in s):
            body += struct.pack("<HB", len(s), 0) + s.encode("latin-1")
        else:
            body += struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")
    if len(body) > 8224:
        raise ValueError("fixture SST would need CONTINUE records")
    return _rec(_R_SST, body)


def write_minimal_xls(target, sheets) -> None:
    """Fixture/test helper: write a BIFF8 ``.xls`` using only the
    stdlib.  ``sheets`` is either a list of rows (single sheet
    "Sheet1") or a dict ``{sheet_name: rows}``; cells are
    str/int/float/bool/None.  Deterministic: zero CFB timestamps,
    FAT-allocated Workbook stream (padded past the mini-stream
    cutoff), no environment-dependent records."""
    if isinstance(sheets, dict):
        named = list(sheets.items())
    else:
        named = [("Sheet1", sheets)]

    # shared-string pool over all sheets
    strings: list[str] = []
    index: dict[str, int] = {}
    refs = 0
    for _, rows in named:
        for row in rows:
            for v in row:
                if isinstance(v, str):
                    refs += 1
                    if v not in index:
                        index[v] = len(strings)
                        strings.append(v)

    def sheet_substream(rows: list[list]) -> bytes:
        out = bytearray(_biff_bof(0x0010))
        ncols = max((len(r) for r in rows), default=1)
        out += _rec(
            0x0200,  # DIMENSIONS
            struct.pack("<IIHHH", 0, len(rows), 0, ncols, 0),
        )
        for ri, row in enumerate(rows):
            for ci, v in enumerate(row):
                if v is None:
                    continue
                head = struct.pack("<HHH", ri, ci, 15)
                if isinstance(v, bool):
                    out += _rec(
                        _R_BOOLERR, head + struct.pack("<BB", int(v), 0)
                    )
                elif isinstance(v, str):
                    out += _rec(
                        _R_LABELSST,
                        head + struct.pack("<I", index[v]),
                    )
                elif (
                    isinstance(v, int)
                    and -(1 << 29) <= v < (1 << 29)
                ):
                    # packed 30-bit integer — round-trips as int and
                    # exercises the reader's RK path
                    out += _rec(
                        _R_RK,
                        head + struct.pack(
                            "<I", ((v << 2) & 0xFFFFFFFF) | 2
                        ),
                    )
                else:
                    out += _rec(
                        _R_NUMBER, head + struct.pack("<d", float(v))
                    )
        out += _rec(_R_EOF, b"")
        return bytes(out)

    bodies = [sheet_substream(rows) for _, rows in named]

    def globals_substream(offsets: list[int]) -> bytes:
        out = bytearray(_biff_bof(0x0005))
        for (name, _), off in zip(named, offsets):
            nm = name.encode("latin-1")
            out += _rec(
                _R_BOUNDSHEET,
                struct.pack("<IHBB", off, 0, len(nm), 0) + nm,
            )
        out += _sst_record(strings, refs)
        out += _rec(_R_EOF, b"")
        return bytes(out)

    # BOUNDSHEET offsets depend on the globals length — which is
    # itself offset-independent, so compute once with zeros then patch
    glb = globals_substream([0] * len(named))
    offsets = []
    pos = len(glb)
    for body in bodies:
        offsets.append(pos)
        pos += len(body)
    wb = globals_substream(offsets) + b"".join(bodies)
    assert len(wb) == pos

    # pad past the 4096-byte mini-stream cutoff: the stream then lives
    # in the regular FAT and the writer needs no mini-FAT machinery
    if len(wb) < 4096:
        wb += b"\0" * (4096 - len(wb))

    n_data = (len(wb) + 511) // 512
    if n_data > 125:
        raise ValueError("fixture workbook too large for one FAT sector")
    # sector 0: FAT; sector 1: directory; sectors 2..: workbook data
    fat = [_FATSECT, _ENDOFCHAIN]  # self, directory
    for k in range(n_data):
        fat.append(3 + k if k + 1 < n_data else _ENDOFCHAIN)
    fat += [_FREESECT] * (128 - len(fat))

    def direntry(
        name: str, typ: int, start: int, size: int, child: int
    ) -> bytes:
        nm = name.encode("utf-16-le") + b"\0\0"
        e = bytearray(128)
        e[0 : len(nm)] = nm
        struct.pack_into("<H", e, 64, len(nm))
        e[66] = typ
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, _NOSTREAM, _NOSTREAM, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    directory = (
        direntry("Root Entry", 5, _ENDOFCHAIN, 0, 1)
        + direntry("Workbook", 2, 2, len(wb), _NOSTREAM)
        + b"\0" * 256
    )

    header = bytearray(512)
    header[0:8] = _CFB_SIG
    struct.pack_into("<HH", header, 24, 0x003E, 0x0003)  # minor/major
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<HH", header, 30, 9, 6)  # sector/mini shifts
    struct.pack_into("<I", header, 40, 0)  # dir sectors (v3: 0)
    struct.pack_into("<I", header, 44, 1)  # FAT sectors
    struct.pack_into("<I", header, 48, 1)  # first directory sector
    struct.pack_into("<I", header, 56, 4096)  # mini cutoff
    struct.pack_into("<I", header, 60, _ENDOFCHAIN)  # first miniFAT
    struct.pack_into("<I", header, 64, 0)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # first DIFAT
    struct.pack_into("<I", header, 72, 0)
    struct.pack_into("<I", header, 76, 0)  # DIFAT[0] = FAT at sector 0
    for i in range(1, 109):
        struct.pack_into("<I", header, 76 + 4 * i, _FREESECT)

    blob = (
        bytes(header)
        + struct.pack("<128I", *fat)
        + directory
        + wb.ljust(n_data * 512, b"\0")
    )
    if hasattr(target, "write"):
        target.write(blob)
    else:
        with open(target, "wb") as f:
            f.write(blob)


__all__ = [
    "cfb_streams",
    "parse_xls_bytes",
    "read_xls",
    "read_xls_fleet",
    "write_minimal_xls",
]
