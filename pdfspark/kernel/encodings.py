"""Byte→char decode tables (SURVEY.md §2.7 C1-C3).

Tables transcribed value-for-value from the reference
(``cos/COSString.java:40-76`` — ``winansiByteToChar`` and
``pdfEncodingByteToChar``). Note these are the *reference's* tables,
which the correctness contract pins (undefined WinAnsi points map to
U+FFFD, not cp1252's behavior; PDFDocEncoding keeps 0x00-0x7F identity
including the 0x18-0x1F control range).

UTF-16BE detection: leading FE FF BOM (``COSString.java:449-455``).
"""

from __future__ import annotations

_WINANSI_HIGH = (
    # 0x80..0x9F
    0x20AC, 0xFFFD, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0xFFFD, 0x017D, 0xFFFD,
    0xFFFD, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0xFFFD, 0x017E, 0x0178,
)

_PDFDOC_HIGH = (
    # 0x80..0x9F
    0x2022, 0x2020, 0x2021, 0x2026, 0x2014, 0x2013, 0x0192, 0x2044,
    0x2039, 0x203A, 0x2212, 0x2030, 0x201E, 0x201C, 0x201D, 0x2018,
    0x2019, 0x201A, 0x2122, 0xFB01, 0xFB02, 0x0141, 0x0152, 0x0160,
    0x0178, 0x017D, 0x0131, 0x0142, 0x0153, 0x0161, 0x017E, 0xFFFD,
)

WINANSI_BYTE_TO_CHAR: tuple[str, ...] = tuple(
    chr(i) if i < 0x80 else (chr(_WINANSI_HIGH[i - 0x80]) if i < 0xA0 else chr(i))
    for i in range(256)
)

# PDFDocEncoding: 0x00-0x7F identity; 0x80-0x9F special; 0xA0 = Euro
# (COSString.java:68 maps 0xA0 → 0x20AC); 0xA1-0xFF latin-1 identity.
PDFDOC_BYTE_TO_CHAR: tuple[str, ...] = tuple(
    chr(i)
    if i < 0x80
    else (
        chr(_PDFDOC_HIGH[i - 0x80])
        if i < 0xA0
        else ("€" if i == 0xA0 else chr(i))
    )
    for i in range(256)
)

# Reverse maps for the encode (produce) path — only the 0x80..0xA0
# window is non-identity (COSString.java static block :77-88).
WINANSI_CHAR_TO_BYTE = {
    c: k for k in range(128, 161) for c in [WINANSI_BYTE_TO_CHAR[k]] if c != "�"
}
PDFDOC_CHAR_TO_BYTE = {
    c: k for k in range(128, 161) for c in [PDFDOC_BYTE_TO_CHAR[k]] if c != "�"
}


def decode_pdfdoc(raw: bytes) -> str:
    """C1 + C3: UTF-16BE if BOM, else PDFDocEncoding table
    (COSString.java:445-473)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    t = PDFDOC_BYTE_TO_CHAR
    return "".join(t[b] for b in raw)


def encode_pdfdoc(text: str) -> bytes:
    """Generator-path encode: BMP chars that fit PDFDocEncoding →
    single bytes; else UTF-16BE with BOM (the reference's live encode
    path is low-byte truncation, COSString.java:361-436 — we encode
    spec-correctly so decode∘encode = identity)."""
    if text.isascii():  # identical to the per-char loop for <0x80
        return text.encode("ascii")
    out = bytearray()
    for ch in text:
        o = ord(ch)
        if o < 0x80:
            out.append(o)
        elif ch in PDFDOC_CHAR_TO_BYTE:
            out.append(PDFDOC_CHAR_TO_BYTE[ch])
        elif 0xA1 <= o <= 0xFF:
            out.append(o)
        else:
            return b"\xfe\xff" + text.encode("utf-16-be")
    return bytes(out)
