"""Pure-numpy MPEG-1 Audio Layer III codec pair.

The LAST decode frontier from the multimodal family: a real
Layer-III DECODE path (bitstream parse → scalefactors → Huffman →
requantize → alias reduction → IMDCT/overlap-add → frequency
inversion → 32-band polyphase synthesis) plus the matching ANALYSIS
side used to synthesize test fixtures, so the round trip
PCM → .mp3 bytes → PCM is attested end-to-end without any external
codec. Reference parity target: the reference deployment ingests
media by URL and never decodes audio in-process (no analog), so this
module exists for the engine's curation surface —
``extract_audio_features`` gains real MFCCs for MP3 payloads this
codec can parse.

Everything here implements the PUBLIC ISO/IEC 11172-3 layout:
header/side-info bit fields (§2.4.1.7), scalefactor share and
``slen`` coding (§2.4.2.7), count1/big-values Huffman regions,
4/3-power requantization, alias-reduction butterflies (Table B.9
coefficients), 36-point IMDCT with the sine window, and the
V-FIFO/windowed polyphase synthesis flowchart (§A.2 / C.1.3).

DOCUMENTED BOUNDARY (see docs/adr/0001-mp3-decode-boundary.md):

- The 512-tap polyphase PROTOTYPE window is a square-root-raised-
  cosine near-perfect-reconstruction design computed at import, NOT
  the ISO Table B.3 coefficient listing (a numeric table with no
  closed form, unavailable offline). The filterbank STRUCTURE is the
  ISO flowchart; reconstruction SNR of the analysis+synthesis pair
  is ~45-55 dB broadband. Decoding third-party MP3s therefore
  reproduces frequencies exactly and per-band gains to within the
  prototype difference — fine for fingerprints/MFCCs, not
  sample-exact vs libmad.
- Huffman coverage: big-values tables 0 (all-zero region), 1-13 and
  15 (Table B.7 transcriptions validated by Kraft completeness +
  prefix-freeness — any single transcription error fails one of the
  two checks), and the full 24-31 escape family (table 24's codes +
  per-table linbits), with region-aware table switching from
  region0/region1_count; count1 table B (the 4-bit one's-complement
  table). The encoder picks the smallest covering table from
  ``quant_levels`` (1/2/5/7/10/13/15, then 24-31 via linbits).
  Tables 16-23 — ONE shared code table whose transcription did not
  survive validation and whose leaf space admits 200+ completions —
  raise ``Mp3DecodeError``, the strict-contract behavior the rest of
  the multimodal family uses for unsupported features (ADR 0001).
- MPEG-1 Layer III: mono, stereo, dual-channel, and mid/side joint
  stereo (round 6); long, start/stop, short, and mixed windows
  (round 6); the bit reservoir (``main_data_begin`` back-pointers,
  round 7 — a rolling ≤511-byte main-data buffer across frames, the
  layout nearly all real-world CBR streams use), scfsi scalefactor
  sharing between granules (round 7), and intensity stereo
  (tan(is_pos·π/12) position reconstruction, round 7; long windows).
  The only remaining decode raises are big-values tables 16-23 and
  genuinely corrupt streams.

Scale posture: decode runs inside Arrow-batched ``mapInPandas``
(`multimodal.extract_audio_features`), one payload per row, pixels/
samples never shuffle — the same plumbing contract as the JPEG/PNG/
WAV decoders.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "Mp3DecodeError",
    "Mp3EncodeError",
    "decode_mp3",
    "encode_mp3",
]


class Mp3DecodeError(ValueError):
    """Bitstream uses a feature outside this decoder's documented
    boundary (or is corrupt)."""


class Mp3EncodeError(ValueError):
    """Input cannot be encoded within this encoder's boundary."""


# ---------------------------------------------------------------------------
# Public ISO/IEC 11172-3 tables (Layer III, MPEG-1)
# ---------------------------------------------------------------------------

#: bitrate_index -> kbps (Layer III, MPEG-1); 0=free, 15=invalid
_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320]
_RATES = [44100, 48000, 32000]

#: scalefac_compress -> (slen1, slen2)  (ISO §2.4.2.7)
_SLEN = [(0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2),
         (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3),
         (4, 2), (4, 3)]

#: long-block scalefactor band boundaries per sample rate (Table B.8)
_SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
            134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}

#: short-block scalefactor band boundaries per sample rate (Table B.8,
#: per-window line indices; 3 windows x 192 lines = 576)
_SFB_SHORT = {
    44100: [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192],
    48000: [0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192],
    32000: [0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192],
}

#: preemphasis table (pretab), bands 0..21
_PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
           3, 2, 0]

#: alias-reduction butterfly coefficients (Table B.9)
_CI = np.array([-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142,
                -0.0037])
_CS = 1.0 / np.sqrt(1.0 + _CI * _CI)
_CA = _CI * _CS

#: big-values Huffman table 1 (x,y in 0..1): value -> (code, length).
#: The smallest non-trivial big-values table; the default the encoder
#: emits (quant_levels=1).
_HUFF_T1_ENC = {(0, 0): (0b1, 1), (0, 1): (0b001, 3),
                (1, 0): (0b01, 2), (1, 1): (0b000, 3)}
#: decode trie as {code_str: (x, y)} via canonical prefix walk
_HUFF_T1_DEC = {"1": (0, 0), "001": (0, 1), "01": (1, 0),
                "000": (1, 1)}

#: ISO/IEC 11172-3 Table B.7 big-values code tables 2-13, 15 and 24,
#: transcribed from the public spec listing (hlen[x][y], hcod[x][y])
#: and validated in tests/test_mp3.py by Kraft completeness +
#: prefix-freeness per table: a complete prefix-free code over all
#: (x, y) symbols is a full binary tree, so any single transcription
#: error fails one of the two checks. Tables 25-31 share table 24's
#: codes (only linbits differ, `_BV_LINBITS`), so the whole escape
#: family 24-31 ships. Tables 16-23 (one shared code table) stay
#: outside the boundary: table 16's transcription did not survive
#: validation and its deep-cluster leaf space admits 200+ distinct
#: completions, so no honest reconstruction exists — ADR 0001.
_HUFF_BV_LEN: dict[int, list[list[int]]] = {
    2: [[1, 3, 6], [3, 3, 5], [5, 5, 6]],
    3: [[2, 2, 6], [3, 2, 5], [5, 5, 6]],
    5: [[1, 3, 6, 7], [3, 3, 6, 7], [6, 6, 7, 8], [7, 6, 7, 8]],
    6: [[3, 3, 5, 7], [3, 2, 4, 5], [4, 4, 5, 6], [6, 5, 6, 7]],
    7: [[1, 3, 6, 8, 8, 9], [3, 4, 6, 7, 7, 8], [6, 5, 7, 8, 8, 9],
        [7, 7, 8, 9, 9, 9], [7, 7, 8, 9, 9, 10], [8, 8, 9, 10, 10, 10]],
    8: [[2, 3, 6, 8, 8, 9], [3, 2, 4, 8, 8, 8], [6, 4, 6, 8, 8, 9],
        [8, 8, 8, 9, 9, 10], [8, 7, 8, 9, 10, 10], [9, 8, 9, 9, 11, 11]],
    9: [[3, 3, 5, 6, 8, 9], [3, 3, 4, 5, 6, 8], [4, 4, 5, 6, 7, 8],
        [6, 5, 6, 7, 7, 8], [7, 6, 7, 7, 8, 9], [8, 7, 8, 8, 9, 9]],
    10: [[1, 3, 6, 8, 9, 9, 9, 10], [3, 4, 6, 7, 8, 9, 8, 8],
         [6, 6, 7, 8, 9, 10, 9, 9], [7, 7, 8, 9, 10, 10, 9, 10],
         [8, 8, 9, 10, 10, 10, 10, 10], [9, 9, 10, 10, 11, 11, 10, 11],
         [8, 8, 9, 10, 10, 10, 11, 11], [9, 8, 9, 10, 10, 11, 11, 11]],
    11: [[2, 3, 5, 7, 8, 9, 8, 9], [3, 3, 4, 6, 8, 8, 7, 8],
         [5, 5, 6, 7, 8, 9, 8, 8], [7, 6, 7, 9, 8, 10, 8, 9],
         [8, 8, 8, 9, 9, 10, 9, 10], [8, 8, 9, 10, 10, 11, 10, 11],
         [8, 7, 7, 8, 9, 10, 10, 10], [8, 7, 8, 9, 10, 10, 10, 10]],
    12: [[4, 3, 5, 7, 8, 9, 9, 9], [3, 3, 4, 5, 7, 7, 8, 8],
         [5, 4, 5, 6, 7, 8, 7, 8], [6, 5, 6, 6, 7, 8, 8, 8],
         [7, 6, 7, 7, 8, 8, 8, 9], [8, 7, 8, 8, 8, 9, 8, 9],
         [8, 7, 7, 8, 8, 9, 9, 9], [9, 8, 8, 9, 9, 9, 10, 10]],
    13: [[1, 4, 6, 7, 8, 9, 9, 10, 9, 10, 11, 11, 12, 12, 13, 13],
         [3, 4, 6, 7, 8, 8, 9, 9, 9, 9, 10, 10, 11, 12, 12, 12],
         [6, 6, 7, 8, 9, 9, 10, 10, 9, 10, 10, 11, 11, 12, 13, 13],
         [7, 7, 8, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13, 13],
         [8, 7, 9, 9, 10, 10, 11, 11, 10, 11, 11, 12, 12, 13, 13, 14],
         [9, 8, 9, 10, 10, 10, 11, 11, 11, 11, 12, 11, 13, 13, 14, 14],
         [9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 12, 12, 13, 13, 14, 14],
         [10, 9, 10, 11, 11, 11, 12, 12, 12, 12, 13, 13, 13, 14, 16, 16],
         [9, 8, 9, 10, 10, 11, 11, 12, 12, 12, 12, 13, 13, 14, 15, 15],
         [10, 9, 10, 10, 11, 11, 11, 13, 12, 13, 13, 14, 14, 14, 16, 15],
         [10, 10, 10, 11, 11, 12, 12, 13, 12, 13, 14, 13, 14, 15, 16, 17],
         [11, 10, 10, 11, 12, 12, 12, 12, 13, 13, 13, 14, 15, 15, 15, 16],
         [11, 11, 11, 12, 12, 13, 12, 13, 14, 14, 15, 15, 15, 16, 16, 16],
         [12, 11, 12, 13, 13, 13, 14, 14, 14, 14, 14, 15, 16, 15, 16, 16],
         [13, 12, 12, 13, 13, 13, 15, 14, 14, 17, 15, 15, 15, 17, 16, 16],
         [12, 12, 13, 14, 14, 14, 15, 14, 15, 15, 16, 16, 19, 18, 19, 16]],
    15: [[3, 4, 5, 7, 7, 8, 9, 9, 9, 10, 10, 11, 11, 11, 12, 13],
         [4, 3, 5, 6, 7, 7, 8, 8, 8, 9, 9, 10, 10, 10, 11, 11],
         [5, 5, 5, 6, 7, 7, 8, 8, 8, 9, 9, 10, 10, 11, 11, 11],
         [6, 6, 6, 7, 7, 8, 8, 9, 9, 9, 10, 10, 10, 11, 11, 11],
         [7, 6, 7, 7, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 11],
         [8, 7, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 11, 11, 11, 12],
         [9, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 12, 12],
         [9, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 12],
         [9, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 11, 11, 12, 12, 12],
         [9, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12],
         [10, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13, 12],
         [10, 9, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12, 13],
         [11, 10, 9, 10, 10, 10, 11, 11, 11, 11, 11, 11, 12, 12, 13, 13],
         [11, 10, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12, 12, 12, 13, 13],
         [12, 11, 11, 11, 11, 11, 11, 11, 12, 12, 12, 12, 13, 13, 12, 13],
         [12, 11, 11, 11, 11, 11, 11, 12, 12, 12, 12, 12, 13, 13, 13, 13]],
    24: [[4, 4, 6, 7, 8, 9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 9],
         [4, 4, 5, 6, 7, 8, 8, 9, 9, 9, 10, 10, 10, 10, 10, 8],
         [6, 5, 6, 7, 7, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 7],
         [7, 6, 7, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 7],
         [8, 7, 7, 8, 8, 8, 8, 9, 9, 9, 10, 10, 10, 10, 11, 7],
         [9, 7, 8, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 7],
         [9, 8, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 7],
         [10, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 8],
         [10, 9, 9, 9, 9, 9, 9, 9, 9, 10, 10, 10, 10, 11, 11, 8],
         [10, 9, 9, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 8],
         [11, 9, 9, 9, 9, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 8],
         [11, 10, 9, 9, 9, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 8],
         [11, 10, 10, 10, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 8],
         [11, 10, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11, 8],
         [12, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11, 11, 8],
         [8, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 8, 8, 8, 8, 4]],
}
_HUFF_BV_COD: dict[int, list[list[int]]] = {
    2: [[1, 2, 1], [3, 1, 1], [3, 2, 0]],
    3: [[3, 2, 1], [1, 1, 1], [3, 2, 0]],
    5: [[1, 2, 6, 5], [3, 1, 4, 4], [7, 5, 7, 1], [6, 1, 1, 0]],
    6: [[7, 3, 5, 1], [6, 2, 3, 2], [5, 4, 4, 1], [3, 3, 2, 0]],
    7: [[1, 2, 10, 19, 16, 10], [3, 3, 7, 10, 5, 3],
        [11, 4, 13, 17, 8, 4], [12, 11, 18, 15, 11, 2],
        [7, 6, 9, 14, 3, 1], [6, 4, 5, 3, 2, 0]],
    8: [[3, 4, 6, 18, 12, 5], [5, 1, 2, 16, 9, 3],
        [7, 3, 5, 14, 7, 3], [19, 17, 15, 13, 10, 4],
        [13, 5, 8, 11, 5, 1], [12, 4, 4, 1, 1, 0]],
    9: [[7, 5, 9, 14, 15, 7], [6, 4, 5, 5, 6, 7],
        [7, 6, 8, 8, 8, 5], [15, 6, 9, 10, 5, 1],
        [11, 7, 9, 6, 4, 1], [14, 4, 6, 2, 6, 0]],
    10: [[1, 2, 10, 23, 35, 30, 12, 17], [3, 3, 8, 12, 18, 21, 12, 7],
         [11, 9, 15, 21, 32, 40, 19, 6], [14, 13, 22, 34, 46, 23, 18, 7],
         [20, 19, 33, 47, 27, 22, 9, 3], [31, 22, 41, 26, 21, 20, 5, 3],
         [14, 13, 10, 11, 16, 6, 5, 1], [9, 8, 7, 8, 4, 4, 2, 0]],
    11: [[3, 4, 10, 24, 34, 33, 21, 15], [5, 3, 4, 10, 32, 17, 11, 10],
         [11, 7, 13, 18, 30, 31, 20, 5], [25, 11, 19, 59, 27, 18, 12, 5],
         [35, 33, 31, 58, 30, 16, 7, 5], [28, 26, 32, 19, 17, 15, 8, 14],
         [14, 12, 9, 13, 14, 9, 4, 1], [11, 4, 6, 6, 6, 3, 2, 0]],
    12: [[9, 6, 16, 33, 41, 39, 38, 26], [7, 5, 6, 9, 23, 16, 26, 11],
         [17, 7, 11, 14, 21, 30, 10, 7], [17, 10, 15, 12, 18, 28, 14, 5],
         [32, 13, 22, 19, 18, 16, 9, 5], [40, 17, 31, 29, 17, 13, 4, 2],
         [27, 12, 11, 15, 10, 7, 4, 1], [27, 12, 8, 12, 6, 3, 1, 0]],
    13: [[1, 5, 14, 21, 34, 51, 46, 71, 42, 52, 68, 52, 67, 44, 43, 19],
         [3, 4, 12, 19, 31, 26, 44, 33, 31, 24, 32, 24, 31, 35, 22, 14],
         [15, 13, 23, 36, 59, 49, 77, 65, 29, 40, 30, 40, 27, 33, 42, 16],
         [22, 20, 37, 61, 56, 79, 73, 64, 43, 76, 56, 37, 26, 31, 25, 14],
         [35, 16, 60, 57, 97, 75, 114, 91, 54, 73, 55, 41, 48, 53, 23, 24],
         [58, 27, 50, 96, 76, 70, 93, 84, 77, 58, 79, 29, 74, 49, 41, 17],
         [47, 45, 78, 74, 115, 94, 90, 79, 69, 83, 71, 50, 59, 38, 36, 15],
         [72, 34, 56, 95, 92, 85, 91, 90, 86, 73, 77, 65, 51, 44, 43, 42],
         [43, 20, 30, 44, 55, 78, 72, 87, 78, 61, 46, 54, 37, 30, 20, 16],
         [53, 25, 41, 37, 44, 59, 54, 81, 66, 76, 57, 54, 37, 18, 39, 11],
         [35, 33, 31, 57, 42, 82, 72, 80, 47, 58, 55, 21, 22, 26, 38, 22],
         [53, 25, 23, 38, 70, 60, 51, 36, 55, 26, 34, 23, 27, 14, 9, 7],
         [34, 32, 28, 39, 49, 75, 30, 52, 48, 40, 52, 28, 18, 17, 9, 5],
         [45, 21, 34, 64, 56, 50, 49, 45, 31, 19, 12, 15, 10, 7, 6, 3],
         [48, 23, 20, 39, 36, 35, 53, 21, 16, 23, 13, 10, 6, 1, 4, 2],
         [16, 15, 17, 27, 25, 20, 29, 11, 17, 12, 16, 8, 1, 1, 0, 1]],
    15: [[7, 12, 18, 53, 47, 76, 124, 108, 89, 123, 108, 119, 107, 81,
          122, 63],
         [13, 5, 16, 27, 46, 36, 61, 51, 42, 70, 52, 83, 65, 41, 59, 36],
         [19, 17, 15, 24, 41, 34, 59, 48, 40, 64, 50, 78, 62, 80, 56, 33],
         [29, 28, 25, 43, 39, 63, 55, 93, 76, 59, 93, 72, 54, 75, 50, 29],
         [52, 22, 42, 40, 67, 57, 95, 79, 72, 57, 89, 69, 49, 66, 46, 27],
         [77, 37, 35, 66, 58, 52, 91, 74, 62, 48, 79, 63, 90, 62, 40, 38],
         [125, 32, 60, 56, 50, 92, 78, 65, 55, 87, 71, 51, 73, 51, 70, 30],
         [109, 53, 49, 94, 88, 75, 66, 122, 91, 73, 56, 42, 64, 44, 21,
          25],
         [90, 43, 41, 77, 73, 63, 56, 92, 77, 66, 47, 67, 48, 53, 36, 20],
         [71, 34, 67, 60, 58, 49, 88, 76, 67, 106, 71, 54, 38, 39, 23, 15],
         [109, 53, 51, 47, 90, 82, 58, 57, 48, 72, 57, 41, 23, 27, 62, 9],
         [86, 42, 40, 37, 70, 64, 52, 43, 70, 55, 42, 25, 29, 18, 11, 11],
         [118, 68, 30, 55, 50, 46, 74, 65, 49, 39, 24, 16, 22, 13, 14, 7],
         [91, 44, 39, 38, 34, 63, 52, 45, 31, 52, 28, 19, 14, 8, 9, 3],
         [123, 60, 58, 53, 47, 43, 32, 22, 37, 24, 17, 12, 15, 10, 2, 1],
         [71, 37, 34, 30, 28, 20, 17, 26, 21, 16, 10, 6, 8, 6, 2, 0]],
    24: [[15, 13, 46, 80, 146, 262, 248, 434, 426, 669, 653, 649, 621,
          517, 1032, 88],
         [14, 12, 21, 38, 71, 130, 122, 216, 209, 198, 327, 345, 319,
          297, 279, 42],
         [47, 22, 41, 74, 68, 128, 120, 221, 207, 194, 182, 340, 315,
          295, 541, 18],
         [81, 39, 75, 70, 134, 125, 116, 220, 204, 190, 178, 325, 311,
          293, 271, 16],
         [147, 72, 69, 135, 127, 118, 112, 210, 200, 188, 352, 323, 306,
          285, 540, 14],
         [263, 66, 129, 126, 119, 114, 214, 202, 192, 180, 341, 317, 301,
          281, 262, 12],
         [249, 123, 121, 117, 113, 215, 206, 195, 185, 347, 330, 308,
          291, 272, 520, 10],
         [435, 115, 111, 109, 211, 203, 196, 187, 353, 332, 313, 298,
          283, 531, 381, 17],
         [427, 212, 208, 205, 201, 193, 186, 177, 169, 320, 303, 286,
          268, 514, 377, 16],
         [335, 199, 197, 191, 189, 181, 174, 333, 321, 305, 289, 275,
          521, 379, 371, 11],
         [668, 184, 183, 179, 175, 344, 331, 314, 304, 290, 277, 530,
          383, 373, 366, 10],
         [652, 346, 171, 168, 164, 318, 309, 299, 287, 276, 263, 513,
          375, 368, 362, 6],
         [648, 322, 316, 312, 307, 302, 292, 284, 269, 261, 512, 376,
          370, 364, 359, 4],
         [620, 300, 296, 294, 288, 282, 273, 266, 515, 380, 374, 369,
          365, 361, 357, 2],
         [1033, 280, 278, 274, 267, 264, 259, 382, 378, 372, 367, 363,
          360, 358, 356, 0],
         [43, 20, 19, 17, 15, 13, 11, 9, 7, 6, 4, 7, 5, 3, 1, 3]],
}

#: linbits per escape-family table ID (ISO Table B.7): tables 16-23
#: share table 16's codes, 24-31 share table 24's — only linbits
#: differ. An x or y symbol of 15 is the ESC marker: the decoder reads
#: `linbits` extra bits and adds them to 15 before the sign bit. Only
#: the 24-31 family decodes (table 16's codes are outside the
#: boundary — see the transcription note above).
_BV_LINBITS: dict[int, int] = {
    16: 1, 17: 2, 18: 3, 19: 4, 20: 6, 21: 8, 22: 10, 23: 13,
    24: 4, 25: 5, 26: 6, 27: 7, 28: 8, 29: 9, 30: 11, 31: 13,
}


def _build_bv_tables() -> tuple[dict, dict, dict]:
    """(enc, dec, maxlen) lookup maps for every supported big-values
    table: enc[t][(x, y)] -> (code, length); dec[t][bitstring] ->
    (x, y); maxlen[t] bounds the decode trie walk."""
    enc = {1: dict(_HUFF_T1_ENC)}
    dec = {1: dict(_HUFF_T1_DEC)}
    maxlen = {1: 3}
    for t, lens in _HUFF_BV_LEN.items():
        cods = _HUFF_BV_COD[t]
        e: dict[tuple[int, int], tuple[int, int]] = {}
        d: dict[str, tuple[int, int]] = {}
        m = 0
        for x, (lrow, crow) in enumerate(zip(lens, cods)):
            for y, (length, code) in enumerate(zip(lrow, crow)):
                e[(x, y)] = (code, length)
                d[format(code, f"0{length}b")] = (x, y)
                m = max(m, length)
        enc[t], dec[t], maxlen[t] = e, d, m
    # escape-family aliases: 25-31 reuse table 24's code tree (shared
    # dict objects — only `_BV_LINBITS` distinguishes them)
    for t in range(25, 32):
        enc[t], dec[t], maxlen[t] = enc[24], dec[24], maxlen[24]
    return enc, dec, maxlen


_HUFF_BV_ENC, _HUFF_BV_DEC, _HUFF_BV_MAXLEN = _build_bv_tables()

#: smallest supported table covering a given max |value| (table dims:
#: 1 -> 2x2, 2 -> 3x3, 5 -> 4x4, 7 -> 6x6, 10 -> 8x8, 13/15 -> 16x16);
#: above 15 the encoder picks from the 24-31 escape family by the
#: smallest linbits that can carry maxv - 15 (`_esc_table_for_max`)
_BV_TABLE_FOR_MAX = {0: 1, 1: 1, 2: 2, 3: 5, 4: 7, 5: 7,
                     6: 10, 7: 10, 8: 13, 9: 13, 10: 13,
                     11: 15, 12: 15, 13: 15, 14: 15, 15: 15}


def _esc_table_for_max(maxv: int) -> int:
    """Smallest escape-family table (24-31) whose linbits carry
    maxv - 15; raises when even 13 linbits (table 31) cannot."""
    for t in range(24, 32):
        if maxv - 15 < (1 << _BV_LINBITS[t]):
            return t
    raise Mp3EncodeError(
        f"quantized value {maxv} exceeds table 31's 13 linbits"
    )


# ---------------------------------------------------------------------------
# Polyphase filterbank (ISO flowchart structure; NPR prototype)
# ---------------------------------------------------------------------------


def _design_prototype(taps: int = 512) -> np.ndarray:
    """Square-root-raised-cosine lowpass, cutoff 1/128 cycles/sample
    with the rolloff confined to the neighbor-band overlap — power
    complementary, so the pseudo-QMF alias terms cancel to ~-45 dB.
    Deterministic (no RNG), computed once at import."""
    n_fft = 8192
    f = np.fft.rfftfreq(n_fft)
    fc = 1.0 / 128.0
    lo, hi = 0.0, 2.0 * fc
    mag = np.zeros_like(f)
    mag[f <= lo] = 1.0
    band = (f > lo) & (f < hi)
    mag[band] = np.sqrt(
        0.5 * (1.0 + np.cos(np.pi * (f[band] - lo) / (hi - lo)))
    )
    h = np.fft.irfft(mag)
    h = np.roll(h, taps // 2)[:taps]
    h *= np.kaiser(taps, 7.0)
    h /= h.sum()
    return h


_H = _design_prototype()
#: ISO C/D windows: prototype with per-64-block sign alternation
#: (the alternation the spec folds into its Table B.3 listing)
_SGN64 = (-1.0) ** (np.arange(512) // 64)
_WIN_C = _H * _SGN64
_WIN_D = 128.0 * _H * _SGN64
_M_AN = np.cos(
    np.pi * (2 * np.arange(32)[:, None] + 1)
    * (np.arange(64)[None, :] - 16) / 64.0
)
_M_SY = np.cos(
    np.pi * (16 + np.arange(64)[:, None])
    * (2 * np.arange(32)[None, :] + 1) / 64.0
)
#: analysis+synthesis group delay, samples (481 = 512 - 31, ISO)
_FB_DELAY = 481


def _analysis_filterbank(x: np.ndarray) -> np.ndarray:
    """PCM -> (n_blocks, 32) subband samples (one block per 32 in)."""
    pad = (-len(x)) % 32
    if pad:
        x = np.concatenate([x, np.zeros(pad)])
    nblk = len(x) // 32
    fifo = np.zeros(512)
    out = np.empty((nblk, 32))
    for m in range(nblk):
        fifo[32:] = fifo[:-32]
        fifo[:32] = x[m * 32:(m + 1) * 32][::-1]
        out[m] = _M_AN @ (fifo * _WIN_C).reshape(8, 64).sum(axis=0)
    return out


def _synthesis_filterbank(s: np.ndarray) -> np.ndarray:
    """(n_blocks, 32) subband samples -> PCM (ISO §A.2 flowchart:
    V-FIFO matrixing, U selection, windowed 16-fold sum)."""
    nblk = s.shape[0]
    v = np.zeros(1024)
    out = np.empty(nblk * 32)
    u = np.empty(512)
    for m in range(nblk):
        v[64:] = v[:-64]
        v[:64] = _M_SY @ s[m]
        for j in range(8):
            u[64 * j:64 * j + 32] = v[128 * j:128 * j + 32]
            u[64 * j + 32:64 * j + 64] = v[128 * j + 96:128 * j + 128]
        out[m * 32:(m + 1) * 32] = (u * _WIN_D).reshape(16, 32).sum(axis=0)
    return out


# ---------------------------------------------------------------------------
# MDCT / alias reduction (long blocks)
# ---------------------------------------------------------------------------

_MDCT_N = 36
_MDCT_WIN = np.sin(np.pi / 36.0 * (np.arange(36) + 0.5))
_MDCT_COS = np.cos(
    np.pi / 72.0
    * (2 * np.arange(36)[None, :] + 1 + 18)
    * (2 * np.arange(18)[:, None] + 1)
)

#: block_type 1 (start) / 3 (stop) hybrid windows (ISO §2.4.3.4.10.3):
#: long sine on the steady half, short sine on the transition half
_n36 = np.arange(36)
_WIN_START = np.where(
    _n36 < 18, np.sin(np.pi / 36.0 * (_n36 + 0.5)),
    np.where(_n36 < 24, 1.0,
             np.where(_n36 < 30,
                      np.sin(np.pi / 12.0 * (_n36 - 18 + 0.5)), 0.0)),
)
_WIN_STOP = np.where(
    _n36 < 6, 0.0,
    np.where(_n36 < 12, np.sin(np.pi / 12.0 * (_n36 - 6 + 0.5)),
             np.where(_n36 < 18, 1.0,
                      np.sin(np.pi / 36.0 * (_n36 + 0.5)))),
)
#: block_type -> 36-point window (2 = short handled separately)
_WIN_BT = {0: _MDCT_WIN, 1: _WIN_START, 3: _WIN_STOP}

#: 12-point MDCT pair for short blocks (3 windows x 6 lines/subband)
_WIN12 = np.sin(np.pi / 12.0 * (np.arange(12) + 0.5))
_MDCT12_COS = np.cos(
    np.pi / 24.0
    * (2 * np.arange(12)[None, :] + 1 + 6)
    * (2 * np.arange(6)[:, None] + 1)
)
#: encoder-side gain matching the unnormalized decoder IMDCT: the
#: MDCT->IMDCT->overlap-add chain has gain N/2 (orthogonality x PB
#: windows), so the 12-point short path carries 6 where the 36-point
#: long path carries 18 through the same synthesis filterbank — the
#: fixture encoder scales short lines by 18/6 so both block types
#: round-trip at unity. The DECODER stays spec-exact (unnormalized).
_SHORT_ENC_SCALE = 3.0


def _mdct18(z36: np.ndarray) -> np.ndarray:
    """36-point MDCT -> 18 lines (input already windowed)."""
    return _MDCT_COS @ z36


def _imdct_hybrid(lines18: np.ndarray, block_type: int) -> np.ndarray:
    """One subband's 18 lines -> 36 windowed time samples for 50%
    overlap-add, honoring the block type: 0/1/3 run the 36-point IMDCT
    with the normal/start/stop window; 2 (short) runs three 12-point
    IMDCTs (lines window-major: [w0 x6, w1 x6, w2 x6]) overlap-added
    into the center 24 samples of the 36-slot frame (ISO
    §2.4.3.4.10.3)."""
    if block_type != 2:
        return (lines18 @ _MDCT_COS) * _WIN_BT[block_type]
    t36 = np.zeros(36)
    for w in range(3):
        y = (lines18[6 * w : 6 * w + 6] @ _MDCT12_COS) * _WIN12
        t36[6 + 6 * w : 18 + 6 * w] += y
    return t36


_BFLY_LO = 17 - np.arange(8)
_BFLY_HI = np.arange(8)


def _alias_reduce(gr: np.ndarray, n_bounds: int = 31) -> np.ndarray:
    """Decoder-side butterflies across subband boundaries (ISO
    §2.4.3.4.10.1). ``gr`` is (32, 18) granule lines; vectorized over
    all boundaries at once (each butterfly touches only the top 8
    lines of band sb-1 and bottom 8 of band sb — disjoint sets).
    ``n_bounds``: how many low boundaries to process — 31 for long
    granules, 1 for mixed blocks (only the long-region boundary), 0
    for pure short blocks (no alias reduction, per spec)."""
    if n_bounds <= 0:
        return gr.copy()
    out = gr.copy()
    lo = out[:n_bounds][:, _BFLY_LO]
    hi = out[1 : n_bounds + 1][:, _BFLY_HI]
    out[:n_bounds, 10:18] = (lo * _CS - hi * _CA)[:, ::-1]
    out[1 : n_bounds + 1, 0:8] = hi * _CS + lo * _CA
    return out


def _alias_unreduce(gr: np.ndarray, n_bounds: int = 31) -> np.ndarray:
    """Encoder-side inverse: the butterflies are orthonormal
    rotations (cs² + ca² = 1), so the inverse is the transpose."""
    if n_bounds <= 0:
        return gr.copy()
    out = gr.copy()
    lo = out[:n_bounds][:, _BFLY_LO]
    hi = out[1 : n_bounds + 1][:, _BFLY_HI]
    out[:n_bounds, 10:18] = (lo * _CS + hi * _CA)[:, ::-1]
    out[1 : n_bounds + 1, 0:8] = hi * _CS - lo * _CA
    return out


# ---------------------------------------------------------------------------
# Bit I/O
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self._bits: list[int] = []

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._bits.append((value >> i) & 1)

    def __len__(self) -> int:
        return len(self._bits)

    def pad_to_bytes(self) -> bytes:
        bits = self._bits + [0] * ((-len(self._bits)) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            byte = self._data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def remaining(self) -> int:
        return len(self._data) * 8 - self.pos


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _quant_segments(
    block_type: str, sfb: list[int], sfbs: list[int]
) -> list[tuple[int, int, int, int]]:
    """Bitstream-order quantization segments for one granule:
    (lo, hi, sf_limit, slen) with sf_limit 0 marking a no-scalefactor
    region (its lines are dropped, like long band 21). The order is
    exactly the order scalefactors are written (band-major,
    window-minor for short regions), so the encoder can zip segments
    with its scalefactor list."""
    segs: list[tuple[int, int, int, int]] = []
    if block_type == "long":
        for b in range(21):
            limit, slen = (15, 4) if b < 11 else (7, 3)
            segs.append((sfb[b], sfb[b + 1], limit, slen))
        segs.append((sfb[21], 576, 0, 0))
        return segs
    pos = 0
    if block_type == "mixed":
        for b in range(8):  # long region: subbands 0-1, lines 0..36
            segs.append((sfb[b], sfb[b + 1], 15, 4))
        pos = sfb[8]
        b0 = 3
    else:
        b0 = 0
    for b in range(b0, 13):
        wb = sfbs[b + 1] - sfbs[b]
        for _w in range(3):
            if b < 6:
                segs.append((pos, pos + wb, 15, 4))
            elif b < 12:
                segs.append((pos, pos + wb, 7, 3))
            else:
                segs.append((pos, pos + wb, 0, 0))
            pos += wb
    return segs


def _quantize_granule(
    lines: np.ndarray, segs: list[tuple[int, int, int, int]],
    levels: int = 1,
) -> tuple[np.ndarray, int, list[int]]:
    """Sign/band-energy quantizer: per quantization segment (a long
    scalefactor band, or one window of a short band), lines are
    scaled so the segment peak maps to ``levels`` and rounded to
    integers (``levels=1`` reduces to the historical ±1 rule: lines
    at or above 0.5x the segment peak become ±1, the rest 0);
    ``global_gain`` carries the granule peak and per-segment
    scalefactors carry attenuation in 2^-0.5 steps (``scalefac_scale``
    0). Crude — the point of this encoder is valid fixture bitstreams
    whose decoded spectrum matches the source's, not rate-distortion
    performance."""
    n_sf = sum(1 for _lo, _hi, lim, _s in segs if lim)
    peak = float(np.max(np.abs(lines)))
    if peak <= 0.0:
        return np.zeros(576, dtype=np.int64), 0, [0] * n_sf
    # dequant magnitude for value v at scalefac 0 is
    # v^(4/3) * 2^((gg-210)/4): pick gg so the peak value `levels`
    # reconstructs at the source peak amplitude
    gg = int(round(210 + 4 * np.log2(peak / levels ** (4.0 / 3.0))))
    gg = max(0, min(255, gg))
    ampl = 2.0 ** ((gg - 210) / 4.0) * levels ** (4.0 / 3.0)
    q = np.zeros(576, dtype=np.int64)
    sf: list[int] = []
    for lo, hi, limit, _slen in segs:
        if limit == 0:
            continue  # no-scalefactor region: lines dropped
        seg = lines[lo:hi]
        bpeak = float(np.max(np.abs(seg))) if hi > lo else 0.0
        if bpeak <= 0.0:
            sf.append(0)
            continue
        # segment attenuation relative to the granule amp, 2^-0.5 steps
        want = max(0.0, -2.0 * np.log2(bpeak / ampl))
        if want > limit + 0.5:
            # segment peak sits below the scalefactor-representable
            # floor: clamping would decode its (leakage-level) lines
            # orders of magnitude too loud — drop the segment instead
            sf.append(0)
            continue
        sf.append(min(limit, int(round(want))))
        # round-half-up so levels=1 keeps exactly the |x| >= 0.5*bpeak
        # rule the single-level fixtures were attested with
        mags = np.floor(levels * np.abs(seg) / bpeak + 0.5).astype(np.int64)
        q[lo:hi] = np.sign(seg).astype(np.int64) * mags
    return q, gg, sf


def _encode_granule_bits(
    w: _BitWriter, q: np.ndarray
) -> tuple[int, int, int]:
    """Huffman-code one granule: big-values region covering everything
    through the last nonzero line (rounded up to a pair boundary) with
    the smallest Table B.7 code table whose (x, y) range spans the
    granule's max |value| (table 1 for the historical ±1 quantizer,
    2/5/7/10/13/15 up to |value| 15, then the 24-31 escape family —
    symbol 15 + linbits); no count1 region is emitted (the decoder's
    count1/table-B path is exercised by a hand-built stream in
    tests/test_mp3.py).
    Returns (big_values, huffman_bit_count, table_select)."""
    start = len(w)
    nz = np.nonzero(q)[0]
    last = int(nz[-1]) + 1 if len(nz) else 0
    big_pairs = (last + 1) // 2
    maxv = int(np.max(np.abs(q))) if len(nz) else 0
    if maxv <= 15:
        table = _BV_TABLE_FOR_MAX[maxv]
    else:
        table = _esc_table_for_max(maxv)
    enc = _HUFF_BV_ENC[table]
    lb = _BV_LINBITS.get(table, 0)
    for p in range(big_pairs):
        x, y = int(abs(q[2 * p])), int(abs(q[2 * p + 1]))
        cx = min(x, 15) if lb else x
        cy = min(y, 15) if lb else y
        code, nbits = enc[(cx, cy)]
        w.write(code, nbits)
        if lb and cx == 15:
            w.write(x - 15, lb)
        if x:
            w.write(0 if q[2 * p] > 0 else 1, 1)
        if lb and cy == 15:
            w.write(y - 15, lb)
        if y:
            w.write(0 if q[2 * p + 1] > 0 else 1, 1)
    return big_pairs, len(w) - start, table


def _unorder_short(
    nat: np.ndarray, sfb: list[int], sfb_short: list[int], mixed: bool
) -> np.ndarray:
    """Natural (32x18 window-major) line order -> the bitstream's
    band-major/window-minor interleave (exact inverse of
    :func:`_reorder_short`)."""
    flat = np.zeros(576)
    long_lines = sfb[8] if mixed else 0
    flat[:long_lines] = nat[:long_lines]
    win = np.zeros((3, 192))
    first_sb = long_lines // 18
    for sb in range(first_sb, 32):
        for w in range(3):
            win[w, 6 * sb : 6 * sb + 6] = (
                nat[18 * sb + 6 * w : 18 * sb + 6 * w + 6]
            )
    b0 = 3 if mixed else 0
    pos = long_lines
    for b in range(b0, 13):
        lo, hi = sfb_short[b], sfb_short[b + 1]
        wb = hi - lo
        for w in range(3):
            flat[pos:pos + wb] = win[w, lo:hi]
            pos += wb
    return flat


def _intensity_positions(
    fl: np.ndarray, fr: np.ndarray, segs: list[tuple[int, int, int, int]]
) -> list[int]:
    """Per-band intensity positions from the two channels' band
    magnitudes: is_pos = round(atan2(|L|, |R|)·12/π) clipped to 0..6
    (the inverse of the decoder's tan(is_pos·π/12) ratio). Silent
    bands get the centre position (harmless: their lines are zero)."""
    import math

    out: list[int] = []
    for lo, hi, limit, _slen in segs:
        if not limit:
            continue
        al = float(np.linalg.norm(fl[lo:hi]))
        ar = float(np.linalg.norm(fr[lo:hi]))
        if al == 0.0 and ar == 0.0:
            out.append(3)
            continue
        out.append(max(0, min(6, round(math.atan2(al, ar) * 12.0
                                       / math.pi))))
    return out


def patch_table_select(data: bytes, table: int) -> bytes:
    """Fixture utility (quarantine probe + tests): overwrite granule
    0's region-0 ``table_select`` in the FIRST frame of a mono,
    long-block, CRC-less stream (the exact layout ``encode_mp3``
    emits) — used to synthesize streams selecting the honestly
    excluded big-values tables 16–23 without needing an encoder that
    can produce them. Bit offset: 32 (header) + 9 (main_data_begin) +
    5 (private, mono) + 4 (scfsi) + 12 + 9 + 8 + 4 + 1
    (part2_3/big_values/gain/sfc/window_switching) = 84."""
    if len(data) < 4 or data[0] != 0xFF or (data[1] & 0xE6) != 0xE2:
        raise Mp3EncodeError("not an MPEG Layer III frame")
    if len(data) < 12:
        # bits 84-88 live in bytes 10-11 and the window-switching
        # check reads byte 10 — a header-only buffer must not IndexError
        raise Mp3EncodeError("truncated frame: side info incomplete")
    if (data[1] >> 3) & 0x03 != 0x03:
        # MPEG-2/2.5 side info has an 8-bit main_data_begin and
        # different field widths — bit 84 would NOT be table_select
        raise Mp3EncodeError("not MPEG-1: side-info layout differs")
    if not data[1] & 0x01:
        raise Mp3EncodeError("CRC-protected stream: layout differs")
    if (data[3] >> 6) != 0b11:
        raise Mp3EncodeError("not mono: side-info layout differs")
    # bit 83 = granule-0 windows_switching_flag: when set, bits 84-88
    # are block_type/mixed_block_flag + a partial table_select, NOT
    # the long-block region-0 table_select this function targets
    if data[10] & 0x10:
        raise Mp3EncodeError(
            "window-switching granule: table_select sits elsewhere"
        )
    buf = bytearray(data)
    for i, pos in enumerate(range(84, 89)):
        byte, off = divmod(pos, 8)
        mask = 0x80 >> off
        if (table >> (4 - i)) & 1:
            buf[byte] |= mask
        else:
            buf[byte] &= ~mask
    return bytes(buf)


def encode_mp3(pcm: np.ndarray, sample_rate: int = 44100,
               kbps: int = 128, block_type: str = "long",
               scfsi: bool = False, intensity: bool = False,
               quant_levels: int = 1) -> bytes:
    """Encode float PCM into an MPEG-1 Layer III CBR stream (this
    codec pair's documented subset: no bit reservoir; the smallest
    covering big-values table — 1/2/5/7/10/13/15, or 24+ with linbits
    above |value| 15 — picked from ``quant_levels``, count1 table B).
    ``pcm`` of shape (n,) encodes mono; shape (n, 2) encodes
    mid/side joint stereo (mode 01, mode_extension MS — the decoder's
    stereo path). ``block_type``: 'long' (default), 'short' (every
    granule block_type 2), or 'mixed' (block_type 2 with
    mixed_block_flag — subbands 0-1 long, rest short). Lossy by
    design — the quantizer keeps per-segment dominant lines at sign
    precision with band-energy scalefactors, which preserves the
    spectrum's shape (dominant frequencies, band energies) rather
    than the waveform."""
    if sample_rate not in _SFB_LONG:
        raise Mp3EncodeError(f"unsupported sample rate {sample_rate}")
    if kbps not in _BITRATES:
        raise Mp3EncodeError(f"unsupported bitrate {kbps}")
    if block_type not in ("long", "short", "mixed"):
        raise Mp3EncodeError(f"unsupported block_type {block_type!r}")
    use_scfsi = bool(scfsi)
    if use_scfsi and block_type != "long":
        raise Mp3EncodeError(
            "scfsi applies to long windows only (§2.4.2.7)"
        )
    use_intensity = bool(intensity)
    if use_intensity and block_type != "long":
        raise Mp3EncodeError(
            "intensity stereo emits long windows only (this encoder)"
        )
    if not 1 <= int(quant_levels) <= 30:
        raise Mp3EncodeError(
            "quant_levels must be 1..30 (direct tables cover |value| "
            "<= 15; table 24's 4 linbits extend to 30)"
        )
    quant_levels = int(quant_levels)
    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0:
        raise Mp3EncodeError("empty PCM")
    if use_intensity:
        if x.ndim != 2 or x.shape[1] != 2:
            raise Mp3EncodeError("intensity stereo needs (n, 2) PCM")
        # intensity joint stereo (mode_extension 01): channels stay
        # L/R through analysis; the quantizer combines them per
        # granule and writes per-band is_pos in channel 1
        chans = [x[:, 0], x[:, 1]]
    elif x.ndim == 2 and x.shape[1] == 2:
        # mid/side joint stereo: channel 0 carries (l+r)/√2, channel 1
        # (l-r)/√2; the decoder inverts (ISO §2.4.3.4.9.2)
        inv = 1.0 / np.sqrt(2.0)
        chans = [(x[:, 0] + x[:, 1]) * inv, (x[:, 0] - x[:, 1]) * inv]
    elif x.ndim == 1:
        chans = [x]
    else:
        raise Mp3EncodeError("PCM must be (n,) mono or (n, 2) stereo")
    nch = len(chans)
    sfb = _SFB_LONG[sample_rate]
    sfbs = _SFB_SHORT[sample_rate]
    segs = _quant_segments(block_type, sfb, sfbs)
    br_idx = _BITRATES.index(kbps)
    sr_idx = _RATES.index(sample_rate)
    frame_len = 144 * kbps * 1000 // sample_rate  # no padding bit
    short = block_type != "long"
    mixed = block_type == "mixed"
    n_alias = 31 if not short else (1 if mixed else 0)

    # analysis -> subband blocks; frames consume 36 blocks (2 granules
    # x 18); pad to a whole frame count
    ss = [_analysis_filterbank(c) for c in chans]
    nblk = ss[0].shape[0]
    blocks_per_frame = 36
    nframes = max(1, -(-nblk // blocks_per_frame))
    for ci in range(nch):
        if nblk < nframes * blocks_per_frame:
            ss[ci] = np.vstack(
                [ss[ci],
                 np.zeros((nframes * blocks_per_frame - nblk, 32))]
            )
        # frequency inversion parity (odd subbands carry inverted
        # spectra): flip odd time samples of odd subbands so MDCT
        # lines land in ascending frequency — mirrored by the decoder
        ss[ci][1::2, 1::2] *= -1.0

    frames = []
    prev = [np.zeros((32, 18)) for _ in range(nch)]
    for fi in range(nframes):
        # granule-major, channel-minor (the spec's side-info and
        # main-data order); compute BOTH granules' spectra first so
        # scfsi can compare scalefactors and intensity can combine
        # channels before any bits are written
        flats: list[list[np.ndarray]] = [[], []]
        for g in range(2):
            for ci in range(nch):
                blk = ss[ci][(fi * 2 + g) * 18:(fi * 2 + g + 1) * 18]
                cur = blk.T  # (32, 18)
                lines = np.empty((32, 18))
                for sb in range(32):
                    z36 = np.concatenate([prev[ci][sb], cur[sb]])
                    if short and not (mixed and sb < 2):
                        for w in range(3):
                            lines[sb, 6 * w:6 * w + 6] = (
                                _MDCT12_COS
                                @ (z36[6 + 6 * w:18 + 6 * w] * _WIN12)
                            ) * _SHORT_ENC_SCALE
                    else:
                        lines[sb] = _mdct18(z36 * _MDCT_WIN)
                prev[ci] = cur
                lines = _alias_unreduce(lines, n_alias)
                flat = lines.reshape(576)
                if short:
                    flat = _unorder_short(flat, sfb, sfbs, mixed)
                flats[g].append(flat)
        quant: list[list[tuple]] = [[], []]
        for g in range(2):
            if use_intensity:
                # channel 0 transmits the channel SUM; channel 1 sends
                # no lines — its scalefactor slots carry per-band
                # is_pos so the decoder reconstructs the pan
                fl, fr = flats[g]
                quant[g].append(
                    _quantize_granule(fl + fr, segs, quant_levels)
                )
                quant[g].append((
                    np.zeros(576, dtype=np.int64), 0,
                    _intensity_positions(fl, fr, segs),
                ))
            else:
                for ci in range(nch):
                    quant[g].append(
                        _quantize_granule(flats[g][ci], segs, quant_levels)
                    )
        # scfsi (§2.4.2.7, long windows): share a band group when the
        # second granule's scalefactors equal the first's — the bits
        # are simply not retransmitted
        scfsi_frame = [0] * nch
        if use_scfsi:
            for ci in range(nch):
                sf0, sf1 = quant[0][ci][2], quant[1][ci][2]
                for gi, (lo, hi) in enumerate(_SCFSI_GROUPS):
                    if sf0[lo:hi] == sf1[lo:hi]:
                        scfsi_frame[ci] |= 1 << (3 - gi)
        granule_bits: list[list[tuple]] = [[], []]
        for g in range(2):
            for ci in range(nch):
                q, gg, sf = quant[g][ci]
                w = _BitWriter()
                # scalefactors in segment order (scalefac_compress 15
                # -> slen (4, 3)); for long blocks si == band index,
                # so the scfsi group test is direct
                si = 0
                for _lo, _hi, limit, slen in segs:
                    if not limit:
                        continue
                    # scfsi_frame is nonzero only for long blocks,
                    # where si == band index 0..20 — short/mixed
                    # segment counts exceed the group map
                    shared = (
                        g == 1
                        and scfsi_frame[ci]
                        and scfsi_frame[ci] & (
                            1 << (3 - _SCFSI_GROUP_OF[si])
                        )
                    )
                    if not shared:
                        w.write(int(sf[si]), slen)
                    si += 1
                big_values, _, tsel = _encode_granule_bits(w, q)
                granule_bits[g].append((len(w), big_values, gg, tsel, w))

        # assemble: header + side info + main data, zero-padded to the
        # CBR frame length
        hw = _BitWriter()
        hw.write(0x7FF, 11)  # sync
        hw.write(0b11, 2)    # MPEG-1
        hw.write(0b01, 2)    # Layer III
        hw.write(1, 1)       # no CRC
        hw.write(br_idx, 4)
        hw.write(sr_idx, 2)
        hw.write(0, 1)       # padding
        hw.write(0, 1)       # private
        hw.write(0b11 if nch == 1 else 0b01, 2)  # mono / joint stereo
        # mode ext: 10 = MS on, 01 = intensity on (mono: unused)
        hw.write(
            0 if nch == 1 else (0b01 if use_intensity else 0b10), 2
        )
        hw.write(0, 1)       # copyright
        hw.write(1, 1)       # original
        hw.write(0, 2)       # emphasis
        # side info (17 bytes mono / 32 stereo)
        hw.write(0, 9)       # main_data_begin = 0 (no reservoir)
        hw.write(0, 5 if nch == 1 else 3)  # private_bits
        for ci_ in range(nch):
            # scfsi: 0 = scalefactors sent per granule; set bits mark
            # band groups granule 2 reuses from granule 1
            hw.write(scfsi_frame[ci_], 4)
        for g in range(2):
            for part23, big_values, gg, tsel, _w in granule_bits[g]:
                hw.write(part23, 12)
                hw.write(big_values, 9)
                hw.write(gg, 8)
                hw.write(15, 4)  # scalefac_compress -> slen (4, 3)
                if short:
                    hw.write(1, 1)   # windows_switching_flag
                    hw.write(2, 2)   # block_type 2 (short windows)
                    hw.write(1 if mixed else 0, 1)
                    hw.write(tsel, 5)  # table_select region 0
                    hw.write(tsel, 5)  # region 1
                    hw.write(0, 3)   # subblock_gain window 0
                    hw.write(0, 3)   # window 1
                    hw.write(0, 3)   # window 2
                else:
                    hw.write(0, 1)   # windows_switching_flag: long
                    hw.write(tsel, 5)  # table_select region 0
                    hw.write(tsel, 5)  # region 1
                    hw.write(tsel, 5)  # region 2
                    hw.write(15, 4)  # region0_count (maximal)
                    hw.write(7, 3)   # region1_count
                hw.write(0, 1)   # preflag
                hw.write(0, 1)   # scalefac_scale (multiplier 0.5)
                hw.write(0, 1)   # count1table_select (unused)
        for g in range(2):
            for _p, _b, _g, _t, w in granule_bits[g]:
                hw._bits.extend(w._bits)
        frame = bytearray(hw.pad_to_bytes())
        if len(frame) > frame_len:
            raise Mp3EncodeError(
                f"granule bits ({len(frame)} B) exceed the "
                f"{frame_len} B CBR frame at {kbps} kbps — raise kbps"
            )
        frame.extend(b"\x00" * (frame_len - len(frame)))
        frames.append(bytes(frame))
    return b"".join(frames)


def _crc16_protection(hdr: bytes, side: bytes) -> int:
    """ISO/IEC 11172-3 §2.4.3.1 CRC-16 over the protected bits:
    header bytes 2-3 plus the whole side info, polynomial 0x8005
    (x^16+x^15+x^2+1), initial value 0xFFFF, MSB-first."""
    crc = 0xFFFF
    for byte in bytes(hdr[2:4]) + bytes(side):
        for bit in range(7, -1, -1):
            hi = (crc >> 15) & 1
            crc = (crc << 1) & 0xFFFF
            if hi ^ ((byte >> bit) & 1):
                crc ^= 0x8005
    return crc


def repack_with_reservoir(data: bytes, max_backptr: int = 511) -> bytes:
    """Rewrite a no-reservoir MPEG-1 Layer III stream (every frame
    ``main_data_begin`` = 0, the form :func:`encode_mp3` emits) into a
    bit-exact-equivalent stream that USES the bit reservoir: each
    frame's main data is packed back-to-back into the continuous
    main-data byte space (ISO §2.4.1.7), so later frames' payloads
    start up to ``max_backptr`` (≤ 511) bytes inside earlier frames'
    areas and their side info carries the matching back-pointer.
    Frame count, sizes, headers, and every decoded sample are
    unchanged — only the payload layout moves. This is how real CBR
    encoders ship frames (the slack a quiet frame leaves becomes
    reservoir headroom for a loud one), which makes it the fixture
    generator for the reservoir decode path."""
    if not 0 <= max_backptr <= 511:
        raise Mp3EncodeError("max_backptr must fit the 9-bit field")
    frames: list[tuple[bytes, bytes, bytes, int]] = []
    pos, end = 0, len(data)
    while pos + 4 <= end:
        b0, b1, b2, b3 = data[pos:pos + 4]
        if not (b0 == 0xFF and (b1 & 0xE0) == 0xE0):
            raise Mp3EncodeError("repack input must be a clean frame "
                                 "sequence (no tags/junk)")
        if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
            raise Mp3EncodeError("not MPEG-1 Layer III")
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            raise Mp3EncodeError("free-format/invalid header")
        nch = 1 if (b3 >> 6) & 0x3 == 0x3 else 2
        padding = (b2 >> 1) & 0x1
        crc = not (b1 & 0x1)
        frame_len = 144 * _BITRATES[br_idx] * 1000 // _RATES[sr_idx] \
            + padding
        frame = data[pos:pos + frame_len]
        if len(frame) < frame_len:
            raise Mp3EncodeError("truncated final frame")
        hdr_len = 4 + (2 if crc else 0)
        side_len = 17 if nch == 1 else 32
        side = frame[hdr_len:hdr_len + side_len]
        area = frame[hdr_len + side_len:]
        mdb, _scfsi, sideinfo = _parse_side_info(_BitReader(side), nch)
        if mdb != 0:
            raise Mp3EncodeError("input already uses the reservoir")
        used_bits = sum(t[0] for g in sideinfo for t in g)
        used = (used_bits + 7) // 8
        if used > len(area):
            raise Mp3EncodeError("main data overruns its frame area")
        frames.append((frame[:hdr_len], side, area, used))
        pos += frame_len
    if not frames:
        raise Mp3EncodeError("no MPEG audio frames found")
    if pos != end:
        raise Mp3EncodeError("trailing bytes after the last frame")

    # lay the payloads back-to-back into the concatenated area space:
    # W = where this frame's own area starts, S = where its payload
    # lands; mdb = W - S is the back-pointer (clamped: gaps beyond
    # max_backptr stay as never-read ancillary zeros)
    buf = bytearray(sum(len(a) for _, _, a, _ in frames))
    mdbs: list[int] = []
    W = S = 0
    for _hdr, _side, area, used in frames:
        S = max(S, W - max_backptr)
        mdbs.append(W - S)
        buf[S:S + used] = area[:used]
        S += used
        W += len(area)

    out: list[bytes] = []
    off = 0
    for (hdr, side, area, _used), mdb in zip(frames, mdbs):
        sb = bytearray(side)
        # main_data_begin is the first 9 bits of the side info
        sb[0] = (mdb >> 1) & 0xFF
        sb[1] = (sb[1] & 0x7F) | ((mdb & 1) << 7)
        if len(hdr) == 6:
            # CRC-protected frame: the CRC-16 covers header bytes 2-3
            # and the side info we just patched — recompute it so
            # conformant external decoders accept the output
            crc = _crc16_protection(hdr, sb)
            hdr = hdr[:4] + bytes([(crc >> 8) & 0xFF, crc & 0xFF])
        out.append(hdr + bytes(sb) + bytes(buf[off:off + len(area)]))
        off += len(area)
    return b"".join(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _decode_granule(
    r: _BitReader, part2_3_length: int, big_values: int, gg: int,
    scalefac_compress: int, table_selects: tuple[int, ...],
    count1table_select: int, scalefac_scale: int, preflag: int,
    sfb: list[int],
    block_type: int = 0,
    mixed: bool = False,
    sfb_short: list[int] | None = None,
    subblock_gain: tuple[int, int, int] = (0, 0, 0),
    scfsi: int = 0,
    prev_sf_long: np.ndarray | None = None,
    region_bounds: tuple[int, int] = (576, 576),
) -> tuple[np.ndarray, np.ndarray | None]:
    """Scalefactors + Huffman + requantize for one granule (long,
    short, or mixed windows). Returns (576 requantized spectral lines
    in the bitstream's frequency order — short granules are reordered
    later by :func:`_reorder_short` —, the long scalefactors for
    scfsi/intensity use, and the line index where the Huffman data
    ends — the zero_part start that bounds the intensity-stereo
    region). A set ``scfsi`` bit (MSB = group 0, bands per
    ``_SCFSI_GROUPS``) skips the read and copies ``prev_sf_long`` for
    that group (§2.4.2.7)."""
    start = r.pos
    slen1, slen2 = _SLEN[scalefac_compress]

    if block_type == 2 and not mixed:
        # pure short: sfbs 0..5 x 3 windows (slen1), 6..11 x 3 (slen2)
        sfs = np.zeros((13, 3), dtype=np.int64)
        for b in range(6):
            for w in range(3):
                sfs[b, w] = r.read(slen1) if slen1 else 0
        for b in range(6, 12):
            for w in range(3):
                sfs[b, w] = r.read(slen2) if slen2 else 0
        sf_long = None
    elif block_type == 2:
        # mixed: long sfbs 0..7 (slen1), short sfbs 3..5 x 3 (slen1),
        # 6..11 x 3 (slen2)
        sf_long = np.zeros(22, dtype=np.int64)
        for b in range(8):
            sf_long[b] = r.read(slen1) if slen1 else 0
        sfs = np.zeros((13, 3), dtype=np.int64)
        for b in range(3, 6):
            for w in range(3):
                sfs[b, w] = r.read(slen1) if slen1 else 0
        for b in range(6, 12):
            for w in range(3):
                sfs[b, w] = r.read(slen2) if slen2 else 0
    else:
        sf_long = np.zeros(22, dtype=np.int64)
        shared = np.zeros(21, dtype=bool)
        if scfsi:
            if prev_sf_long is None:
                raise Mp3DecodeError(
                    "scfsi reuse with no first-granule scalefactors"
                )
            for gi, (lo, hi) in enumerate(_SCFSI_GROUPS):
                if scfsi & (1 << (3 - gi)):
                    shared[lo:hi] = True
                    sf_long[lo:hi] = prev_sf_long[lo:hi]
        for b in range(11):
            if not shared[b]:
                sf_long[b] = r.read(slen1) if slen1 else 0
        for b in range(11, 21):
            if not shared[b]:
                sf_long[b] = r.read(slen2) if slen2 else 0
        sfs = None

    q = np.zeros(576, dtype=np.int64)
    pos = 0
    reg1, reg2 = region_bounds
    for p in range(big_values):
        # region-aware table selection (§2.4.2.7): region boundaries
        # are line indices derived from region0/region1_count by the
        # caller; window-switching granules have two regions only
        if pos < reg1:
            tbl = table_selects[0]
        elif pos < reg2 and len(table_selects) > 2:
            tbl = table_selects[1]
        else:
            tbl = table_selects[-1]
        if tbl == 0:
            x = y = 0
        else:
            dec = _HUFF_BV_DEC.get(tbl)
            if dec is None:
                raise Mp3DecodeError(
                    f"big-values Huffman table {tbl} outside the "
                    f"supported set {sorted(_HUFF_BV_DEC)} u {{0}}"
                )
            node = ""
            while True:
                node += str(r.read(1))
                if node in dec:
                    x, y = dec[node]
                    break
                if len(node) > _HUFF_BV_MAXLEN[tbl]:
                    raise Mp3DecodeError(f"bad table-{tbl} code")
        # escape semantics (§2.4.3.4.6): symbol 15 in a linbits table
        # carries linbits extra magnitude bits BEFORE the sign bit
        lb = _BV_LINBITS.get(tbl, 0)
        if lb and x == 15:
            x += r.read(lb)
        if x:
            x = -x if r.read(1) else x
        if lb and y == 15:
            y += r.read(lb)
        if y:
            y = -y if r.read(1) else y
        if pos + 2 > 576:
            raise Mp3DecodeError("big_values overruns 576 lines")
        q[pos], q[pos + 1] = x, y
        pos += 2
    # count1 region: quadruples while granule bits remain
    while r.pos - start < part2_3_length and pos + 4 <= 576:
        if count1table_select == 1:  # table B: 4 inverted bits
            bits = r.read(4)
            vals = [1 - ((bits >> (3 - i)) & 1) for i in range(4)]
        else:
            raise Mp3DecodeError("count1 table A not supported")
        for i in range(4):
            v = vals[i]
            if v:
                v = -v if r.read(1) else v
            q[pos + i] = v
        pos += 4
    if r.pos - start > part2_3_length:
        raise Mp3DecodeError("granule overran part2_3_length")
    r.pos = start + part2_3_length

    # requantize: |v|^(4/3) * 2^((gg-210)/4 - 8*subblock_gain(w)
    #                            - mult*(sf+pretab))
    mult = 0.5 * (scalefac_scale + 1)
    exp = np.full(576, (gg - 210) / 4.0)
    if block_type == 2:
        sfbs = sfb_short
        long_lines = sfb[8] if mixed else 0  # 36 at every rate
        if mixed:
            band_of = np.zeros(long_lines, dtype=np.int64)
            for b in range(8):
                band_of[sfb[b]:sfb[b + 1]] = b
            pre = np.array(_PRETAB)[band_of] if preflag else 0
            exp[:long_lines] -= mult * (sf_long[band_of] + pre)
        b0 = 3 if mixed else 0
        pos2 = long_lines
        for b in range(b0, 13):
            wb = sfbs[b + 1] - sfbs[b]
            for w in range(3):
                sf_bw = sfs[b, w] if b < 12 else 0
                exp[pos2:pos2 + wb] -= (
                    8.0 * subblock_gain[w] + mult * sf_bw
                )
                pos2 += wb
    else:
        band_of = np.zeros(576, dtype=np.int64)
        for b in range(22):
            band_of[sfb[b]:sfb[b + 1]] = b
        pre = np.array(_PRETAB)[band_of] if preflag else 0
        exp -= mult * (sf_long[band_of] + pre)
    mags = np.abs(q).astype(np.float64) ** (4.0 / 3.0)
    return np.sign(q) * mags * 2.0 ** exp, sf_long, pos


def _reorder_short(
    flat: np.ndarray, sfb: list[int], sfb_short: list[int], mixed: bool
) -> np.ndarray:
    """Bitstream order -> natural (32, 18) subband lines for a short
    granule: the bitstream interleaves each short scalefactor band's
    three windows consecutively (band-major, window-minor); the
    hybrid filterbank wants window-major 6-line groups per subband
    ([w0 x6, w1 x6, w2 x6] — the layout ``_imdct_hybrid`` consumes).
    Mixed granules keep their first two subbands (lines 0..35) in
    long order."""
    nat = np.zeros(576)
    long_lines = sfb[8] if mixed else 0
    nat[:long_lines] = flat[:long_lines]
    win = np.zeros((3, 192))
    b0 = 3 if mixed else 0
    pos = long_lines
    for b in range(b0, 13):
        lo, hi = sfb_short[b], sfb_short[b + 1]
        wb = hi - lo
        for w in range(3):
            win[w, lo:hi] = flat[pos:pos + wb]
            pos += wb
    first_sb = long_lines // 18
    for sb in range(first_sb, 32):
        for w in range(3):
            nat[18 * sb + 6 * w : 18 * sb + 6 * w + 6] = (
                win[w, 6 * sb : 6 * sb + 6]
            )
    return nat


def decode_mp3(
    data: bytes, downmix: bool = True
) -> tuple[np.ndarray, int]:
    """Decode an MPEG-1 Layer III stream (mono, stereo, dual-channel,
    or mid/side joint stereo; long, short, start/stop, and mixed
    windows — this codec's documented subset, docs/adr/0001) to float
    PCM. Streams using the bit reservoir (``main_data_begin`` != 0)
    decode via a rolling main-data buffer across frames. Returns
    (samples, sample_rate); ``downmix=True`` (the pipeline default)
    averages channels to mono, ``downmix=False`` returns shape
    (n, nch) for multi-channel streams. Raises
    :class:`Mp3DecodeError` on anything outside the boundary —
    an unshipped Huffman table, a reservoir pointer reaching before
    the stream start — and the caller
    (``multimodal._decode_audio_impl``) maps that onto the
    strict/fake contract."""
    # skip a leading ID3v2 tag if present (same walk as the metadata
    # parser, kept dependency-free here)
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10 and not any(
        b & 0x80 for b in data[6:10]
    ):
        pos = 10 + ((data[6] << 21) | (data[7] << 14)
                    | (data[8] << 7) | data[9])
    end = len(data)
    if end >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128

    sample_rate = None
    sfb: list[int] | None = None
    sfb_s: list[int] | None = None
    nch: int | None = None
    # per channel: list of (flat576_in_natural_order, block_type, mixed)
    granules: list[list[tuple[np.ndarray, int, bool]]] = []
    reservoir = bytearray()  # rolling main-data buffer (≤ 511 B kept)
    nframes = 0
    while pos + 4 <= end:
        b0, b1, b2, b3 = data[pos:pos + 4]
        if not (b0 == 0xFF and (b1 & 0xE0) == 0xE0):
            if nframes == 0:
                pos += 1
                continue
            break
        if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
            raise Mp3DecodeError("not MPEG-1 Layer III")
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            raise Mp3DecodeError("free-format/invalid header")
        mode = (b3 >> 6) & 0x3
        mode_ext = (b3 >> 4) & 0x3
        ch = 1 if mode == 0x3 else 2
        ms = mode == 0x1 and bool(mode_ext & 0x2)
        istereo = mode == 0x1 and bool(mode_ext & 0x1)
        kbps = _BITRATES[br_idx]
        sr = _RATES[sr_idx]
        if sample_rate is None:
            sample_rate = sr
            sfb, sfb_s = _SFB_LONG[sr], _SFB_SHORT[sr]
            nch = ch
            granules = [[] for _ in range(nch)]
        elif sr != sample_rate:
            raise Mp3DecodeError("sample rate change mid-stream")
        elif ch != nch:
            raise Mp3DecodeError("channel-mode change mid-stream")
        padding = (b2 >> 1) & 0x1
        crc = not (b1 & 0x1)
        frame_len = 144 * kbps * 1000 // sr + padding
        frame = data[pos + 4 + (2 if crc else 0):pos + frame_len]
        side_len = 17 if nch == 1 else 32
        if len(frame) < side_len:
            raise Mp3DecodeError("truncated side info")
        mdb, scfsi, side = _parse_side_info(
            _BitReader(frame[:side_len]), nch
        )
        # bit reservoir (ISO §2.4.1.7): this frame's main_data starts
        # mdb bytes BEFORE its own byte area, inside previously
        # transmitted areas — resolve against the rolling buffer
        if mdb > len(reservoir):
            raise Mp3DecodeError(
                f"bit-reservoir underrun: main_data_begin={mdb} "
                f"points {mdb - len(reservoir)} bytes before the "
                "start of the stream (stream cut mid-reservoir?)"
            )
        start = len(reservoir) - mdb
        reservoir.extend(frame[side_len:])
        rm = _BitReader(bytes(reservoir))
        rm.pos = start * 8
        try:
            _decode_frame_granules(rm, side, sfb, sfb_s, nch, ms,
                                   granules, scfsi=scfsi,
                                   istereo=istereo)
        except IndexError as ex:  # bit reads past a truncated frame
            raise Mp3DecodeError("truncated frame body") from ex
        # future back-pointers reach at most 511 bytes (9-bit field)
        # behind the NEXT frame's area — older bytes are dead
        if len(reservoir) > 511:
            del reservoir[:-511]
        pos += frame_len
        nframes += 1
    if nframes == 0 or sample_rate is None:
        raise Mp3DecodeError("no MPEG audio frames found")

    # spectral lines -> subband blocks per channel: alias reduction,
    # hybrid IMDCT with overlap-add, frequency inversion
    chans = []
    for chan in granules:
        overlap = np.zeros((32, 18))
        blocks = np.empty((len(chan) * 18, 32))
        for gi, (flat, bt, mixed) in enumerate(chan):
            # alias reduction: all 31 boundaries for long windows,
            # only the long-region boundary for mixed, none for pure
            # short (ISO §2.4.3.4.10.1)
            nb = 31 if bt != 2 else (1 if mixed else 0)
            lines = _alias_reduce(flat.reshape(32, 18), nb)
            for sb in range(32):
                sb_bt = 0 if (bt == 2 and mixed and sb < 2) else bt
                t36 = _imdct_hybrid(lines[sb], sb_bt)
                blocks[gi * 18:(gi + 1) * 18, sb] = (
                    t36[:18] + overlap[sb]
                )
                overlap[sb] = t36[18:]
        blocks[1::2, 1::2] *= -1.0  # frequency inversion (decoder)
        chans.append(_synthesis_filterbank(blocks))
    if len(chans) == 1:
        return chans[0], sample_rate
    stacked = np.stack(chans, axis=1)
    return (stacked.mean(axis=1) if downmix else stacked), sample_rate


#: scfsi groups (ISO Table B.6): long scalefactor bands covered by
#: each of the four scfsi_band bits, MSB (bit 3) = group 0
_SCFSI_GROUPS = ((0, 6), (6, 11), (11, 16), (16, 21))
#: long band index (0..20) -> its scfsi group index
_SCFSI_GROUP_OF = [
    gi for gi, (lo, hi) in enumerate(_SCFSI_GROUPS) for _ in range(lo, hi)
]


def _parse_side_info(
    r: _BitReader, nch: int
) -> tuple[int, list[int], list[list[tuple]]]:
    """Side info (17 bytes mono / 32 stereo): returns
    (main_data_begin, per-channel scfsi nibbles, per-granule/
    per-channel side tuples). ``main_data_begin`` is the bit
    reservoir's byte back-pointer (ISO §2.4.1.7); a set scfsi bit
    means granule 2 reuses granule 1's scalefactors for that band
    group (§2.4.2.7) — both resolved by the caller."""
    mdb = r.read(9)
    r.read(5 if nch == 1 else 3)  # private bits
    scfsi = [r.read(4) for _ch in range(nch)]
    side: list[list[tuple]] = [[], []]
    for g in range(2):
        for _ch in range(nch):
            part23 = r.read(12)
            big_values = r.read(9)
            gg = r.read(8)
            sc = r.read(4)
            if r.read(1):  # windows_switching_flag
                bt = r.read(2)
                if bt == 0:
                    raise Mp3DecodeError("reserved block type 0 with "
                                         "window switching")
                mixed = bool(r.read(1))
                tsel = (r.read(5), r.read(5))
                sbg = (r.read(3), r.read(3), r.read(3))
                # implicit region counts (§2.4.2.7): region0 ends at
                # the 8th/9th preliminary sfb entry, which both land
                # at line 36; region1 covers the rest (no region 2)
                r0, r1 = (7, 13) if mixed else (8, 12)
            else:
                bt, mixed, sbg = 0, False, (0, 0, 0)
                tsel = (r.read(5), r.read(5), r.read(5))
                r0 = r.read(4)  # region0_count
                r1 = r.read(3)  # region1_count
            pre = r.read(1)
            sfs = r.read(1)
            c1t = r.read(1)
            side[g].append(
                (part23, big_values, gg, sc, tsel, pre, sfs, c1t,
                 bt, mixed, sbg, r0, r1)
            )
    return mdb, scfsi, side


def _intensity_pan(
    c0: np.ndarray, c1: np.ndarray, lo: int, hi: int, is_pos: int
) -> None:
    """Apply one band's intensity-stereo pan in place
    (§2.4.3.4.9.3): is_ratio = tan(is_pos·π/12), left gets
    ratio/(1+ratio) of the transmitted (left-channel) signal, right
    1/(1+ratio). is_pos 7 is the spec's 'intensity off' escape for a
    band (channels stay independent); is_pos 6 is the all-left pole
    (tan(π/2) → ∞). Bands 0-10 carry 4-bit scalefactor slots, so
    illegal is_pos 8-15 are reachable from foreign/corrupt streams —
    the spec defines only 0-7, so anything above 7 is treated as the
    escape (intensity off) rather than fed to tan(), which would
    amplify the band by up to ~4.5e15 (is_pos 9 → k ≈ -1)."""
    if is_pos >= 7:
        return
    band = c0[lo:hi].copy()
    if is_pos == 6:
        c0[lo:hi] = band
        c1[lo:hi] = 0.0
        return
    import math

    k = math.tan(is_pos * math.pi / 12.0)
    c0[lo:hi] = band * (k / (1.0 + k))
    c1[lo:hi] = band * (1.0 / (1.0 + k))


def _decode_frame_granules(
    r: _BitReader,
    side: list[list[tuple]],
    sfb: list[int],
    sfb_short: list[int],
    nch: int,
    ms: bool,
    granules: list[list[tuple[np.ndarray, int, bool]]],
    scfsi: list[int] | None = None,
    istereo: bool = False,
) -> None:
    """Both granules of one frame from the MAIN-DATA bitstream (the
    reader is already positioned at this frame's main_data start,
    which with a non-empty bit reservoir lies inside earlier frames'
    byte areas). Appended per channel as (576 natural-order lines,
    block_type, mixed) tuples. Mid/side matrixing is applied on the
    requantized spectra (ISO §2.4.3.4.9.2: li = (mi+si)/√2,
    ri = (mi−si)/√2). A set scfsi bit makes granule 2 reuse granule
    1's scalefactors for that band group (§2.4.2.7, long windows
    only)."""
    gr0_sf: list[np.ndarray | None] = [None] * nch
    for g in range(2):
        decoded = []
        for ch in range(nch):
            (part23, big_values, gg, sc, tsel, pre, sfs, c1t,
             bt, mixed, sbg, r0, r1) = side[g][ch]
            short = bt == 2
            ch_scfsi = scfsi[ch] if scfsi else 0
            if ch_scfsi and short:
                raise Mp3DecodeError(
                    "scfsi set on a short-window granule "
                    "(spec: long windows only)"
                )
            if bt != 0:
                # window switching: two regions with the boundary at
                # line 36 (8 long sfbs when mixed, 3 short sfb triples
                # otherwise — both land at 36 for all MPEG-1 rates)
                bounds = (36, 576)
            else:
                b1 = sfb[min(r0 + 1, 22)]
                bounds = (b1, max(b1, sfb[min(r0 + r1 + 2, 22)]))
            flat, sf_long, data_end = _decode_granule(
                r, part23, big_values, gg, sc, tsel, c1t, sfs, pre,
                sfb, block_type=bt, mixed=mixed,
                sfb_short=sfb_short, subblock_gain=sbg,
                scfsi=ch_scfsi if g == 1 else 0,
                prev_sf_long=gr0_sf[ch] if g == 1 else None,
                region_bounds=bounds,
            )
            if g == 0:
                gr0_sf[ch] = sf_long
            if short:
                flat = _reorder_short(flat, sfb, sfb_short, mixed)
            decoded.append((flat, bt, mixed, sf_long, data_end))
        if nch == 2 and (ms or istereo):
            (c0, bt0, mx0, _sf0, _de0), (c1, bt1, mx1, sf1, de1) = decoded
            if (bt0, mx0) != (bt1, mx1):
                raise Mp3DecodeError(
                    "joint-stereo granule with differing block types"
                )
            # intensity region (§2.4.3.4.9.3): scalefactor bands at or
            # above the right channel's zero_part start; the LEFT
            # channel carries the signal, the right channel's sf slots
            # carry is_pos; below the bound MS applies when flagged
            bound = 576
            if istereo:
                if bt0 == 2:
                    raise Mp3DecodeError(
                        "intensity stereo with short windows "
                        "not supported"
                    )
                # sfb has 23 entries (sfb[22] = 576); de1 past sfb[21]
                # means the intensity region is empty (b0i = 22) — the
                # search must span all 23 edges or it would raise bare
                # StopIteration on such (foreign/corrupt) streams
                b0i = next(b for b in range(23) if sfb[b] >= de1)
                bound = sfb[b0i]
                for b in range(b0i, 21):
                    _intensity_pan(
                        c0, c1, sfb[b], sfb[b + 1], int(sf1[b])
                    )
                if b0i <= 21:
                    # the region above band 20 has no own scalefactor;
                    # it reuses band 20's intensity position
                    _intensity_pan(c0, c1, sfb[21], 576, int(sf1[20]))
            if ms:
                inv = 1.0 / np.sqrt(2.0)
                m = c0[:bound].copy()
                s = c1[:bound].copy()
                c0[:bound] = (m + s) * inv
                c1[:bound] = (m - s) * inv
            decoded = [(c0, bt0, mx0, None, 0), (c1, bt0, mx0, None, 0)]
        for ch in range(nch):
            granules[ch].append(decoded[ch][:3])
