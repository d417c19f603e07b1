"""Property-based tests (hypothesis) — invariants the golden fixtures can't
enumerate: arbitrary unicode inputs, any max_chunk_length."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_japanese_books_spark.extraction.html import extract_main_content
from docling_japanese_books_spark.extraction.pdf import parse_pdf_layout
from docling_japanese_books_spark.operators.chunking import (
    simple_sentence_chunker,
    simple_traditional_chunking,
    word_chunker,
)
from docling_japanese_books_spark.operators.normalize import normalize_cjk

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@settings(max_examples=200, deadline=None)
@given(doc=text_strategy, max_len=st.integers(min_value=1, max_value=200))
def test_c1_invariants(doc, max_len):
    chunks, spans = simple_sentence_chunker(doc, max_len)
    assert len(chunks) == len(spans)
    for c in chunks:
        assert c == c.strip() and c != ""
    for start, end in spans:
        assert 0 <= start <= len(doc)
    if spans:
        assert spans[-1][1] == len(doc)


@settings(max_examples=200, deadline=None)
@given(doc=text_strategy, max_len=st.integers(min_value=1, max_value=200))
def test_c3_never_empty_chunks(doc, max_len):
    for c in simple_traditional_chunking(doc, max_len):
        assert isinstance(c, str) and c.strip()


@settings(max_examples=200, deadline=None)
@given(doc=text_strategy, max_len=st.integers(min_value=1, max_value=200))
def test_word_chunker_spans_slice_exactly(doc, max_len):
    chunks, spans = word_chunker(doc, max_len)
    # the defining invariant: spans slice the original to the chunk bytes
    for c, (s, e) in zip(chunks, spans):
        assert doc[s:e] == c
    # every non-whitespace char (regex \s semantics) is inside some span
    import re

    covered = sum(e - s for s, e in spans)
    assert covered >= len(re.sub(r"\s", "", doc))


@settings(max_examples=100, deadline=None)
@given(payload=st.binary(max_size=300))
def test_extractors_never_raise(payload):
    out = extract_main_content(payload)
    assert out["status"] in {"ok", "empty", "no_content", "decode_error", "parse_error"}
    pdf = parse_pdf_layout(payload)
    assert pdf["status"] in {"ok", "empty", "no_content", "decode_error", "parse_error"}


@settings(max_examples=200, deadline=None)
@given(s=text_strategy)
def test_normalize_cjk_idempotent(s):
    once = normalize_cjk(s)
    assert normalize_cjk(once) == once


@settings(max_examples=200, deadline=None)
@given(
    doc_len=st.integers(min_value=1, max_value=10_000),
    seq_len=st.integers(min_value=1, max_value=512),
    cs=st.integers(min_value=0, max_value=10_000),
    width=st.integers(min_value=1, max_value=500),
)
def test_span_mapping_invariants(doc_len, seq_len, cs, width):
    from docling_japanese_books_spark.operators.late_chunking import (
        map_span_to_tokens,
    )

    cs = min(cs, doc_len - 1) if doc_len > 0 else 0
    ce = min(cs + width, doc_len)
    ts, te = map_span_to_tokens(cs, ce, doc_len, seq_len)
    assert 0 <= ts < te <= seq_len  # non-empty, in bounds
    # monotone: a later span never maps to an earlier start
    ts2, _ = map_span_to_tokens(min(cs + 1, doc_len), ce, doc_len, seq_len)
    assert ts2 >= ts


@settings(max_examples=100, deadline=None)
@given(doc=text_strategy, max_len=st.integers(min_value=1, max_value=200))
def test_late_chunk_document_invariants(doc, max_len):
    from docling_japanese_books_spark.operators.late_chunking import (
        late_chunk_document,
    )

    recs = late_chunk_document(doc, max_chunk_length=max_len, token_chars=8, dim=8)
    for r in recs:
        assert r["token_end"] > r["token_start"] >= 0
        assert len(r["embedding"]) == 8
        assert all(v == v for v in r["embedding"])  # no NaN
    assert [r["chunk_index"] for r in recs] == list(range(len(recs)))


@settings(max_examples=100, deadline=None)
@given(s=text_strategy)
def test_simhash_deterministic_and_bounded(s):
    from docling_japanese_books_spark.operators.dedup import (
        _simhash64,
        _token_hashes,
    )

    a, b = _simhash64(s), _simhash64(s)
    assert a == b  # pure function of text
    assert -(1 << 63) <= a < (1 << 63)  # fits BIGINT
    h = _token_hashes(s)
    assert list(h) == list(_token_hashes(s))  # hashes deterministic too
    if s and all(ord(c) < 128 for c in s):
        # on pure-ASCII input the tokenizer agrees with str.split()
        assert len(h) == len(s.split())


@settings(max_examples=100, deadline=None)
@given(
    body=st.lists(
        st.text(alphabet=st.characters(min_codepoint=0x61, max_codepoint=0x7A),
                min_size=1, max_size=20),
        min_size=0, max_size=8,
    ),
    max_len=st.integers(min_value=1, max_value=100),
)
def test_structural_chunker_invariants(body, max_len):
    from docling_japanese_books_spark.operators.structure import (
        hierarchical_structure_chunks,
    )

    html = "<h1>T</h1>" + "".join(f"<p>{b}</p>" for b in body)
    chunks = hierarchical_structure_chunks(html, max_chunk_length=max_len)
    # every body word survives, in order, exactly once
    assert " ".join(c["body"] for c in chunks).split() == [w for b in body for w in b.split()]
    for c in chunks:
        assert c["heading_path"] == "T"
        assert c["text"].startswith("T\n\n")
        assert c["body"]


# --- real PDF bytes roundtrip ----------------------------------------------

# words: non-empty, no whitespace (the writer's wrap contract splits on a
# single space), any other unicode including CJK
_word = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Zs", "Zl", "Zp", "Cc"),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=100, deadline=None)
@given(
    words=st.lists(_word, min_size=1, max_size=120),
    wpl=st.integers(min_value=1, max_value=10),
    lpp=st.integers(min_value=1, max_value=6),
)
def test_pdf_bytes_roundtrip_property(words, wpl, lpp):
    """Any space-joined word sequence survives write-as-real-PDF ->
    pure-Python decode -> reading-order reconstruction, byte-identically,
    for every wrap geometry."""
    from docling_japanese_books_spark.extraction.pdf import (
        reconstruct_reading_order,
    )
    from docling_japanese_books_spark.extraction.pdf_bytes import (
        decode_pdf_minimal,
        text_to_pdf,
    )

    text = " ".join(words)
    ir = decode_pdf_minimal(text_to_pdf(text, words_per_line=wpl, lines_per_page=lpp))
    rec = reconstruct_reading_order(ir).replace("\n\n", " ").replace("\n", " ")
    assert rec == text


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    v=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_uniform_q100_exact_property(w, h, v):
    """Any uniform image at any size round-trips byte-exactly at q100
    (DC-only blocks, quant step 1) — the invariant the oracle query leans
    on, over the whole size/value space including non-multiple-of-8 and
    non-multiple-of-16 (4:2:0 MCU) dimensions."""
    import numpy as np

    from docling_japanese_books_spark.multimodal.jpeg_codec import (
        jpeg_to_pixels,
        pixels_to_jpeg,
    )

    px = np.full((h, w), v, np.uint8)
    back = jpeg_to_pixels(pixels_to_jpeg(px, quality=100))
    assert back.shape == (h, w) and (back == px).all()
    rgb = np.full((h, w, 3), v, np.uint8)
    back = jpeg_to_pixels(pixels_to_jpeg(rgb, quality=100, subsampling="4:2:0"))
    assert back.shape == (h, w, 3) and (back == rgb).all()


@given(
    n=st.integers(min_value=1, max_value=3000),
    ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_lossless_property(n, ch, rate, seed):
    """PCM16 WAV is lossless for any length, channel count, and rate."""
    import numpy as np

    from docling_japanese_books_spark.multimodal.wav_codec import (
        samples_to_wav,
        wav_to_samples,
    )

    rng = np.random.RandomState(seed)
    sig = rng.randint(-32768, 32768, (n, ch), np.int64).astype(np.int16)
    back, r = wav_to_samples(samples_to_wav(sig, rate))
    assert r == rate and back.shape == (n, ch) and (back == sig).all()


@given(payload=st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_codec_decoders_reject_garbage_cleanly(payload):
    """Every codec decoder either raises ValueError on arbitrary bytes or
    returns a well-formed result — never crashes with an internal error
    (the per-row isolation contract of the decode UDFs)."""
    import numpy as np

    from docling_japanese_books_spark.multimodal.jpeg_codec import jpeg_to_pixels
    from docling_japanese_books_spark.multimodal.png_codec import png_to_pixels
    from docling_japanese_books_spark.multimodal.wav_codec import wav_to_samples

    sigs = {
        jpeg_to_pixels: b"\xff\xd8",
        png_to_pixels: b"\x89PNG\r\n\x1a\n",
    }
    for decode, sig in sigs.items():
        for variant in (payload, sig + payload):  # valid signature + garbage
            try:
                out = decode(variant)
                assert isinstance(out, np.ndarray)
            except ValueError:
                pass
    for variant in (payload, b"RIFF" + payload[:4] + b"WAVE" + payload):
        try:
            s, r = wav_to_samples(variant)
            assert isinstance(s, np.ndarray) and r > 0
        except ValueError:
            pass


@given(payload=st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_ooxml_decoders_reject_garbage_cleanly(payload):
    """DOCX/PPTX decoders follow the same contract: arbitrary bytes (with
    or without the zip magic) raise ValueError or parse cleanly — never an
    internal IndexError/KeyError/ParseError escape."""
    from docling_japanese_books_spark.extraction.ooxml import (
        docx_to_paragraphs,
        pptx_to_slides,
    )

    for variant in (payload, b"PK\x03\x04" + payload):
        for decode in (docx_to_paragraphs, pptx_to_slides):
            try:
                out = decode(variant)
                assert isinstance(out, list)
            except ValueError:
                pass


@given(payload=st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_tiff_decoder_rejects_garbage_cleanly(payload):
    import numpy as np

    from docling_japanese_books_spark.multimodal.tiff_codec import tiff_to_pixels

    for variant in (payload, b"II*\x00" + payload, b"MM\x00*" + payload):
        try:
            out = tiff_to_pixels(variant)
            assert isinstance(out, np.ndarray)
        except ValueError:
            pass


@given(payload=st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_avi_decoder_rejects_garbage_cleanly(payload):
    import numpy as np

    from docling_japanese_books_spark.multimodal.avi_codec import avi_to_frames

    riffed = (
        b"RIFF" + (len(payload) + 4).to_bytes(4, "little") + b"AVI " + payload
    )
    for variant in (payload, riffed):
        try:
            frames, fps = avi_to_frames(variant)
            assert isinstance(frames, np.ndarray) and fps > 0
        except ValueError:
            pass


@settings(max_examples=150, deadline=None)
@given(payload=st.binary(max_size=2000))
def test_tiff_lzw_roundtrip_property(payload):
    from docling_japanese_books_spark.multimodal.tiff_codec import (
        lzw_decode,
        lzw_encode,
    )

    assert lzw_decode(lzw_encode(payload), expected=len(payload)) == payload


@settings(max_examples=150, deadline=None)
@given(payload=st.binary(max_size=400), expected=st.integers(0, 400))
def test_tiff_lzw_decode_rejects_garbage_cleanly(payload, expected):
    from docling_japanese_books_spark.multimodal.tiff_codec import lzw_decode

    try:
        out = lzw_decode(payload, expected=expected)
        assert len(out) == expected  # acceptance implies exact payload size
    except ValueError:
        pass  # the whole contract: ValueError or a correct-length decode


@settings(max_examples=200, deadline=None)
@given(
    pre=st.text(alphabet="abcdef ", min_size=0, max_size=60),
    mid=st.text(alphabet="abcdef ", min_size=0, max_size=60),
    post=st.text(alphabet="abcdef ", min_size=0, max_size=60),
    dup=st.text(alphabet="abcdef ", min_size=12, max_size=40),
)
def test_winnowing_anchor_guarantee_property(pre, mid, post, dup):
    """The losslessness the ExactSubstr prefilter rests on: ANY two copies
    of a substring of length >= w + k - 1 select at least one common
    winnowing anchor, at the same offset inside both copies — regardless
    of surrounding context (the w in-match k-grams form one complete
    window whose min and rightmost-tie position are content-determined)."""
    from docling_japanese_books_spark.operators.dedup import (
        _ANCHOR_K,
        _anchor_positions,
    )

    k = _ANCHOR_K
    L = len(dup)
    w = L - k + 1
    text = pre + dup + mid + dup + post
    p1 = len(pre)
    p2 = len(pre) + L + len(mid)
    anchors = _anchor_positions(text, k, w)
    rel1 = {(p - p1, g) for p, g in anchors if p1 <= p <= p1 + L - k}
    rel2 = {(p - p2, g) for p, g in anchors if p2 <= p <= p2 + L - k}
    assert rel1 & rel2, (text, p1, p2, anchors)


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(alphabet="abc xyz漢字", min_size=0, max_size=200),
    L=st.integers(2, 60),
    data=st.data(),
)
def test_window_hash_slicing_algebra(text, L, data):
    """The chunked gram emission relies on: the hash of window i of the
    full text equals the hash of window 0 of the slice starting at i —
    for BOTH hash streams, on arbitrary unicode."""
    from docling_japanese_books_spark.operators.dedup import _window_hashes

    h1, h2 = _window_hashes(text, L)
    n = len(h1)
    if n == 0:
        return
    i = data.draw(st.integers(0, n - 1))
    s1, s2 = _window_hashes(text[i : i + L], L)
    assert (h1[i], h2[i]) == (s1[0], s2[0])


@settings(max_examples=100, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    shift=st.integers(min_value=1, max_value=40),
    scale_exp=st.integers(min_value=-3, max_value=3),
)
def test_dhash_affine_invariance_property(h, w, seed, shift, scale_exp):
    """dhash64 is invariant under any non-clipping affine pixel map
    a*px + b with a > 0 (area means are linear; only difference SIGNS
    enter), on ANY shape — including tiny inputs that hit the upscale
    path — and always fits a signed 64-bit long. The multiplicative leg
    uses powers of two: scaling integer pixels by 2^k keeps every cell
    sum EXACT, so even tied cells (constant regions, upscale-duplicated
    pixels) compare identically; an inexact factor can flip a tie by an
    ulp — real pixel data is integer, so that's a fixture artifact, not
    an operator contract."""
    scale = 2.0 ** scale_exp
    import numpy as np

    from docling_japanese_books_spark.multimodal.phash import dhash64

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 200, (h, w)).astype(np.float64)
    base = dhash64(px)
    assert -(1 << 63) <= base < (1 << 63)
    assert dhash64(px + shift) == base
    assert dhash64(px * scale) == base
    assert dhash64(px * scale + shift) == base
    # grayscale equals the RGB stack of itself (luma of equal channels)
    assert dhash64(np.stack([px, px, px], axis=-1)) == base


@settings(max_examples=100, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=2000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    vol=st.floats(min_value=0.01, max_value=100.0),
)
def test_afp_volume_invariance_property(n, seed, vol):
    """afp64 is EXACTLY invariant under positive volume scaling for any
    sample array (energies scale by vol^2, comparisons see only signs),
    any length including the zero-pad path, and mixes duplicated stereo
    channels down to the mono fingerprint."""
    import numpy as np

    from docling_japanese_books_spark.multimodal.afp import afp64

    rng = np.random.RandomState(seed)
    x = rng.randn(n)
    base = afp64(x)
    assert -(1 << 63) <= base < (1 << 63)
    assert afp64(x * vol) == base
    assert afp64(np.stack([x, x], axis=1)) == base


@settings(max_examples=60, deadline=None)
@given(
    keys=st.lists(st.text(max_size=30), min_size=1, max_size=60),
    m_exp=st.integers(min_value=7, max_value=20),
    k=st.integers(min_value=1, max_value=10),
)
def test_bloom_positions_python_reference_property(keys, m_exp, k):
    """The Python reference of the Bloom construction (the one the Spark
    parity test pins against) is itself well-formed for ANY key set and
    sizing: k positions per key, each in [0, m), stride always odd, and
    membership of every inserted key holds in the reference bitmap —
    the no-false-negative contract at the algebra level."""
    import hashlib

    m = 1 << m_exp
    words: dict[int, int] = {}
    all_pos: dict[str, list[int]] = {}
    for key in keys:
        d = hashlib.md5(str(key).encode()).hexdigest()
        h1 = int(d[0:15], 16) % m
        h2 = (int(d[16:31], 16) % m) | 1
        assert h2 % 2 == 1
        pos = [(h1 + i * h2) % m for i in range(k)]
        assert all(0 <= p < m for p in pos)
        all_pos[key] = pos
        for p in pos:
            words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))
    for key in keys:
        for p in all_pos[key]:
            assert words[p // 64] & (1 << (p % 64))
