"""Property-based tests (hypothesis) for the chunking/dedup kernels.

Strategy: drive the PURE python kernels (greedy packer, hash embedder)
with hypothesis directly, and spot-check the Spark operators on sampled
corpora — random text through the full DataFrame path each example
would cost minutes of JVM roundtrips, so properties sample batches.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from data_pipeline2_spark.functions.text import (
    SENTENCE_REGEX,
    sentence_end,
    split_sentences,
)
from data_pipeline2_spark.operators.chunking import _bpe_token_count, _greedy_pack
from data_pipeline2_spark.operators.embedding import hash_embed_one

words = st.lists(
    st.text(alphabet="abcdefghij", min_size=1, max_size=12), min_size=0, max_size=60
)


@given(words, st.integers(min_value=5, max_value=200))
@settings(max_examples=200, deadline=None)
def test_greedy_pack_properties(units, chunk_size):
    # character packing: cost len + 1, budget chunk_size + 1, no overlap
    out = [
        (pos, " ".join(chunk), len(chunk))
        for pos, chunk, _ in _greedy_pack(
            units, [len(u) + 1 for u in units], chunk_size + 1, 0
        )
    ]
    # completeness: every unit appears exactly once, in order
    flat = [w for _, content, _ in out for w in content.split(" ") if w != ""]
    assert flat == [u for u in units if u != ""] or units == flat or flat == units
    # positions are contiguous from 0
    assert [p for p, _, _ in out] == list(range(len(out)))
    max_word = max((len(u) for u in units), default=0)
    for _, content, n_units in out:
        # size bound: within chunk_size except a single oversized unit
        assert len(content) <= chunk_size or n_units == 1
        assert len(content) <= max(chunk_size, max_word)
    # greedy maximality: chunk i cannot absorb the first unit of chunk i+1
    for (p1, c1, _), (p2, c2, _) in zip(out, out[1:]):
        first_next = c2.split(" ")[0]
        assert len(c1) + 1 + len(first_next) > chunk_size


@given(
    st.text(max_size=500)
    | st.text(alphabet="ab .!?\n\xa0😀", max_size=200)
)
@settings(max_examples=400, deadline=None)
def test_sentence_regex_lossless_within_matches(text):
    # every extracted sentence is a substring, in order, non-overlapping
    matches = re.findall(SENTENCE_REGEX, text)
    cursor = 0
    for m in matches:
        idx = text.index(m, cursor)
        assert idx >= cursor
        cursor = idx + len(m)
    # the linear tail-cut helper is the same extraction, and the last
    # match ends at the last terminator
    assert split_sentences(text) == matches
    if matches:
        assert cursor == sentence_end(text)


@given(st.text(max_size=200), st.integers(min_value=4, max_value=128))
@settings(max_examples=100, deadline=None)
def test_hash_embedder_contract(text, dim):
    v = hash_embed_one(text, dim)
    assert len(v) == dim
    norm = sum(x * x for x in v) ** 0.5
    assert abs(norm - 1.0) < 1e-6
    assert v == hash_embed_one(text, dim)  # deterministic


@given(st.integers(min_value=1, max_value=50), st.integers(min_value=1, max_value=400))
@settings(max_examples=100, deadline=None)
def test_fixed_chunk_count_formula(chunk_size, text_len):
    import math

    n = max(1, math.ceil(text_len / chunk_size))
    # the formula used by chunk_fixed/oracle: every char covered once
    starts = [i * chunk_size for i in range(n)]
    assert starts[0] == 0
    assert starts[-1] < text_len
    assert starts[-1] + chunk_size >= text_len


def _py_redact(text: str) -> str:
    from data_pipeline2_spark.operators.textanalysis import PII_PATTERNS

    for kind, pat in PII_PATTERNS.items():
        text = re.sub(pat, f"<{kind}>", text)
    return text


pii_ish = st.text(
    alphabet="0123456789-+() .@abcdef\n", max_size=120
)


@given(pii_ish)
@settings(max_examples=300, deadline=None)
def test_pii_redaction_idempotent(text):
    # placeholders are alphabetic, so a second pass must be a no-op:
    # redaction never manufactures new matches (Python re is
    # leftmost-first like Spark's Java regex; engine parity with DuckDB
    # RE2 is covered by the oracle harness)
    once = _py_redact(text)
    assert _py_redact(once) == once


@given(pii_ish)
@settings(max_examples=300, deadline=None)
def test_pii_redaction_never_leaves_full_matches(text):
    from data_pipeline2_spark.operators.textanalysis import PII_PATTERNS

    once = _py_redact(text)
    # EMAIL can legitimately survive in residue around placeholders
    # (e.g. 'a@b<IP>c' fragments); the anchored numeric kinds must not
    for kind in ("IP", "SSN"):
        assert not re.search(PII_PATTERNS[kind], once), (text, once)


@settings(max_examples=60, deadline=None)
@given(
    units=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs")),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=30,
    ),
    budget=st.integers(min_value=5, max_value=80),
)
def test_greedy_pack_tokens_properties(units, budget):
    """Token packer invariants for any unit list: every chunk within
    budget unless it is a single oversized unit; all units appear in
    order; n_tokens is the exact count of the packed content."""
    overlap = budget // 4
    costs = [_bpe_token_count(u) for u in units]
    out = [
        (pos, " ".join(chunk), n_tok)
        for pos, chunk, n_tok in _greedy_pack(units, costs, budget, overlap)
    ]
    assert out, "at least one chunk"
    assert [p for p, _, _ in out] == list(range(len(out)))
    for _, content, n_tok in out:
        assert n_tok == _bpe_token_count(content)
        if n_tok > budget:
            # only a lone oversized unit may exceed the budget
            assert content in units
    # order-preserving coverage: each unit (non-empty) appears in the
    # concatenation, in order (carry may duplicate, never reorder)
    joined = " ".join(c for _, c, _ in out)
    pos = 0
    for u in units:
        if u.strip():
            found = joined.find(u, pos)
            assert found >= 0, (u, joined)
            pos = found


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    nch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_codec_roundtrip_property(w, h, nch, seed):
    """encode→probe→decode is lossless for every 8-bit channel layout."""
    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_png,
        encode_png,
        probe_image,
    )

    rng = np.random.RandomState(seed % (2**31))
    arr = rng.randint(0, 256, (h, w, nch)).astype(np.uint8)
    png = encode_png(arr)
    info = probe_image(png)
    assert (info["width"], info["height"]) == (w, h)
    back = decode_png(png)
    assert back.shape == (h, w, nch)
    assert (back == arr).all()


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=50),
    h=st.integers(min_value=1, max_value=50),
    tw=st.integers(min_value=1, max_value=50),
    th=st.integers(min_value=1, max_value=50),
)
def test_resize_nearest_properties(w, h, tw, th):
    """Nearest resize: exact target shape; every output pixel is some
    input pixel; identity when target == source."""
    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import resize_nearest

    arr = (np.arange(h * w * 3).reshape(h, w, 3) % 251).astype(np.uint8)
    out = resize_nearest(arr, tw, th)
    assert out.shape == (th, tw, 3)
    flat_in = {tuple(px) for px in arr.reshape(-1, 3)}
    assert all(tuple(px) in flat_in for px in out.reshape(-1, 3))
    if (tw, th) == (w, h):
        assert (out == arr).all()


@settings(max_examples=60, deadline=None)
@given(
    aid=st.integers(min_value=0, max_value=500),
    depth=st.sampled_from([1, 2, 4, 8]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_palette_roundtrip_property(aid, depth, seed):
    """Palette encode→decode resolves PLTE (+ tRNS) exactly; the
    fixture generator's closed forms match the decoded pixels. Sub-byte
    depths exercise the bit-unpacking path via hand-packed scanlines."""
    import struct
    import zlib

    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_png,
        encode_png_palette,
        make_palette_asset,
    )

    # 8-bit generator fixture: closed-form pixel identity
    arr = decode_png(make_palette_asset(aid))
    w, h = 16 + aid % 97, 16 + aid % 53
    n = 2 + aid % 15
    yy, xx = np.mgrid[0:h, 0:w]
    idx = (xx + 3 * yy + aid) % n
    assert arr.shape[:2] == (h, w)
    assert (arr[:, :, 0] == (idx * 37 + aid) % 256).all()
    if aid % 3 == 0:
        assert arr.shape[2] == 4
        assert (arr[:, :, 3] == (idx * 29 + aid) % 256).all()
    else:
        assert arr.shape[2] == 3

    # random palette at the given depth (hand-packed for sub-byte)
    rng = np.random.RandomState(seed % (2**31))
    npal = rng.randint(1, min(2**depth, 256) + 1)
    pw, ph = rng.randint(1, 20), rng.randint(1, 20)
    indices = rng.randint(0, npal, (ph, pw)).astype(np.uint8)
    pal = rng.randint(0, 256, (npal, 3)).astype(np.uint8)
    if depth == 8:
        png = encode_png_palette(indices, pal)
    else:
        per_byte = 8 // depth
        stride = (pw * depth + 7) // 8
        scan = bytearray()
        for y in range(ph):
            scan.append(0)
            row = np.zeros(stride * per_byte, np.uint8)
            row[:pw] = indices[y]
            packed = np.zeros(stride, np.uint8)
            for k in range(per_byte):
                packed |= row[k::per_byte][:stride] << (8 - depth * (k + 1))
            scan.extend(packed.tobytes())

        def chunk(cid, data):
            return (
                struct.pack(">I", len(data)) + cid + data
                + struct.pack(">I", zlib.crc32(cid + data) & 0xFFFFFFFF)
            )

        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", pw, ph, depth, 3, 0, 0, 0))
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(bytes(scan)))
            + chunk(b"IEND", b"")
        )
    back = decode_png(png)
    assert back.shape == (ph, pw, 3)
    assert (back == pal[indices]).all()


@settings(max_examples=120, deadline=None)
@given(
    aid=st.integers(min_value=0, max_value=300),
    plte=st.binary(min_size=0, max_size=32),
    drop_plte=st.booleans(),
)
def test_png_palette_garbage_plte_contract(aid, plte, drop_plte):
    """Garbage PLTE chunks (wrong length, too small for the indices in
    use, or absent) must raise ValueError — never IndexError, silent
    wraparound, or wrong-shaped output. A valid-by-luck PLTE must still
    decode to exactly its own colors."""
    import struct
    import zlib

    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_png,
        make_palette_asset,
    )

    png = make_palette_asset(aid)
    i = png.index(b"PLTE") - 4
    clen = struct.unpack(">I", png[i : i + 4])[0]

    def chunk(cid, data):
        return (
            struct.pack(">I", len(data)) + cid + data
            + struct.pack(">I", zlib.crc32(cid + data) & 0xFFFFFFFF)
        )

    repl = b"" if drop_plte else chunk(b"PLTE", plte)
    mutated = png[:i] + repl + png[i + 12 + clen :]
    n_used = 2 + aid % 15  # indices 0..n_used-1 all appear in the fixture
    try:
        arr = decode_png(mutated)
    except ValueError:
        # acceptable iff the PLTE was actually unusable (absent, empty,
        # not a triple multiple, or too small for the indices/tRNS)
        assert drop_plte or len(plte) == 0 or len(plte) % 3 or (
            len(plte) // 3 < n_used
        )
        return
    # decoded: the PLTE must have been structurally valid and large enough
    assert not drop_plte and len(plte) % 3 == 0 and len(plte) // 3 >= n_used
    pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    w, h = 16 + aid % 97, 16 + aid % 53
    yy, xx = np.mgrid[0:h, 0:w]
    idx = (xx + 3 * yy + aid) % n_used
    assert arr.shape[:2] == (h, w)
    assert (arr[:, :, :3] == pal[idx]).all()


@settings(max_examples=60, deadline=None)
@given(
    aid=st.integers(min_value=0, max_value=500),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_codec_roundtrip_property(aid, seed):
    """encode_gif→decode_gif is lossless (palette colors + transparent
    index), and the closed-form fixture generator matches its decoded
    pixels exactly."""
    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_gif,
        encode_gif,
        make_gif_asset,
        probe_image,
    )

    # fixture: closed-form pixel identity
    arr = decode_gif(make_gif_asset(aid))
    w, h = 16 + aid % 97, 16 + aid % 53
    n = 2 + aid % 15
    yy, xx = np.mgrid[0:h, 0:w]
    idx = (2 * xx + yy + aid) % n
    assert arr.shape[:2] == (h, w)
    assert (arr[:, :, 0] == (idx * 41 + aid) % 256).all()
    if aid % 4 == 0:
        assert arr.shape[2] == 4
        assert (arr[:, :, 3] == np.where(idx == aid % n, 0, 255)).all()
    else:
        assert arr.shape[2] == 3

    # random image roundtrip
    rng = np.random.RandomState(seed % (2**31))
    npal = rng.randint(1, 257)
    gw, gh = rng.randint(1, 30), rng.randint(1, 30)
    indices = rng.randint(0, npal, (gh, gw)).astype(np.uint8)
    pal = rng.randint(0, 256, (npal, 3)).astype(np.uint8)
    gif = encode_gif(indices, pal)
    assert probe_image(gif)["width"] == gw
    back = decode_gif(gif)
    assert back.shape == (gh, gw, 3)
    assert (back == pal[indices]).all()


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    min_code=st.integers(min_value=2, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_lzw_decode_handles_real_compression(w, h, min_code, seed):
    """decode_gif's LZW path against a REAL compressing encoder (the
    textbook GIF-LZW compressor, built here in the test): dictionary
    growth, the code==len(table) self-reference case, and width bumps
    all get exercised — encode_gif alone only emits literals."""
    import struct

    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import decode_gif

    rng = np.random.RandomState(seed % (2**31))
    ncolors = 1 << min_code
    # low-entropy data: long runs force dictionary reuse and growth
    base = rng.randint(0, ncolors, max(1, w * h // 7) + 1)
    indices = np.repeat(base, 7)[: w * h].astype(np.uint8).reshape(h, w)

    clear, eoi = ncolors, ncolors + 1
    table = {(c,): c for c in range(ncolors)}
    next_code = eoi + 1
    width = min_code + 1
    bits = bytearray()
    acc = nbits = 0

    def emit(code, cw):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    seq: tuple = ()
    for v in indices.reshape(-1).tolist():
        cand = seq + (v,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        # width sync: the decoder creates entry k while reading emission
        # k+1, and bumps once its table reaches 2^width — which happens
        # exactly when the encoder has just assigned code 2^width
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code >= (1 << 12) - 1:
            emit(clear, width)
            table = {(c,): c for c in range(ncolors)}
            next_code = eoi + 1
            width = min_code + 1
        seq = (v,)
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    if nbits:
        bits.append(acc & 0xFF)

    pal = rng.randint(0, 256, (ncolors, 3)).astype(np.uint8)
    exp = min_code - 1 if min_code > 1 else 1
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HH", w, h) + bytes([0xF0 | exp, 0, 0]) + pal.tobytes()
    gif += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    gif += bytes([min_code])
    for j in range(0, len(bits), 255):
        block = bits[j : j + 255]
        gif += bytes([len(block)]) + block
    gif += b"\x00\x3b"

    back = decode_gif(bytes(gif))
    assert back.shape == (h, w, 3)
    assert (back == pal[indices]).all()


@settings(max_examples=80, deadline=None)
@given(
    aid=st.integers(min_value=0, max_value=300),
    cut=st.integers(min_value=0, max_value=4000),
    flip=st.integers(min_value=0, max_value=4000),
)
def test_gif_decode_never_crashes_unstructured(aid, cut, flip):
    """Truncated or bit-flipped GIFs: decode_gif returns a valid array
    or raises ValueError — never IndexError/struct.error/infinite
    output (executor-safety contract, same as the probes)."""
    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_gif,
        make_gif_asset,
    )

    payload = bytearray(make_gif_asset(aid))
    payload = payload[: max(6, len(payload) - cut % max(1, len(payload)))]
    if payload and flip < len(payload):
        payload[flip] ^= 0xFF
    try:
        arr = decode_gif(bytes(payload))
        assert arr.ndim == 3 and arr.dtype == np.uint8
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(
    aid=st.integers(min_value=0, max_value=500),
    bits=st.sampled_from([8, 16]),
    channels=st.integers(min_value=1, max_value=4),
    n=st.integers(min_value=0, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_pcm_decode_roundtrip(aid, bits, channels, n, seed):
    """decode_wav_pcm recovers exact samples for 8/16-bit PCM at any
    channel count, and the square-wave fixture matches its closed
    forms (sum / sum-of-squares / transitions)."""
    import struct as _struct

    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_wav_pcm,
        make_wav_pcm_asset,
    )

    # fixture closed forms
    samples, rate, ch = decode_wav_pcm(make_wav_pcm_asset(aid))
    assert (rate, ch) == (1000, 1)
    mono = samples[:, 0].astype(np.int64)
    N = 500 + (aid % 41) * 250
    p = 8 + aid % 32
    high, low = 200 + aid % 56, aid % 100
    q, r = divmod(N, 2 * p)
    chigh = q * p + min(r, p)
    assert len(mono) == N
    assert int(mono.sum()) == chigh * high + (N - chigh) * low
    assert int((mono[1:] != mono[:-1]).sum()) == (N - 1) // p

    # arbitrary PCM roundtrip
    rng = np.random.RandomState(seed % (2**31))
    if bits == 8:
        data = rng.randint(0, 256, n * channels).astype(np.uint8).tobytes()
    else:
        data = rng.randint(-32768, 32768, n * channels).astype("<i2").tobytes()
    rate2 = int(rng.randint(1, 96000))
    block = channels * bits // 8
    fmt = b"fmt " + _struct.pack(
        "<IHHIIHH", 16, 1, channels, rate2, rate2 * block, block, bits
    )
    body = b"WAVE" + fmt + b"data" + _struct.pack("<I", len(data)) + data
    wav = b"RIFF" + _struct.pack("<I", len(body)) + body
    out, orate, och = decode_wav_pcm(wav)
    assert (orate, och) == (rate2, channels)
    assert out.shape == (n, channels)
    want = np.frombuffer(data, dtype=np.uint8 if bits == 8 else "<i2")
    assert (out.reshape(-1) == want[: n * channels]).all()


@settings(max_examples=100, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_wav_pcm_decode_never_crashes_on_garbage(data):
    from data_pipeline2_spark.functions.imagecodec import decode_wav_pcm

    try:
        out, rate, ch = decode_wav_pcm(b"RIFF\x00\x00\x00\x00WAVE" + data)
        assert ch >= 1 and out.ndim == 2
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=150, deadline=None)
@given(data=st.binary(min_size=0, max_size=120))
def test_media_probes_never_crash_on_garbage(data):
    """At corpus scale corrupt/truncated media is certain: probes must
    classify (dict) or decline (None) arbitrary bytes, never raise —
    an executor-killing exception on one bad asset fails the stage."""
    from data_pipeline2_spark.functions.imagecodec import probe_image, probe_wav

    for fn in (probe_image, probe_wav):
        out = fn(data)
        assert out is None or isinstance(out, dict)


@settings(max_examples=60, deadline=None)
@given(
    aid=st.integers(min_value=0, max_value=500),
    cut=st.integers(min_value=0, max_value=200),
)
def test_media_probes_never_crash_on_truncated_fixtures(aid, cut):
    from data_pipeline2_spark.functions.imagecodec import (
        make_asset,
        probe_image,
        probe_wav,
    )

    _, payload = make_asset(aid)
    trunc = payload[:cut]
    for fn in (probe_image, probe_wav):
        out = fn(trunc)
        assert out is None or isinstance(out, dict)


def test_gif_truncated_gce_is_valueerror_or_short():
    """Truncated mid-GCE: the fixed bounds check must not IndexError."""
    import pytest

    from data_pipeline2_spark.functions.imagecodec import decode_gif

    payload = (
        b"GIF89a" + b"\x04\x00\x04\x00" + bytes([0x70, 0, 0])
        + b"\x21\xf9\x04\x01"
    )
    with pytest.raises(ValueError):
        decode_gif(payload)


def test_gif_pixel_bomb_dimensions_rejected():
    import struct

    import pytest

    from data_pipeline2_spark.functions.imagecodec import decode_gif

    payload = (
        b"GIF89a" + struct.pack("<HH", 65535, 65535) + bytes([0x70, 0, 0])
        # image descriptor declaring 65535x65535, no color table bit
        + b"\x2c" + b"\x00\x00\x00\x00" + struct.pack("<HH", 65535, 65535)
        + b"\x80" + bytes(6)  # local color table (2 entries)
        + b"\x02\x01\x00\x00\x3b"
    )
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        decode_gif(payload)


def test_gif_post_eoi_bytes_never_become_pixels():
    """A stream whose LZW data hits EOI early must fail loudly even if
    trailing bytes could decode into enough filler pixels."""
    import pytest

    from data_pipeline2_spark.functions.imagecodec import (
        decode_gif,
        encode_gif,
    )
    import numpy as np

    idx = np.zeros((4, 4), dtype=np.uint8)
    pal = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    payload = bytearray(encode_gif(idx, pal))
    # find the LZW data sub-block and truncate pixels, keeping EOI +
    # padding bytes: rewrite the block to CLEAR,<one pixel>,EOI,junk
    # (simplest robust approach: re-encode a 1-pixel frame and splice
    # its data into the 4x4 descriptor)
    small = bytearray(encode_gif(np.zeros((1, 1), dtype=np.uint8), pal))
    # descriptor of `small` claims 1x1; patch it to 4x4 so EOI comes
    # 15 pixels early, with the trailer bytes still present after it
    i = small.index(0x2C)
    small[i + 5 : i + 9] = (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
    with pytest.raises(ValueError, match="EOI|ended"):
        decode_gif(bytes(small))


@given(st.integers(min_value=1, max_value=256))
@settings(max_examples=30, deadline=None)
def test_minhash_coeffs_in_range_and_deterministic(n_perm):
    from data_pipeline2_spark.operators.dedup import MINHASH_P, minhash_coeffs

    a, b = minhash_coeffs(n_perm)
    assert len(a) == len(b) == n_perm
    assert all(1 <= x < MINHASH_P for x in a)
    assert all(0 <= x < MINHASH_P for x in b)
    a2, b2 = minhash_coeffs(n_perm)
    assert a == a2 and b == b2  # pure function of n_perm
    # prefixes agree: extending the family never rewrites earlier perms
    a3, b3 = minhash_coeffs(min(n_perm, 8))
    assert a[: len(a3)] == a3 and b[: len(b3)] == b3


@given(st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=20),
                min_size=1, max_size=30))
@settings(max_examples=20, deadline=None)
def test_minhash_family_python_replay(shingle_strs):
    """The engine's (a*x+b) mod P minima replayed in pure Python over
    md5-derived 60-bit fingerprints — pins the hash family contract the
    DuckDB oracle also embeds (any drift in shingle_hash64 or the
    coefficient table breaks this before it breaks the driver)."""
    import hashlib

    from data_pipeline2_spark.operators.dedup import MINHASH_P, minhash_coeffs

    a, b = minhash_coeffs(4)
    xs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P
        for s in set(shingle_strs)
    ]
    mins = [min((a[p] * x + b[p]) % MINHASH_P for x in xs) for p in range(4)]
    assert all(0 <= m < MINHASH_P for m in mins)
    # duplicate-invariance: feeding duplicates never changes the minimum
    xs_dup = xs + xs
    mins_dup = [min((a[p] * x + b[p]) % MINHASH_P for x in xs_dup) for p in range(4)]
    assert mins == mins_dup


def test_wav_encode_decode_roundtrip_property():
    """encode_wav_pcm is the exact inverse of decode_wav_pcm for
    8-bit mono: arbitrary sample arrays and rates survive bit-exact."""
    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import (
        decode_wav_pcm,
        encode_wav_pcm,
    )

    rng = np.random.RandomState(3)
    for n, rate in [(1, 8000), (17, 1000), (500, 333), (4096, 44100)]:
        samples = rng.randint(0, 256, size=n).astype(np.uint8)
        back, back_rate, channels = decode_wav_pcm(
            encode_wav_pcm(samples, rate)
        )
        assert back_rate == rate and channels == 1
        assert np.array_equal(back[:, 0], samples)


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=0,
             max_size=12, unique=True)
)
@settings(max_examples=50, deadline=None)
def test_array_pairs_matches_combinations(spark, xs):
    """functions.text.array_pairs == itertools.combinations on the
    sorted array (the map-side combinator behind market_basket /
    source_overlap). Uses the session-scoped conftest fixture
    (hypothesis allows session-scoped fixtures)."""
    import itertools

    from pyspark.sql import functions as F

    from data_pipeline2_spark.functions.text import array_pairs
    arr = sorted(xs)
    df = spark.createDataFrame([(arr,)], "a array<int>")
    got = [
        (r.pr.x, r.pr.y)
        for r in df.select(
            F.explode(array_pairs(F.col("a"), "x", "y")).alias("pr")
        ).collect()
    ]
    assert sorted(got) == sorted(itertools.combinations(arr, 2))


def test_merge_upsert_idempotent_and_commutes_with_reapply(spark):
    """Applying the same changeset twice equals applying it once, for a
    randomized batch of ops (the property upsert_sink's exactly-once
    claim rests on)."""
    import random

    rng = random.Random(11)
    base_rows = [(k, f"s{k}", k * 10) for k in range(30)]
    ops = []
    for i in range(40):
        k = rng.randrange(45)
        op = rng.choice(["U", "I", "D"])
        ops.append((k, op, i, f"v{i}", i))
    from data_pipeline2_spark.operators.joins import merge_upsert

    base = spark.createDataFrame(base_rows, "k long, s string, c long")
    changes = spark.createDataFrame(
        ops, "k long, op string, change_ts int, s string, c long"
    )
    once = merge_upsert(base, changes, ["k"])
    twice = merge_upsert(once.localCheckpoint(eager=True), changes, ["k"])
    a = sorted((r.k, r.s, r.c) for r in once.collect())
    b = sorted((r.k, r.s, r.c) for r in twice.collect())
    assert a == b


# ---------------------------------------------------------------- FastSS
# (round 6): the deletion-neighborhood candidate rule must be COMPLETE
# for edit distance <= 1 — the Spark/SQL join can only verify pairs the
# variant equi-join surfaces, so completeness of the pure rule is the
# whole recall guarantee.


def _del_neighborhood(w: str) -> set:
    return {w} | {w[:i] + w[i + 1:] for i in range(len(w))}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    st.text(alphabet="abcde", min_size=0, max_size=8),
    st.text(alphabet="abcde", min_size=0, max_size=8),
)
@settings(max_examples=500, deadline=None)
def test_fastss_deletion_neighborhood_complete_for_ed1(a, b):
    if _lev(a, b) <= 1:
        # candidate rule MUST fire (completeness — recall 1.0)
        assert _del_neighborhood(a) & _del_neighborhood(b)
    elif _lev(a, b) > 2:
        # and it never fires at distance > 2 (candidate precision bound:
        # two deletion-1 neighborhoods can only meet within ed 2)
        assert not (_del_neighborhood(a) & _del_neighborhood(b))


# ----------------------------------------------- round-7 kernel invariants


@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.sets(st.integers(min_value=0, max_value=63), min_size=0, max_size=7),
)
@settings(max_examples=300, deadline=None)
def test_ahash_banding_pigeonhole_complete_within_7_bits(h, flips):
    """The invariant image_ahash_pairs' banded default stands on: two
    64-bit hashes within Hamming distance 7 share at least one of the
    8 x 8-bit bands, extracted exactly as the operator extracts them
    (lo = bits 0..31, hi = bits 32..63, width-8 slices per half)."""
    other = h
    for b in flips:
        other ^= 1 << b
    lo_a, hi_a = h & 0xFFFFFFFF, h >> 32
    lo_b, hi_b = other & 0xFFFFFFFF, other >> 32

    def bands(lo, hi):
        out = []
        for k in range(8):
            bit0 = k * 8
            src = lo if bit0 < 32 else hi
            out.append((src >> (bit0 % 32)) & 0xFF)
        return out

    assert any(x == y for x, y in zip(bands(lo_a, hi_a), bands(lo_b, hi_b)))


@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40))
@settings(max_examples=300, deadline=None)
def test_cusum_closed_form_equals_recursion(xs):
    """events_cusum_drift's window form cum_t - min(cum_{<=t}) must
    equal the textbook recursion S_t = max(0, S_{t-1} + term_t) for
    ANY integer term sequence (terms here are nb*x - total, but the
    identity holds for arbitrary integers)."""
    total, nb = sum(xs), len(xs)
    terms = [nb * x - total for x in xs]
    s_rec, rec = 0, []
    for t in terms:
        s_rec = max(0, s_rec + t)
        rec.append(s_rec)
    # the operator's form: running min over the cums INCLUDING the
    # empty prefix (cum_0 = 0), because the recursion resets AT zero
    cum, mn, closed = 0, 0, []
    for t in terms:
        cum += t
        mn = min(mn, cum)
        closed.append(cum - mn)
    assert closed == rec


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**7),
            st.integers(min_value=1, max_value=10**7),
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_interval_bucket_banding_complete(spans):
    """join_interval_overlap's structural completeness: two overlapping
    half-open intervals always share a covered bucket, with buckets
    computed exactly as the operator computes them (floor of start, and
    floor of end-1 for the half-open end)."""
    B = 3600 * 10**6  # an hour in microseconds, the operator's grain

    def buckets(s, e):
        return set(range(s // B, (e - 1) // B + 1))

    iv = [(s, s + d) for s, d in spans]
    for i, (sa, ea) in enumerate(iv):
        for sb, eb in iv[i + 1:]:
            if sa < eb and sb < ea:  # overlap (half-open)
                assert buckets(sa, ea) & buckets(sb, eb)


@given(
    st.sets(st.integers(min_value=1, max_value=10**12), min_size=1, max_size=200),
    st.sets(st.integers(min_value=1, max_value=10**12), min_size=1, max_size=200),
    st.integers(min_value=2, max_value=16),
)
@settings(max_examples=300, deadline=None)
def test_kmv_merge_of_sketches_equals_sketch_of_union(a, b, k):
    """kmv_distinct_sketch's mergeability: the k smallest of the union
    of two k-smallest sketches equal the k smallest of the full union."""
    mink = lambda s: sorted(s)[:k]  # noqa: E731
    assert mink(set(mink(a)) | set(mink(b))) == mink(a | b)


# ---------------------------------------------- round-8: substring dedup


@given(
    st.lists(st.integers(min_value=0, max_value=5), min_size=60, max_size=120),
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=30),
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=30),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_diagonal_run_identity_recovers_planted_span(block, pre, post, n):
    """exact_substring_spans' core identity: window starts matching on
    a (doc_a, doc_b) diagonal form runs, and a run of length r is
    exactly one shared span of r + n - 1 tokens. Model check: plant a
    shared block behind disjoint prefixes (token value spaces are kept
    disjoint so the ONLY cross-doc matches come from the block) and
    assert the diagonal-run reconstruction reports the maximal span."""
    a = [f"p{t}" for t in pre] + [f"s{t}" for t in block]
    b = [f"q{t}" for t in post] + [f"s{t}" for t in block]

    def wins(toks):
        return {
            i: tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)
        }

    wa, wb = wins(a), wins(b)
    matches = [
        (pa, pb) for pa, ha in wa.items() for pb, hb in wb.items()
        if ha == hb
    ]
    # group by diagonal, merge consecutive runs
    spans = []
    by_diag = {}
    for pa, pb in sorted(matches):
        by_diag.setdefault(pa - pb, []).append(pa)
    for diag, pas in by_diag.items():
        run_start = prev = pas[0]
        for p in pas[1:] + [None]:
            if p is None or p != prev + 1:
                spans.append((run_start, run_start - diag,
                              prev - run_start + n))
                if p is not None:
                    run_start = p
            prev = p if p is not None else prev
    # the planted block must be recovered as ONE maximal span with
    # exact positions and length
    expect = (len(pre), len(post), len(block))
    assert expect in spans
    # and no reported span may exceed the true shared content
    for pa, pb, ln in spans:
        assert a[pa:pa + ln] == b[pb:pb + ln]


@given(
    st.lists(st.integers(min_value=0, max_value=3), min_size=50, max_size=90),
    st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=25),
    st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=25),
    st.integers(min_value=2, max_value=6),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_winnow_guarantee_property(block, pre, post, k, w):
    """The Schleimer et al. guarantee under the operator's exact
    tie-break (min over (hash, position) structs, leftmost wins): two
    docs sharing a contiguous block of >= k + w - 1 tokens must share
    a selected fingerprint — for EVERY (k, w) and even with repeated
    grams inside the block (equal hashes in a window resolve to the
    same relative gram on both sides because tie-break order matches
    content order)."""
    if len(block) < k + w - 1:
        block = block + [9] * (k + w - 1 - len(block))
    a = [f"p{t}" for t in pre] + [f"s{t}" for t in block]
    b = [f"q{t}" for t in post] + [f"s{t}" for t in block]

    def winnow(toks):
        grams = [tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        sel = set()
        for i in range(w - 1, len(grams)):
            best = min((grams[j], j) for j in range(i - w + 1, i + 1))
            sel.add(best[0])  # the FINGERPRINT (content), not position
        return sel

    assert winnow(a) & winnow(b), "guaranteed shared fingerprint missing"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=200),
            st.integers(min_value=1, max_value=60),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=300, deadline=None)
def test_interval_union_islands_model(spans):
    """exact_substring_dedup_stats' interval merge: the gaps-and-
    islands rewrite (new island when start exceeds every prior end,
    in (start, end) order) must count exactly the size of the set
    union of the closed integer intervals."""
    iv = sorted((s, s + d - 1) for s, d in spans)
    total, n_islands = 0, 0
    cur_s = cur_e = None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s + 1
            cur_s, cur_e = s, e
            n_islands += 1
        else:
            cur_e = max(cur_e, e)
    total += cur_e - cur_s + 1
    truth = set()
    for s, e in iv:
        truth.update(range(s, e + 1))
    assert total == len(truth)
    assert n_islands >= 1


# ---------------------------------------------------------------- round 9b


def _waterfill_closed_form(caps: list, budget: int) -> list:
    """Pure-python mirror of unimax_allocation's prefix-cap math (same
    formula the Spark plan and the DuckDB oracle compute)."""
    n = len(caps)
    order = sorted(range(n), key=lambda i: caps[i])
    alloc = [0] * n
    cum = 0
    k, sk = 0, 0
    for rank, idx in enumerate(order, start=1):
        cum += caps[idx]
        if caps[idx] * (n - rank + 1) + (cum - caps[idx]) <= budget:
            k, sk = rank, cum
    level = (budget - sk) // (n - k) if n > k else 0
    for rank, idx in enumerate(order, start=1):
        alloc[idx] = caps[idx] if rank <= k else level
    return alloc


@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
             max_size=40),
    st.integers(min_value=0, max_value=200_000),
)
@settings(max_examples=300, deadline=None)
def test_unimax_waterfill_invariants(caps, budget):
    alloc = _waterfill_closed_form(caps, budget)
    n = len(caps)
    # never over a source's cap, never over budget
    assert all(a <= c for a, c in zip(alloc, caps))
    assert sum(alloc) <= budget
    capped = [i for i in range(n) if alloc[i] == caps[i]]
    uncapped = [i for i in range(n) if alloc[i] < caps[i]]
    # uniformity: every uncapped source gets the SAME water level,
    # and the level dominates every capped source's cap
    if uncapped:
        levels = {alloc[i] for i in uncapped}
        assert len(levels) == 1
        level = levels.pop()
        assert all(caps[i] <= level for i in capped)
        # leftover strictly below the uncapped count (floor remainder)
        assert budget - sum(alloc) < len(uncapped)
    else:
        # all capped: the budget covered every cap
        assert sum(caps) <= budget
    # monotone: a larger cap never allocates less
    by_cap = sorted(range(n), key=lambda i: caps[i])
    for a, b in zip(by_cap, by_cap[1:]):
        assert alloc[a] <= alloc[b]


def _block_dedup_ref(rows, width=10):
    """Reference keep-first block dedup (dict-ordered scan)."""
    import hashlib

    first = {}
    out = {}
    for doc_id, text in rows:
        if text is None:
            continue
        ws = text.strip().lower().split() if text.strip() else []
        n_full = len(ws) // width
        if n_full == 0:
            continue
        stats = out.setdefault(
            doc_id, {"n": 0, "kept": 0, "checksum": 0}
        )
        for idx in range(n_full):
            blk = " ".join(ws[idx * width:(idx + 1) * width])
            h = int(hashlib.md5(blk.encode()).hexdigest()[:15], 16)
            stats["n"] += 1
            # scan order (doc_id asc, idx asc) IS pos order here, so
            # first-seen = min pos; the second pass resolves kept flags
            # once the global first map is complete
            first.setdefault(h, doc_id * 1_000_000 + idx)
    # finalize kept/checksum with the global first map
    for doc_id, text in rows:
        if text is None or doc_id not in out:
            continue
        ws = text.strip().lower().split() if text.strip() else []
        for idx in range(len(ws) // width):
            blk = " ".join(ws[idx * width:(idx + 1) * width])
            h = int(hashlib.md5(blk.encode()).hexdigest()[:15], 16)
            if first[h] == doc_id * 1_000_000 + idx:
                out[doc_id]["kept"] += 1
                out[doc_id]["checksum"] += (h % 2**32) * (idx + 1)
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]),  # 3-word alphabet ->
            min_size=0, max_size=35,              # block collisions certain
        ),
        min_size=1, max_size=6,
    )
)
@settings(max_examples=15, deadline=None)
def test_block_dedup_matches_reference(spark, token_lists):
    from data_pipeline2_spark.operators.quality import (
        block_dedup_keep_first,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    ref = _block_dedup_ref(rows)
    got = {
        r["doc_id"]: r.asDict()
        for r in block_dedup_keep_first(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert set(got) == set(ref)
    for d, s in ref.items():
        assert got[d]["n_blocks"] == s["n"]
        assert got[d]["kept_blocks"] == s["kept"]
        assert got[d]["kept_checksum"] == s["checksum"]


@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "b", "ccc"]), min_size=0, max_size=9),
        min_size=1, max_size=8,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=12, deadline=None)
def test_word_ngrams_zipwith_matches_python_reference(spark, token_lists, n):
    """The round-9b zip_with rewrite of word_ngrams (the O(len²)
    transform-capture fix) must reproduce the textbook sliding-window
    n-grams for every length regime: len < n → [], len == n → one."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.functions.text import word_ngrams

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    got = {
        r["doc_id"]: r["g"]
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", word_ngrams(F.col("text"), n).alias("g"))
        .collect()
    }
    for i, toks in enumerate(token_lists):
        ws = " ".join(toks).split()  # collapse blanks like tokens()
        want = (
            []
            if len(ws) < n
            else [" ".join(ws[j:j + n]) for j in range(len(ws) - n + 1)]
        )
        assert got[i] == want, (i, ws, got[i], want)


@settings(max_examples=60, deadline=None)
@given(
    word=st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                 min_size=1, max_size=30)
)
def test_wp_match_pieces_account_for_every_char(word):
    """Greedy WordPiece invariants for any lowercase word: with a vocab
    of all single chars (init + cont), the match NEVER UNKs, consumes
    every character exactly once (n_pieces <= len and each piece >= 1
    char implies sum of piece lengths == len — checked via the
    checksum replay), and is deterministic."""
    import hashlib

    from data_pipeline2_spark.operators.tokenizer import _wp_match

    chars = frozenset(word)
    n, unk, ck = _wp_match(word, chars, chars, 8, 30)
    assert not unk
    assert 1 <= n <= len(word)
    # replay the checksum independently via a greedy reference
    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**32
    pos, k, ref = 0, 0, 0
    while pos < len(word):
        for ln in range(min(8, len(word) - pos), 0, -1):
            body = word[pos:pos + ln]
            if body in chars:
                k += 1
                ref += h32(body if pos == 0 else "##" + body) * k
                pos += ln
                break
    # _wp_match reduces the word checksum mod 2^32 (ADVICE r9: keeps
    # the downstream position multiply inside int64)
    assert (n, ck) == (k, ref % 2**32)
    assert _wp_match(word, chars, chars, 8, 30) == (n, unk, ck)


@settings(max_examples=80, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                min_size=1, max_size=30),
        min_size=1, max_size=8, unique=True,
    )
)
def test_soundex_shape_and_determinism(spark, words):
    """Soundex always emits ^[A-Z][0-9]{3}$ for eligible words, never
    NULL, and sound-identity is reflexive under repetition of the same
    word (the blocking-key contract)."""
    import re

    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators.textanalysis import soundex

    df = spark.createDataFrame([(w,) for w in words], "w string")
    out = {
        r["w"]: r["sx"]
        for r in df.select("w", soundex(F.col("w")).alias("sx")).collect()
    }
    for w, sx in out.items():
        assert re.fullmatch(r"[A-Z][0-9]{3}", sx), (w, sx)
        assert sx[0] == w[0].upper()
