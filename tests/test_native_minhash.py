"""Differential pin: the C minhash kernel (native.minhash_text_batch) is
bit-identical to the hashlib loop it replaces inside
dedup.minhash_from_text — same seeded-md5 word-n-gram minima, same
emit/skip decisions — across hostile rows and random fuzz."""

import os
import random
from hashlib import md5

import pyarrow as pa
import pytest

from ch_pdf_parse_spark import native

pytestmark = pytest.mark.skipif(not native.available(),
                                reason="native kernels unavailable")


def _py_row(t, n=3, nh=16):
    """The exact hashlib formulation from minhash_from_text's fallback."""
    if t is None:
        return None
    bw = t.encode("utf-8").split(b" ")
    nsh = len(bw) - n + 1
    if nsh <= 0:
        return None
    seeds = [md5(f"{i}:".encode()) for i in range(nh)]
    mins = [1 << 62] * nh
    for k in range(nsh):
        sb = b" ".join(bw[k:k + n])
        for i, seed in enumerate(seeds):
            hh = seed.copy()
            hh.update(sb)
            v = int.from_bytes(hh.digest()[:8], "big") >> 4
            if v < mins[i]:
                mins[i] = v
    return mins


HOSTILE = [
    None, "", " ", "  ", "   ", "a", "a b", "a b c", "a  b  c",
    " lead", "trail ", "a b c d", "多 字 节 词", "🙂 🙃 😐 😑",
    "naïve café reçu", "\x00 \x01 \x02", "tab\tno split here x",
    "x" * 200 + " y z w",                       # >55-byte shingle (2-block md5)
    " ".join("w" for _ in range(400)),          # many shingles
    "a b c " * 50,                              # repeated trigrams
]


def _check(rows, n=3, nh=16):
    got = native.minhash_text_batch(pa.array(rows, pa.string()), n, nh)
    assert got is not None
    emit, mins = got
    for i, t in enumerate(rows):
        want = _py_row(t, n, nh)
        if want is None:
            assert not emit[i], (i, t)
        else:
            assert emit[i], (i, t)
            assert list(mins[i]) == want, (i, t)


def test_hostile_rows(monkeypatch):
    _check(HOSTILE)
    # all-empty column at ngram=1: every row is one empty shingle. Hand C a
    # NULL data buffer, as a producer that omits a zero-size buffer does —
    # the empty copy must not read through it
    addr = native._addr
    monkeypatch.setattr(native, "_addr", lambda buf, typ: addr(
        None if buf is not None and buf.size == 0 else buf, typ))
    _check(["", "", None, ""], n=1)


def test_fuzz_random_texts():
    rng = random.Random(int(os.environ.get("FUZZ_SEED", "20260822")))
    pool = ["foo", "bar", "北京", "", "x" * 120, "naïve", "\x00z", "🙂",
            "word" * 30, "-", "0"]
    rows = []
    for _ in range(500):
        k = rng.randint(0, 15)
        rows.append(" ".join(rng.choice(pool) for _ in range(k)) if k else
                    rng.choice([None, "", " "]))
    _check(rows)


def test_other_shapes():
    _check(["a b c d e", None, "q w e r t"], n=2, nh=5)
    _check(["a b c d e", "x y"], n=5, nh=1)


def test_fallback_on_nonstring():
    assert native.minhash_text_batch(pa.array([1, 2], pa.int64()), 3, 16) is None
    assert native.minhash_text_batch(
        pa.array([], pa.string()), 3, 16) is None  # zero rows -> Python path
