"""Analyzers — SURVEY.md §2.1 (A1-A7).

Reference semantics (cited into /root/reference/):

* ``PunctuationTokenizer`` (A1, ``analysis/PunctuationTokenizer.java:26-70``):
  split on whitespace and the punctuation set ``{, . ; ? !}``,
  lowercase, drop empty tokens and the fixed 127-word stop list (A2).
* ``PorterStemmer`` (A3, ``analysis/PorterStemmer.java:18-36``): classic
  Porter stemming of each token.
* ``ComposableAnalyzer`` (A4, ``analysis/ComposableAnalyzer.java:21-23``):
  tokenizer ∘ stemmer.
* ``NaiveAnalyzer`` (A5, ``analysis/NaiveAnalyzer.java:13-15``):
  lowercase whitespace split, no stop words.
* ``WordBreakTokenizer`` (A6/A7, ``analysis/WordBreakTokenizer.java:89-159``):
  DP segmentation of space-free text maximizing sum of log p(token),
  stop words removed after the split.

Two execution strategies:

* ``tokens_expr`` — pure Column expressions
  (split/lower/filter/transform). These run entirely JVM-side
  (columnar scan, InSet stop-word probes): zero Python in the hot
  path. Used whenever stemming is not required (stemming cannot be
  expressed in builtins).
* ``analyze_udf`` — ONE fused Arrow-vectorized pandas UDF
  (tokenize + stop-filter + Porter stem in a single pass over each
  Arrow batch). Per-row Python is never used (input_hint mandate).

Position semantics: token positions are assigned AFTER stop-word
removal — position = index in the filtered token list
(``InvertedIndexManager.java:173-184``). Both strategies return the
filtered list, so ``posexplode`` downstream yields exactly those
positions.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .stemmer import porter_stem
from .stopwords import STOP_WORDS

# Reference split set: whitespace + , . ; ? !  (PunctuationTokenizer.java:26-30).
# "Whitespace" is Java's ``\s`` — exactly `` \t\n\x0b\f\r`` — spelled
# out, because ``\s`` means three different sets in the three regex
# engines that read this class: Java (``tokens_expr``), Python ``re``
# (``_analyze_py``, Unicode-aware) and RE2 (the DuckDB oracle, no
# ``\x0b``). Every engine reads the explicit class the same way, and
# the byte tokenizer's delimiter table is derived from it.
TOKEN_SPLIT_RE = r"[ \t\n\x0b\x0c\r,.;?!]+"

def tokens_expr(text: Column | str, *, keep_stopwords: bool = False) -> Column:
    """A1/A2 as a pure Column expression: lowercase, split on the
    reference punctuation set, drop empties (and stop words unless
    ``keep_stopwords``). Runs entirely JVM-side."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(col), TOKEN_SPLIT_RE)
    toks = F.filter(toks, lambda t: t != F.lit(""))
    if not keep_stopwords:
        # isin over >10 literals becomes Catalyst InSet — an O(1) hash
        # probe per token. (array_contains over the 127-word stop array
        # is 127 string compares per token: ~100x more scan CPU.)
        toks = F.filter(toks, lambda t: ~t.isin(*sorted(STOP_WORDS)))
    return toks


def _analyze_py(text: str, stem: bool) -> list[str]:
    """Single-string analyzer shared by the Arrow UDF and the pure
    Python oracle — one definition so engine and oracle cannot drift."""
    out = []
    for tok in re.split(TOKEN_SPLIT_RE, text.lower()):
        if not tok or tok in STOP_WORDS:
            continue
        out.append(porter_stem(tok) if stem else tok)
    return out


def analyze_udf(*, stem: bool = True):
    """A4 ComposableAnalyzer as ONE fused Arrow-vectorized pandas UDF:
    text -> array<string> (tokenize + stop-filter + Porter stem in a
    single pass per Arrow batch)."""

    @F.pandas_udf(ArrayType(StringType()))
    def _analyze(batch_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batch_iter:
            yield s.map(lambda t: _analyze_py(t, stem) if t is not None else None)

    return _analyze


def analyze_query(terms: list[str], *, stem: bool = True) -> list[str]:
    """Driver-side analysis of a (tiny) query. The reference analyzes
    the space-joined keyword list, preserving duplicates — duplicates
    feed the query term frequency (``InvertedIndexManager.java:516,
    674-677``)."""
    return _analyze_py(" ".join(terms), stem)


# ---------------------------------------------------------------------------
# A6/A7 — DP word-break tokenizer (optional analyzers in the reference)
# ---------------------------------------------------------------------------

# Canonical implementations live in functions/wordbreak.py; re-exported
# here so the analyzer module presents the full A1-A7 surface without a
# second (drift-prone) copy of the DP.
from .wordbreak import word_break, word_break_udf  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Vectorized byte-level analyzer (the zero-object fast path)
# ---------------------------------------------------------------------------
# Exact A1/A4 semantics re-expressed over raw UTF-8 byte buffers: ASCII
# lowercase, split on the reference delimiter set, stop-word drop,
# positions assigned post-filter, optional Porter stem applied ONCE PER
# UNIQUE TERM (stemming is 1:1 per token so positions are unaffected;
# distinct tokens that stem together are merged by a second unique).
# No per-token Python object is ever created — the per-token state
# lives in flat numpy arrays, which is what lets the posting build
# scale with cores instead of thrashing the allocator and L3.
# Non-ASCII batches fall back to the per-string analyzer for exact
# unicode parity (`_analyze_py`).

# the bytes of TOKEN_SPLIT_RE's class (every one ASCII)
_DELIM_BYTES = bytes(c for c in range(128) if re.fullmatch(TOKEN_SPLIT_RE, chr(c)))
_DELIM_LUT = None
_STOP_VOID_BY_W: dict[int, "np.ndarray"] = {}
_LONG_CAP = 32


def _delim_lut():
    global _DELIM_LUT
    if _DELIM_LUT is None:
        import numpy as np

        lut = np.zeros(256, dtype=bool)
        for c in _DELIM_BYTES:
            lut[c] = True
        _DELIM_LUT = lut
    return _DELIM_LUT


def _stop_void(width: int):
    """Stop-word set as |V<width> void scalars for vectorized isin.

    Stop words LONGER than ``width`` are excluded: when every token in
    a batch is short (W = max token length < the stop word's length),
    no untruncated token of length <= W can equal the full stop word,
    and including its W-byte prefix would falsely drop a legitimate
    token equal to that prefix (e.g. a 3-char batch dropping 'wit'
    because 'with' truncates to it). When W == _LONG_CAP every stop
    word (max ~10 bytes) fits untruncated, so nothing is lost."""
    import numpy as np

    if width not in _STOP_VOID_BY_W:
        words = [w.encode() for w in sorted(STOP_WORDS)]
        words = [b for b in words if len(b) <= width]
        mat = np.zeros((max(len(words), 1), width), dtype=np.uint8)
        for i, b in enumerate(words):
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        if not words:  # no representable stop word: match-nothing row
            mat[0, 0] = 0xFF  # tokens are delimiter-free, never 0xFF-led
        _STOP_VOID_BY_W[width] = mat.view(f"|V{width}").ravel()
    return _STOP_VOID_BY_W[width]


def tokenize_block(data, offsets, *, stem: bool):
    """Tokenize a whole block of documents from raw UTF-8 buffers.

    ``data``: uint8 array, the concatenated document bytes.
    ``offsets``: int array of len n_docs+1 (Arrow string layout).

    Returns ``(tcodes, tinv, token_doc, positions, doc_lens)`` where
    ``tcodes`` is the sorted unique term list (Python strings, one per
    unique term only), ``tinv`` maps each kept token to its term code,
    ``token_doc`` is each kept token's 0-based document index,
    ``positions`` the post-stop-filter position within its document,
    and ``doc_lens`` the per-document filtered token count.
    Raises ValueError("non-ascii") if the block needs the unicode path.
    """
    import numpy as np

    n_docs = len(offsets) - 1
    total = int(offsets[-1])
    if total == 0:
        return (
            np.empty(0, dtype=object), np.empty(0, np.int64),
            np.empty(0, np.int64), np.empty(0, np.int32),
            np.zeros(n_docs, np.int64),
        )
    data = np.asarray(data[:total])
    if (data & 0x80).any():
        raise ValueError("non-ascii")
    doc_lens_b = np.diff(offsets)
    # insert one '\n' separator byte between docs so no token spans docs
    buf = np.full(total + n_docs, ord("\n"), dtype=np.uint8)
    dest = np.arange(total, dtype=np.int64) + np.repeat(
        np.arange(n_docs, dtype=np.int64), doc_lens_b
    )
    buf[dest] = data
    # ASCII lowercase
    up = (buf >= 65) & (buf <= 90)
    buf[up] += 32
    isdel = _delim_lut()[buf]
    nond = ~isdel
    prev = np.empty_like(isdel)
    prev[0] = True
    prev[1:] = isdel[:-1]
    starts = np.flatnonzero(nond & prev)
    nxt = np.empty_like(isdel)
    nxt[-1] = True
    nxt[:-1] = isdel[1:]
    ends = np.flatnonzero(nond & nxt)  # inclusive end, 1:1 with starts
    lens = ends - starts + 1
    if len(starts) == 0:
        return (
            np.empty(0, dtype=object), np.empty(0, np.int64),
            np.empty(0, np.int64), np.empty(0, np.int32),
            np.zeros(n_docs, np.int64),
        )
    # document of each token: byte -> doc map over the separated buffer
    bdoc = np.repeat(np.arange(n_docs, dtype=np.int64), doc_lens_b + 1)
    token_doc = bdoc[starts]
    # fixed-width token matrix (|V W| void unique = one memcmp sort).
    W = int(min(lens.max(), _LONG_CAP))
    idx = starts[:, None] + np.arange(W)
    np.minimum(idx, len(buf) - 1, out=idx)
    mat = buf[idx]
    mat[np.arange(W) >= lens[:, None]] = 0
    # tokens longer than W: disambiguate truncation collisions by
    # hashing the full run into the last 8 cells (rare; deterministic)
    longm = lens > W
    if longm.any():
        for i in np.flatnonzero(longm):
            tb = buf[starts[i]: ends[i] + 1].tobytes()
            h = np.frombuffer(
                __import__("hashlib").md5(tb).digest()[:8], dtype=np.uint8
            )
            mat[i, W - 8:] = h
    void = mat.view(f"|V{W}").ravel()
    ucodes, uinv = np.unique(void, return_inverse=True)
    # stop-word codes (stop words are all short, never truncated)
    stop_mask_u = np.isin(ucodes, _stop_void(W))
    kept = ~stop_mask_u[uinv]
    # post-filter positions within each doc
    ck = np.cumsum(kept)
    # first token index of each doc (tokens are in doc order)
    first = np.searchsorted(token_doc, np.arange(n_docs), side="left")
    base = np.where(first > 0, ck[first - 1], 0)
    positions = (ck - 1 - base[token_doc]).astype(np.int32)
    doc_lens = np.bincount(token_doc[kept], minlength=n_docs).astype(np.int64)
    # decode ONLY the unique terms to Python strings
    umat = ucodes.view(np.uint8).reshape(len(ucodes), W)
    terms = []
    for i in range(len(ucodes)):
        row = umat[i]
        nz = np.flatnonzero(row == 0)
        end = int(nz[0]) if len(nz) else W
        terms.append(row[:end].tobytes().decode("ascii", "replace"))
    terms = np.array(terms, dtype=object)
    # restore full text for truncated long tokens
    if longm.any():
        for i in np.flatnonzero(longm):
            terms[uinv[i]] = (
                buf[starts[i]: ends[i] + 1].tobytes().decode("ascii", "replace")
            )
    if stem:
        stemmed = np.array([porter_stem(t) for t in terms], dtype=object)
        scodes, sinv = np.unique(stemmed, return_inverse=True)
        tinv_all = sinv[uinv]
        tcodes = scodes
    else:
        tcodes, tinv_all = terms, uinv
    # drop stop tokens from the streams
    return tcodes, tinv_all[kept], token_doc[kept], positions[kept], doc_lens
