"""Golden tests for analyzers, stemmer, codec — carried from the
reference test suite (SURVEY.md §5)."""

import numpy as np
import pytest

from peterman_search_engine_spark.functions.analysis import (
    _analyze_py,
    analyze_query,
    word_break,
)
from peterman_search_engine_spark.functions.codec import (
    delta_varint_decode,
    delta_varint_encode,
    naive_decode,
    naive_encode,
)
from peterman_search_engine_spark.functions.stemmer import porter_stem
from peterman_search_engine_spark.functions.stopwords import STOP_WORDS


def test_stopwords_count():
    # StopWords.java:13-143 — exactly 127 words
    assert len(STOP_WORDS) == 127
    assert "the" in STOP_WORDS and "now" in STOP_WORDS and "i" in STOP_WORDS


def test_punctuation_tokenizer_golden():
    # PunctuationTokenizerTest.java:13-20
    assert _analyze_py("I am Happy Today!", stem=False) == ["happy", "today"]
    # split set is {whitespace , . ; ? !} — PT:26-30
    assert _analyze_py("word1,word2.word3;word4?word5!word6", stem=False) == [
        "word1", "word2", "word3", "word4", "word5", "word6",
    ]
    # empties dropped
    assert _analyze_py("  ,,  !! ", stem=False) == []
    # other punctuation is NOT split on (apostrophe survives)
    assert _analyze_py("everyone's door", stem=False) == ["everyone's", "door"]


# ASCII and Unicode characters on both sides of the "is it whitespace?"
# line: Java's \s holds \t \x0b \x0c but not \x1c-\x1f; Python's
# Unicode \s also holds \x1c-\x1f, \x85, \xa0, \u2003 and \u3000; RE2's
# \s lacks \x0b.
_SPLIT_PROBES = ["\t", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f",
                 "\x85", "\xa0", "\u2003", "\u3000"]


def test_split_class_agrees_across_engines(spark):
    """Every analyzer that splits text — the JVM expression
    (doc_stats), the Python analyzer (kernel fallback, OracleIndex), the
    DuckDB oracle SQL and, for ASCII, the byte tokenizer — counts the
    same tokens in "alpha<c>beta gamma"."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql import functions as F

    from peterman_search_engine_spark.functions.analysis import (
        tokenize_block,
        tokens_expr,
    )
    from peterman_search_engine_spark.oracle.sqlgen import DL_CTE, TOKS_CTE

    rows = [(i, f"alpha{c}beta gamma") for i, c in enumerate(_SPLIT_PROBES)]
    jvm = {
        r["doc_id"]: r["n"]
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", F.size(tokens_expr("text")).alias("n"))
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pa.table(
        {"doc_id": [d for d, _ in rows], "text": [t for _, t in rows]}
    ))
    sql = dict(
        con.execute(f"WITH {TOKS_CTE}, {DL_CTE} SELECT doc_id, len FROM dl").fetchall()
    )
    for d, text in rows:
        py = len(_analyze_py(text, stem=False))
        assert (jvm[d], sql[d]) == (py, py), repr(_SPLIT_PROBES[d])
        if text.isascii():
            arr = pa.array([text])
            offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[:2]
            dat = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            assert list(tokenize_block(dat, offs, stem=False)[4]) == [py]


def test_porter_stemmer_golden():
    # PorterStemmerTest.java:20-27 — "stemming is an important concept
    # in computer science" -> "stem is an import concept in comput scienc"
    sent = "stemming is an important concept in computer science".split()
    assert [porter_stem(w) for w in sent] == [
        "stem", "is", "an", "import", "concept", "in", "comput", "scienc",
    ]


def test_composable_analyzer():
    # ComposableAnalyzer = tokenize ∘ stop-filter ∘ stem (A4)
    assert _analyze_py("stemming is an important concept!", stem=True) == [
        "stem", "import", "concept",
    ]


def test_analyze_query_duplicates_preserved():
    # IIM:516, 674-677 — duplicates feed query tf
    assert analyze_query(["apple", "apple", "rotten"]) == ["appl", "appl", "rotten"]


def test_codec_golden_bytes():
    # Team3CompressorTest.java:24-101
    assert delta_varint_encode([1, 2, 3, 4, 5, 6]) == bytes.fromhex("010101010101")
    assert delta_varint_encode([128, 384, 896, 1920, 3968]) == bytes.fromhex(
        "81008200840088009000"
    )
    assert delta_varint_encode([2147483647]) == bytes.fromhex("87ffffff7f")


def test_codec_roundtrip():
    rng = np.random.RandomState(7)
    for n in [0, 1, 5, 1000]:
        arr = np.sort(rng.randint(0, 2**31, n))
        assert delta_varint_decode(delta_varint_encode(arr)).tolist() == arr.tolist()
    assert naive_decode(naive_encode([1, 2, 3])).tolist() == [1, 2, 3]


def test_codec_compression_effective():
    # reference contract: naive bytes > 1.5 × compressed bytes on
    # realistic postings (Team5IndexCompressionTest.java:76-246)
    ids = np.sort(np.random.RandomState(0).randint(0, 1_000_000, 50_000))
    naive = len(naive_encode(ids))
    comp = len(delta_varint_encode(ids))
    assert naive > 1.5 * comp


def test_word_break():
    # WordBreakTokenizer semantics (WBT:89-159): maximize Π p(token),
    # stop words removed after split, unbreakable raises
    freq = {"to": 100, "get": 60, "her": 40, "together": 30, "data": 10}
    assert word_break("together", freq) == ["together"]
    # "togetherdata" -> together|data beats to|get|her|data on log-prob
    assert word_break("togetherdata", freq) == ["together", "data"]
    with pytest.raises(ValueError):
        word_break("xyzzy", freq)
    assert word_break("", freq) == []


def test_multimodal_frame_sampling(spark):
    """One-to-many mapInPandas plumbing: payloads split into
    fixed-stride frames, order and bytes preserved."""
    from pyspark.sql import functions as F

    from peterman_search_engine_spark.operators.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(0, "a" * 100), (1, "b" * 10)], "doc_id long, text string"
    )
    frames = sample_frames(attach_fake_media(docs), every_n_bytes=32).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_idx"], bytes(r["frame"])))
    assert [i for i, _ in sorted(by_doc[0])] == [0, 1, 2, 3]
    assert b"".join(f for _, f in sorted(by_doc[0])) == b"a" * 100
    assert b"".join(f for _, f in sorted(by_doc[1])) == b"b" * 10


def test_reference_input_readers(spark, tmp_path):
    """B11 directory-of-numeric-files ingest and the id-graph.tsv
    reader (IcsSearchEngine.java:43-57, 67-82)."""
    from peterman_search_engine_spark.sources.adapters import (
        corpus_from_files_dir,
    )
    from peterman_search_engine_spark.sources.graph import read_id_graph

    d = tmp_path / "docs"
    d.mkdir()
    for i, t in [
        (0, "hello spark world"),
        (3, "merge the tables"),
        (10, "vector stream data"),
    ]:
        (d / str(i)).write_text(t)
    g = tmp_path / "id-graph.tsv"
    g.write_text("0 3\n3 10\n\n10 0\nbad\n0 10\n")

    docs = {
        r["doc_id"]: r["text"]
        for r in corpus_from_files_dir(spark, str(d)).collect()
    }
    assert docs == {
        0: "hello spark world",
        3: "merge the tables",
        10: "vector stream data",
    }
    edges = sorted(
        (r["src"], r["dst"])
        for r in read_id_graph(spark, str(g)).collect()
    )
    assert edges == [(0, 3), (0, 10), (3, 10), (10, 0)]
