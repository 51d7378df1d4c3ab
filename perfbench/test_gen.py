"""Checks of the load generator: ``python3 -m pytest perfbench/test_gen.py``."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _inputs(seed: int, d: str) -> list[bytes]:
    corpus = gen.make_corpus(seed, 40)
    batches = gen.upsert_batches(corpus, 3, 10, 0.3)
    gen.write_corpus(corpus.turns, os.path.join(d, "corpus.parquet"))
    for i, b in enumerate(batches):
        gen.write_transcripts(b, os.path.join(d, f"batch{i}.parquet"))
    queries = {
        "stream": gen.query_stream(seed, corpus.turns, 5),
        "log": gen.term_lists(seed, corpus.turns, 20, "batch"),
    }
    files = sorted(os.listdir(d))
    return [open(os.path.join(d, f), "rb").read() for f in files] + [
        json.dumps(queries, sort_keys=True).encode()
    ]


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _inputs(7, str(a)) == _inputs(7, str(b))


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    for x, y in zip(_inputs(7, str(a)), _inputs(8, str(b))):
        assert x != y


def test_queries_are_surface_words_that_the_analyzer_changes():
    from peterman_search_engine_spark.functions.analysis import analyze_query

    corpus = gen.make_corpus(3, 60)
    words = [w for rnd in gen.query_stream(3, corpus.turns, 20) for _, ts in rnd for w in ts]
    assert any(analyze_query([w]) != [w] for w in words)  # stems or case differ
    assert all(analyze_query([w]) for w in words)  # no query word is a stop word


def test_term_classes_cover_head_mid_and_rare():
    corpus = gen.make_corpus(5, 200)
    classes = gen.term_classes(corpus.turns)
    assert all(classes[c] for c in ("head", "mid", "rare"))


def test_upsert_batches_resend_known_conversations():
    corpus = gen.make_corpus(9, 50)
    known = {t.conv_id for t in corpus.turns}
    batches = gen.upsert_batches(corpus, 4, 10, 0.3)
    for b in batches:
        convs = {t.conv_id for t in b}
        assert len(convs) == 10
        assert len(convs & known) == 3
        known |= convs
