"""Position-list compression (SDM:184-199 parity).

The positional posting row carries `pos_blob` (each (term,doc)'s
sorted position list delta+varint-encoded independently, concatenated)
and `pos_offsets` (df+1 byte offsets — the columnar analogue of the
reference's 10-byte position meta slots, SDM:36, 187-193). The
persisted layout stores ONLY the blob; loads re-expose a decoded
column, and the phrase path partial-decodes candidate byte slices.
Both decodes are one JVM expression (``codec.varint_positions_sql``):
no plan that reads positions runs a Python UDF, except span-near's
own merge.
"""

import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from peterman_search_engine_spark.functions.codec import delta_varint_decode
from peterman_search_engine_spark.operators import query as Q
from peterman_search_engine_spark.operators.indexer import (
    build_index,
    encode_positions,
    merge_segments,
    with_positions,
)
from peterman_search_engine_spark.oracle.pyoracle import OracleIndex
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.plans.session import local_frame

PHRASES = [["fast", "table"], ["spark", "merge"], ["the"]]


def _assert_blob_matches_positions(rows):
    assert rows
    n_checked = 0
    for r in rows:
        offs = r["pos_offsets"]
        assert len(offs) == len(r["positions"]) + 1
        for i, pl in enumerate(r["positions"]):
            dec = delta_varint_decode(
                bytes(r["pos_blob"]), offs[i], offs[i + 1] - offs[i]
            )
            assert list(dec) == list(pl)
            n_checked += 1
    assert n_checked > 0


@pytest.fixture(scope="module")
def small_index(tiny_corpus):
    return build_index(
        tiny_corpus, stem=False, positional=True, docs_per_segment=40
    )


def test_pos_blob_roundtrips_every_build_row(small_index):
    _assert_blob_matches_positions(small_index.postings.collect())


def test_pos_blob_survives_merge(small_index):
    merged = merge_segments(small_index, factor=10**6)
    _assert_blob_matches_positions(merged.postings.collect())


def test_checkpoint_stores_only_compressed_positions(
    spark, tiny_corpus, tiny_corpus_rows, tmp_path
):
    d = str(tmp_path / "idx")
    shutil.rmtree(d, ignore_errors=True)
    build_index_checkpointed(
        tiny_corpus, d, stem=False, positional=True,
        docs_per_segment=40, segments_per_group=2,
    )
    ondisk = spark.read.parquet(d + "/postings")
    assert "positions" not in ondisk.columns
    assert {"pos_blob", "pos_offsets"} <= set(ondisk.columns)

    lidx = load_index(spark, d)
    # decoded column equals the in-memory build's raw positions
    mem = build_index(tiny_corpus, stem=False, positional=True, docs_per_segment=40)
    a = {
        (r["segment"], r["term"]): [list(x) for x in r["positions"]]
        for r in mem.postings.collect()
    }
    b = {
        (r["segment"], r["term"]): [list(x) for x in r["positions"]]
        for r in lidx.postings.select("segment", "term", "positions").collect()
    }
    assert a == b

    oracle = OracleIndex(tiny_corpus_rows, stem=False)
    for phrase in PHRASES:
        got = sorted(r["doc_id"] for r in Q.search_phrase(lidx, phrase).collect())
        assert got == sorted(oracle.search_phrase(phrase)), phrase


def test_phrase_partial_decode_matches_array_path(
    small_index, tiny_corpus_rows
):
    """The compressed partial-decode plan and the legacy array-column
    plan must agree with the pure-Python oracle."""
    import dataclasses

    oracle = OracleIndex(tiny_corpus_rows, stem=False)
    no_blob = dataclasses.replace(
        small_index,
        postings=small_index.postings.drop("pos_blob", "pos_offsets"),
    )
    no_raw = dataclasses.replace(
        small_index, postings=small_index.postings.drop("positions")
    )
    for phrase in PHRASES:
        exp = sorted(oracle.search_phrase(phrase))
        legacy = sorted(
            r["doc_id"] for r in Q.search_phrase(no_blob, phrase).collect()
        )
        partial = sorted(
            r["doc_id"] for r in Q.search_phrase(no_raw, phrase).collect()
        )
        assert legacy == exp, phrase
        assert partial == exp, phrase


def test_with_positions_decode(small_index):
    p2 = with_positions(small_index.postings.drop("positions"))
    a = {
        (r["segment"], r["term"]): [list(x) for x in r["positions"]]
        for r in small_index.postings.collect()
    }
    b = {
        (r["segment"], r["term"]): [list(x) for x in r["positions"]]
        for r in p2.collect()
    }
    assert a == b


# -- the JVM decoder ----------------------------------------------------------

# one doc's sorted positions: deltas from 1 to 5 varint bytes, or none
_POSITIONS = st.lists(
    st.integers(min_value=0, max_value=2**31 - 1), max_size=6
).map(sorted)
LONG = list(range(0, 9_000, 3))  # one 3,000-value list


@given(st.lists(st.lists(_POSITIONS, max_size=5), min_size=1, max_size=6))
@settings(max_examples=25, deadline=None)
def test_with_positions_equals_codec_decode_property(spark, rows):
    """``with_positions`` over encoded posting rows equals the numpy
    decoder applied to each doc's byte slice: empty lists and rows,
    multi-byte deltas up to 2^31-1, a long list, and a null blob."""
    rows = rows + [[LONG, [], [2**31 - 1]], []]
    table = []
    for i, lists in enumerate(rows):
        blob, offs = encode_positions(lists)
        table.append((i, blob, offs.tolist()))
    table.append((len(rows), None, [0, 1]))  # null blob
    got = {
        r["i"]: r["positions"]
        for r in with_positions(
            local_frame(spark, table, "i int, pos_blob binary, pos_offsets array<int>")
        ).collect()
    }
    for i, blob, offs in table:
        if blob is None:
            assert got[i] is None
            continue
        want = [
            delta_varint_decode(blob, offs[k], offs[k + 1] - offs[k]).tolist()
            for k in range(len(offs) - 1)
        ]
        assert [list(p) for p in got[i]] == want, i


# -- no Python worker on the position paths -----------------------------------

PY_EVAL = ("ArrowEvalPython", "BatchEvalPython")
PHRASE_QUERIES = [
    ["cat", "dog"],
    ["dog", "cat"],
    ["university", "california", "irvine"],
    ["stem", "stem"],  # a repeated token
    ["spark", "merge"],  # no match
]
PROXIMITY_QUERIES = [(["cat", "toy"], 2), (["dog", "cat"], 1), (["university", "irvine"], 1)]
SPAN_QUERIES = [(["cat", "toy"], 3), (["stem", "stem", "compute"], 2), (["irvine", "university"], 2)]


@pytest.fixture(scope="module")
def persisted(spark, tiny_corpus, tiny_corpus_rows, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pos_plans") / "idx")
    build_index_checkpointed(
        tiny_corpus, d, stem=False, positional=True,
        docs_per_segment=16, segments_per_group=2,
    )
    return load_index(spark, d), OracleIndex(tiny_corpus_rows, stem=False)


def _run(df):
    """(sorted doc_ids, final executed plan) of one collect."""
    ids = sorted(r["doc_id"] for r in df.collect())
    plan = df._jdf.queryExecution().executedPlan().toString()
    return ids, plan.split("== Initial Plan ==")[0]


def _proximity_oracle(oracle, terms, slop):
    toks = sorted(set(oracle.analyze(terms)))
    post = [oracle.postings.get(t, {}) for t in toks]
    docs = set.intersection(*[set(p) for p in post])
    return sorted(
        d for d in docs
        if any(
            all(any(a <= q <= a + slop for q in p[d]) for p in post)
            for a in {q for p in post for q in p[d]}
        )
    )


def _span_oracle(oracle, terms, gap):
    toks = oracle.analyze(terms)
    post = [oracle.postings.get(t, {}) for t in toks]
    out = []
    for d in set.intersection(*[set(p) for p in post]):
        reach = set(post[0][d])
        for p in post[1:]:
            reach = {q for q in p[d] if any(q - gap <= s < q for s in reach)}
        if reach:
            out.append(d)
    return sorted(out)


def test_phrase_and_proximity_plans_run_no_python(persisted):
    idx, oracle = persisted
    matched = 0
    for phrase in PHRASE_QUERIES:
        ids, plan = _run(Q.search_phrase(idx, phrase))
        assert not any(op in plan for op in PY_EVAL), plan
        assert ids == sorted(oracle.search_phrase(phrase)), phrase
        matched += bool(ids)
    for terms, slop in PROXIMITY_QUERIES:
        ids, plan = _run(Q.search_proximity(idx, terms, slop))
        assert not any(op in plan for op in PY_EVAL), plan
        assert ids == _proximity_oracle(oracle, terms, slop), terms
        matched += bool(ids)
    assert matched >= 6  # the checks are not vacuous


def test_positions_column_decodes_in_jvm(persisted, tiny_corpus):
    idx, _ = persisted
    df = idx.postings.select("segment", "term", "positions")
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(op in plan for op in PY_EVAL), plan
    mem = build_index(tiny_corpus, stem=False, positional=True, docs_per_segment=16)
    assert {
        (r["segment"], r["term"]): [list(x) for x in r["positions"]] for r in rows
    } == {
        (r["segment"], r["term"]): [list(x) for x in r["positions"]]
        for r in mem.postings.collect()
    }


def test_span_near_plan_has_one_python_udf(persisted):
    idx, oracle = persisted
    matched = 0
    for terms, gap in SPAN_QUERIES:
        ids, plan = _run(Q.search_span_near(idx, terms, gap))
        evals = [l for l in plan.splitlines() if "ArrowEvalPython" in l]
        assert len(evals) == 1 and "_span_ok" in evals[0], plan
        assert "BatchEvalPython" not in plan, plan
        assert ids == _span_oracle(oracle, terms, gap), terms
        matched += bool(ids)
    assert matched == len(SPAN_QUERIES)
