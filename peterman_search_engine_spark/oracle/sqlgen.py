"""ANSI-SQL (DuckDB-runnable) oracle equivalents of the engine's
operators, used by __spark_entry__.oracle_sql().

Every query here mirrors a Spark DataFrame plan exactly — same
analyzer (A1 tokenize-only: Porter stemming is exercised separately in
pytest because DuckDB's stemmer extension is unavailable offline),
same md5-derived portable hashes, same float handling (scores are
emitted as ROUND(x*1e6) BIGINT so value comparison is exact integer
equality; ranking/LIMIT is applied on the rounded value with doc_id
tiebreak on BOTH sides, making top-k selection deterministic and
engine-independent).
"""

from __future__ import annotations

from ..functions.analysis import TOKEN_SPLIT_RE
from ..functions.stopwords import STOP_WORDS
from ..functions.textstats import BPE_RE, FP_MOD, PUNCT_RE
from ..operators.similarity import NUM_PLANES

STOP_SQL = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))

# A1 tokenizer over the documents view: (doc_id, tok, pos) with
# positions assigned AFTER stop-word removal (IIM:173-184). The split
# class is the engine's own TOKEN_SPLIT_RE, which RE2 reads the same
# way Java and Python do.
# docs_where restricts the corpus (compacted-index oracles).


def make_toks_cte(
    docs_where: str | None = None, text_expr: str = "text"
) -> str:
    """``text_expr`` substitutes a SQL expression for the raw text
    column (the upsert oracle tokenizes the UPDATED text in place)."""
    w = f" WHERE {docs_where}" if docs_where else ""
    return f"""
raw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower({text_expr}), '{TOKEN_SPLIT_RE}')) AS tok,
         generate_subscripts(regexp_split_to_array(lower({text_expr}), '{TOKEN_SPLIT_RE}'), 1) AS ord
  FROM documents{w}
),
toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM raw
  WHERE tok <> '' AND tok NOT IN ({STOP_SQL})
)
"""


def make_dl_cte(docs_where: str | None = None) -> str:
    # doc lengths over ALL (retained) docs: zero-token docs => len 0
    w = f" WHERE {docs_where}" if docs_where else ""
    return f"""
dl AS (
  SELECT d.doc_id, count(t.tok) AS len
  FROM (SELECT * FROM documents{w}) d LEFT JOIN toks t USING (doc_id)
  GROUP BY d.doc_id
)
"""


TOKS_CTE = make_toks_cte()
DL_CTE = make_dl_cte()

MD5L = "CAST(CAST('0x' || substr(md5({x}), 1, 14) AS UBIGINT) AS BIGINT)"


def _md5l(x: str) -> str:
    return MD5L.format(x=x)


def sql_and(terms: list[str]) -> str:
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""WITH {TOKS_CTE}
SELECT doc_id FROM toks WHERE tok IN ({inlist})
GROUP BY doc_id HAVING count(DISTINCT tok) = {len(set(terms))}
ORDER BY doc_id"""


def sql_keyword(keyword: str) -> str:
    """Q1 searchQuery: analyze the keyword and AND the tokens — same
    SQL as sql_and over the keyword's tokens (IIM:302-310)."""
    return sql_and(keyword.split())


def sql_doc_iterator() -> str:
    """Q11 documentIterator: full corpus scan, text as the portable
    56-bit md5 hash so the compared values stay compact."""
    return f"""SELECT doc_id, {_md5l('text')} AS text_hash
FROM documents ORDER BY doc_id"""


def sql_full_scan(terms: list[str]) -> str:
    """Q13 FullScanSearcher: by definition equivalent to the AND
    search (docs whose token set contains all query tokens)."""
    return sql_and(terms)


def sql_or(terms: list[str]) -> str:
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE tok IN ({inlist}) ORDER BY doc_id"""


def sql_and_not(include: list[str], exclude: list[str]) -> str:
    """Boolean NOT: AND(include) minus OR(exclude). Mirrors
    operators.query.search_and_not."""
    inc = ", ".join(f"'{t}'" for t in sorted(set(include)))
    exc = ", ".join(f"'{t}'" for t in sorted(set(exclude)))
    return f"""WITH {TOKS_CTE}
SELECT doc_id FROM toks WHERE tok IN ({inc})
GROUP BY doc_id HAVING count(DISTINCT tok) = {len(set(include))}
EXCEPT
SELECT DISTINCT doc_id FROM toks WHERE tok IN ({exc})
ORDER BY doc_id"""


def sql_prefix(prefix: str) -> str:
    """Wildcard prefix* search. Mirrors operators.query.search_prefix
    (prefix lowercased, never stemmed)."""
    pfx = prefix.strip().lower().replace("'", "''")
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE tok LIKE '{pfx}%' ORDER BY doc_id"""


def sql_snippets(doc_terms: list[str], snip_terms: list[str], width: int) -> str:
    """Snippets for the docs matching AND(doc_terms): the token window
    [max(fp - width, 0), fp + width] around the first (minimum)
    position of any snip_term, space-joined. Mirrors
    operators.query.snippets over 0-based toks positions."""
    inc = ", ".join(f"'{t}'" for t in sorted(set(doc_terms)))
    st = ", ".join(f"'{t}'" for t in sorted(set(snip_terms)))
    return f"""WITH {TOKS_CTE},
hits AS (
  SELECT doc_id FROM toks WHERE tok IN ({inc})
  GROUP BY doc_id HAVING count(DISTINCT tok) = {len(set(doc_terms))}
),
fp AS (
  SELECT t.doc_id, min(t.pos) AS fp0
  FROM toks t JOIN hits USING (doc_id)
  WHERE t.tok IN ({st})
  GROUP BY t.doc_id
)
SELECT t.doc_id,
       string_agg(t.tok, ' ' ORDER BY t.pos) AS snippet
FROM toks t JOIN fp ON fp.doc_id = t.doc_id
WHERE t.pos BETWEEN greatest(fp.fp0 - {width}, 0) AND fp.fp0 + {width}
GROUP BY t.doc_id
ORDER BY t.doc_id"""


def sql_facets(or_terms: list[str], facet_col: str) -> str:
    """Facet counts over the OR(or_terms) doc set, bucketed by a
    documents metadata column. Mirrors operators.query.facet_counts."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(or_terms)))
    return f"""WITH {TOKS_CTE},
hits AS (SELECT DISTINCT doc_id FROM toks WHERE tok IN ({inlist}))
SELECT d.{facet_col} AS facet, count(*) AS n
FROM hits JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY facet"""


def sql_phrase(terms: list[str]) -> str:
    joins, conds = [], [f"t0.tok = '{terms[0]}'"]
    for j in range(1, len(terms)):
        joins.append(
            f"JOIN toks t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.pos = t0.pos + {j}"
        )
        conds.append(f"t{j}.tok = '{terms[j]}'")
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT t0.doc_id AS doc_id
FROM toks t0 {' '.join(joins)}
WHERE {' AND '.join(conds)}
ORDER BY doc_id"""


def sql_proximity(terms: list[str], slop: int) -> str:
    """Unordered WITHIN-slop proximity: a doc matches iff some window
    [a, a+slop] anchored at a query-term occurrence contains every
    distinct term. Mirrors operators.query.search_proximity."""
    uniq = sorted(set(terms))
    in_list = ", ".join(f"'{t}'" for t in uniq)
    exists = " AND ".join(
        f"EXISTS (SELECT 1 FROM toks x WHERE x.doc_id = a.doc_id"
        f" AND x.tok = '{t}' AND x.pos BETWEEN a.pos AND a.pos + {slop})"
        for t in uniq
    )
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT a.doc_id AS doc_id
FROM toks a
WHERE a.tok IN ({in_list}) AND {exists}
ORDER BY doc_id"""


def _qtf_values(terms: list[str]) -> str:
    qtf: dict[str, int] = {}
    for t in terms:
        qtf[t] = qtf.get(t, 0) + 1
    return ", ".join(f"('{t}', {float(n)})" for t, n in sorted(qtf.items()))


def sql_bm25(
    terms: list[str], k: int, k1: float = 1.2, b: float = 0.75,
    toks_cte: str | None = None,
    docs_where: str | None = None,
    result_where: str | None = None,
) -> str:
    """``docs_where`` restricts the corpus everywhere (stats AND
    results — a compacted index); ``result_where`` (over ``tf.doc_id``)
    filters only the scored docs while stats stay corpus-wide (a
    tombstoned index)."""
    tc = toks_cte if toks_cte is not None else make_toks_cte(docs_where)
    n_w = f" WHERE {docs_where}" if docs_where else ""
    r_w = f"  WHERE {result_where}\n" if result_where else ""
    return f"""WITH {tc}, {make_dl_cte(docs_where)},
q(term, qtf) AS (VALUES {_qtf_values(terms)}),
n AS (SELECT count(*) AS n, (SELECT avg(len) FROM dl) AS avglen FROM documents{n_w}),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / n.avglen))) AS score
  FROM tf JOIN q ON tf.tok = q.term
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id, n
{r_w}  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored ORDER BY score_e6 DESC, doc_id LIMIT {k}"""


def ensure_stemmed_fixture(sf_dir: str) -> str:
    """Materialize the Porter-STEMMED token table ``(doc_id, tok,
    pos)`` for ``sf_dir``'s documents as a parquet fixture, computed by
    the shared pure-Python analyzer (``_analyze_py(stem=True)``) with
    no Spark involvement — DuckDB has no offline stemmer, so its BM25
    oracle reads this table instead of tokenizing in SQL. Idempotent
    (regenerated only when the source parquet is newer)."""
    import os

    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"/tmp/pse_stemmed_tokens_{base}.parquet"
    src = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(src):
        return path  # driver env always has testdata; leave path as-is
    if os.path.exists(path) and os.path.getmtime(path) >= os.path.getmtime(src):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.analysis import _analyze_py

    t = pq.read_table(src, columns=["doc_id", "text"])
    out_doc: list[int] = []
    out_tok: list[str] = []
    out_pos: list[int] = []
    for d, tx in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        for p, tok in enumerate(_analyze_py(tx or "", True)):
            out_doc.append(int(d))
            out_tok.append(tok)
            out_pos.append(p)
    tbl = pa.table(
        {
            "doc_id": pa.array(out_doc, pa.int64()),
            "tok": pa.array(out_tok, pa.string()),
            "pos": pa.array(out_pos, pa.int32()),
        }
    )
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def sql_bm25_stemmed(terms: list[str], k: int, fixture_path: str) -> str:
    """BM25 oracle over the Porter-stemmed fixture table: query terms
    are stemmed Python-side (constants in the SQL), document tokens
    come from the fixture instead of SQL tokenization."""
    from ..functions.analysis import analyze_query

    stemmed = analyze_query(terms, stem=True)
    toks_cte = (
        f"toks AS (SELECT doc_id, tok, pos FROM read_parquet('{fixture_path}'))"
    )
    return sql_bm25(stemmed, k, toks_cte=toks_cte)


def sql_tfidf(terms: list[str], k: int) -> str:
    return f"""WITH {TOKS_CTE},
q(term, qtf) AS (VALUES {_qtf_values(terms)}),
n AS (SELECT count(*) AS n FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
parts AS (
  SELECT tf.doc_id,
         (tf.tf * log10(n.n / df.df)) * (q.qtf * log10(n.n / df.df)) AS dot,
         (tf.tf * log10(n.n / df.df)) * (tf.tf * log10(n.n / df.df)) AS len2
  FROM tf JOIN q ON tf.tok = q.term JOIN df ON df.tok = tf.tok, n
),
scored AS (
  SELECT doc_id,
         CASE WHEN sum(len2) > 0 THEN sum(dot) / sqrt(sum(len2)) ELSE 0.0 END AS score
  FROM parts GROUP BY doc_id
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored ORDER BY score_e6 DESC, doc_id LIMIT {k}"""


def sql_term_stats(limit: int) -> str:
    return f"""WITH {TOKS_CTE}
SELECT tok AS term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM toks GROUP BY tok
ORDER BY df DESC, term LIMIT {limit}"""


def sql_doc_stats() -> str:
    return f"""WITH {TOKS_CTE}, {DL_CTE}
SELECT doc_id, len AS doc_len FROM dl ORDER BY doc_id"""


def sql_postings(terms: list[str]) -> str:
    inlist = ", ".join(f"'{t}'" for t in sorted(terms))
    return f"""WITH {TOKS_CTE}
SELECT tok AS term, doc_id, count(*) AS tf, min(pos) AS first_pos
FROM toks WHERE tok IN ({inlist})
GROUP BY 1, 2 ORDER BY 1, 2"""


def sql_compressed_size(limit: int) -> str:
    """Varint byte size of each term's delta-encoded posting list AND
    of its per-(term,doc) delta-encoded position lists (the delta
    resets at every doc, mirroring the engine's pos_blob layout and
    the reference's per-position-list compression, SDM:184-199) —
    computed arithmetically (exact thresholds, no float log)."""
    return f"""WITH {TOKS_CTE},
posting AS (SELECT tok AS term, doc_id FROM toks GROUP BY 1, 2),
deltas AS (
  SELECT term,
         doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), 0) AS d
  FROM posting
),
bytes AS (
  SELECT term,
         CASE WHEN d < 128 THEN 1 WHEN d < 16384 THEN 2
              WHEN d < 2097152 THEN 3 WHEN d < 268435456 THEN 4
              ELSE 5 END AS nb
  FROM deltas
),
docb AS (
  SELECT term, CAST(sum(nb) AS BIGINT) AS blob_bytes,
         CAST(count(*) * 4 AS BIGINT) AS naive_bytes
  FROM bytes GROUP BY term
),
posdeltas AS (
  SELECT tok AS term,
         pos - coalesce(lag(pos) OVER (PARTITION BY tok, doc_id ORDER BY pos), 0) AS d
  FROM toks
),
posbytes AS (
  SELECT term,
         CASE WHEN d < 128 THEN 1 WHEN d < 16384 THEN 2
              WHEN d < 2097152 THEN 3 WHEN d < 268435456 THEN 4
              ELSE 5 END AS nb
  FROM posdeltas
),
posb AS (
  SELECT term, CAST(sum(nb) AS BIGINT) AS pos_blob_bytes,
         CAST(count(*) * 4 AS BIGINT) AS pos_naive_bytes
  FROM posbytes GROUP BY term
)
SELECT docb.term, blob_bytes, naive_bytes, pos_blob_bytes, pos_naive_bytes
FROM docb JOIN posb ON docb.term = posb.term
ORDER BY blob_bytes DESC, docb.term LIMIT {limit}"""


def sql_dedup_exact() -> str:
    return """SELECT md5(text) AS text_hash, count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 ORDER BY 1"""


SHINGLE_CTE = f"""
sh AS (
  SELECT DISTINCT a.doc_id,
         a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
)
"""


def sql_minhash(num_hashes: int = 4) -> str:
    mins = ", ".join(
        f"min({_md5l(chr(39) + str(k) + ':' + chr(39) + ' || shingle')}) AS mh_{k}"
        for k in range(num_hashes)
    )
    return f"""WITH {TOKS_CTE}, {SHINGLE_CTE}
SELECT doc_id, {mins} FROM sh GROUP BY doc_id ORDER BY doc_id"""


def sql_lsh_pairs(num_hashes: int = 4, rows_per_band: int = 1) -> str:
    """Banded LSH candidate pairs; band value = '|'-joined decimal
    casts of the band's minhash rows, matching the engine's
    concat_ws('|', cast(mh as string)) bucket key exactly."""
    sig_cols = ", ".join(
        f"min({_md5l(chr(39) + str(k) + ':' + chr(39) + ' || shingle')}) AS mh_{k}"
        for k in range(num_hashes)
    )
    nbands = num_hashes // rows_per_band

    def _val(b: int) -> str:
        return " || '|' || ".join(
            f"CAST(mh_{b * rows_per_band + j} AS VARCHAR)"
            for j in range(rows_per_band)
        )

    unpiv = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_val(b)} AS val FROM sig"
        for b in range(nbands)
    )
    return f"""WITH {TOKS_CTE}, {SHINGLE_CTE},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({unpiv})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b"""


def sql_dedup_clusters(num_hashes: int = 4) -> str:
    """Connected components of the LSH candidate-pair graph via
    transitive closure (WITH RECURSIVE) — exact same pair graph as
    sql_lsh_pairs, cluster_id = min reachable doc_id, singletons map
    to themselves. The engine computes this with the O(log^2 n)
    large-star/small-star iteration; min-over-reachable is the
    order-independent spec both must satisfy."""
    sig_cols = ", ".join(
        f"min({_md5l(chr(39) + str(k) + ':' + chr(39) + ' || shingle')}) AS mh_{k}"
        for k in range(num_hashes)
    )
    unpiv = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band, mh_{k} AS val FROM sig" for k in range(num_hashes)
    )
    return f"""WITH RECURSIVE {TOKS_CTE}, {SHINGLE_CTE},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({unpiv}),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
und AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach AS (
  SELECT doc_id AS u, doc_id AS v FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
)
SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id"""


def sql_ngram_jaccard(block_col: str) -> str:
    return f"""WITH {TOKS_CTE}, {SHINGLE_CTE},
shb AS (SELECT sh.doc_id, sh.shingle, d.{block_col} AS blk
        FROM sh JOIN documents d USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shb a JOIN shb b
    ON a.shingle = b.shingle AND a.blk = b.blk AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(ROUND(1000000.0 * i / (sa.sz + sb.sz - i)) AS BIGINT) AS jacc_e6
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE 1.0 * i / (sa.sz + sb.sz - i) > 0.0
ORDER BY doc_a, doc_b"""


def sql_simhash(bits: int = 16) -> str:
    return f"""WITH {TOKS_CTE},
h AS (SELECT doc_id, {_md5l('tok')} AS h FROM toks),
hb AS (SELECT doc_id, h, unnest(range({bits})) AS bit FROM h),
per_bit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hb GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit GROUP BY doc_id ORDER BY doc_id"""


EMB_DOT = """
embu AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
"""


def sql_ann_cosine(k: int, query_id: int = 0) -> str:
    return f"""WITH {EMB_DOT},
q AS (SELECT i, x AS qx FROM embu WHERE vec_id = {query_id}),
dots AS (
  SELECT e.vec_id, sum(e.x * q.qx) AS dot, sum(e.x * e.x) AS n2
  FROM embu e JOIN q USING (i)
  WHERE e.vec_id <> {query_id}
  GROUP BY e.vec_id
),
qn AS (SELECT sqrt(sum(qx * qx)) AS qnorm FROM q)
SELECT vec_id,
       CAST(ROUND(1000000 * dot / (sqrt(n2) * qn.qnorm)) AS BIGINT) AS cos_e6
FROM dots, qn
ORDER BY cos_e6 DESC, vec_id LIMIT {k}"""


def sql_ann_lsh(k: int, query_id: int = 0, num_planes: int = NUM_PLANES) -> str:
    return f"""WITH {EMB_DOT},
planes AS (
  SELECT CAST(p AS INTEGER) AS p, CAST(i AS INTEGER) AS i,
         CAST(((p * 37 + i * 11) % 5) - 2 AS DOUBLE) AS c
  FROM range(8) t(p), range(64) s(i)
),
dots AS (
  SELECT e.vec_id, pl.p, sum(e.x * pl.c) AS d
  FROM embu e JOIN planes pl ON pl.i = e.i
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN ROUND(d * 1000000) > 0
             THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = {query_id}),
q AS (SELECT i, x AS qx FROM embu WHERE vec_id = {query_id}),
cand AS (SELECT b.vec_id FROM buckets b, qb
         WHERE b.bucket = qb.bucket AND b.vec_id <> {query_id}),
cd AS (
  SELECT e.vec_id, sum(e.x * q.qx) AS dot, sum(e.x * e.x) AS n2
  FROM embu e JOIN q USING (i) JOIN cand USING (vec_id)
  GROUP BY e.vec_id
),
qn AS (SELECT sqrt(sum(qx * qx)) AS qnorm FROM q)
SELECT vec_id,
       CAST(ROUND(1000000 * dot / (sqrt(n2) * qn.qnorm)) AS BIGINT) AS cos_e6
FROM cd, qn ORDER BY cos_e6 DESC, vec_id LIMIT {k}"""


def sql_embedding_neardup(
    threshold_e6: int = 300_000, num_planes: int = 4
) -> str:
    """Embedding-cosine near-dup: LSH-bucketed candidate pairs with
    exact cosine >= threshold on the e6-rounded value."""
    return f"""WITH {EMB_DOT},
planes AS (
  SELECT CAST(p AS INTEGER) AS p, CAST(i AS INTEGER) AS i,
         CAST(((p * 37 + i * 11) % 5) - 2 AS DOUBLE) AS c
  FROM range({num_planes}) t(p), range(64) s(i)
),
dots AS (
  SELECT e.vec_id, pl.p, sum(e.x * pl.c) AS d
  FROM embu e JOIN planes pl ON pl.i = e.i
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN ROUND(d * 1000000) > 0
             THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM embu GROUP BY 1),
pd AS (
  SELECT p.vec_a, p.vec_b, sum(ea.x * eb.x) AS dot
  FROM pairs p
  JOIN embu ea ON ea.vec_id = p.vec_a
  JOIN embu eb ON eb.vec_id = p.vec_b AND eb.i = ea.i
  GROUP BY 1, 2
),
scored AS (
  SELECT pd.vec_a, pd.vec_b,
         CAST(ROUND(1000000 * dot / (na.n * nb.n)) AS BIGINT) AS cos_e6
  FROM pd
  JOIN norms na ON na.vec_id = pd.vec_a
  JOIN norms nb ON nb.vec_id = pd.vec_b
)
SELECT vec_a, vec_b, cos_e6 FROM scored
WHERE cos_e6 >= {threshold_e6}
ORDER BY cos_e6 DESC, vec_a, vec_b"""


def sql_sample_stratified(
    rates: dict[str, float], default_rate: float, salt: str
) -> str:
    """Deterministic hash sampling: same md5-derived bucket expression
    as the engine's curation.sample_hash, rate per stratum via CASE."""
    res = 1_000_000
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(r * res)}" for s, r in sorted(rates.items())
    )
    h = _md5l(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""SELECT doc_id, source FROM documents
WHERE ({h}) % {res} < (CASE {cases} ELSE {int(default_rate * res)} END)
ORDER BY doc_id"""


def sql_decontaminate(bench_mod: int, min_overlap: int) -> str:
    """n-gram decontamination oracle: benchmark = docs with
    doc_id % bench_mod == 0; overlap = distinct shared 3-token
    shingles with the benchmark's shingle-set union."""
    return f"""WITH {TOKS_CTE}, {SHINGLE_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE sh.doc_id % {bench_mod} = 0),
ov AS (
  SELECT sh.doc_id, count(*) AS n_overlap
  FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id
),
sz AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(sz.n_shingles, 0) AS n_shingles,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       COALESCE(ov.n_overlap, 0) >= {min_overlap} AS contaminated
FROM documents d
LEFT JOIN sz ON sz.doc_id = d.doc_id
LEFT JOIN ov ON ov.doc_id = d.doc_id
ORDER BY d.doc_id"""


def sql_token_counts() -> str:
    return f"""SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS BIGINT) AS bpe_tokens
FROM documents ORDER BY doc_id"""


_SW_RATIO = f"""(
  SELECT CASE WHEN count(*) > 0
         THEN 1.0 * sum(CASE WHEN w IN ({STOP_SQL}) THEN 1 ELSE 0 END) / count(*)
         ELSE 0.0 END
  FROM unnest(regexp_split_to_array(lower(trim(d.text)), '\\s+')) AS u(w)
)"""

_NTOK = """(CASE WHEN trim(d.text) = '' THEN 0
  ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END)"""

_PUNCT_RATIO = f"""(CASE WHEN length(d.text) > 0
  THEN 1.0 * len(regexp_extract_all(d.text, '{PUNCT_RE}')) / length(d.text)
  ELSE 0.0 END)"""


def sql_quality() -> str:
    return f"""SELECT d.doc_id,
  CAST(ROUND(1000000 * (
    0.4 * least({_NTOK} / 40.0, 1.0)
    + 0.4 * (1.0 - abs({_SW_RATIO} - 0.4))
    + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0))
  )) AS BIGINT) AS quality_e6
FROM documents d ORDER BY d.doc_id"""


def sql_lang_id() -> str:
    bigrams = ["the ", " of ", " and ", " is ", " a "]
    hits = " + ".join(
        f"(CASE WHEN contains(lower(d.text), '{b}') THEN 1 ELSE 0 END)" for b in bigrams
    )
    return f"""SELECT d.doc_id,
  CASE WHEN {_SW_RATIO} >= 0.15 OR ({hits}) >= 2
       THEN 'en' ELSE 'other' END AS predicted_lang
FROM documents d ORDER BY d.doc_id"""


def sql_fingerprint() -> str:
    return f"""WITH {TOKS_CTE}
SELECT doc_id,
       CAST(sum((pos + 1) * ({_md5l('tok')} % {FP_MOD})) % {FP_MOD} AS BIGINT) AS fp
FROM toks GROUP BY doc_id ORDER BY doc_id"""


# -- round-3 query/analysis operators -----------------------------------------

def sql_fuzzy(term: str, max_dist: int = 1) -> str:
    """Mirrors operators.query.search_fuzzy: docs containing any
    dictionary term within Levenshtein distance of the lowercased
    (unstemmed) query term."""
    q = term.strip().lower().replace("'", "''")
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT doc_id FROM toks
WHERE levenshtein(tok, '{q}') <= {max_dist}
ORDER BY doc_id"""


def sql_wildcard(pattern: str) -> str:
    """Mirrors operators.query.search_wildcard (* -> any run)."""
    pat = pattern.strip().lower().replace("'", "''").replace("*", "%")
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE tok LIKE '{pat}'
ORDER BY doc_id"""


def sql_suggest(prefix: str, k: int) -> str:
    """Mirrors operators.query.suggest_terms: top-k dictionary terms
    by (df desc, term asc) under a prefix."""
    pfx = prefix.strip().lower().replace("'", "''")
    return f"""WITH {TOKS_CTE},
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
SELECT tok AS term, df FROM df WHERE tok LIKE '{pfx}%'
ORDER BY df DESC, term LIMIT {k}"""


def sql_bm25f(
    terms: list[str], k: int, *, head_len: int, w_head: float, w_body: float,
    k1: float = 1.2, b: float = 0.75,
) -> str:
    """Mirrors operators.ranking.bm25f_scores: weighted-field BM25
    with head = analyzed positions < head_len. Weighted tf counts each
    head occurrence w_head and body occurrence w_body; the length
    normalizer uses the weighted doc length and its corpus mean; idf/df
    are standard document-level stats."""
    return f"""WITH {TOKS_CTE}, {DL_CTE},
q(term, qtf) AS (VALUES {_qtf_values(terms)}),
n AS (SELECT count(*) AS n FROM documents),
wdl AS (
  SELECT doc_id,
         {w_head} * least(len, {head_len})
         + {w_body} * greatest(len - {head_len}, 0) AS wdl
  FROM dl
),
aw AS (SELECT avg(wdl) AS avgwdl FROM wdl),
tf AS (
  SELECT doc_id, tok,
         sum(CASE WHEN pos < {head_len} THEN {w_head} ELSE {w_body} END) AS wtf
  FROM toks WHERE tok IN (SELECT term FROM q)
  GROUP BY 1, 2
),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
             * tf.wtf * ({k1} + 1.0)
             / (tf.wtf + {k1} * (1.0 - {b} + {b} * wdl.wdl / aw.avgwdl))) AS score
  FROM tf JOIN q ON tf.tok = q.term
          JOIN df ON df.tok = tf.tok
          JOIN wdl ON wdl.doc_id = tf.doc_id, n, aw
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored ORDER BY score_e6 DESC, doc_id LIMIT {k}"""


def sql_grouped(
    terms: list[str], group_col: str, k: int,
    k1: float = 1.2, b: float = 0.75,
) -> str:
    """Mirrors operators.ranking.grouped_topk: BM25-score member docs,
    rank groups by sum of member scores (count carried)."""
    return f"""WITH {TOKS_CTE}, {DL_CTE},
q(term, qtf) AS (VALUES {_qtf_values(terms)}),
n AS (SELECT count(*) AS n, (SELECT avg(len) FROM dl) AS avglen FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / n.avglen))) AS score
  FROM tf JOIN q ON tf.tok = q.term
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id, n
  GROUP BY tf.doc_id
),
grouped AS (
  SELECT d.{group_col} AS grp, count(*) AS n_docs, sum(s.score) AS score
  FROM scored s JOIN documents d USING (doc_id)
  GROUP BY 1
)
SELECT grp, n_docs, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM grouped ORDER BY score_e6 DESC, grp LIMIT {k}"""


def sql_more_like_this(
    doc_id: int, max_terms: int, k: int, k1: float = 1.2, b: float = 0.75,
) -> str:
    """Mirrors operators.ranking.more_like_this: the example doc's
    top-m terms by e6-rounded tf*idf (tie-break term asc), BM25 with
    qtf=1 per selected term, example excluded."""
    return f"""WITH {TOKS_CTE}, {DL_CTE},
n AS (SELECT count(*) AS n, (SELECT avg(len) FROM dl) AS avglen FROM documents),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
dtf AS (SELECT tok, count(*) AS tf FROM toks WHERE doc_id = {doc_id} GROUP BY 1),
sel AS (
  SELECT dtf.tok FROM dtf JOIN df ON df.tok = dtf.tok, n
  ORDER BY CAST(ROUND(dtf.tf * ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
                      * 1000000) AS BIGINT) DESC, dtf.tok
  LIMIT {max_terms}
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / n.avglen))) AS score
  FROM tf JOIN sel ON tf.tok = sel.tok
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id, n
  WHERE tf.doc_id <> {doc_id}
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored ORDER BY score_e6 DESC, doc_id LIMIT {k}"""


def sql_bigram_pmi(min_count: int, k: int) -> str:
    """Mirrors operators.collocations.bigram_pmi: adjacent analyzed
    bigrams, pmi = ln((n/T2) / ((c1/T1)(c2/T1))), n >= min_count."""
    return f"""WITH {TOKS_CTE},
pairs AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
uni AS (SELECT tok AS w, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM toks) AS t1,
               (SELECT count(*) FROM pairs) AS t2),
big AS (
  SELECT w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2
  HAVING count(*) >= {min_count}
),
scored AS (
  SELECT w1, w2, n,
         ln((n / (1.0 * tot.t2))
            / ((u1.c / (1.0 * tot.t1)) * (u2.c / (1.0 * tot.t1)))) AS pmi
  FROM big JOIN uni u1 ON u1.w = big.w1
           JOIN uni u2 ON u2.w = big.w2, tot
)
SELECT w1, w2, n, CAST(ROUND(pmi * 1000000) AS BIGINT) AS pmi_e6
FROM scored ORDER BY pmi_e6 DESC, w1, w2 LIMIT {k}"""


def sql_redact(email_re: str, phone_re: str) -> str:
    """Mirrors functions.textstats.redact_pii over doc_id-augmented
    text (a deterministic synthetic email+phone suffix, so redaction
    is exercised on every row even in a contact-free corpus)."""
    return f"""WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com call 555-867-5309' AS t
  FROM documents
),
red AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(t, '{email_re}', '<EMAIL>', 'g'),
                        '{phone_re}', '<PHONE>', 'g') AS t
  FROM aug
)
SELECT doc_id, {_md5l('t')} AS red_hash FROM red ORDER BY doc_id"""


def sql_multimodal() -> str:
    return """SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 64 + octet_length(encode(text)) % 512
       ELSE octet_length(encode(text)) % 48000 END AS INTEGER) AS fake_width,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 64 + (octet_length(encode(text)) * 7) % 512
       ELSE 1 END AS INTEGER) AS fake_height
FROM documents ORDER BY doc_id"""


def sql_events_window() -> str:
    return """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
  event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(ROUND(sum(value) * 1000000) AS BIGINT) AS sum_value_e6
FROM events GROUP BY 1, 2 ORDER BY 1, 2"""


def _pagerank_ctes(iterations: int, damping: float) -> str:
    n = "(SELECT count(*) FROM documents)"
    ctes = [
        f"""nodes0 AS (SELECT doc_id AS id FROM documents),
e0 AS (
  SELECT id AS src, (id * 7 + 1) % {n} AS dst FROM nodes0
  UNION ALL SELECT id, (id * 13 + 3) % {n} FROM nodes0
  UNION ALL SELECT id, 0 FROM nodes0 WHERE id % 5 = 0
),
edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
allnodes AS (SELECT DISTINCT node FROM
  (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 AS pr FROM allnodes)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT n.node,
         {1 - damping} + {damping} * coalesce(sum(p.pr / o.od), 0.0) AS pr
  FROM allnodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN pr{i - 1} p ON p.node = e.src
  LEFT JOIN outdeg o ON o.src = e.src
  GROUP BY n.node)"""
        )
    return ",\n".join(ctes)


def sql_combined_rank(
    terms: list[str], k: int, iterations: int, weight: float,
    damping: float = 0.85,
) -> str:
    """Q16 combined ranking (IcsSearchEngine.java:138-164): TF-IDF
    over ALL matches + weight × PageRank, top-k on the rounded value."""
    return f"""WITH {TOKS_CTE},
q(term, qtf) AS (VALUES {_qtf_values(terms)}),
n AS (SELECT count(*) AS n FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dfx AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
parts AS (
  SELECT tf.doc_id,
         (tf.tf * log10(n.n / dfx.df)) * (q.qtf * log10(n.n / dfx.df)) AS dot,
         (tf.tf * log10(n.n / dfx.df)) * (tf.tf * log10(n.n / dfx.df)) AS len2
  FROM tf JOIN q ON tf.tok = q.term JOIN dfx ON dfx.tok = tf.tok, n
),
scored AS (
  SELECT doc_id,
         CASE WHEN sum(len2) > 0 THEN sum(dot) / sqrt(sum(len2)) ELSE 0.0 END AS score
  FROM parts GROUP BY doc_id
),
{_pagerank_ctes(iterations, damping)},
comb AS (
  SELECT s.doc_id,
         s.score + {weight} * coalesce(p.pr, 0.0) AS score
  FROM scored s LEFT JOIN pr{iterations} p ON p.node = s.doc_id
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM comb ORDER BY score_e6 DESC, doc_id LIMIT {k}"""


def sql_pagerank(iterations: int = 10, damping: float = 0.85) -> str:
    return (
        "WITH "
        + _pagerank_ctes(iterations, damping)
        + f"""
SELECT node, CAST(ROUND(pr * 1000000) AS BIGINT) AS pr_e6
FROM pr{iterations} ORDER BY node"""
    )


def sql_ann_ivf(
    k: int, n_cells: int = 16, n_probe: int = 2, query_id: int = 0
) -> str:
    """IVF ANN: deterministic codebook (centroid c = vector with id c),
    cell = argmax e6-rounded cosine (ties to lowest cid), probe the
    n_probe cells closest to the query, exact cosine top-k within."""
    return f"""WITH {EMB_DOT},
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM embu GROUP BY 1),
cents AS (SELECT vec_id AS cid, i, x FROM embu WHERE vec_id < {n_cells}),
asg AS (
  SELECT e.vec_id, c.cid,
         CAST(ROUND(1000000 * sum(e.x * c.x) / (nv.n * nc.n)) AS BIGINT) AS cos_e6
  FROM embu e
  JOIN cents c ON c.i = e.i
  JOIN norms nv ON nv.vec_id = e.vec_id
  JOIN norms nc ON nc.vec_id = c.cid
  GROUP BY 1, 2, nv.n, nc.n
),
cells AS (
  SELECT vec_id, cid AS cell
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_e6 DESC, cid ASC) AS rn
        FROM asg) t
  WHERE rn = 1
),
probe AS (
  SELECT cid FROM asg WHERE vec_id = {query_id}
  ORDER BY cos_e6 DESC, cid ASC LIMIT {n_probe}
),
q AS (SELECT i, x AS qx FROM embu WHERE vec_id = {query_id}),
qn AS (SELECT sqrt(sum(qx * qx)) AS qnorm FROM q),
cand AS (
  SELECT c.vec_id FROM cells c JOIN probe p ON c.cell = p.cid
  WHERE c.vec_id <> {query_id}
),
dots AS (
  SELECT e.vec_id, sum(e.x * q.qx) AS dot
  FROM embu e JOIN q USING (i) JOIN cand USING (vec_id)
  GROUP BY e.vec_id
)
SELECT d.vec_id,
       CAST(ROUND(1000000 * d.dot / (nv.n * qn.qnorm)) AS BIGINT) AS cos_e6
FROM dots d JOIN norms nv ON nv.vec_id = d.vec_id, qn
ORDER BY cos_e6 DESC, d.vec_id LIMIT {k}"""


def sql_multimodal_frames(every_n_bytes: int = 64) -> str:
    """Frame-sampling accounting: frames are fixed-stride byte slices
    of the UTF-8 payload, so per doc n_frames = ceil(bytes/stride) and
    the frame bytes sum back to the payload length."""
    return f"""SELECT doc_id,
  CAST(CEIL(strlen(text) / {float(every_n_bytes)}) AS BIGINT) AS n_frames,
  CAST(strlen(text) AS BIGINT) AS total_bytes
FROM documents WHERE strlen(text) > 0 ORDER BY doc_id"""


def sql_boolean(query: str) -> str:
    """Mirrors operators.boolparser.search_boolean: the SAME parse of
    the query string, rendered as INTERSECT/UNION/EXCEPT set algebra
    over the shared toks CTE."""
    from ..operators.boolparser import boolean_oracle_sql

    return boolean_oracle_sql(query, TOKS_CTE)


def sql_batch_bm25(
    queries: dict[int, list[str]], k: int, k1: float = 1.2, b: float = 0.75,
) -> str:
    """Mirrors operators.batch.batch_bm25_topk(rank_e6=True): a whole
    query log scored in one pass, per-query top-k on the e6-rounded
    score with doc_id tiebreak."""
    vals = []
    for qid, terms in sorted(queries.items()):
        qtf: dict[str, int] = {}
        for t in terms:
            qtf[t] = qtf.get(t, 0) + 1
        vals += [f"({int(qid)}, '{t}', {float(n)})" for t, n in sorted(qtf.items())]
    return f"""WITH {TOKS_CTE}, {DL_CTE},
q(qid, term, qtf) AS (VALUES {', '.join(vals)}),
n AS (SELECT count(*) AS n, (SELECT avg(len) FROM dl) AS avglen FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(q.qtf * ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / n.avglen))) AS score
  FROM tf JOIN q ON tf.tok = q.term
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id, n
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY CAST(ROUND(score * 1000000) AS BIGINT) DESC, doc_id
         ) AS rn
  FROM scored
)
SELECT qid, doc_id, score_e6 FROM ranked WHERE rn <= {k}
ORDER BY qid, score_e6 DESC, doc_id"""


def sql_sessionize(gap_minutes: int) -> str:
    """Mirrors streaming.sessionize.sessionize_events: gap-timeout
    sessions as the standard gaps-and-islands rewrite over the same
    epoch-microsecond integers the stateful operator folds."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events
),
m AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                   > {gap_us} THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT user_id, ts_us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM m
)
SELECT user_id, min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us, count(*) AS n_events
FROM g GROUP BY user_id, grp
ORDER BY user_id, session_start_us"""


def sql_lm_dirichlet(terms: list[str], k: int, mu: float = 1000.0) -> str:
    """LM-Dirichlet oracle in the SAME shuffle-free decomposition as
    ranking.lm_dirichlet_scores (matched-postings sum + closed form);
    op order inside every float expression mirrors the Spark/Python
    side so doubles agree bit-for-bit before the e6 round."""
    return f"""WITH {TOKS_CTE}, {DL_CTE},
q(term, qtf) AS (VALUES {_qtf_values(terms)}),
c AS (SELECT count(*) AS total FROM toks),
cfs AS (SELECT tok, count(*) AS cf FROM toks GROUP BY 1),
qs AS (SELECT q.term, q.qtf, cfs.cf FROM q JOIN cfs ON cfs.tok = q.term),
kq AS (
  SELECT sum(qtf * ln({mu} * cf / c.total)) AS k_const,
         sum(qtf) AS q_total
  FROM qs, c
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
m AS (
  SELECT tf.doc_id,
         sum(qs.qtf * ln(1.0 + tf.tf / ({mu} * (qs.cf * 1.0 / c.total)))) AS msum
  FROM tf JOIN qs ON tf.tok = qs.term, c
  GROUP BY tf.doc_id
)
SELECT m.doc_id,
       CAST(ROUND((msum + kq.k_const - kq.q_total * ln(dl.len + {mu})) * 1000000)
            AS BIGINT) AS score_e6
FROM m JOIN dl USING (doc_id), kq
ORDER BY score_e6 DESC, doc_id LIMIT {k}"""


def sql_hybrid_rrf(
    terms: list[str], k: int, query_id: int = 0, n_each: int = 50,
    rrf_k: int = 60,
) -> str:
    """Reciprocal-rank fusion of the (already driver-verified) BM25 and
    cosine oracles: ranks assigned by row_number over the rounded
    component scores with id tiebreak — exact integer arithmetic end to
    end, so the fusion inherits each component's determinism."""
    lex_inner = sql_bm25(terms, n_each)
    vec_inner = sql_ann_cosine(n_each, query_id)
    return f"""WITH lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS r
  FROM ({lex_inner})
),
vec AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos_e6 DESC, vec_id) AS r
  FROM ({vec_inner})
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       CAST(ROUND((COALESCE(1.0 / ({rrf_k} + l.r), 0.0)
                 + COALESCE(1.0 / ({rrf_k} + v.r), 0.0)) * 1000000)
            AS BIGINT) AS rrf_e6
FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
ORDER BY rrf_e6 DESC, doc_id LIMIT {k}"""


def sql_regex(pattern: str, k: int) -> str:
    """Whole-term regex over the dictionary (query.search_regex):
    per-doc matched-term count + total tf."""
    return f"""WITH {TOKS_CTE},
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE regexp_matches(tok, '^(?:{pattern})$')
  GROUP BY 1, 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(tf) AS BIGINT) AS tf_sum
FROM tf GROUP BY doc_id
ORDER BY tf_sum DESC, n_terms DESC, doc_id LIMIT {k}"""


def sql_repetition() -> str:
    """Gopher-style duplicate word / adjacent-bigram fractions
    (textstats.dup_word_fraction / dup_bigram_fraction): whitespace
    surface words of lower(text), empties removed, adjacency over the
    FILTERED word sequence."""
    return r"""WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(lower(text), '\s+'), 1) AS ord
  FROM documents
),
wf AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
  FROM w WHERE tok <> ''
),
ws AS (SELECT doc_id, count(*) AS n, count(DISTINCT tok) AS nd FROM wf GROUP BY 1),
bg AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS big, a.rn
  FROM wf a JOIN wf b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
),
bs AS (SELECT doc_id, count(*) AS n, count(DISTINCT big) AS nd FROM bg GROUP BY 1)
SELECT d.doc_id,
       CAST(ROUND(COALESCE((1.0 - ws.nd * 1.0 / ws.n), 0.0) * 1000000) AS BIGINT)
         AS dup_word_e6,
       CAST(ROUND(COALESCE((1.0 - bs.nd * 1.0 / bs.n), 0.0) * 1000000) AS BIGINT)
         AS dup_bigram_e6
FROM documents d
LEFT JOIN ws ON ws.doc_id = d.doc_id
LEFT JOIN bs ON bs.doc_id = d.doc_id
ORDER BY d.doc_id"""


def sql_curation_pipeline(
    rates: dict[str, float], default_rate: float, salt: str,
    quality_min_e6: int, bench_mod: int, min_overlap: int,
) -> str:
    """The full curation chain (curation.curation_pipeline): exact
    dedup (min doc_id per md5(text)) -> quality floor on the ROUNDED
    e6 score -> shingle decontamination -> deterministic stratified
    sample. Every stage reuses the already-driver-verified fragment of
    its standalone oracle."""
    res = 1_000_000
    cases = " ".join(
        f"WHEN d.source = '{s}' THEN {int(r * res)}"
        for s, r in sorted(rates.items())
    )
    h = _md5l(f"'{salt}:' || CAST(d.doc_id AS VARCHAR)")
    return f"""WITH {TOKS_CTE}, {SHINGLE_CTE},
keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
bench AS (SELECT DISTINCT shingle FROM sh WHERE sh.doc_id % {bench_mod} = 0),
ov AS (
  SELECT sh.doc_id, count(*) AS n_overlap
  FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id
)
SELECT d.doc_id, d.source
FROM documents d
JOIN keep ON keep.doc_id = d.doc_id
LEFT JOIN ov ON ov.doc_id = d.doc_id
WHERE CAST(ROUND(1000000 * (
    0.4 * least({_NTOK} / 40.0, 1.0)
    + 0.4 * (1.0 - abs({_SW_RATIO} - 0.4))
    + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0))
  )) AS BIGINT) >= {quality_min_e6}
  AND COALESCE(ov.n_overlap, 0) < {min_overlap}
  AND ({h}) % {res} < (CASE {cases} ELSE {int(default_rate * res)} END)
ORDER BY d.doc_id"""


def sql_ann_lsh_multiprobe(
    k: int, query_id: int = 0, num_planes: int = NUM_PLANES,
    radius: int = 1,
) -> str:
    """Multi-probe LSH oracle: identical signature computation to
    sql_ann_lsh, with the candidate set widened to every bucket within
    Hamming distance <= radius of the query's bucket."""
    return f"""WITH {EMB_DOT},
planes AS (
  SELECT CAST(p AS INTEGER) AS p, CAST(i AS INTEGER) AS i,
         CAST(((p * 37 + i * 11) % 5) - 2 AS DOUBLE) AS c
  FROM range({num_planes}) t(p), range(64) s(i)
),
dots AS (
  SELECT e.vec_id, pl.p, sum(e.x * pl.c) AS d
  FROM embu e JOIN planes pl ON pl.i = e.i
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN ROUND(d * 1000000) > 0
             THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = {query_id}),
q AS (SELECT i, x AS qx FROM embu WHERE vec_id = {query_id}),
cand AS (SELECT b.vec_id FROM buckets b, qb
         WHERE bit_count(xor(b.bucket, qb.bucket)) <= {radius}
           AND b.vec_id <> {query_id}),
cd AS (
  SELECT e.vec_id, sum(e.x * q.qx) AS dot, sum(e.x * e.x) AS n2
  FROM embu e JOIN q USING (i) JOIN cand USING (vec_id)
  GROUP BY e.vec_id
),
qn AS (SELECT sqrt(sum(qx * qx)) AS qnorm FROM q)
SELECT vec_id,
       CAST(ROUND(1000000 * dot / (sqrt(n2) * qn.qnorm)) AS BIGINT) AS cos_e6
FROM cd, qn ORDER BY cos_e6 DESC, vec_id LIMIT {k}"""


def sql_bm25_page2(terms: list[str], k: int) -> str:
    """Second page of the BM25 ranking by keyset pagination
    (query.search_bm25_page): the cursor is page 1's last row on the
    (score_e6 DESC, doc_id ASC) key, computed inside the query so the
    oracle is self-contained at any scale factor."""
    inner = sql_bm25(terms, 1_000_000)
    return f"""WITH scored AS ({inner}),
p1 AS (SELECT doc_id, score_e6 FROM scored
       ORDER BY score_e6 DESC, doc_id LIMIT {k}),
cur AS (SELECT score_e6, doc_id FROM p1
        ORDER BY score_e6 ASC, doc_id DESC LIMIT 1)
SELECT s.doc_id, s.score_e6
FROM scored s, cur
WHERE s.score_e6 < cur.score_e6
   OR (s.score_e6 = cur.score_e6 AND s.doc_id > cur.doc_id)
ORDER BY s.score_e6 DESC, s.doc_id LIMIT {k}"""


def sql_rank_eval(queries: dict[int, list[str]], k: int) -> str:
    """TREC-style MRR + binary nDCG@k (operators/evaluation.rank_eval)
    of the batch-BM25 run against conjunctive-containment qrels (a doc
    is relevant to a query iff it contains every query term — the
    reference's AND semantics as a deterministic judgment set)."""
    pairs = sorted(
        {(int(qid), t) for qid, terms in queries.items() for t in set(terms)}
    )
    vals = ", ".join(f"({qid}, '{t}')" for qid, t in pairs)
    return f"""WITH {TOKS_CTE},
qv(qid, term) AS (VALUES {vals}),
qn AS (SELECT qid, count(*) AS n_terms FROM qv GROUP BY qid),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
rel AS (
  SELECT g.qid, g.doc_id
  FROM (SELECT qv.qid, tf.doc_id, count(DISTINCT tf.tok) AS n
        FROM tf JOIN qv ON tf.tok = qv.term GROUP BY 1, 2) g
  JOIN qn ON qn.qid = g.qid AND g.n = qn.n_terms
),
nrel AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY qid),
runs AS (
  SELECT qid, doc_id,
         row_number() OVER (
           PARTITION BY qid ORDER BY score_e6 DESC, doc_id
         ) AS rank
  FROM ({sql_batch_bm25(queries, k)})
),
hit AS (
  SELECT r.qid, min(r.rank) AS frank,
         sum(1.0 / log2(r.rank + 1)) AS dcg
  FROM runs r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
  GROUP BY r.qid
),
idcg AS (
  SELECT qid, sum(1.0 / log2(rn + 1)) AS idcg
  FROM (SELECT qid, row_number() OVER (
          PARTITION BY qid ORDER BY doc_id) AS rn FROM rel) z
  WHERE rn <= {k}
  GROUP BY qid
)
SELECT nrel.qid, nrel.n_rel,
       CAST(ROUND(COALESCE(1.0 / hit.frank, 0.0) * 1000000) AS BIGINT)
         AS mrr_e6,
       CAST(ROUND(COALESCE(hit.dcg / idcg.idcg, 0.0) * 1000000) AS BIGINT)
         AS ndcg_e6
FROM nrel LEFT JOIN hit ON hit.qid = nrel.qid
LEFT JOIN idcg ON idcg.qid = nrel.qid
ORDER BY nrel.qid"""


def sql_span_near(terms: list[str], max_gap: int) -> str:
    """Ordered span-near oracle (query.search_span_near): join chain
    requiring each term's position to follow the previous one by at
    most max_gap. Terms go through the SAME analyzer the engine
    applies (``analyze_query(stem=False)`` — TOKS_CTE is the
    unstemmed A1 analyzer), so mixed-case / stop-word query input
    cannot diverge between engine and oracle."""
    from ..functions.analysis import analyze_query

    terms = analyze_query(terms, stem=False)
    esc = [t.replace("'", "''") for t in terms]
    joins, conds = [], [f"t0.tok = '{esc[0]}'"]
    for j in range(1, len(terms)):
        joins.append(
            f"JOIN toks t{j} ON t{j}.doc_id = t0.doc_id"
            f" AND t{j}.pos > t{j-1}.pos"
            f" AND t{j}.pos <= t{j-1}.pos + {int(max_gap)}"
        )
        conds.append(f"t{j}.tok = '{esc[j]}'")
    return f"""WITH {TOKS_CTE}
SELECT DISTINCT t0.doc_id AS doc_id
FROM toks t0 {' '.join(joins)}
WHERE {' AND '.join(conds)}
ORDER BY doc_id"""


def sql_spell_correct(term: str, max_dist: int, k: int) -> str:
    """Did-you-mean oracle (query.suggest_spelling): dictionary terms
    by (levenshtein asc, df desc, term asc); the query term itself is
    excluded."""
    q = term.strip().lower().replace("'", "''")
    return f"""WITH {TOKS_CTE},
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
SELECT tok AS term, df,
       CAST(levenshtein(tok, '{q}') AS INTEGER) AS dist
FROM df
WHERE levenshtein(tok, '{q}') <= {int(max_dist)} AND tok <> '{q}'
ORDER BY dist ASC, df DESC, term ASC LIMIT {int(k)}"""


def _bm25_scored_cte(qname: str, k1: float = 1.2, b: float = 0.75) -> str:
    """The shared BM25 scoring body over (tf, df, dl, n) CTEs and a
    query-weight relation ``qname(term, qtf)``."""
    return f"""
  SELECT tf.doc_id,
         sum({qname}.qtf * ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / n.avglen))) AS score
  FROM tf JOIN {qname} ON tf.tok = {qname}.term
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id, n
  GROUP BY tf.doc_id"""


def sql_rm3(
    terms: list[str],
    k: int,
    *,
    fb_docs: int = 5,
    fb_terms: int = 5,
    exp_weight: float = 0.5,
) -> str:
    """RM3 pseudo-relevance feedback oracle (ranking.search_rm3):
    stage-1 BM25 selects fb_docs on the e6-rounded score; expansion
    strength is the exact integer sum(tf * score_e6); the expanded
    weighted query re-ranks. Terms are ANALYZED here with the same
    unstemmed analyzer the engine applies (ranking.py excludes
    analyzed tokens from expansion, ``orig = set(toks)``), so q0
    weights and the NOT IN exclusion both operate on analyzed tokens
    — raw mixed-case / stop-word input cannot diverge."""
    from ..functions.analysis import analyze_query

    terms = analyze_query(terms, stem=False)
    orig = ", ".join(f"'{t.replace(chr(39), chr(39)*2)}'" for t in sorted(set(terms)))
    return f"""WITH {TOKS_CTE}, {DL_CTE},
q0(term, qtf) AS (VALUES {_qtf_values(terms)}),
n AS (SELECT count(*) AS n, (SELECT avg(len) FROM dl) AS avglen FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
s0 AS ({_bm25_scored_cte('q0')}
),
fb AS (
  SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
  FROM s0 ORDER BY score_e6 DESC, doc_id LIMIT {int(fb_docs)}
),
strength AS (
  SELECT tf.tok, sum(tf.tf * fb.score_e6) AS s
  FROM tf JOIN fb USING (doc_id)
  WHERE tf.tok NOT IN ({orig})
  GROUP BY tf.tok
),
expt AS (SELECT tok FROM strength ORDER BY s DESC, tok LIMIT {int(fb_terms)}),
q1(term, qtf) AS (
  SELECT term, qtf FROM q0
  UNION ALL SELECT tok, {float(exp_weight)} FROM expt
),
s1 AS ({_bm25_scored_cte('q1')}
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM s1 ORDER BY score_e6 DESC, doc_id LIMIT {int(k)}"""


def sql_upsert_bm25(terms: list[str], k: int, mod: int, suffix: str) -> str:
    """BM25 oracle over the UPSERTED corpus (maintenance.
    upsert_documents): docs with doc_id % mod == 0 get ``suffix``
    appended to their text; tokenization, doc lengths and statistics
    all read the updated text in place."""
    sfx = suffix.replace("'", "''")
    text_expr = (
        f"CASE WHEN doc_id % {int(mod)} = 0 THEN text || '{sfx}' ELSE text END"
    )
    return sql_bm25(terms, k, toks_cte=make_toks_cte(text_expr=text_expr))
