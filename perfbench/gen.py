"""Seeded load generator for the benchmark.

Everything a run feeds the engine comes from here and from one seed:
the corpus, the interactive query stream, the batch query log and the
upsert micro-batches. The generator imports nothing from the package,
so a change to the package's own sources cannot change a workload.

The corpus has the shape of transcript turns ``(conv_id, turn_idx,
role, text, tool, ts)`` and the constants of the package's topical
fixture (``generate_topical_transcripts`` in ``sources/transcripts.py``),
copied here rather than imported: 200 topics with 15-word signatures
drawn from past the first 100 words of a 5,000-word vocabulary, topics
Zipf-drawn per conversation, 55% of a turn's words from its topic's
signature and the rest from a global Zipf vocabulary, 10 turns of 6-23
words each, a stop word before a word with probability 0.35, 15% of
words capitalized and 20% followed by punctuation. Terms are therefore
bursty the way real conversations are.

One departure: the fixture's words are random letter strings, whereas
these are surface forms built from roots and suffixes ("merging",
"merged"), so queries go through the analyzer's stemmer the way real
ones do.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# The analyzer's English stop list (``functions/stopwords.py``), which
# the topical fixture draws its stop words from. Phrase pairs never
# span one, so they stay adjacent after analysis.
STOPS = [
    "a", "about", "above", "after", "again", "against", "all", "am", "an", "and", "any",
    "are", "as", "at", "be", "because", "been", "before", "being", "below", "between",
    "both", "but", "by", "can", "did", "do", "does", "doing", "don", "down", "during",
    "each", "few", "for", "from", "further", "had", "has", "have", "having", "he", "her",
    "here", "hers", "herself", "him", "himself", "his", "how", "i", "if", "in", "into",
    "is", "it", "its", "itself", "just", "me", "more", "most", "my", "myself", "no", "nor",
    "not", "now", "of", "off", "on", "once", "only", "or", "other", "our", "ours",
    "ourselves", "out", "over", "own", "s", "same", "she", "should", "so", "some", "such",
    "t", "than", "that", "the", "their", "theirs", "them", "themselves", "then", "there",
    "these", "they", "this", "those", "through", "to", "too", "under", "until", "up",
    "very", "was", "we", "were", "what", "when", "where", "which", "while", "who", "whom",
    "why", "will", "with", "you", "your", "yours", "yourself", "yourselves",
]
PUNCT = [",", ".", ";", "?", "!"]
SUFFIXES = ["", "", "s", "ing", "ed", "er", "ation", "ness", "ly", "ment"]
ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
          "br", "cl", "dr", "gr", "pl", "st", "tr", "sp"]
VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]

# the topical fixture's constants (sources/transcripts.py)
N_TOPICS = 200
SIG_SIZE = 15
VOCAB_SIZE = 5000
SIG_OFFSET = 100  # signatures skip the global head
TOPIC_WORD_P = 0.55
MIN_WORDS, EXTRA_WORDS = 6, 18  # 6 + randrange(18) words per turn
STOP_P, CAP_P, PUNCT_P = 0.35, 0.15, 0.2
TURNS_PER_CONV = 10
TERM_CLASSES = ["head", "mid", "rare"]
N_SHAPES = 9  # query shapes: 1-3 words times the class of the first word
EPOCH = dt.datetime(2024, 1, 1)
# cumulative Zipf weights over the vocabulary, summed once
_ZIPF_CUM = list(itertools.accumulate(1.0 / (i + 1) for i in range(VOCAB_SIZE)))

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
CORPUS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass
class Turn:
    conv_id: str
    turn_idx: int
    text: str
    content: list[str]  # lowercased surface words, stop words excluded


@dataclass
class Corpus:
    seed: int
    vocab: list[str]
    sigs: list[list[str]]
    turns: list[Turn] = field(default_factory=list)


def _vocab(rng: random.Random) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB_SIZE:
        root = "".join(
            rng.choice(ONSETS) + rng.choice(VOWELS) for _ in range(rng.randint(2, 3))
        ) + rng.choice(["", "n", "r", "t", "l"])
        w = root + rng.choice(SUFFIXES)
        if w not in seen and w not in STOPS:
            seen.add(w)
            out.append(w)
    return out


def _conv_turns(corpus: Corpus, conv: int, salt: int) -> list[Turn]:
    """The turns of conversation ``conv``; ``salt`` > 0 gives the text
    of a later re-send of the same conversation."""
    rng = random.Random(f"{corpus.seed}:{conv}:{salt}")
    # Zipf over topics: hot topics take many conversations
    topic = min(int(rng.paretovariate(1.1)) - 1 + int(rng.random() * 3), N_TOPICS - 1)
    sig = corpus.sigs[topic]
    sig_w = [1.0 / (i + 1) for i in range(len(sig))]
    conv_id = f"conv{conv:07d}"
    turns = []
    for t in range(TURNS_PER_CONV):
        n_words = MIN_WORDS + rng.randrange(EXTRA_WORDS)
        toks, content = [], []
        for _ in range(n_words):
            if rng.random() < TOPIC_WORD_P:
                w = rng.choices(sig, weights=sig_w)[0]
            else:
                w = rng.choices(corpus.vocab, cum_weights=_ZIPF_CUM)[0]
            if rng.random() < STOP_P:
                toks.append(rng.choice(STOPS))
                content.append(None)
            content.append(w)
            if rng.random() < CAP_P:
                w = w.capitalize()
            toks.append(w + (rng.choice(PUNCT) if rng.random() < PUNCT_P else ""))
        turns.append(Turn(conv_id, t, " ".join(toks), content))
    return turns


def make_corpus(seed: int, n_conv: int) -> Corpus:
    rng = random.Random(seed)
    vocab = _vocab(rng)
    sigs = [rng.sample(vocab[SIG_OFFSET:], SIG_SIZE) for _ in range(N_TOPICS)]
    corpus = Corpus(seed, vocab, sigs)
    for c in range(n_conv):
        corpus.turns.extend(_conv_turns(corpus, c, 0))
    return corpus


def text_bytes(turns: list[Turn]) -> int:
    return sum(len(t.text.encode()) for t in turns)


# -- queries -------------------------------------------------------------------


def term_classes(turns: list[Turn]) -> dict[str, list[str]]:
    """Surface words bucketed by the share of turns that contain them:
    head (> 10%), mid (0.5% to 10%) and rare (below 0.5%)."""
    df: dict[str, int] = {}
    for t in turns:
        for w in {w for w in t.content if w}:
            df[w] = df.get(w, 0) + 1
    n = len(turns)
    classes: dict[str, list[str]] = {"head": [], "mid": [], "rare": []}
    for w in sorted(df):
        share = df[w] / n
        classes["head" if share > 0.10 else "mid" if share >= 0.005 else "rare"].append(w)
    return classes


def _terms(rng: random.Random, classes: dict[str, list[str]], shape: int) -> list[str]:
    """The words of a query of the given shape: ``1 + shape % 3`` words,
    the first from class ``shape // 3`` and each next one from the class
    after it. Over the nine shapes, head, mid and rare words have equal
    shares. Cycling through shapes rather than drawing them gives every
    seed the same mix of query lengths and classes, so seeds differ only
    in the words, and a run's latencies depend less on its seed."""
    out = []
    for j in range(1 + shape % 3):
        pool = classes[TERM_CLASSES[(shape // 3 + j) % 3]] or classes["mid"]
        w = rng.choice(pool)
        out.append(w.capitalize() if rng.random() < 0.2 else w)
    return out


def _phrase(rng: random.Random, turns: list[Turn]) -> list[str]:
    while True:
        c = rng.choice(turns).content
        pairs = [(a, b) for a, b in zip(c, c[1:]) if a and b]
        if pairs:
            return list(rng.choice(pairs))


INTERACTIVE = ["search_bm25", "bm25_topk_wand", "search_tfidf",
               "search_and", "search_or", "search_phrase"]


def query_stream(seed: int, turns: list[Turn], n_rounds: int) -> list[list[tuple[str, list[str]]]]:
    """``n_rounds`` rounds, each one op of every interactive type in a
    fixed order with seeded terms. The fixed order keeps the op mix of
    a run independent of how many rounds fit in its time. Op ``i`` of
    round ``r`` has query shape ``(r + i) % 9``, so each op type cycles
    through every shape."""
    rng = random.Random(f"{seed}:queries")
    classes = term_classes(turns)
    return [
        [(op, _phrase(rng, turns) if op == "search_phrase"
          else _terms(rng, classes, (r + i) % N_SHAPES))
         for i, op in enumerate(INTERACTIVE)]
        for r in range(n_rounds)
    ]


def term_lists(seed: int, turns: list[Turn], n: int, key: str) -> dict[int, list[str]]:
    """``n`` seeded queries of 1-3 surface words, keyed 0..n-1: a batch
    query log, or the reads that follow each upsert batch."""
    rng = random.Random(f"{seed}:{key}")
    classes = term_classes(turns)
    return {q: _terms(rng, classes, q % N_SHAPES) for q in range(n)}


# -- upserts -------------------------------------------------------------------


def upsert_batches(
    corpus: Corpus, n_batches: int, convs_per_batch: int, resend_share: float
) -> list[list[Turn]]:
    """Micro-batches after the base corpus. A ``resend_share`` of each
    batch's conversations re-sends an existing ``conv_id`` with new
    text (an upsert); the rest are new conversations."""
    rng = random.Random(f"{corpus.seed}:upserts")
    known = sorted({int(t.conv_id[4:]) for t in corpus.turns})
    next_conv = known[-1] + 1
    resends: dict[int, int] = {}
    batches = []
    n_resend = round(convs_per_batch * resend_share)
    for _ in range(n_batches):
        turns: list[Turn] = []
        for c in sorted(rng.sample(known, n_resend)):
            resends[c] = resends.get(c, 0) + 1
            turns.extend(_conv_turns(corpus, c, resends[c]))
        for _ in range(convs_per_batch - n_resend):
            turns.extend(_conv_turns(corpus, next_conv, 0))
            known.append(next_conv)
            next_conv += 1
        batches.append(turns)
    return batches


# -- parquet -------------------------------------------------------------------


def write_transcripts(turns: list[Turn], path: str) -> None:
    roles = ["user", "assistant", "tool"]
    pq.write_table(pa.table({
        "conv_id": [t.conv_id for t in turns],
        "turn_idx": [t.turn_idx for t in turns],
        "role": [roles[t.turn_idx % 3] for t in turns],
        "text": [t.text for t in turns],
        "tool": ["search" if t.turn_idx % 3 == 2 else "" for t in turns],
        "ts": [EPOCH + dt.timedelta(minutes=int(t.conv_id[4:]) * 10 + t.turn_idx)
               for t in turns],
    }, schema=TRANSCRIPT_SCHEMA), path)


def write_corpus(turns: list[Turn], path: str) -> None:
    """``(doc_id, text)`` with dense doc ids in (conv_id, turn_idx)
    order, the engine's insertion-order id contract."""
    ordered = sorted(turns, key=lambda t: (t.conv_id, t.turn_idx))
    pq.write_table(pa.table({
        "doc_id": list(range(len(ordered))),
        "text": [t.text for t in ordered],
    }, schema=CORPUS_SCHEMA), path)
