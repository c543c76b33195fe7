"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of its seed and sizes. The sizes,
and so the amount of work, are the same for every seed; the seed only
picks names, facts and their order.

Transcript generators also return the record of every fact they wrote
into a turn, which the graph checks (checks.py) compare the built
graph against. Conversations follow a "story" discipline that keeps
the expected graph well defined:

* a fact key (conversation, subject, predicate, object) may be
  asserted many times;
* a contradiction (a "no longer works at" turn, or the first assertion
  of the antonym LIKES/DISLIKES key) closes the key, and a closed key
  is never asserted again.

So every contradiction is the first later contradicting turn of the
key it closes.
"""

from __future__ import annotations

import bisect
import itertools
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

BASE_TS = pd.Timestamp("2025-01-01 00:00:00")

# Fact templates; they match graphiti_spark.rules.RULES.
TEMPLATES = {
    "WORKS_AT": "{s} works at {o}.",
    "LIVES_IN": "{s} moved to {o}.",
    "LIKES": "{s} likes {o}.",
    "DISLIKES": "{s} dislikes {o}.",
    "CEO_OF": "{s} is the CEO of {o}.",
}
TERMINATE_TEMPLATE = "{s} no longer works at {o}."
MENTION_TEMPLATE = "Tell me about {o}."
# what a fact turn states, and the cumulative share of each choice
PREDICATES = ("WORKS_AT", "LIVES_IN", "LIKES", "DISLIKES", "CEO_OF", "TERM")
PREDICATE_CDF = list(itertools.accumulate([0.25, 0.15, 0.18, 0.12, 0.12]))
ANTONYM = {"LIKES": "DISLIKES", "DISLIKES": "LIKES"}
ASSERT, TERMINATE = "assert", "terminate"

FACT_COLUMNS = ["conv_id", "turn_idx", "ts", "subj", "pred", "obj", "kind"]

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"


def vocabulary() -> list[str]:
    """Fixed pool of capitalised pseudo-words, pairwise distinct.

    Two syllables each (14*5 squared = 4,900 words); the pool does not
    depend on the seed, only the draws from it do."""
    syl = [c + v for c in _CONS for v in _VOWELS]
    return [(a + b).capitalize() for a, b in itertools.product(syl, syl)]


@dataclass
class Vocab:
    """Disjoint name pools. First tokens never repeat across pools, so
    two surfaces are aliases of one another only inside a family."""

    first: list[str]
    last: list[str]
    companies: list[str]
    cities: list[str]

    @staticmethod
    def split(words: list[str], n_first: int, n_last: int, n_comp: int, n_city: int) -> "Vocab":
        if n_first + n_last + n_comp + n_city > len(words):
            raise ValueError("vocabulary too small for the requested pools")
        it = iter(words)
        take = lambda n: [next(it) for _ in range(n)]
        return Vocab(take(n_first), take(n_last), take(n_comp), take(n_city))


@dataclass
class Entity:
    name: str  # canonical (intended) entity, its first token is unique
    surfaces: list[str]


@dataclass
class Conversation:
    """Cast and fact-key state of one conversation; persists across
    increments so later batches continue earlier stories."""

    conv_id: str
    people: list[Entity]
    companies: list[Entity]
    cities: list[Entity]
    next_turn: int = 0
    next_min: int = 0  # minutes after BASE_TS of the next turn
    asserted: set = field(default_factory=set)
    closed: set = field(default_factory=set)


def _sample(rng, pool: list[str], n: int) -> list[str]:
    """`n` distinct words of `pool`, drawn one at a time."""
    picked: list[str] = []
    while len(picked) < n:
        w = pool[int(rng.integers(len(pool)))]
        if w not in picked:
            picked.append(w)
    return picked


def _cast(rng, vocab: Vocab, n_people: int, n_comp: int, n_city: int, alias_share: float):
    people = []
    for first in _sample(rng, vocab.first, n_people):
        if rng.random() < alias_share:
            last = vocab.last[int(rng.integers(len(vocab.last)))]
            people.append(Entity(first, [first, f"{first} {last}"]))
        else:
            people.append(Entity(first, [first]))
    comps = [Entity(c, [c]) for c in _sample(rng, vocab.companies, n_comp)]
    cities = [Entity(c, [c]) for c in _sample(rng, vocab.cities, n_city)]
    return people, comps, cities


class TranscriptGen:
    """Transcripts with a fact record, generated in batches.

    `batch()` appends turns to the conversations it is given, so a
    later batch continues the stories of earlier ones: it may restate
    a fact an earlier batch asserted, or contradict it."""

    def __init__(
        self,
        seed: int,
        vocab: Vocab,
        n_people: int,
        n_comp: int,
        n_city: int,
        alias_share: float,
    ):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocab
        self.sizes = (n_people, n_comp, n_city)
        self.alias_share = alias_share
        self.convs: dict[str, Conversation] = {}

    def new_conversation(self, conv_id: str, start_min: int) -> Conversation:
        """A conversation whose first turn is `start_min` minutes after BASE_TS."""
        people, comps, cities = _cast(self.rng, self.vocab, *self.sizes, self.alias_share)
        conv = Conversation(conv_id, people, comps, cities, next_min=start_min)
        self.convs[conv_id] = conv
        return conv

    def _surface(self, e: Entity) -> str:
        return e.surfaces[int(self.rng.integers(len(e.surfaces)))]

    def _turn(self, conv: Conversation) -> tuple[str, list[tuple], list[str]]:
        """One turn's text, the facts it states and the entities it names."""
        rng = self.rng
        r = rng.random()
        if r < 0.15:
            # filler: lower-case, so no rule fires; numbered so texts differ
            return f"ok, noted item {int(rng.integers(1_000_000))}", [], []
        if r < 0.22:
            o = conv.companies[int(rng.integers(len(conv.companies)))]
            return MENTION_TEMPLATE.format(o=self._surface(o)), [], [o.name]
        s = conv.people[int(rng.integers(len(conv.people)))]
        pred = PREDICATES[bisect.bisect(PREDICATE_CDF, rng.random())]
        if pred in ("WORKS_AT", "CEO_OF", "TERM"):
            o = conv.companies[int(rng.integers(len(conv.companies)))]
        elif pred == "LIVES_IN":
            o = conv.cities[int(rng.integers(len(conv.cities)))]
        else:
            others = [p for p in conv.people if p is not s]
            o = others[int(rng.integers(len(others)))]
        if pred == "TERM":
            key = (s.name, "WORKS_AT", o.name)
            if key not in conv.asserted or key in conv.closed:
                return self._fallback(conv, s, o)
            conv.closed.add(key)
            text = TERMINATE_TEMPLATE.format(s=self._surface(s), o=self._surface(o))
            return text, [(s.name, "WORKS_AT", o.name, TERMINATE)], [s.name, o.name]
        key = (s.name, pred, o.name)
        if key in conv.closed:
            return self._fallback(conv, s, o)
        facts = [(s.name, pred, o.name, ASSERT)]
        anto = ANTONYM.get(pred)
        if anto is not None and key not in conv.asserted:
            akey = (s.name, anto, o.name)
            if akey in conv.asserted and akey not in conv.closed:
                # first assertion of the antonym key: a contradiction
                conv.closed.add(akey)
        conv.asserted.add(key)
        return TEMPLATES[pred].format(s=self._surface(s), o=self._surface(o)), facts, [s.name, o.name]

    def _fallback(self, conv: Conversation, s: Entity, o: Entity) -> tuple[str, list[tuple], list[str]]:
        """A mention-only turn in place of a step the story forbids."""
        return MENTION_TEMPLATE.format(o=self._surface(o)), [], [o.name]

    def batch(self, conv_turns: list[tuple[str, int]]) -> "Batch":
        """Append turns: `conv_turns` lists (conv_id, n_turns)."""
        rows, facts, named = [], [], []
        for conv_id, n_turns in conv_turns:
            conv = self.convs[conv_id]
            for _ in range(n_turns):
                t, m = conv.next_turn, conv.next_min
                text, fs, names = self._turn(conv)
                rows.append((conv_id, t, "user" if t % 2 == 0 else "assistant", text, "", m))
                facts.extend((conv_id, t, m, *f) for f in fs)
                named.extend((conv_id, n) for n in names)
                conv.next_turn += 1
                conv.next_min += 1
        facts = pd.DataFrame(facts, columns=FACT_COLUMNS)
        facts["ts"] = BASE_TS + pd.to_timedelta(facts["ts"], unit="min")
        return Batch(transcripts_frame(rows), facts, pd.DataFrame(named, columns=["conv_id", "entity"]))


@dataclass
class Batch:
    transcripts: pd.DataFrame
    facts: pd.DataFrame  # FACT_COLUMNS
    named: pd.DataFrame  # (conv_id, entity) for every entity a turn names

    def __add__(self, other: "Batch") -> "Batch":
        return Batch(*(pd.concat([a, b], ignore_index=True) for a, b in
                       zip((self.transcripts, self.facts, self.named),
                           (other.transcripts, other.facts, other.named))))


def transcripts_frame(rows: list[tuple]) -> pd.DataFrame:
    """rows: (conv_id, turn_idx, role, text, tool, minutes after BASE_TS)."""
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = BASE_TS + pd.to_timedelta(pdf["ts"], unit="min")
    return pdf


def surfaces(gen: TranscriptGen) -> dict[tuple[str, str], str]:
    """(conv_id, surface) -> intended entity name, for every cast member."""
    out = {}
    for conv in gen.convs.values():
        for e in conv.people + conv.companies + conv.cities:
            for s in e.surfaces:
                out[(conv.conv_id, s)] = e.name
    return out


# --------------------------------------------------------------------------
# build_kg: one large batch, large vocabulary, a few long conversations
# --------------------------------------------------------------------------

BUILD = dict(n_convs=3000, turns=12, n_long=30, long_mult=12, alias_share=0.5)


def build_kg_input(seed: int, n_convs: int, turns: int, n_long: int, long_mult: int,
                   alias_share: float) -> tuple[TranscriptGen, list[tuple[str, int]]]:
    """The generator and its batch plan: `n_long` of the conversations
    (chosen by the seed) are `long_mult` times longer than the rest."""
    words = vocabulary()
    np.random.default_rng(10_000 + seed).shuffle(words)
    vocab = Vocab.split(words, n_first=2400, n_last=1200, n_comp=700, n_city=500)
    gen = TranscriptGen(seed, vocab, n_people=5, n_comp=3, n_city=3, alias_share=alias_share)
    long_ids = set(gen.rng.choice(n_convs, size=n_long, replace=False).tolist())
    plan = []
    for ci in range(n_convs):
        conv_id = f"c{ci:05d}"
        gen.new_conversation(conv_id, ci * 24 * 60)
        plan.append((conv_id, turns * (long_mult if ci in long_ids else 1)))
    return gen, plan


# --------------------------------------------------------------------------
# curate_documents: near-duplicate families, low-quality and
# contaminated documents
# --------------------------------------------------------------------------

CURATE = dict(n_docs=2000, family_share=0.3, family_size=4, low_quality_share=0.1,
              contaminated_share=0.05)

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
LANGS = ["en", "de", "fr", "es", "zh"]
BENCH_EVERY = 50  # q_curation_pipeline's stand-in benchmark: doc_id % 50 == 0


def _sentence(rng, words: list[str]) -> str:
    n = int(rng.integers(6, 14))
    toks = [words[int(i)] if rng.random() < 0.7 else STOPWORDS[int(rng.integers(len(STOPWORDS)))]
            for i in rng.integers(len(words), size=n)]
    return " ".join(toks).capitalize() + "."


def curate_input(seed: int, n_docs: int, family_share: float, family_size: int,
                 low_quality_share: float, contaminated_share: float) -> pd.DataFrame:
    """Documents (doc_id, text, lang, source, n_chars, family, kind).

    kind: 'plain', 'dup' (a member of a near-duplicate family: the same
    sentences in another order and letter case, so the token set and
    with it every MinHash value is identical), 'low' (digits and
    symbols, no sentence end: quality 0.25) or 'contaminated' (carries
    a 12-word span copied from a benchmark document). The two extra
    columns are the generator's record; the pipeline never sees them."""
    rng = np.random.default_rng(seed)
    words = [w.lower() for w in vocabulary()]
    n_fam_docs = int(n_docs * family_share) // family_size * family_size
    n_low = int(n_docs * low_quality_share)
    n_cont = int(n_docs * contaminated_share)
    kinds = (["dup"] * n_fam_docs + ["low"] * n_low + ["contaminated"] * n_cont)
    kinds += ["plain"] * (n_docs - len(kinds))
    # benchmark documents must be plain, so place them first
    slots = [i for i in range(n_docs) if i % BENCH_EVERY != 0]
    order = rng.permutation(len(slots))
    kind_of = ["plain"] * n_docs
    non_plain = [k for k in kinds if k != "plain"]
    for k, j in zip(non_plain, order):
        kind_of[slots[j]] = k
    texts: list[str] = [""] * n_docs
    family = [-1] * n_docs
    for i in range(n_docs):
        if kind_of[i] in ("plain", "contaminated"):
            texts[i] = " ".join(_sentence(rng, words) for _ in range(int(rng.integers(3, 8))))
        elif kind_of[i] == "low":
            texts[i] = " ".join(
                f"{int(rng.integers(10**6))}#{int(rng.integers(10**4))}" for _ in range(12)
            )
    dup_ids = [i for i in range(n_docs) if kind_of[i] == "dup"]
    for f in range(len(dup_ids) // family_size):
        members = dup_ids[f * family_size : (f + 1) * family_size]
        sents = [_sentence(rng, words) for _ in range(int(rng.integers(3, 8)))]
        for m in members:
            perm = rng.permutation(len(sents))
            s = [sents[p] for p in perm]
            texts[m] = " ".join(x.upper() if rng.random() < 0.3 else x for x in s)
            family[m] = f
    bench_ids = [i for i in range(n_docs) if i % BENCH_EVERY == 0]
    for i in range(n_docs):
        if kind_of[i] == "contaminated":
            src = texts[bench_ids[int(rng.integers(len(bench_ids)))]].split()
            start = int(rng.integers(max(1, len(src) - 12)))
            texts[i] = texts[i] + " " + " ".join(src[start : start + 12])
    langs = [LANGS[int(i)] for i in rng.choice(len(LANGS), size=n_docs, p=[0.5, 0.2, 0.15, 0.1, 0.05])]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            "family": np.array(family, dtype="int64"),
            "kind": kind_of,
        }
    )
