"""Seeded web-page corpus in the frozen extraction grammar
(``kgist_spark.pipeline.spec``), with per-page truth.

Unlike the package's stock ``World`` (whose person names cap at 30x40), the
entity vocabulary here is synthesized from syllables, so it exceeds the
canonicalizer's driver-local threshold (8192 entities) and keeps growing
with the document count:

* persons are two syllable tokens, orgs three syllable tokens plus an
  ``ORG_SUFFIXES`` suffix, places the spec's fixed ``PLACES``;
* an org with an alias has a second surface (its core minus the last
  letter) whose entity id clears the canonicalizer's trigram threshold;
  a mention renders as the alias with probability ``ALIAS_RATE``;
* subjects are born in document order: a page's subject is mostly a
  freshly born entity, else a zipf-popular older one; a third of the org
  objects are zipf-popular (so head orgs recur, with both alias surfaces),
  the rest uniform (so later documents keep bringing new surfaces);
* a share of pages carries one fact with an object of the wrong type (a
  person who works for a place, ...) about a random entity: the injected
  anomalies.

Truth is kept per page in surface-id form; :func:`canonical_truth` maps it
to the ids an exact canonicalizer picks.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from kgist_spark.pipeline import spec

#: share of orgs with an alias surface; share of their mentions that use it
ALIAS_SHARE, ALIAS_RATE = 0.5, 0.4
#: share of pages carrying one injected anomaly
CORRUPT_RATE = 0.03

_ONSETS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_TEMPLATES = {
    "ceo_of": "{s} is the CEO of {o}.",
    "born_in": "{s} was born in {o}.",
    "works_for": "{s} works for {o}.",
    "founded": "{s} founded {o}.",
    "located_in": "{s} is located in {o}.",
    "acquired": "{s} acquired {o}.",
    "partnered_with": "{s} partnered with {o}.",
    "moved_to": "{s} moved to {o}.",
}
#: injected anomalies: the subject type and predicate of a regular fact
#: with an object of the wrong type, so a non-head subject also carries the
#: rule's exception blame
_CORRUPT = (
    ("person", "works_for", "place"),
    ("person", "born_in", "org"),
    ("org", "located_in", "person"),
)
_NOISE = (
    "the quarterly report was filed on time.",
    "analysts expect steady growth next year.",
    "shares rose modestly in early trading.",
    "a spokesperson declined to comment further.",
    "Qxyzzt posted unremarkable results.",
    "Veldt Harmon Group Trio convened briefly.",
)
_DE = ("der bericht wurde fristgerecht eingereicht.", "die aktie blieb stabil.")


def _trigrams(s: str) -> set:
    return {s[i:i + 3] for i in range(len(s) - 2)}


def _jaccard(a: str, b: str) -> float:
    ta, tb = _trigrams(a), _trigrams(b)
    return len(ta & tb) / len(ta | tb)


def _tokens(rng: random.Random, n: int) -> list:
    """``n`` distinct capitalized three-syllable tokens."""
    out, seen = [], set(spec.PLACES) | set(spec.ORG_SUFFIXES)
    while len(out) < n:
        tok = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(3)).capitalize()
        if tok not in seen:
            seen.add(tok)
            out.append(tok)
    return out


@dataclass
class Corpus:
    texts: list
    langs: list
    truth: list        # per page: list of (s, p, o) surface ids
    corrupt: set       # surface-id triples injected as anomalies
    alias_of: dict     # surface id -> alias group key
    first_doc: dict    # surface id -> first page mentioning it (the vocabulary)

    @property
    def n_docs(self) -> int:
        return len(self.texts)


def generate(seed: int, n_docs: int, n_persons: int, n_orgs: int) -> Corpus:
    rng = random.Random(seed)
    # name pools a quarter of the person count: few persons share a name
    # token, so distinct persons stay far below the canonicalizer's threshold
    firsts, lasts = _tokens(rng, max(64, n_persons // 4)), _tokens(rng, max(64, n_persons // 4))
    names = set()
    while len(names) < n_persons:
        names.add(f"{rng.choice(firsts)} {rng.choice(lasts)}")
    persons = [(n, "person") for n in sorted(names)]
    rng.shuffle(persons)
    cores = _tokens(rng, 3 * n_orgs)
    orgs, aliases = [], {}
    for i in range(n_orgs):
        core = " ".join(cores[3 * i:3 * i + 3])
        name = f"{core} {rng.choice(spec.ORG_SUFFIXES)}"
        orgs.append((name, "org"))
        # the alias drops the core's last letter; kept at trigram jaccard
        # >= 0.8, which the canonicalizer's LSH (8 bands x 4 rows) finds
        # with probability > 0.98
        variant = f"{core[:-1]} {name.rsplit(' ', 1)[1]}"
        if (rng.random() < ALIAS_SHARE and _jaccard(
                spec.entity_id(name, "org"), spec.entity_id(variant, "org")) >= 0.8):
            aliases[name] = variant
    places = [(p, "place") for p in spec.PLACES]

    def org():
        # some zipf-popular (head orgs recur), most uniform (new surfaces)
        if rng.random() < 0.3:
            return orgs[int(len(orgs) * rng.random() ** 4)]
        return rng.choice(orgs)

    facts: dict = {}
    for o in orgs:
        facts[o] = [("located_in", rng.choice(places))]
        if rng.random() < 0.3:
            facts[o].append(("acquired", org()))
        if rng.random() < 0.3:
            facts[o].append(("partnered_with", org()))
    for p in persons:
        fl = facts[p] = [("born_in", rng.choice(places)), ("works_for", org())]
        if rng.random() < 0.3:
            fl.append(("moved_to", rng.choice(places)))
        if rng.random() < 0.3:
            fl.append(("founded", org()))
        if rng.random() < 0.2:
            fl.append(("ceo_of", org()))
    for ent, fl in facts.items():
        facts[ent] = [(p, o) for p, o in fl if o != ent]

    # interleave persons and orgs so both types are born throughout
    subjects = [e for pair in zip(persons, orgs) for e in pair]
    subjects += persons[len(orgs):] + orgs[len(persons):]
    by_type = {"person": persons, "org": orgs, "place": places}

    def surf(ent):
        if ent[0] in aliases and rng.random() < ALIAS_RATE:
            return aliases[ent[0]]
        return ent[0]

    texts, langs, truth, corrupt = [], [], [], set()
    for d in range(n_docs):
        if rng.random() < 0.03:
            texts.append(" ".join(rng.choice(_DE) for _ in range(2)))
            langs.append("de")
            truth.append([])
            continue
        born = max(1, (d + 1) * len(subjects) // n_docs)
        if rng.random() < 0.8:
            subject = subjects[born - 1 - rng.randrange(min(born, 4))]
        else:
            subject = subjects[int(born * rng.random() ** 3)]
        mentioned, sentences, page = [subject], [], []
        for _ in range(rng.randint(2, 5)):
            ent = rng.choice(mentioned)
            pred, obj = rng.choice(facts[ent])
            s, o = surf(ent), surf(obj)
            t = (spec.entity_id(s, ent[1]), pred, spec.entity_id(o, obj[1]))
            if t in page:
                continue
            sentences.append(_TEMPLATES[pred].format(s=s, o=o))
            page.append(t)
            if obj[1] != "place" and len(mentioned) < 4:
                mentioned.append(obj)
        if rng.random() < CORRUPT_RATE:
            st, pred, ot = rng.choice(_CORRUPT)
            a, b = rng.choice(by_type[st]), rng.choice(by_type[ot])
            if a != b:
                s, o = surf(a), surf(b)
                sentences.insert(rng.randrange(len(sentences) + 1),
                                 _TEMPLATES[pred].format(s=s, o=o))
                t = (spec.entity_id(s, st), pred, spec.entity_id(o, ot))
                page.append(t)
                corrupt.add(t)
        for _ in range(rng.randint(1, 2)):
            sentences.insert(rng.randrange(len(sentences) + 1), rng.choice(_NOISE))
        texts.append(" ".join(sentences))
        langs.append("en")
        truth.append(page)

    alias_of = {}
    for name, variant in aliases.items():
        key = spec.entity_id(name, "org")
        alias_of[key] = alias_of[spec.entity_id(variant, "org")] = key
    first_doc: dict = {}
    for d, page in enumerate(truth):
        for s, _, o in page:
            first_doc.setdefault(s, d)
            first_doc.setdefault(o, d)
    return Corpus(texts, langs, truth, corrupt, alias_of, first_doc)


def canonical_truth(corpus: Corpus):
    """``(triples, corrupt, alias_groups)`` in canonical-id form.

    The canonical id of an alias group is the lexicographically smallest
    member that appears in the corpus (the canonicalizer's rule).
    Self-loops a merge creates are dropped, as the constructor drops them.
    ``alias_groups`` lists ``(members, canonical)`` for the groups with more
    than one member in the corpus."""
    groups: dict = {}
    for sid in corpus.first_doc:
        key = corpus.alias_of.get(sid)
        if key is not None:
            groups.setdefault(key, []).append(sid)
    canon = {sid: min(members) for members in groups.values() for sid in members}

    def c(t):
        s, p, o = t
        return canon.get(s, s), p, canon.get(o, o)

    triples = {c(t) for page in corpus.truth for t in page}
    triples = {t for t in triples if t[0] != t[2]}
    corrupt = {c(t) for t in corpus.corrupt} & triples
    multi = [sorted(m) for m in groups.values() if len(m) > 1]
    return triples, corrupt, [(m, m[0]) for m in multi]
