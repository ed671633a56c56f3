"""Seeded input generators for the KG-construction benchmark.

Every generator is a pure function of its seed and size: the same seed
gives byte-identical tables. The program under test only ever sees the
tables these functions return (written to parquet during set-up); the
planted facts and the planted surface -> canonical map stay with the
benchmark and are what the correctness checks compare against.

Two vocabularies:

- ``closed_vocab``: the fixed lexicon of the repository's own synthetic
  corpus (61 people, 12 companies, 8 cities). The registry's executor
  queries filter on its names ('John', 'Smith'), so ``kg_read`` builds its
  graph on it plus random names.
- ``open_vocab``: random names, as many as asked for. Names are
  consonant-vowel strings, so two distinct entities share almost no
  character 3-grams and stay apart under the canonicalizer's 0.6 3-gram
  Jaccard threshold, while each planted "Name Inc" variant sits at or
  above it ("F. Last" abbreviations resolve through the first-initial +
  last-name rule instead).
"""

from __future__ import annotations

import random

import pyarrow as pa

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False), pa.field("spans", pa.list_(SPAN_TYPE))]
)

NOISE = (
    "The quarterly report was filed on time.",
    "Weather conditions remained stable throughout the week.",
    "The committee adjourned without further discussion.",
    "No additional details were provided.",
)
MEDIA_KINDS = ("image", "table", "code")

_FIRST = (
    "John Alice Bob Carol David Emma Frank Grace Henry Iris Kevin Laura Mike "
    "Nina Oscar Paula Quinn Rosa Sam Tara"
).split()
_LAST = "Smith Doe Johnson Williams Brown Davis Miller Wilson Moore Taylor".split()
_COMPANIES = (
    "Tech Corp", "Acme Industries", "Globex Labs", "Initech Systems",
    "Umbrella Works", "Stark Foundry", "Wayne Logistics", "Hooli Cloud",
    "Vandelay Exports", "Pied Piper Data", "Aperture Optics", "Soylent Farms",
)
_CITIES = ("Berlin", "Lisbon", "Austin", "Toronto", "Osaka", "Nairobi", "Helsinki", "Montevideo")

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
_CO_SUFFIX = ("Labs", "Works", "Systems", "Foundry", "Logistics", "Optics", "Holdings")


class Vocab:
    """Canonical names of people, companies and cities; documents and
    triples pick among them uniformly."""

    def __init__(self, people, companies, cities):
        self.people = list(people)
        self.companies = list(companies)
        self.cities = list(cities)

    def person(self, rng: random.Random) -> str:
        return self.people[rng.randrange(len(self.people))]


def closed_vocab() -> Vocab:
    people = [
        f"{_FIRST[(li * 6 + fi) % len(_FIRST)]} {last}"
        for li, last in enumerate(_LAST)
        for fi in range(6)
    ]
    # the one deliberate ambiguity: "J. Smith" is John or Jane
    people.append("Jane Smith")
    return Vocab(people, _COMPANIES, _CITIES)


def _word(rng: random.Random, n_syllables: int) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOWS) for _ in range(n_syllables)).capitalize()


def open_vocab(seed: int, n_people: int, n_companies: int, n_cities: int) -> Vocab:
    """Random-name vocabulary. Last names, company stems and city names are
    unique, so every abbreviation key and every canonical name is
    unambiguous; lengths keep each "Inc" alias at 3-gram Jaccard >= 0.6
    against its canonical name."""
    rng = random.Random(seed * 7919 + 17)
    used: set = set()

    def unique(n_syllables: int) -> str:
        while True:
            w = _word(rng, n_syllables)
            if w not in used:
                used.add(w)
                return w

    people = [f"{_word(rng, rng.randint(2, 3))} {unique(4)}" for _ in range(n_people)]
    companies = [f"{unique(4)} {rng.choice(_CO_SUFFIX)}" for _ in range(n_companies)]
    cities = [unique(4) for _ in range(n_cities)]
    return Vocab(people, companies, cities)


def _person_surface(name: str, rng: random.Random) -> str:
    if rng.random() < 0.30:
        first, last = name.split(" ", 1)
        return f"{first[0]}. {last}"
    return name


def _company_surface(name: str, rng: random.Random) -> str:
    return f"{name} Inc" if rng.random() < 0.15 else name


def corpus(seed: int, n_docs: int, vocab: Vocab):
    """(documents, facts, surface_map).

    documents: pyarrow table in the pipeline's input layout (doc_id, spans).
    facts: set of planted (doc_id, subj, pred, obj) with canonical names.
    surface_map: {(label, surface): canonical} for every surface emitted.
    """
    rng = random.Random(seed)
    doc_ids, spans_col = [], []
    facts: set = set()
    surface_map: dict = {}
    for idx in range(n_docs):
        doc_id = f"doc-{idx:08d}"
        spans: list = []
        offset = 0

        def push(kind, text, media_ref=""):
            nonlocal offset
            spans.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": offset})
            offset += len(text) + 1

        media = 0
        for _ in range(rng.randint(0, 6)):
            kind = rng.random()
            if kind < 0.45:
                p, c = vocab.person(rng), rng.choice(vocab.companies)
                ps, cs = _person_surface(p, rng), _company_surface(c, rng)
                facts.add((doc_id, p, "WORKS_FOR", c))
                surface_map[("Person", ps)] = p
                surface_map[("Company", cs)] = c
                push("text", f"{ps} works for {cs}.")
            elif kind < 0.8:
                a, b = vocab.person(rng), rng.choice(vocab.people)
                if a == b:
                    continue
                as_, bs = _person_surface(a, rng), _person_surface(b, rng)
                facts.add((doc_id, a, "KNOWS", b))
                surface_map[("Person", as_)] = a
                surface_map[("Person", bs)] = b
                push("text", f"{as_} knows {bs}.")
            else:
                c, city = rng.choice(vocab.companies), rng.choice(vocab.cities)
                cs = _company_surface(c, rng)
                facts.add((doc_id, c, "LOCATED_IN", city))
                surface_map[("Company", cs)] = c
                surface_map[("Location", city)] = city
                push("text", f"{cs} is located in {city}.")
            if rng.random() < 0.4:
                mk = rng.choice(MEDIA_KINDS)
                push(mk, f"{mk} attachment {media}", f"media://{doc_id}/{media}")
                media += 1
        for _ in range(rng.randint(0, 2)):
            push("text", rng.choice(NOISE))
        doc_ids.append(doc_id)
        spans_col.append(spans)
    table = pa.table({"doc_id": doc_ids, "spans": spans_col}, schema=DOC_SCHEMA)
    return table, facts, surface_map


def _props(label: str, name: str) -> str:
    if label == "Person":
        first, _, last = name.partition(" ")
        return f"{{firstName: '{first}', lastName: '{last}'}}"
    if label == "Company":
        return f"{{companyName: '{name}'}}"
    return f"{{city: '{name}'}}"


def node_id(label: str, name: str) -> str:
    """The applied graph's node identity string (label, firstName,
    lastName, companyName, city joined by U+001F), derived here from the
    canonical name without calling the program."""
    first, _, last = name.partition(" ")
    fields = {
        "Person": (first, last, "", ""),
        "Company": ("", "", name, ""),
    }.get(label, ("", "", "", name))
    return "\x1f".join((label,) + fields)


_REL_LABELS = {
    "WORKS_FOR": ("Person", "Company"),
    "KNOWS": ("Person", "Person"),
    "LOCATED_IN": ("Company", "Location"),
}


def merge_batches(seed: int, vocab: Vocab, n_triples: int, per_batch: int = 50):
    """(batches, triples): MERGE statements in the pipeline's codegen
    grammar — one node MERGE per entity and one path MERGE per distinct
    canonical triple — packed ``per_batch`` to a newline-joined batch.

    batches: pyarrow table (batch_id, cypher).
    triples: sorted list of distinct (subj, pred, obj, subj_label, obj_label).
    """
    rng = random.Random(seed * 104729 + 3)
    triples: set = set()
    while len(triples) < n_triples:
        kind = rng.random()
        if kind < 0.45:
            t = (vocab.person(rng), "WORKS_FOR", rng.choice(vocab.companies))
        elif kind < 0.8:
            t = (vocab.person(rng), "KNOWS", rng.choice(vocab.people))
            if t[0] == t[2]:
                continue
        else:
            t = (rng.choice(vocab.companies), "LOCATED_IN", rng.choice(vocab.cities))
        triples.add(t + _REL_LABELS[t[1]])
    ordered = sorted(triples)
    stmts = []
    entities = sorted({(sl, s) for s, _p, _o, sl, _ol in ordered} | {(ol, o) for _s, _p, o, _sl, ol in ordered})
    for label, name in entities:
        stmts.append(f"MERGE ({label[0].lower()}:{label} {_props(label, name)})")
    for s, p, o, sl, ol in ordered:
        stmts.append(f"MERGE (a:{sl} {_props(sl, s)})-[:{p}]->(b:{ol} {_props(ol, o)})")
    rng.shuffle(stmts)
    ids, texts = [], []
    for i in range(0, len(stmts), per_batch):
        ids.append(f"b-{i // per_batch}")
        texts.append("\n".join(stmts[i : i + per_batch]))
    return pa.table({"batch_id": ids, "cypher": texts}), ordered
