"""Seeded synthetic model cards and the pure-Python reference they are
checked against.

Everything here is plain Python: the generator makes the harvests a
workload feeds into the program, and the reference model predicts, from
the same cards and without Spark, what the program must produce — the
enrichment values, the dedup pairs and flags, the triples the transform
emits (as identities, not as strings) and the store counts the SCD2
merge must leave behind.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import random
import re

# The text-statistics spec the enrichment layer implements (kept as a
# copy here so that the reference does not follow a change in the program).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit"],
}
PUNCT = ".,!?;:"
_ALL_STOP = {w for ws in STOPWORDS.values() for w in ws}

# (property, schema range) — the FAIR4ML-style config table the transform
# dispatches on. Entity ranges mint side entities.
SCHEMA = [
    ("name", "Text"),
    ("url", "URL"),
    ("date_created", "Date"),
    ("downloads", "Number"),
    ("description", "Text"),
    ("license", "CreativeWork"),
    ("trained_on", "Dataset"),
    ("author", "Person"),
    ("quality", "Number"),
    ("lang", "Text"),
    ("near_duplicate_of", "Text"),
    ("semantic_duplicate", "Boolean"),
]
RANGE = dict(SCHEMA)
ENTITY_PROPS = [p for p, r in SCHEMA if r in ("CreativeWork", "Dataset", "Person")]
PLAIN_PROPS = [p for p, _ in SCHEMA if p not in ENTITY_PROPS]
# Properties a re-harvest may drop (a card loses the field upstream).
DROPPABLE = ("trained_on", "author")

T0 = dt.datetime(2024, 1, 1)
DAY = dt.timedelta(days=1)


class Zipf:
    """Seeded Zipf(s=1) sampler over ``n`` ranks."""

    def __init__(self, n: int, s: float = 1.0):
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def make_vocab(rng: random.Random, n: int) -> list[str]:
    words: list[str] = []
    seen = set(_ALL_STOP)
    while len(words) < n:
        w = "".join(rng.choice("bcdfghjklmnprstvwz") + rng.choice("aeiou")
                    for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class CardGenerator:
    """Makes model cards (dicts of ``model_id``, ``vec_id`` and the
    harvested properties of :data:`SCHEMA`) from one seed."""

    LANGS = ("en", "en", "en", "en", "en", "en", "en", "es", "fr", "de")
    LICENSES = [
        "apache-2.0", "mit", "cc-by-4.0", "openrail", "llama2", "gpl-3.0",
        "bsd-3-clause", "cc-by-nc-4.0", "afl-3.0", "artistic-2.0", "bsl-1.0",
        "ecl-2.0",
    ]

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = make_vocab(self.rng, 3000)
        self.word_zipf = Zipf(len(self.vocab))
        self.datasets = [f"dataset-{w}" for w in self.vocab[:300]]
        self.people = [f"person-{w}" for w in self.vocab[300:800]]
        self.orgs = [f"org-{w}" for w in self.vocab[800:1000]]
        self.ds_zipf = Zipf(len(self.datasets))
        self.people_zipf = Zipf(len(self.people))
        self.org_zipf = Zipf(len(self.orgs))
        self.lic_zipf = Zipf(len(self.LICENSES))

    def word(self) -> str:
        return self.vocab[self.word_zipf.draw(self.rng)]

    def text(self) -> str:
        rng = self.rng
        lang = rng.choice(self.LANGS)
        out = []
        for i in range(rng.randint(25, 60)):
            w = rng.choice(STOPWORDS[lang]) if rng.random() < 0.25 else self.word()
            if rng.random() < 0.08:
                w += "."
            out.append(w)
        if rng.random() < 0.05:  # shouty cards trip the punctuation penalty
            out = [w + "!!!!" for w in out]
        return " ".join(out)

    def card(self, vec_id: int) -> dict:
        rng = self.rng
        org = self.orgs[self.org_zipf.draw(rng)]
        name = f"{self.word()}-{self.word()}-{vec_id}"
        model_id = f"{org}/{name}"
        return {
            "model_id": model_id,
            "vec_id": vec_id,
            "name": name,
            "url": f"https://huggingface.co/{model_id}",
            "date_created": (T0 - dt.timedelta(days=rng.randint(30, 2000))).strftime("%Y-%m-%d"),
            "downloads": float(rng.randint(0, 2_000_000)),
            "description": self.text(),
            "license": self.LICENSES[self.lic_zipf.draw(rng)],
            "trained_on": self.datasets[self.ds_zipf.draw(rng)],
            "author": self.people[self.people_zipf.draw(rng)],
        }

    def catalog(self, n: int) -> list[dict]:
        return [self.card(i) for i in range(n)]

    def clone(self, original: dict, vec_id: int) -> dict:
        """A new model whose card text copies ``original`` — the planted
        exact duplicate both dedup layers must report."""
        c = self.card(vec_id)
        c["description"] = original["description"]
        return c

    def reharvest(self, cards: list[dict], n_clones: int, change_share: float = 0.10,
                  drop_share: float = 0.03) -> list[dict]:
        """The next full harvest: ``change_share`` of the cards change one
        value, ``drop_share`` lose an optional property, and ``n_clones``
        new models copy the text of a card left as it was."""
        rng = self.rng
        n_change, n_drop = round(change_share * len(cards)), round(drop_share * len(cards))
        picked = rng.sample(range(len(cards)), n_change + n_drop)
        out = [dict(c) for c in cards]
        for i in picked[:n_change]:
            c = out[i]
            field = rng.choice(("license", "trained_on", "downloads", "description"))
            if field == "license":
                c["license"] = self.LICENSES[self.lic_zipf.draw(rng)]
            elif field == "trained_on":
                c["trained_on"] = self.datasets[self.ds_zipf.draw(rng)]
            elif field == "downloads":
                c["downloads"] = float(rng.randint(0, 2_000_000))
            else:
                c["description"] = self.text()
        for i in picked[n_change:]:
            out[i][rng.choice(DROPPABLE)] = None
        next_id = max(c["vec_id"] for c in cards) + 1
        # clone cards this harvest leaves as they were, so that the clone's
        # text is still its original's in the store
        unchanged = [o for o, c in zip(cards, out) if o == c]
        originals = rng.sample(unchanged, n_clones)
        return out + [self.clone(o, next_id + i) for i, o in enumerate(originals)]

    def changed_subset(self, before: list[dict], after: list[dict]) -> list[dict]:
        """Cards of ``after`` that are new or differ from ``before`` — a
        small delta as a change feed delivers it."""
        old = {c["vec_id"]: c for c in before}
        return [c for c in after if old.get(c["vec_id"]) != c]


# ---------------------------------------------------------------- reference

def _tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.lower().strip(" "))


def quality_score(text: str) -> float:
    """Same double arithmetic, in the same order, as the program's
    ``textstats.quality_score``; values have at most four decimals."""
    n = len(text)
    length_factor = min(n / 500.0, 1.0)
    sw = sum(1 for t in _tokens(text) if t in STOPWORDS["en"])
    sw_factor = min(sw / 5.0, 1.0)
    p = (n - len(text.translate({ord(ch): None for ch in PUNCT}))) / float(n)
    punct_factor = 0.5 if p > 0.1 else 1.0
    return round(punct_factor * (length_factor * 0.5 + sw_factor * 0.3 + 0.2), 4)


def lang_id(text: str) -> str:
    toks = _tokens(text)
    best = max(
        (sum(1 for t in toks if t in ws), -i, lang)
        for i, (lang, ws) in enumerate(sorted(STOPWORDS.items()))
    )
    return best[2] if best[0] > 0 else "unknown"


def near_duplicate_of(batch: list[dict], stored: list[dict]) -> dict[int, int]:
    """vec_id -> smallest older stored vec_id with the same text (the
    generator makes texts either identical or unrelated, so Jaccard
    >= 0.8 is text equality)."""
    by_text: dict[str, list[int]] = {}
    for s in stored:
        by_text.setdefault(s["description"], []).append(s["vec_id"])
    out = {}
    for c in batch:
        older = [v for v in by_text.get(c["description"], ()) if v < c["vec_id"]]
        if older:
            out[c["vec_id"]] = min(older)
    return out


def semantic_duplicates(batch: list[dict], stored_other: list[dict]) -> set[int]:
    """Batch vec_ids that lose to a smaller-id batch card or to a stored
    card of another model with identical text (identical embedding)."""
    stored_texts = {s["description"] for s in stored_other}
    first: dict[str, int] = {}
    for c in sorted(batch, key=lambda c: c["vec_id"]):
        first.setdefault(c["description"], c["vec_id"])
    return {
        c["vec_id"] for c in batch
        if c["description"] in stored_texts or first[c["description"]] != c["vec_id"]
    }


def enrich(batch: list[dict], stored: list[dict]) -> list[dict]:
    """The enriched wide rows the transform consumes: harvest fields plus
    quality, lang and the two dedup outputs."""
    ids = {c["vec_id"] for c in batch}
    near = near_duplicate_of(batch, stored)
    sem = semantic_duplicates(batch, [s for s in stored if s["vec_id"] not in ids])
    by_vec = {c["vec_id"]: c["model_id"] for c in itertools.chain(stored, batch)}
    out = []
    for c in batch:
        e = dict(c)
        e["quality"] = quality_score(c["description"])
        e["lang"] = lang_id(c["description"])
        e["near_duplicate_of"] = by_vec[near[c["vec_id"]]] if c["vec_id"] in near else None
        e["semantic_duplicate"] = True if c["vec_id"] in sem else None
        out.append(e)
    return out


def triples_of(enriched: list[dict]) -> set[tuple]:
    """Triple identities the transform emits for these rows: plain
    properties keep their value, entity properties link the model to a
    minted entity that carries an rdf:type and a schema:name triple."""
    out = set()
    for e in enriched:
        subj = ("model", e["model_id"])
        for p in PLAIN_PROPS:
            if e[p] is not None:
                out.add((subj, p, e[p]))
        for p in ENTITY_PROPS:
            v = e[p]
            if v is not None:
                ent = ("entity", RANGE[p], v)
                out.add((subj, p, ent))
                out.add((ent, "type", RANGE[p]))
                out.add((ent, "name", v))
    return out


class ReferenceStore:
    """The SCD2 versioned store's counts, predicted: one range list per
    triple identity (one extraction method and confidence throughout)."""

    def __init__(self):
        self.ranges: dict[tuple, list[list]] = {}

    def merge(self, batch: set[tuple], bt: dt.datetime) -> None:
        subjects = {t[0] for t in batch}
        for key, rs in self.ranges.items():
            for r in rs:
                if r[2]:
                    continue
                if key in batch:
                    r[1] = max(r[1], bt)
                elif key[0] in subjects:
                    r[2] = r[1] < bt
        for key in batch:
            rs = self.ranges.setdefault(key, [])
            # open ranges were just extended; a key without one opens [bt, bt]
            if not any(not r[2] for r in rs):
                rs.append([bt, bt, False])

    def counts(self) -> dict[str, int]:
        flags = [r[2] for rs in self.ranges.values() for r in rs]
        return {
            "triplets": len(self.ranges),
            "open_ranges": flags.count(False),
            "deprecated_ranges": flags.count(True),
        }
