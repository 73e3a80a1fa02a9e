"""Seeded input corpora for the benchmark workloads, with their gold data.

Two generators feed the pipeline workloads:

- `default_corpus` wraps the product's own page generator
  (`sources.pages.generate_page`).  Its entity universe is fixed at a
  few hundred names whatever the page count.
- `entity_corpus` renders the stub extractor's three sentence shapes
  ("is led by", "is headquartered in", "announced a partnership with")
  into short pages whose entity universe grows with the page count: a
  Zipf head of hot companies, a long tail, name variants with a known
  cluster id (suffix, punctuation, trailing-character typo) and
  near-miss names that must stay separate.

Both return a `Corpus`: page rows for the `pages` table, the gold
triples a correct extractor recovers (in surface-URI space, before
linking), and the gold cluster of every entity URI.  The same seed
gives byte-identical output.
"""

from __future__ import annotations

import datetime as dt
import html as _html
import itertools
import random
import re
from dataclasses import dataclass

from rdf_knowledge_extractor_spark.sources.pages import (
    BASE_URI,
    NAMESPACE,
    generate_page,
)

# the linking verifier's default Jaccard threshold (operators/linking.py)
LINK_THRESHOLD = 0.85
# corporate suffix tokens the canonical key strips (operators/linking.py)
_KEY_SUFFIXES = "Inc|Corp|Corporation|Solutions|Industries|Group|Labs|Ltd|Llc|Gmbh"


@dataclass
class Corpus:
    rows: list[tuple]  # (url, warc_ts, html bytes, lang, doc_seq)
    texts: list[str]  # body text of each page, as html→text yields it
    page_gold: list[list[tuple[str, str, str]]]  # gold triples of each page
    clusters: dict[str, str]  # entity URI -> gold cluster id

    def gold(self, skip: set[int] = frozenset()) -> set[tuple[str, str, str]]:
        """Gold triples of every page but those in `skip`."""
        return {t for i, page in enumerate(self.page_gold) if i not in skip for t in page}


def camel(name: str) -> str:
    """Surface form -> URI local name, as the stub extractor builds it."""
    return "".join(ch for ch in name.title() if ch.isalnum())


def canonical_key(local: str) -> str:
    """The linking stage's canonical key of a URI local name."""
    stripped = re.sub(f"(?<=[a-z0-9])({_KEY_SUFFIXES})$", "", local)
    stripped = re.sub("[^a-zA-Z0-9]", "", stripped).lower()
    return stripped if len(stripped) >= 3 else re.sub("[^a-zA-Z0-9]", "", local).lower()


def key_jaccard(a: str, b: str) -> float:
    """Jaccard of the character-3-gram sets of two canonical keys."""
    sa = {a[i : i + 3] for i in range(len(a) - 2)} or {a}
    sb = {b[i : i + 3] for i in range(len(b) - 2)} or {b}
    return len(sa & sb) / len(sa | sb)


def _warc_ts(doc_seq: int) -> dt.datetime:
    return dt.datetime(2025, 1, 1) + dt.timedelta(seconds=doc_seq * 37 % 31_536_000)


# ---------------------------------------------------------------------------
# the product's page generator
# ---------------------------------------------------------------------------


def default_corpus(n_pages: int, seed: int) -> Corpus:
    """`generate_page` pages.  The generator builds each company name
    as "<stem> <suffix>" and its aliases from the stem, so a company
    URI's gold cluster is its stem; a person is a cluster of its own."""
    rows, texts, gold, clusters = [], [], [], {}
    for i in range(n_pages):
        p = generate_page(i, seed)
        rows.append((p.url, p.warc_ts, p.html, p.lang, p.doc_seq))
        texts.append(p.text)
        gold.append(p.gold_triples)
        names = {s: o for s, pred, o in p.gold_triples if pred == NAMESPACE + "hasName"}
        for uri, canon in p.alias_map.items():
            clusters[uri] = names[canon].split(" ")[0] if canon in names else canon
    return Corpus(rows, texts, gold, clusters)


# ---------------------------------------------------------------------------
# the growing-universe entity-linking corpus
# ---------------------------------------------------------------------------

_WORD_A = [
    "Brightwater", "Silverline", "Northgate", "Ironwood", "Bluestone",
    "Redcliff", "Greenhaven", "Goldcrest", "Stonebridge", "Clearwater",
    "Highland", "Oakridge", "Maplewood", "Riverside", "Sunpeak",
    "Westbrook", "Eastfield", "Frostvale", "Cedarpoint", "Harborview",
    "Lakeshore", "Pinecrest", "Rockport", "Summitview", "Thornbury",
    "Wildmere", "Ashford", "Blackwood", "Copperfield", "Deepwell",
    "Elmstead", "Fairmont", "Glenmore", "Hollowbrook", "Kingsbury",
    "Longmeadow", "Millbrook", "Newcastle", "Oldbridge", "Pemberton",
    "Quarrydale", "Ravenscroft", "Shadowmere", "Tidewater", "Umberfield",
    "Valemont", "Whitlock", "Yellowpine",
]
_WORD_B = [
    "Dynamics", "Logistics", "Analytics", "Robotics", "Networks",
    "Materials", "Ventures", "Partners", "Medical", "Energy",
    "Aerospace", "Pharmaceutical", "Microdevices", "Semiconductor",
    "Biosciences", "Automation", "Telecom", "Hydraulics", "Optics",
    "Textiles", "Instruments", "Shipping", "Consulting", "Insurance",
    "Brewing", "Mining", "Forestry", "Ceramics", "Plastics", "Software",
    "Hardware", "Security", "Payments", "Genomics", "Satellites",
    "Batteries", "Turbines", "Publishing", "Broadcasting", "Outfitters",
]
_SUFFIXES = ["Inc.", "Corp", "Group", "Labs", "Industries", "Solutions"]
_FIRST = [
    "Sarah", "John", "Michael", "Jennifer", "David", "Laura", "Robert",
    "Emily", "James", "Anna", "Carlos", "Maria", "Wei", "Priya", "Omar",
    "Fatima", "Lukas", "Ingrid", "Tomasz", "Aiko", "Kwame", "Elena",
    "Rafael", "Nadia", "Viktor", "Helga", "Arjun", "Mei", "Diego", "Leila",
]
_LAST = [
    "Johnson", "Smith", "Chen", "Walsh", "Garcia", "Patel", "Kim",
    "Brown", "Davis", "Nguyen", "Mueller", "Rossi", "Tanaka", "Okafor",
    "Lindqvist", "Novak", "Haddad", "Moreau", "Kowalski", "Silva",
    "Andersen", "Yamamoto", "Mensah", "Petrov", "Fischer", "Romano",
    "Delgado", "Kaplan", "Osei", "Brennan", "Ivanova", "Schwartz",
    "Takahashi", "Ferreira", "Lambert", "Horvath", "Duarte", "Keller",
    "Sato", "Virtanen",
]
_ROLES = ["CEO", "CTO", "CFO", "VP of Engineering", "Chief Architect",
          "Head of Sales", "COO", "VP of Product"]
_CITIES = ["San Francisco", "New York", "Austin", "Seattle", "Boston",
           "London", "Berlin", "Tokyo", "Singapore", "Toronto", "Nairobi",
           "Sydney", "Madrid", "Oslo", "Montreal", "Lisbon"]
_LETTERS = "abcdefghijklmnopqrstuvwxyz"

NEAR_MISS_SHARE = 0.05  # companies created as a near-miss of another
PARTNERS_PER_PAGE = 3
COMPANIES_PER_PAGE = 3.0
ZIPF_S = 0.9


@dataclass
class _Company:
    cid: str
    names: list[str]  # every surface form the pages may use
    leader: str
    role: str
    city: str

    def partner_names(self) -> list[str]:
        # the stub's partner pattern stops at the first '.', so a
        # partner surface ending in "Inc." would lose its period
        return [n for n in self.names if "." not in n]


def _typo(word: str, rng: random.Random) -> str:
    return word[:-1] + rng.choice([c for c in _LETTERS if c != word[-1]])


def _key_of(surface: str) -> str:
    return canonical_key(camel(surface))


def _companies(n: int, rng: random.Random) -> list[_Company]:
    stems = [f"{a} {b}" for a, b in itertools.product(_WORD_A, _WORD_B)]
    if n > len(stems):
        raise ValueError(f"at most {len(stems)} companies, asked for {n}")
    rng.shuffle(stems)
    people = [f"{f} {last}" for f, last in itertools.product(_FIRST, _LAST)]
    rng.shuffle(people)
    out: list[_Company] = []
    keys: set[str] = set()
    for i, stem in enumerate(stems[:n]):
        suffix = rng.choice(_SUFFIXES)
        names = [f"{stem} {suffix}", stem]
        # punctuation variant: same URI as the suffixed form
        a, b = stem.split(" ")
        names.append(f"{stem}, Inc." if suffix == "Inc." else f"{a}-{b} {suffix}")
        base_key = _key_of(stem)
        typo = _typo(stem, rng)
        if key_jaccard(_key_of(typo), base_key) >= LINK_THRESHOLD:
            names.append(f"{typo} {suffix}")
        keys.add(base_key)
        out.append(_Company(f"c{i}", names, people[i % len(people)],
                            rng.choice(_ROLES), rng.choice(_CITIES)))
    # near misses: the last two characters changed, so the Jaccard to the
    # base (and to its typo variant) falls below the threshold
    for base in list(out[: int(n * NEAR_MISS_SHARE)]):
        stem = base.names[1]
        for _ in range(20):
            cand = _typo(stem[:-1], rng) + rng.choice(_LETTERS)
            key = _key_of(cand)
            if key not in keys and all(
                key_jaccard(key, _key_of(v)) < LINK_THRESHOLD for v in base.names
            ):
                keys.add(key)
                out.append(_Company(f"{base.cid}x", [f"{cand} {rng.choice(_SUFFIXES)}", cand],
                                    base.leader, base.role, base.city))
                break
    return out


def _entity_page(doc_seq, seed, rng, companies, cum) -> tuple[tuple, str, list]:
    c = rng.choices(companies, cum_weights=cum)[0]
    partners = []
    while len(partners) < PARTNERS_PER_PAGE:
        p = rng.choices(companies, cum_weights=cum)[0]
        if p.cid != c.cid and p not in partners:
            partners.append(p)
    lead, hq = rng.choice(c.names), rng.choice(c.names)
    uri = lambda name: BASE_URI + camel(name)  # noqa: E731
    gold = [
        (uri(lead), NAMESPACE + "hasName", lead),
        (uri(c.leader), NAMESPACE + "hasRole", c.role),
        (uri(c.leader), NAMESPACE + "worksFor", uri(lead)),
        (uri(hq), NAMESPACE + "locatedIn", c.city),
    ]
    esc = lambda s: _html.escape(s, quote=False)  # noqa: E731
    sentences = [f"{lead} is led by {c.leader}, who serves as {c.role}.",
                 f"{hq} is headquartered in {c.city}."]
    body = [f"<p>{esc(t)}</p>" for t in sentences]
    nodes = [sentences[0], "\n    ", sentences[1]]
    for p in partners:
        first, partner = rng.choice(c.names), rng.choice(p.partner_names())
        gold += [(uri(first), NAMESPACE + "partneredWith", uri(partner)),
                 (uri(first), NAMESPACE + "hasName", first),
                 (uri(partner), NAMESPACE + "hasName", partner)]
        opening = f"{first} announced a partnership with "
        # the partner name sits in a nested <b>, as in the product generator
        body.append(f"<p>{esc(opening)}<b>{esc(partner)}</b>.</p>")
        nodes += ["\n    ", opening, partner, "."]
    page = ("<!DOCTYPE html><html><head><title>Company news</title></head><body>\n    "
            + "\n    ".join(body) + "\n</body></html>")
    # body text nodes joined by one space, as html→text yields them
    text = " ".join(nodes)
    url = f"https://links.example.org/{seed}/{doc_seq:08d}.html"
    return (url, _warc_ts(doc_seq), page.encode(), "en", doc_seq), text, gold


def entity_corpus(n_pages: int, seed: int) -> Corpus:
    """Short pages over `COMPANIES_PER_PAGE * n_pages` companies (the
    name space holds 1,920, so at most 640 pages)."""
    rng = random.Random(seed)
    companies = _companies(max(20, int(n_pages * COMPANIES_PER_PAGE)), rng)
    rng.shuffle(companies)  # near misses spread over the Zipf ranks
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(companies))))
    rows, texts, gold = [], [], []
    for i in range(n_pages):
        row, text, facts = _entity_page(i, seed, rng, companies, cum)
        rows.append(row)
        texts.append(text)
        gold.append(facts)
    clusters = {}
    for c in companies:
        for n in c.names:
            clusters[BASE_URI + camel(n)] = c.cid
        clusters[BASE_URI + camel(c.leader)] = c.leader
    return Corpus(rows, texts, gold, clusters)
