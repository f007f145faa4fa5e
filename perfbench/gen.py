"""Seeded page-corpus generator for the KG-construction benchmark.

Every page is built from templates whose triple yield is known by
construction, so the benchmark's output checks compare the pipeline's
results against counts that come from here, never from the code under
test. The seed permutes which page gets which shape, alias tokens and
sameAs edge, and salts every IRI; it never changes the page count,
the shape proportions or the cluster-size distribution, so runs with
different seeds measure nearly the same amount of work.

Two corpora:

* ``turtle_corpus``: Turtle documents in three filler shapes, a heavy
  tail (one ~1.9 MB page, one blank-node-dense page) and a few broken
  pages that must quarantine. A page parses to ~40-50 triples.
* ``embedded_corpus``: HTML pages carrying JSON-LD islands, RDFa,
  microdata, a mix of JSON-LD and microdata, plain Turtle text, or no
  markup at all. Entities are joined by owl:sameAs edges into clusters
  of Zipf-distributed size plus one hub star.

Both corpora mention tokens of a generated alias dictionary in their
text (one per Turtle page, one to three per HTML page), so entity
linking emits a known number of links.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

NS = "http://bench.example.org/ns#"
ENT = "http://bench.example.org/ent/"
KB = "http://bench.example.org/kb/"
OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
N_ALIASES = 400
SYNTAXES = ("turtle", "jsonld", "rdfa", "microdata")

_PREFIXES = (
    "@prefix ex: <http://bench.example.org/ns#> .\n"
    "@prefix foaf: <http://xmlns.com/foaf/0.1/> .\n"
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
)

# Filler vocabulary for page prose. None of these words is a dispatch
# trigger of the embedded extractor ("property", "typeof", "itemscope",
# "ld+json"); pages that should trip a guard add a trigger on purpose.
_WORDS = (
    "graph crawl page entity link table shard bucket river stone cloud "
    "market garden engine signal harbor lantern meadow orbit quartz "
    "ribbon saddle timber vessel window yonder zephyr anchor beacon "
    "candle delta ember falcon glacier hollow island jasper kernel"
).split()

# The heavy tail and the broken pages. Broken texts each fail to parse
# as Turtle; no page nests deeper than a few levels.
BROKEN_TURTLE = [
    "<http://bench.example.org/x> <http://bench.example.org/y> @@@ not turtle\n",
    _PREFIXES + 'ex:a ex:b "unterminated literal .\n',
    "undeclared:a undeclared:b undeclared:c .\n",
    _PREFIXES + "ex:a ex:b ex:c ; ex:d .\n",
]


@dataclass
class Corpus:
    """Generated pages plus the expectations the benchmark checks."""

    pages: list[tuple[str, str]]          # (url, text)
    aliases: list[tuple[str, str, float]]  # (alias, entity_iri, prior)
    per_url: dict[str, int]               # url -> expected extracted triples
    per_syntax: dict[str, int]            # syntax -> expected triples
    turtle_rejects: set[str]              # pages the Turtle parser rejects
    n_links: int                          # expected entity-link triples
    noncanonical: set[str]                # sameAs members that are not
    n_edges: int                          # their component's minimum
    largest_component: int

    @property
    def n_extracted(self) -> int:
        return sum(self.per_url.values())

    @property
    def n_canonical(self) -> int:
        """Rows of triples_canonical: no two generated triples collapse
        under the sameAs rewrite, so the table keeps every extracted
        triple and every link."""
        return self.n_extracted + self.n_links


def _alias_table(rng: random.Random) -> list[tuple[str, str, float]]:
    tag = f"{rng.getrandbits(24):06x}"
    return [(f"kgalias{tag}x{n}", f"{KB}{tag}/{n}", 1.0)
            for n in range(N_ALIASES)]


def _prose(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _turtle_blocks(rng: random.Random, i: int, n: int = 12) -> str:
    """``n`` statement groups of exactly 3 triples each."""
    out = []
    for b in range(n):
        v = rng.randrange(100000)
        lang = "@en" if b % 3 == 0 else ""
        out.append(
            f"<http://bench.example.org/r/{i}/{b}> ex:prop{b % 5} "
            f'"value {v} {_prose(rng, 12)}"{lang} ;\n'
            f"    ex:rank {v} ;\n"
            f'    ex:seen "2024-10-{b % 28 + 1:02d}T0{b % 10}:12:'
            f'{v % 60:02d}.{v % 1000:03d}Z"^^xsd:dateTime .\n'
        )
    return "".join(out)


def _turtle_entity(i: int, subj: str, alias: str, same_as: str | None,
                   j: int, k: int) -> tuple[str, int]:
    """Shape A: one entity with 6 triples, 7 with a sameAs edge."""
    same = f" ;\n    owl:sameAs <{same_as}>" if same_as else ""
    return (
        f"<{subj}> a ex:Thing ;\n"
        f'    foaf:name "Entity {i} {alias}" ;\n'
        f"    ex:rank {i} ;\n"
        f'    ex:score "{i}.5"^^xsd:decimal ;\n'
        f"    ex:linksTo ex:e{j} , ex:e{k}{same} .\n",
        7 if same_as else 6,
    )


def _big_page(n_stmts: int = 4000) -> tuple[str, int]:
    parts = [_PREFIXES]
    for n in range(n_stmts):
        pad = f"padding-{n:06d}-" + "x" * 420
        parts.append(f'ex:s{n} ex:prop{n % 7} "{pad}" ;\n    ex:rank {n} .\n')
    return "".join(parts), 2 * n_stmts


def _bnode_page(n: int = 1000) -> tuple[str, int]:
    parts = [_PREFIXES]
    for k in range(n):
        parts.append(
            f"ex:owner{k} ex:holds [ ex:idx {k} ; ex:child "
            f'[ ex:leaf "v{k}" ] ] , [ ex:alt {k} ] .\n'
            f"_:b{k} ex:next _:b{k + 1} ; ex:val {k} .\n"
        )
    return "".join(parts), 8 * n


def turtle_corpus(seed: int, n_pages: int) -> Corpus:
    rng = random.Random(seed)
    aliases = _alias_table(rng)
    tag = f"{rng.getrandbits(24):06x}"
    pages, per_url, broken, noncanon = [], {}, set(), set()
    n_links = 0
    n_edges = 0

    def add(url: str, text: str, n_triples: int, n_alias: int):
        nonlocal n_links
        pages.append((url, text))
        per_url[url] = n_triples
        n_links += n_alias

    for b, text in enumerate(BROKEN_TURTLE):
        url = f"https://crawl.example.org/{tag}/broken/{b}"
        add(url, text, 0, 0)
        broken.add(url)
    text, n = _big_page()
    add(f"https://crawl.example.org/{tag}/big/0", text, n, 0)
    text, n = _bnode_page()
    add(f"https://crawl.example.org/{tag}/bnodes/0", text, n, 0)

    shapes = [i % 3 for i in range(n_pages - len(pages))]
    rng.shuffle(shapes)
    for i, shape in enumerate(shapes):
        url = f"https://crawl.example.org/{tag}/page/{i:06d}"
        alias = aliases[rng.randrange(N_ALIASES)][0]
        if shape == 0:
            # every 20th entity page is co-referent with a "dup" IRI;
            # "dup" sorts before "e", so the entity IRI is rewritten
            subj = f"{NS}e{i}"
            same = f"{NS}dup{i}" if i % 20 == 0 else None
            if same:
                noncanon.add(subj)
                n_edges += 1
            j = (i * 7 + 3) % 100000
            k = (i * 13 + 5) % 100000
            if i in (j, k) or j == k:
                k = j + 1 if j + 1 != i else j + 2
            head, n = _turtle_entity(i, subj, alias, same, j, k)
        elif shape == 1:
            # 1 + 3 * 2 list triples, 1 + 2 bnode triples
            head = (
                f"ex:d{i} ex:items ( ex:item{i} ex:item{i + 1} "
                f'"v{i} {alias}" ) ;\n'
                f'    ex:meta [ ex:depth {i} ; ex:tag "t{i}"@en ] .\n'
            )
            n = 10
        else:
            head = (
                f"<http://bench.example.org/ev/{tag}/{i}> ex:at "
                f'"2024-11-{i % 28 + 1:02d}T07:12:{i % 60:02d}.5Z"'
                f"^^xsd:dateTime ;\n"
                f'    ex:uuid "uuid-{i} {alias}" .\n'
            )
            n = 2
        add(url, _PREFIXES + head + _turtle_blocks(rng, i), n + 36, 1)
    rng.shuffle(pages)
    per_syntax = dict.fromkeys(SYNTAXES, 0)
    per_syntax["turtle"] = sum(per_url.values())
    return Corpus(pages, aliases, per_url, per_syntax, broken, n_links,
                  noncanon, n_edges, 2 if n_edges else 0)


# ---------------------------------------------------------------- embedded

def _clusters(rng: random.Random, n_edges: int, tag: str):
    """sameAs edges forming one hub star plus Zipf-sized chains.
    Returns (edges, noncanonical IRIs, largest component size)."""
    edges, noncanon = [], set()
    hub_size = max(2, n_edges // 5)
    hub = f"{ENT}{tag}/hub"
    members = [f"{ENT}{tag}/hubm{k:04d}" for k in range(hub_size - 1)]
    edges.extend((m, hub) for m in members)
    comp = [hub] + members
    noncanon.update(set(comp) - {min(comp)})
    largest = len(comp)
    r = 1
    while len(edges) < n_edges:
        size = max(2, int(40 / r ** 1.1))
        size = min(size, n_edges - len(edges) + 1)
        chain = [f"{ENT}{tag}/c{r:04d}m{m:03d}" for m in range(size)]
        edges.extend(zip(chain, chain[1:]))
        noncanon.update(set(chain) - {min(chain)})
        r += 1
    rng.shuffle(edges)
    return edges, noncanon, largest


def _jsonld(subj: str, props: list[tuple[str, str]],
            same_as: str | None) -> tuple[str, int]:
    # the IRI-valued sameAs is a {"@id": ...} node reference: the
    # expander does not apply "@type": "@id" coercion from a context
    node = {
        "@context": {"@vocab": "http://schema.org/", "sameAs": OWL_SAME_AS},
        "@id": subj,
        "@type": "Thing",
    }
    node.update(dict(props))
    if same_as:
        node["sameAs"] = {"@id": same_as}
    body = json.dumps(node)
    return (f'<script type="application/ld+json">{body}</script>',
            1 + len(props) + (1 if same_as else 0))


def _rdfa(subj: str, props: list[tuple[str, str]],
          same_as: str | None) -> tuple[str, int]:
    spans = "".join(f'<span property="{p}">{v}</span>\n' for p, v in props)
    same = (f'<link property="{OWL_SAME_AS}" href="{same_as}">\n'
            if same_as else "")
    return (
        f'<div vocab="http://schema.org/" about="{subj}" typeof="Thing">\n'
        f"{spans}{same}</div>\n",
        1 + len(props) + (1 if same_as else 0),
    )


def _microdata(subj: str, props: list[tuple[str, str]],
               same_as: str | None) -> tuple[str, int]:
    spans = "".join(f'<span itemprop="{p}">{v}</span>\n' for p, v in props)
    same = (f'<link itemprop="{OWL_SAME_AS}" href="{same_as}">\n'
            if same_as else "")
    return (
        f'<div itemscope itemid="{subj}" '
        f'itemtype="http://schema.org/Thing">\n{spans}{same}</div>\n',
        1 + len(props) + (1 if same_as else 0),
    )


def _html(title: str, head: str, body: str) -> str:
    return (f"<!DOCTYPE html>\n<html><head><title>{title}</title>\n{head}"
            f"</head><body>\n{body}</body></html>\n")


# page kinds and their share of the embedded corpus, in twentieths
_EMBEDDED_MIX = (["jsonld"] * 5 + ["rdfa"] * 4 + ["microdata"] * 4
                 + ["mixed"] * 2 + ["turtle"] * 2 + ["none"] * 3)


def embedded_corpus(seed: int, n_pages: int) -> Corpus:
    rng = random.Random(seed)
    aliases = _alias_table(rng)
    tag = f"{rng.getrandbits(24):06x}"
    kinds = [_EMBEDDED_MIX[i % len(_EMBEDDED_MIX)] for i in range(n_pages)]
    rng.shuffle(kinds)
    n_marked = sum(1 for k in kinds if k != "none")
    edges, noncanon, largest = _clusters(rng, n_marked // 2, tag)
    n_edges = len(edges)
    edge_iter = iter(edges)
    # two pages whose JSON-LD island is malformed: the embedded extractor
    # drops every JSON-LD triple of such a page
    bad_json = set([i for i, k in enumerate(kinds) if k == "jsonld"][:2])

    pages, per_url, html_urls = [], {}, set()
    per_syntax = dict.fromkeys(SYNTAXES, 0)
    n_links = 0
    for i, kind in enumerate(kinds):
        url = f"https://web.example.org/{tag}/{kind}/{i:06d}"
        page_aliases = sorted({aliases[rng.randrange(N_ALIASES)][0]
                               for _ in range(rng.randint(1, 3))})
        if kind == "turtle":  # its text carries one alias, in foaf:name
            page_aliases = page_aliases[:1]
        n_links += len(page_aliases)
        prose = "".join(
            f"<p>{_prose(rng, 40)} {a} {_prose(rng, 20)}</p>\n"
            for a in page_aliases
        )
        syntaxes = {"mixed": ["jsonld", "microdata"], "none": []}.get(
            kind, [kind])
        head, body, n_page = "", "", 0
        for b, syn in enumerate(syntaxes):
            # only a page's first block carries an edge: two edges of one
            # cluster on one page would collapse to one canonical triple
            edge = None if b or i in bad_json else next(edge_iter, None)
            subj, same_as = edge if edge else (f"{ENT}{tag}/p{i}-{b}", None)
            props = [("name", f"Item {i}-{b}"),
                     ("description", _prose(rng, 10))]
            props += [(f"p{n}", f"v{i}-{b}-{n} {_prose(rng, 4)}")
                      for n in range(rng.choice((4, 6, 8)))]
            if syn == "jsonld":
                markup, n = _jsonld(subj, props, same_as)
                if i in bad_json:
                    markup = markup.replace("}", "", 1)
                    n = 0
                head += markup
            elif syn == "rdfa":
                markup, n = _rdfa(subj, props, same_as)
                body += markup
            elif syn == "microdata":
                markup, n = _microdata(subj, props, same_as)
                body += markup
            else:  # turtle: the page text is a Turtle document
                text, n = _turtle_entity(i, subj, page_aliases[0], same_as,
                                         i + 1, i + 2)
                text = _PREFIXES + text + _turtle_blocks(rng, i, 6)
                n += 18
            per_syntax[syn] += n
            n_page += n
        if kind == "turtle":
            pages.append((url, text))
        else:
            if kind == "none" and i % 2:
                # trips the RDFa dispatch guard without any RDFa markup
                prose += "<p>This property has no structured data.</p>\n"
            pages.append((url, _html(f"Page {i}", head, body + prose)))
            html_urls.add(url)
        per_url[url] = n_page
    rng.shuffle(pages)
    return Corpus(pages, aliases, per_url, per_syntax, html_urls, n_links,
                  noncanon, n_edges, largest)


def make_corpus(workload: str, seed: int, n_pages: int) -> Corpus:
    if workload == "turtle_crawl":
        return turtle_corpus(seed, n_pages)
    if workload == "embedded_crawl":
        return embedded_corpus(seed, n_pages)
    raise ValueError(f"unknown workload {workload!r}")
