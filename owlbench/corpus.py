"""Seeded synthetic OBO-style OWL corpora and the oracle derived from them.

The generator builds an in-memory model of each ontology (classes with
labels, subClassOf parents, owl:Restriction links, definitions, xrefs and
synonyms), renders it as RDF/XML, and derives from the same model the graph
the pipeline must land: vertex keys with their attribute maps, edge keys
with their normalised labels, and the search terms of the vertex labels and
synonyms.  Everything is a pure function of the seed and the size arguments.

Modes:

- ``generate``: several ontology files plus ``ro.owl``; its
  ``annotations`` argument makes them annotation-heavy: more synonyms and
  xrefs per class, and ``owl:Axiom`` annotation blocks (parse work that
  yields no graph rows);
- ``delta``: a version 2 of a corpus in which a share of the classes of a
  few files is relabelled, gains or loses subClassOf parents, turns
  obsolete, or is new.
"""

from __future__ import annotations

import copy
import os
import random
import zlib
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

OBO = "http://purl.obolibrary.org/obo/"
CORPUS_ONTOLOGIES = ["CL", "GO", "UBERON", "HP", "MONDO", "PATO", "CHEBI", "PR"]
# Ontology ids the graph keeps as vertices (the program's whitelist, restated
# here so the oracle does not read it from the code under test).
VALID_IDS = {
    "BGS", "BMC", "CHEBI", "CHEMBL", "CL", "CS", "CSD", "GO", "GS", "HP",
    "HsapDv", "MONDO", "NCBITaxon", "NCT", "Orphanet", "PATO", "PR", "PUB",
    "RS", "UBERON",
}
# The ro.owl dictionary: restriction properties and their labels.
RO_TERMS = {
    "RO_0002202": "develops from",
    "RO_0002215": "capable of",
    "RO_0002175": "present in taxon",
    "RO_0001025": "located in",
    "RO_0000087": "has role",
    "RO_0002211": "regulates",
    "RO_0002131": "overlaps",
    "RO_0000052": "inheres in",
}
TAXON_RO = "RO_0002175"
RESTRICTION_SHARE = 0.3   # classes with owl:Restriction subClassOf axioms
OBSOLETE_SHARE = 0.03     # classes labelled obsolete
TAXA = ["9606", "10090", "7955", "10116"]
LANGS = ["fr", "de", "es"]
SYNONYM_PREDICATES = ["hasExactSynonym", "hasRelatedSynonym", "hasBroadSynonym"]
# Vertex attributes the search view indexes: labels and synonyms.
SEARCH_ATTRS = ["label", *SYNONYM_PREDICATES]

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ke", "li", "mo", "nu", "pa", "qui",
    "ro", "sa", "te", "vi", "wo", "xa", "ye", "zo", "tri", "ple", "cyt", "neu",
]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    # "obsolete" marks deprecated terms in labels; keep it out of the words
    return sorted(w for w in words if "obsolete" not in w)


@dataclass
class Term:
    onto: str
    num: str
    labels: list[tuple[str, str | None]]        # (text, xml:lang)
    parents: list[str] = field(default_factory=list)   # nums in the same ontology
    restrictions: list[tuple[str, str, str]] = field(default_factory=list)  # (RO id, onto, num)
    definition: str = ""
    xrefs: list[str] = field(default_factory=list)
    synonyms: list[tuple[str, str]] = field(default_factory=list)  # (predicate, text)
    obsolete: bool = False
    bfo_parent: bool = False                    # subClassOf a non-vertex (BFO) term
    axioms: int = 0                             # owl:Axiom annotation blocks

    @property
    def key(self) -> tuple[str, str]:
        return (self.onto, self.num)

    def attrs(self) -> tuple[tuple[str, tuple[str, ...]], ...]:
        """The vertex's attribute map as the pipeline lands it: each literal
        predicate with its sorted values, sorted by predicate."""
        out: dict[str, set[str]] = {
            "label": {text for text, _ in self.labels},
            "IAO_0000115": {self.definition},
            "id": {f"{self.onto}:{self.num}"},
        }
        if self.xrefs:
            out["hasDbXref"] = set(self.xrefs)
        for pred, text in self.synonyms:
            out.setdefault(pred, set()).add(text)
        return tuple(sorted((a, tuple(sorted(v))) for a, v in out.items()))


@dataclass
class Corpus:
    """A set of ontologies (ontology id -> its classes, in document order)."""

    ontologies: dict[str, list[Term]]
    words: list[str]

    def files(self) -> dict[str, bytes]:
        """One ``<id>.owl`` per ontology plus ``ro.owl``, rendered."""
        out = {
            f"{onto.lower()}.owl": render_ontology(onto, terms).encode("utf-8")
            for onto, terms in self.ontologies.items()
        }
        out["ro.owl"] = render_ro().encode("utf-8")
        return out

    def write(self, path: str) -> int:
        """Write the corpus files to ``path``; returns their total bytes."""
        os.makedirs(path, exist_ok=True)
        files = self.files()
        for name, data in files.items():
            with open(os.path.join(path, name), "wb") as f:
                f.write(data)
        return sum(map(len, files.values()))


def _num(i: int) -> str:
    return f"{i:07d}"


def _phrase(rng: random.Random, words: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choice(words) for _ in range(rng.randint(lo, hi)))


def _make_term(
    rng: random.Random,
    words: list[str],
    onto: str,
    i: int,
    annotations: int,
) -> Term:
    label = _phrase(rng, words, 2, 4)
    if rng.random() < 0.3:
        label = label.capitalize()
    labels: list[tuple[str, str | None]] = [(label, "en" if rng.random() < 0.7 else None)]
    if rng.random() < 0.2:
        labels.append((_phrase(rng, words, 2, 3), rng.choice(LANGS)))
    t = Term(onto, _num(i), labels)
    # DAG: parents have lower numbers
    if i > 1:
        for _ in range(rng.choice([1, 1, 1, 2])):
            t.parents.append(_num(rng.randint(1, i - 1)))
        t.parents = sorted(set(t.parents))
    elif i == 1:
        t.bfo_parent = True
    t.definition = _phrase(rng, words, 6, 14).capitalize() + "."
    t.xrefs = [f"{rng.choice(['MESH', 'FMA', 'BTO', 'ZFA'])}:{rng.randint(1, 99999)}"
               for _ in range(rng.randint(0, 2 + annotations))]
    t.synonyms = sorted({(rng.choice(SYNONYM_PREDICATES), _phrase(rng, words, 1, 3))
                         for _ in range(rng.randint(0, 1 + annotations))})
    t.axioms = annotations and len(t.synonyms)
    return t


def _add_restrictions(rng: random.Random, ontologies: dict[str, list[Term]], share: float) -> None:
    """owl:Restriction subClassOf axioms: a taxon constraint, or a link to a
    class of this or another ontology (cross-ontology when more are loaded)."""
    ids = list(ontologies)
    for terms in ontologies.values():
        for t in terms:
            if rng.random() >= share:
                continue
            for _ in range(rng.randint(1, 2)):
                if rng.random() < 0.2:
                    t.restrictions.append((TAXON_RO, "NCBITaxon", rng.choice(TAXA)))
                else:
                    target = rng.choice(ids)
                    n = len(ontologies[target])
                    ro = rng.choice([r for r in RO_TERMS if r != TAXON_RO])
                    t.restrictions.append((ro, target, _num(rng.randint(1, n))))
            t.restrictions = sorted(set(t.restrictions))


def _mark_obsolete(rng: random.Random, terms: list[Term], share: float) -> None:
    for t in terms[1:]:
        if rng.random() < share:
            _obsolete(t)


def _obsolete(t: Term) -> None:
    t.obsolete = True
    t.labels = [(f"obsolete {t.labels[0][0]}", t.labels[0][1])]


def generate(
    seed: int,
    ontologies: list[str],
    classes: int,
    annotations: int = 0,
) -> Corpus:
    """A corpus of ``len(ontologies)`` files with ``classes`` classes each.
    ``annotations`` adds that many extra xrefs and synonyms per class, with
    one ``owl:Axiom`` block per synonym (the annotation-heavy mode)."""
    rng = random.Random(seed)
    words = _vocabulary(rng, 3000)
    model: dict[str, list[Term]] = {}
    for onto in ontologies:
        terms = [_make_term(rng, words, onto, i, annotations) for i in range(1, classes + 1)]
        _mark_obsolete(rng, terms, OBSOLETE_SHARE)
        model[onto] = terms
    _add_restrictions(rng, model, RESTRICTION_SHARE)
    return Corpus(model, words)


def delta(corpus: Corpus, seed: int, files: int = 2, share: float = 0.05) -> tuple[Corpus, list[str]]:
    """Version 2 of ``corpus``: in ``files`` of its ontologies, ``share`` of
    the classes change — relabels, added and dropped subClassOf parents,
    newly obsolete terms — and as many new classes are added.  Returns the
    new corpus and the ids of the changed ontologies."""
    rng = random.Random(seed * 7919 + 1)
    v2 = Corpus(copy.deepcopy(corpus.ontologies), corpus.words)
    changed = sorted(rng.sample(sorted(v2.ontologies), files))
    for onto in changed:
        terms = v2.ontologies[onto]
        live = [t for t in terms[1:] if not t.obsolete]
        picked = rng.sample(live, max(4, int(len(terms) * share)))
        for j, t in enumerate(picked):
            kind = j % 4
            if kind == 0:
                t.labels = [(_phrase(rng, corpus.words, 2, 4), "en")] + t.labels[1:]
            elif kind == 1:
                t.parents = sorted(set(t.parents) | {_num(rng.randint(1, int(t.num) - 1))})
            elif kind == 2 and t.parents:
                t.parents = t.parents[1:]
            else:
                _obsolete(t)
        for _ in range(len(picked)):
            i = len(terms) + 1
            t = _make_term(rng, corpus.words, onto, i, 0)
            terms.append(t)
    return v2, changed


# ---------------------------------------------------------------------------
# RDF/XML rendering
# ---------------------------------------------------------------------------
_HEADER = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:xsd="http://www.w3.org/2001/XMLSchema#"
         xmlns:obo="http://purl.obolibrary.org/obo/"
         xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#"
         xmlns:dc="http://purl.org/dc/elements/1.1/">
"""


def _lang(lang: str | None) -> str:
    return f' xml:lang="{lang}"' if lang else ""


def render_ontology(onto: str, terms: list[Term]) -> str:
    low = onto.lower()
    out = [
        _HEADER,
        f'  <owl:Ontology rdf:about="{OBO}{low}.owl">\n'
        f'    <owl:versionIRI rdf:resource="{OBO}{low}/releases/2024-01-01/{low}.owl"/>\n'
        f"    <dc:title>{onto} (synthetic)</dc:title>\n"
        f'    <obo:IAO_0000700 rdf:resource="{OBO}{onto}_{terms[0].num}"/>\n'
        "  </owl:Ontology>\n",
    ]
    for ro in RO_TERMS:
        out.append(f'  <owl:ObjectProperty rdf:about="{OBO}{ro}"/>\n')
    for t in terms:
        iri = f"{OBO}{onto}_{t.num}"
        out.append(f'  <owl:Class rdf:about="{iri}">\n')
        for text, lang in t.labels:
            out.append(f"    <rdfs:label{_lang(lang)}>{escape(text)}</rdfs:label>\n")
        if t.obsolete:
            out.append('    <owl:deprecated rdf:datatype="http://www.w3.org/2001/XMLSchema#boolean">'
                       "true</owl:deprecated>\n")
        if t.bfo_parent:
            out.append(f'    <rdfs:subClassOf rdf:resource="{OBO}BFO_0000002"/>\n')
        for p in t.parents:
            out.append(f'    <rdfs:subClassOf rdf:resource="{OBO}{onto}_{p}"/>\n')
        for ro, to, tn in t.restrictions:
            out.append(
                "    <rdfs:subClassOf>\n      <owl:Restriction>\n"
                f'        <owl:onProperty rdf:resource="{OBO}{ro}"/>\n'
                f'        <owl:someValuesFrom rdf:resource="{OBO}{to}_{tn}"/>\n'
                "      </owl:Restriction>\n    </rdfs:subClassOf>\n"
            )
        out.append(f'    <obo:IAO_0000115 xml:lang="en">{escape(t.definition)}</obo:IAO_0000115>\n')
        for x in t.xrefs:
            out.append(f"    <oboInOwl:hasDbXref>{x}</oboInOwl:hasDbXref>\n")
        for pred, text in t.synonyms:
            out.append(f"    <oboInOwl:{pred}>{escape(text)}</oboInOwl:{pred}>\n")
        out.append(f"    <oboInOwl:id>{onto}:{t.num}</oboInOwl:id>\n  </owl:Class>\n")
        # annotation blocks: anonymous top-level nodes the parser must read
        # and the graph build must drop
        for pred, text in t.synonyms[: t.axioms]:
            out.append(
                "  <owl:Axiom>\n"
                f'    <owl:annotatedSource rdf:resource="{iri}"/>\n'
                f'    <owl:annotatedProperty rdf:resource="http://www.geneontology.org/formats/oboInOwl#{pred}"/>\n'
                f"    <owl:annotatedTarget>{escape(text)}</owl:annotatedTarget>\n"
                f"    <oboInOwl:hasDbXref>PMID:{zlib.crc32(text.encode()) % 10**8}</oboInOwl:hasDbXref>\n"
                "  </owl:Axiom>\n"
            )
    # an imported class stub: outside the root namespace, so extraction
    # must drop its statements (it still becomes a vertex if referenced)
    out.append(
        f'  <owl:Class rdf:about="{OBO}BFO_0000002">\n'
        f"    <rdfs:label>continuant</rdfs:label>\n  </owl:Class>\n"
    )
    out.append("</rdf:RDF>\n")
    return "".join(out)


def render_ro() -> str:
    out = [_HEADER, f'  <owl:Ontology rdf:about="{OBO}ro.owl"/>\n']
    for ro, label in RO_TERMS.items():
        out.append(
            f'  <owl:ObjectProperty rdf:about="{OBO}{ro}">\n'
            f"    <rdfs:label>{label}</rdfs:label>\n  </owl:ObjectProperty>\n"
        )
    out.append("</rdf:RDF>\n")
    return "".join(out)


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------
def edge_label(ro: str) -> str:
    return RO_TERMS[ro].replace(" ", "_").upper()


@dataclass
class ExpectedGraph:
    vertices: dict[tuple[str, str], tuple]            # key -> attrs (Term.attrs)
    edges: dict[tuple[str, str, str, str], tuple[str, ...]]  # key -> sorted labels
    texts: dict[tuple[str, str], list[str]]           # key -> label/synonym texts

    def vertex_strings(self) -> list[str]:
        return [vertex_string(*k, attrs) for k, attrs in self.vertices.items()]

    def edge_strings(self) -> list[str]:
        return [edge_string(*k, labels) for k, labels in self.edges.items()]

    def search_strings(self) -> list[str]:
        """``token#n_docs`` per term of the label/synonym search index."""
        docs: dict[str, set[tuple[str, str]]] = {}
        for key, texts in self.texts.items():
            for text in texts:
                for tok in text.lower().split():
                    docs.setdefault(tok, set()).add(key)
        return [f"{tok}#{len(keys)}" for tok, keys in docs.items()]

    def merged_with(self, incoming: "ExpectedGraph") -> "ExpectedGraph":
        """The store after an upsert of ``incoming``: every key of either
        side, with the incoming row winning."""
        return ExpectedGraph(
            {**self.vertices, **incoming.vertices},
            {**self.edges, **incoming.edges},
            {**self.texts, **incoming.texts},
        )

    def rows_changed_by(self, incoming: "ExpectedGraph") -> int:
        """Rows an upsert of ``incoming`` adds or alters."""
        changed = sum(1 for k, v in incoming.vertices.items() if self.vertices.get(k) != v)
        return changed + sum(1 for k, v in incoming.edges.items() if self.edges.get(k) != v)


def vertex_string(coll: str, key: str, attrs) -> str:
    values = ";".join(f"{a}={','.join(vs)}" for a, vs in attrs)
    return f"{coll}/{key}|{values}"


def edge_string(fc: str, fk: str, tc: str, tk: str, labels) -> str:
    return f"{fc}/{fk}>{tc}/{tk}:{','.join(labels)}"


def expected_graph(corpus: Corpus) -> ExpectedGraph:
    """The graph the pipeline must build from ``corpus``: every valid class
    and every valid IRI object of a class statement is a vertex unless a
    label marks it obsolete; an edge needs both endpoints to be vertices."""
    terms = {t.key: t for ts in corpus.ontologies.values() for t in ts}
    keys: set[tuple[str, str]] = set()
    edges: dict[tuple[str, str, str, str], set[str]] = {}
    for t in terms.values():
        keys.add(t.key)
        for p in t.parents:
            keys.add((t.onto, p))
            edges.setdefault((t.onto, t.num, t.onto, p), set()).add("SUB_CLASS_OF")
        for ro, to, tn in t.restrictions:
            if to in VALID_IDS:
                keys.add((to, tn))
                edges.setdefault((t.onto, t.num, to, tn), set()).add(edge_label(ro))
    obsolete = {k for k, t in terms.items() if t.obsolete}
    live = keys - obsolete
    vertices = {k: terms[k].attrs() if k in terms else () for k in live}
    texts = {
        k: [text for text, _ in terms[k].labels] + [text for _, text in terms[k].synonyms]
        for k in live
        if k in terms
    }
    kept = {
        k: tuple(sorted(labels))
        for k, labels in edges.items()
        if k[:2] in live and k[2:] in live
    }
    return ExpectedGraph(vertices, kept, texts)


def graph_rows(graph: ExpectedGraph) -> tuple[list[tuple], list[tuple]]:
    """The vertex and edge rows the pipeline lands for ``graph``, in its
    landing schema: vertices (collection, key, attrs) and edges
    (from_collection, to_collection, from_key, to_key, labels, sources)."""
    vertices = [(*key, {a: list(vs) for a, vs in attrs}) for key, attrs in graph.vertices.items()]
    edges = [
        (fc, tc, fk, tk, list(labels), [fc.upper()])
        for (fc, fk, tc, tk), labels in graph.edges.items()
    ]
    return vertices, edges


def digest(strings) -> tuple[int, int]:
    """Order-independent digest: (count, sum of CRC32 of the UTF-8 bytes).
    Spark's ``crc32`` over the same strings gives the same sum."""
    n = total = 0
    for s in strings:
        n += 1
        total += zlib.crc32(s.encode("utf-8"))
    return n, total
