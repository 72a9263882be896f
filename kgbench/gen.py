"""Seeded input generators for the three workloads.

Every generator takes the seed, writes plain files (parquet through
pyarrow, N-Triples and Turtle as text) and returns a ledger of exactly
what it planted, so the benchmark can check the program's output
without asking the program.  Nothing here imports ``shacl_spark``: a
change to the program cannot change the inputs.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SH = "http://www.w3.org/ns/shacl#"
KG = "kg:"
EX = "http://example.org/ns#"
ID = "http://example.org/id/"
RDF_TYPE = RDF + "type"

_WORDS = (
    "order parser client server cache token stream buffer widget record "
    "handler router session query index graph shape node edge table "
    "loader writer reader merger filter mapper scanner planner worker "
    "queue batch config account invoice ledger report metric event "
    "signal socket channel frame packet schema vector tensor matrix "
    "store bucket shard replica lease lock timer clock tracer logger"
).split()
_HUBS = ["os", "sys", "json", "typing", "logging"]
_JS_HUBS = ["react", "lodash", "express"]
# near-duplicate class-name families.  Within a family the names are
# either the same after normalization (Jaccard 1) or one plural away
# (Jaccard 8/9), so the linker's LSH finds every pair with certainty for
# practical purposes; "EventsBus" is deliberately below the threshold.
_FAMILIES = [
    ["HttpClient", "HTTPClient", "Http_Client", "HttpClients"],
    ["JsonParser", "JSONParser", "Json_Parser", "JsonParsers"],
    ["DataLoader", "Data_Loader", "DataLoaders", "DATALoader"],
    ["EventBus", "Event_Bus", "EventsBus", "EVENTBus"],
]
# a function name many files define: the linker's exact-name tier
# merges all of them into one symbol
SHARED_FN = "main"
BAD_LANGS = ["ruby", "go", "rust"]
LINK_THRESHOLD = 0.75  # jobs/build_kg.py --link-threshold default
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _camel(rng: random.Random, n: int) -> str:
    return "".join(w.capitalize() for w in rng.sample(_WORDS, n))


def _snake(rng: random.Random, n: int) -> str:
    return "_".join(rng.sample(_WORDS, n))


def file_iri(repo: str, path: str, commit: str) -> str:
    """The IRI the KG metamodel gives a file (``kg:file/<repo>/<path>@<commit>``)."""
    return f"{KG}file/{repo}/{path}@{commit}"


def shingles(name: str, k: int = 3) -> frozenset[str]:
    """Character k-shingles of the lower-cased alphanumerics of a name,
    the similarity the entity linker scores (Jaccard over these sets)."""
    norm = "".join(c for c in name.lower() if c.isascii() and c.isalnum())
    norm = norm.ljust(k, "_")
    return frozenset(norm[i : i + k] for i in range(len(norm) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


class _Names:
    """Fresh identifiers that no linker threshold can join to another
    name: each has Jaccard below 0.5 with every name handed out or
    reserved before it, so the only merges in the KG are the planted ones."""

    def __init__(self, rng: random.Random, reserved):
        self.rng = rng
        self.sh: dict[str, frozenset] = {}
        self.index: dict[str, set[str]] = {}
        for n in reserved:
            self._add(n)

    def _add(self, name: str) -> None:
        s = self.sh[name] = shingles(name)
        for g in s:
            self.index.setdefault(g, set()).add(name)

    def fresh(self, camel: bool = False) -> str:
        while True:
            syl = [self.rng.choice(_SYL) for _ in range(4)]
            a, b = "".join(syl[:2]), "".join(syl[2:])
            name = a.capitalize() + b.capitalize() if camel else f"{a}_{b}"
            s = shingles(name)
            near = {o for g in s for o in self.index.get(g, ())}
            if all(jaccard(s, self.sh[o]) < 0.5 for o in near):
                self._add(name)
                return name


# --- kg_build: the source-code corpus ----------------------------------------


@dataclass
class Corpus:
    bad_files: set[str]  # file IRIs whose lang is outside the metamodel's sh:in
    file_iris: set[str]
    extracted: int  # distinct triples extraction yields, summed over files
    edges: set[tuple]  # the canonical edge table: (subj, pred, obj, obj_kind, obj_dt, obj_lang)
    merged: int  # entity IRIs the canonical rewrite replaces


def _py_file(nm: _Names, hub: bool, family: str | None, shared: bool) -> tuple[str, list]:
    """Python source and the mentions extraction finds in it, in order:
    (kind, name, base).  Only top-level lines, so every def is seen."""
    ms = [("import", h, None) for h in ([nm.rng.choice(_HUBS)] if hub else [])]
    mods = [nm.fresh(), nm.fresh()]
    lines = [f"import {h}" for _, h, _ in ms]
    lines += [f"import {mods[0]}", f"from {mods[1]} import {nm.fresh()}", ""]
    ms += [("import", m, None) for m in mods]
    for cls in [nm.fresh(camel=True)] + ([family] if family else []):
        base = nm.fresh(camel=True)
        lines += [f"class {cls}({base}):", "    pass", ""]
        ms.append(("class", cls, base))
    calls = []
    for _ in range(2):
        fn, c1, c2 = nm.fresh(), nm.fresh(), nm.fresh()
        lines += [f"def {fn}(a, b):", f"    {c1}(a)", f"    {c2}(b)", "    return b", ""]
        ms.append(("func", fn, None))
        calls += [c1, c2]
    if shared:
        lines += [f"def {SHARED_FN}(argv):", "    return 0", ""]
        ms.append(("func", SHARED_FN, None))
    ms += [("call", c, None) for c in calls]
    return "\n".join(lines), ms


def _js_file(nm: _Names, hub: bool, family: str | None) -> tuple[str, list]:
    ms = [("import", h, None) for h in ([nm.rng.choice(_JS_HUBS)] if hub else [])]
    lines = [f"const h = require('{h}');" for _, h, _ in ms]
    mod = nm.fresh()
    lines.append(f"import x from '{mod}';")
    ms.append(("import", mod, None))
    for cls in [nm.fresh(camel=True)] + ([family] if family else []):
        base = nm.fresh(camel=True)
        lines.append(f"class {cls} extends {base} {{ }}")
        ms.append(("class", cls, base))
    calls = []
    for _ in range(2):
        fn, c = nm.fresh(camel=True), nm.fresh()
        lines += [f"function {fn}(a) {{", f"  {c}(a);", "}"]
        ms.append(("func", fn, None))
        calls.append(c)
    ms += [("call", c, None) for c in calls]
    return "\n".join(lines), ms


def _bad_file(nm: _Names) -> tuple[str, list]:
    """A file in a language outside sh:in: imports and calls only, so it
    defines no symbol and its one violation is the sh:in on kg:lang."""
    mod, c1, c2 = nm.fresh(), nm.fresh(), nm.fresh()
    return (f"import {mod}\n{c1}(1)\n{c2}(2)",
            [("import", mod, None), ("call", c1, None), ("call", c2, None)])


def _file_triples(f: str, repo: str, commit: str, lang: str, content: str, ms: list) -> list[tuple]:
    """The triples extraction emits for one file, as 6-tuples."""
    s, lit = XSD + "string", "literal"
    out = [
        (f, RDF_TYPE, KG + "File", "iri", None, None),
        (f, KG + "inRepo", f"{KG}repo/{repo}", "iri", None, None),
        (f, KG + "atCommit", commit, lit, s, None),
        (f, KG + "sha256", hashlib.sha256(content.encode()).hexdigest(), lit, s, None),
        (f, KG + "lang", lang, lit, s, None),
    ]
    for kind, name, base in ms:
        sym = f"{f}#{name}"
        if kind == "import":
            out.append((f, KG + "imports", f"{KG}module/{name}", "iri", None, None))
        elif kind == "call":
            out.append((f, KG + "calls", f"{KG}mention/{name}", "iri", None, None))
        else:
            out += [(sym, RDF_TYPE, KG + ("Class" if kind == "class" else "Function"), "iri", None, None),
                    (f, KG + "defines", sym, "iri", None, None),
                    (sym, KG + "name", name, lit, s, None)]
            if base:
                out.append((sym, KG + "extends", f"{KG}mention/{base}", "iri", None, None))
    return list(dict.fromkeys(out))


def _canonical_map(triples: list[tuple]) -> dict[str, str]:
    """Entity IRI → canonical IRI, by the linker's rules: entities are
    the subjects of kg:name and the kg:mention/ objects; entities whose
    names are equal or (transitively) similar at or above the threshold
    form one component, represented by its smallest IRI."""
    name_of: dict[str, str] = {}
    for s, p, o, *_ in triples:
        if p == KG + "name":
            name_of.setdefault(s, o)
        if o.startswith(KG + "mention/"):
            name_of.setdefault(o, o.rsplit("/", 1)[1])
    names = sorted(set(name_of.values()))
    parent = {n: n for n in names}

    def root(n: str) -> str:
        while parent[n] != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    sh = {n: shingles(n) for n in names}
    index: dict[str, list[str]] = {}
    for n in names:
        for g in sh[n]:
            index.setdefault(g, []).append(n)
    for n in names:
        for o in {o for g in sh[n] for o in index[g] if o > n}:
            if jaccard(sh[n], sh[o]) >= LINK_THRESHOLD:
                parent[root(o)] = root(n)
    rep: dict[str, str] = {}
    for iri, n in name_of.items():
        r = root(n)
        rep[r] = min(rep.get(r, iri), iri)
    return {iri: rep[root(n)] for iri, n in name_of.items() if rep[root(n)] != iri}


def write_corpus(path: str, n_files: int, seed: int) -> Corpus:
    """A parquet table ``(repo, path, commit, lang, content)``: 90/10
    python/javascript, 30% hub imports, 5% near-duplicate class-name
    families, 20% of the python files defining the shared ``main``, 1%
    (at least two) files with a planted ``lang`` outside ``sh:in``.  The
    shares are exact and every file of a kind has the same shape, so the
    seed changes names and mixes but hardly the triple count.  Every
    other identifier is fresh, so the KG the build must produce is known:
    ``Corpus.edges``.  No ``mentions`` column, so extraction takes the
    table path."""
    rng = random.Random(f"corpus-{seed}")
    nm = _Names(rng, [v for fam in _FAMILIES for v in fam] + [SHARED_FN] + _HUBS + _JS_HUBS)
    cols: dict[str, list] = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    order = list(range(n_files))
    rng.shuffle(order)
    n_bad = max(2, n_files // 100)
    bad_idx, good = set(order[:n_bad]), order[n_bad:]
    js_idx = set(good[: len(good) // 10])
    py = [i for i in good if i not in js_idx]
    hub_idx = set(rng.sample(good, round(0.3 * len(good))))
    family_idx = set(rng.sample(good, round(0.05 * len(good))))
    shared_idx = set(rng.sample(py, round(0.2 * len(py))))
    bad, files, extracted = set(), set(), []
    n_repos = max(4, n_files // 50)
    for i in range(n_files):
        repo = f"org{rng.randrange(n_repos)}/proj{rng.randrange(8)}"
        commit = "%040x" % rng.getrandbits(160)
        family = rng.choice(rng.choice(_FAMILIES)) if i in family_idx else None
        if i in bad_idx:
            lang, ext = rng.choice(BAD_LANGS), "src"
            content, ms = _bad_file(nm)
        elif i in js_idx:
            lang, ext = "javascript", "js"
            content, ms = _js_file(nm, i in hub_idx, family)
        else:
            lang, ext = "python", "py"
            content, ms = _py_file(nm, i in hub_idx, family, i in shared_idx)
        fpath = f"src/{_snake(rng, 1)}/f{i}.{ext}"
        iri = file_iri(repo, fpath, commit)
        files.add(iri)
        if i in bad_idx:
            bad.add(iri)
        extracted += _file_triples(iri, repo, commit, lang, content, ms)
        for k, v in zip(cols, (repo, fpath, commit, lang, content)):
            cols[k].append(v)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    canon = _canonical_map(extracted)
    edges = {(canon.get(s, s), p, canon.get(o, o) if k == "iri" else o, k, dt, lg)
             for s, p, o, k, dt, lg in extracted}
    return Corpus(bad_files=bad, file_iris=files, extracted=len(extracted), edges=edges,
                  merged=len(canon))


# --- shacl_validate: people/org N-Triples + a broad SHACL Core shapes graph ---

SHAPES_TTL = r"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://example.org/ns#> .

ex:PersonShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:name ; sh:minCount 1 ; sh:maxCount 1 ; sh:datatype xsd:string ] ;
    sh:property [ sh:path ex:age ; sh:datatype xsd:integer ; sh:minInclusive 0 ] ;
    sh:property [ sh:path ex:email ; sh:pattern "^[a-z0-9.]+@[a-z0-9.]+$" ] ;
    sh:property [ sh:path rdfs:label ; sh:uniqueLang true ] ;
    sh:property [ sh:path ex:worksFor ; sh:class ex:Org ] ;
    sh:property [ sh:path ( ex:worksFor ex:locatedIn ) ; sh:minCount 1 ] ;
    sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:class ex:Person ] ;
    sh:property [ sh:path [ sh:zeroOrMorePath ex:manager ] ; sh:class ex:Person ] ;
    sh:property [ sh:path ex:address ; sh:node ex:AddressShape ] ;
    sh:property [
        sh:path ex:phone ;
        sh:qualifiedValueShape [ sh:pattern "^[+]" ] ;
        sh:qualifiedMinCount 1
    ] ;
    sh:or ( [ sh:path ex:email ; sh:minCount 1 ] [ sh:path ex:phone ; sh:minCount 1 ] ) ;
    sh:not [ sh:class ex:Robot ] ;
    sh:sparql [
        sh:select "SELECT $this WHERE { $this <http://example.org/ns#manager> $this . }"
    ] .

ex:AddressShape
    a sh:NodeShape ;
    sh:property [ sh:path ex:city ; sh:minCount 1 ] ;
    sh:property [ sh:path ex:postcode ; sh:pattern "^[0-9]{5}$" ] .

ex:OrgShape
    a sh:NodeShape ;
    sh:targetClass ex:Org ;
    sh:property [ sh:path ex:name ; sh:minCount 1 ] ;
    sh:property [ sh:path ex:locatedIn ; sh:class ex:City ] ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ex:knows ) .
"""

# planted violation kind → the report rows (component, path) it causes
# on its focus node; path None for node-level constraints
_C = SH
PLANTS: dict[str, list[tuple[str, str | None]]] = {
    "missing_name": [(_C + "MinCountConstraintComponent", EX + "name")],
    "two_names": [(_C + "MaxCountConstraintComponent", EX + "name")],
    "name_not_string": [(_C + "DatatypeConstraintComponent", EX + "name")],
    "negative_age": [(_C + "MinInclusiveConstraintComponent", EX + "age")],
    "bad_email": [(_C + "PatternConstraintComponent", EX + "email")],
    "dup_lang": [(_C + "UniqueLangConstraintComponent", RDFS + "label")],
    "works_for_person": [(_C + "ClassConstraintComponent", EX + "worksFor")],
    "org_without_city": [
        (_C + "MinCountConstraintComponent", f"{EX}worksFor/{EX}locatedIn")
    ],
    "known_by_org": [(_C + "ClassConstraintComponent", f"^{EX}knows")],
    "manager_not_person": [(_C + "ClassConstraintComponent", f"({EX}manager)*")],
    "address_without_city": [(_C + "NodeConstraintComponent", EX + "address")],
    "no_intl_phone": [(_C + "QualifiedMinCountConstraintComponent", EX + "phone")],
    "no_contact": [
        (_C + "OrConstraintComponent", None),
        (_C + "QualifiedMinCountConstraintComponent", EX + "phone"),
    ],
    "robot": [(_C + "NotConstraintComponent", None)],
    "self_manager": [(_C + "SPARQLConstraintComponent", None)],
    # planted on an organization, not a person
    "org_extra_prop": [(_C + "ClosedConstraintComponent", EX + "ceoName")],
}


@dataclass
class PeopleGraph:
    triples: int
    ledger: Counter = field(default_factory=Counter)  # (focus, component, path) → n


def _iri(x: str) -> str:
    return f"<{x}>"


def _lit(v: str, dt: str | None = None, lang: str | None = None) -> str:
    s = '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if lang:
        return f"{s}@{lang}"
    if dt and dt != XSD + "string":
        return f"{s}^^<{dt}>"
    return s


def write_people(nt_path: str, shapes_path: str, n_people: int, seed: int) -> PeopleGraph:
    """A people/org graph (``ex:Employee rdfs:subClassOf ex:Person``,
    ``ex:Company rdfs:subClassOf ex:Org``) where about 1.5% of focus
    nodes carry exactly one planted violation kind from ``PLANTS``."""
    rng = random.Random(f"people-{seed}")
    out: list[str] = []
    g = PeopleGraph(triples=0)

    def t(s: str, p: str, o: str) -> None:
        out.append(f"{_iri(s)} {_iri(p)} {o} .")

    t(EX + "Employee", RDFS + "subClassOf", _iri(EX + "Person"))
    t(EX + "Company", RDFS + "subClassOf", _iri(EX + "Org"))
    n_cities = max(4, n_people // 200)
    cities = [f"{ID}city/{i}" for i in range(n_cities)]
    for c in cities:
        t(c, RDF_TYPE, _iri(EX + "City"))
    n_orgs = max(4, n_people // 40)
    orgs = [f"{ID}org/{i}" for i in range(n_orgs)]
    person_kinds = [k for k in PLANTS if k != "org_extra_prop"]
    for o in orgs:
        t(o, RDF_TYPE, _iri(EX + rng.choice(["Company", "Company", "Org"])))
        t(o, EX + "name", _lit(_camel(rng, 2)))
        t(o, EX + "locatedIn", _iri(rng.choice(cities)))
        if rng.random() < 0.015:
            t(o, EX + "ceoName", _lit(_camel(rng, 1)))
            for comp, path in PLANTS["org_extra_prop"]:
                g.ledger[(o, comp, path)] += 1
    people = [f"{ID}person/{i}" for i in range(n_people)]
    # managers manage others and have no manager themselves, so a planted
    # manager edge reaches exactly one focus through (ex:manager)*
    n_managers = max(2, n_people // 20)
    managers = people[:n_managers]
    for i, p in enumerate(people):
        plant = rng.choice(person_kinds) if i >= n_managers and rng.random() < 0.015 else None
        if plant:
            for comp, path in PLANTS[plant]:
                g.ledger[(p, comp, path)] += 1
        t(p, RDF_TYPE, _iri(EX + ("Employee" if i >= n_managers and rng.random() < 0.6 else "Person")))
        if plant == "robot":
            t(p, RDF_TYPE, _iri(EX + "Robot"))
        first = _camel(rng, 1)
        if plant != "missing_name":
            t(p, EX + "name", _lit(str(rng.randrange(100)), XSD + "integer")
              if plant == "name_not_string" else _lit(first))
        if plant == "two_names":
            t(p, EX + "name", _lit(first + "Jr"))
        age = -rng.randint(1, 9) if plant == "negative_age" else rng.randint(18, 80)
        t(p, EX + "age", _lit(str(age), XSD + "integer"))
        if plant != "no_contact":
            email = f"{first.lower()}.at.example" if plant == "bad_email" else f"{first.lower()}{i}@example.org"
            t(p, EX + "email", _lit(email))
            phones = [f"555-{rng.randrange(10000):04d}"]
            if plant != "no_intl_phone":
                phones.append(f"+1-555-{rng.randrange(10000):04d}")
            for ph in phones:
                t(p, EX + "phone", _lit(ph))
        langs = rng.sample(["en", "de", "fr", "es"], rng.randint(1, 3))
        if plant == "dup_lang":
            langs.append(langs[0])
        for j, lg in enumerate(langs):
            t(p, RDFS + "label", _lit(f"{first} {j}", lang=lg))
        if plant == "works_for_person":
            t(p, EX + "worksFor", _iri(rng.choice(managers)))
            # the person employer has no ex:locatedIn either
            g.ledger[(p, SH + "MinCountConstraintComponent", f"{EX}worksFor/{EX}locatedIn")] += 1
        elif plant == "org_without_city":
            lone = f"{ID}org/lone{i}"
            t(lone, RDF_TYPE, _iri(EX + "Company"))
            t(lone, EX + "name", _lit(_camel(rng, 2)))
            t(p, EX + "worksFor", _iri(lone))
        else:
            t(p, EX + "worksFor", _iri(rng.choice(orgs)))
        for friend in rng.sample(people, rng.randint(1, 3)):
            t(friend, EX + "knows", _iri(p))
        if plant == "known_by_org":
            t(rng.choice(orgs), EX + "knows", _iri(p))
        if i >= n_managers:
            if plant == "manager_not_person":
                t(p, EX + "manager", _iri(rng.choice(cities)))
            elif plant == "self_manager":
                t(p, EX + "manager", _iri(p))
            else:
                t(p, EX + "manager", _iri(rng.choice(managers)))
        addr = f"{ID}address/{i}"
        t(p, EX + "address", _iri(addr))
        if plant != "address_without_city":
            t(addr, EX + "city", _iri(rng.choice(cities)))
        t(addr, EX + "postcode", _lit(f"{rng.randrange(100000):05d}"))
    with open(nt_path, "w") as f:
        f.write("\n".join(out) + "\n")
    with open(shapes_path, "w") as f:
        f.write(SHAPES_TTL)
    g.triples = len(out)
    return g


# --- cdc_stream: KG-shaped triples, a bulk seed and add/retract batches ---------

KG_SHAPES_TTL = r"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix kg: <kg:> .

kg:FileShape
    a sh:NodeShape ;
    sh:targetClass kg:File ;
    sh:property [ sh:path kg:sha256 ; sh:minCount 1 ; sh:maxCount 1 ; sh:datatype xsd:string ;
                  sh:pattern "^[0-9a-f]{64}$" ] ;
    sh:property [ sh:path kg:lang ; sh:minCount 1 ; sh:in ( "python" "javascript" ) ] ;
    sh:property [ sh:path kg:inRepo ; sh:minCount 1 ; sh:nodeKind sh:IRI ] .

kg:SymbolShape
    a sh:NodeShape ;
    sh:targetClass kg:Class , kg:Function ;
    sh:property [ sh:path kg:name ; sh:minCount 1 ; sh:datatype xsd:string ] ;
    sh:property [ sh:path [ sh:inversePath kg:defines ] ; sh:minCount 1 ; sh:node kg:FileShape ] .
"""

MIN_COUNT = SH + "MinCountConstraintComponent"
# the six term columns plus lineage, as the stream source schema has them
CDC_COLS = ("subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang",
            "src_repo", "src_path", "src_commit", "part_id", "op")


def _kg_file_triples(rng: random.Random, idx: int) -> tuple[list[tuple], list[tuple], list[tuple], list[str]]:
    """KG triples of one file: (all, sha/name triples that minCount
    guards, other removable triples, the file's symbols)."""
    repo = f"org{rng.randrange(64)}/proj{rng.randrange(8)}"
    commit = "%040x" % rng.getrandbits(160)
    path = f"src/{_snake(rng, 1)}/g{idx}.py"
    f = file_iri(repo, path, commit)
    s = XSD + "string"
    sha = (f, KG + "sha256", hashlib.sha256(f.encode()).hexdigest(), "literal", s)
    trip = [
        (f, RDF_TYPE, KG + "File", "iri", None),
        (f, KG + "inRepo", f"{KG}repo/{repo}", "iri", None),
        (f, KG + "atCommit", commit, "literal", s),
        sha,
        (f, KG + "lang", "python", "literal", s),
    ]
    guarded, other = [sha], []
    for _ in range(3):
        name = _snake(rng, 2)
        sym = f"{f}#{name}"
        nm = (sym, KG + "name", name, "literal", s)
        trip += [(sym, RDF_TYPE, KG + rng.choice(["Class", "Function"]), "iri", None),
                 (f, KG + "defines", sym, "iri", None), nm]
        guarded.append(nm)
    for _ in range(6):
        c = (f, KG + "calls", f"{KG}mention/{_snake(rng, 2)}", "iri", None)
        trip.append(c)
        other.append(c)
    for _ in range(2):
        m = (f, KG + "imports", f"{KG}module/{_snake(rng, 1)}", "iri", None)
        trip.append(m)
        other.append(m)
    uniq = list(dict.fromkeys(trip))
    syms = list(dict.fromkeys(o for _, p, o, *_ in uniq if p == KG + "defines"))
    return uniq, list(dict.fromkeys(guarded)), list(dict.fromkeys(other)), syms


def _cdc_table(rows: list[tuple], op: str) -> dict[str, list]:
    cols: dict[str, list] = {c: [] for c in CDC_COLS}
    for s, p, o, k, dt in rows:
        for c, v in zip(CDC_COLS, (s, p, o, k, dt, None, None, None, None, None, op)):
            cols[c].append(v)
    return cols


_CDC_SCHEMA = pa.schema(
    [(c, pa.int32() if c == "part_id" else pa.string()) for c in CDC_COLS]
)


def write_cdc_file(path: str, adds: list[tuple], retracts: list[tuple]) -> None:
    """One stream file (``op`` '+' / '-'), written under a hidden name
    and renamed into place so the file source never sees it half-written."""
    a, r = _cdc_table(adds, "+"), _cdc_table(retracts, "-")
    cols = {c: a[c] + r[c] for c in CDC_COLS}
    d, base = os.path.split(path)
    tmp = os.path.join(d, "_" + base)
    pq.write_table(pa.table(cols, schema=_CDC_SCHEMA), tmp)
    os.rename(tmp, path)


class CdcFeed:
    """The seed graph and a deterministic sequence of micro-batches.

    Each batch adds the triples of ``files_per_batch`` new files and
    retracts ``retracts_per_batch`` live triples, ``breaks_per_batch``
    of which are guarded by ``sh:minCount`` (a file's only sha256 or a
    symbol's only name).  ``breaks`` collects the (focus, component,
    path) rows those retractions put in the report; ``expected_report``
    adds what they cause through ``sh:node``."""

    def __init__(self, seed: int, seed_files: int, files_per_batch: int = 20,
                 retracts_per_batch: int = 50, breaks_per_batch: int = 3):
        self.rng = random.Random(f"cdc-{seed}")
        self.files_per_batch = files_per_batch
        self.retracts_per_batch = retracts_per_batch
        self.breaks_per_batch = breaks_per_batch
        self.n_files = 0
        self.guarded: list[tuple] = []
        self.other: list[tuple] = []
        self.symbols: dict[str, list[str]] = {}  # file IRI → the symbols it defines
        self.breaks: Counter = Counter()
        self.seed_rows = self._new_files(seed_files)
        self.live = len(self.seed_rows)  # triples in the target after the last batch

    def _new_files(self, n: int) -> list[tuple]:
        rows = []
        for _ in range(n):
            trip, guarded, other, syms = _kg_file_triples(self.rng, self.n_files)
            self.symbols[trip[0][0]] = syms
            self.n_files += 1
            rows += trip
            self.guarded += guarded
            self.other += other
        return rows

    @staticmethod
    def _take(rng: random.Random, pool: list[tuple], k: int) -> list[tuple]:
        picked = []
        for _ in range(min(k, len(pool))):
            i = rng.randrange(len(pool))
            pool[i], pool[-1] = pool[-1], pool[i]
            picked.append(pool.pop())
        return picked

    def next_batch(self) -> tuple[list[tuple], list[tuple]]:
        # retract from the triples live BEFORE this batch's adds
        broken = self._take(self.rng, self.guarded, self.breaks_per_batch)
        rest = self._take(self.rng, self.other, self.retracts_per_batch - len(broken))
        adds = self._new_files(self.files_per_batch)
        for s, p, *_ in broken:
            self.breaks[(s, MIN_COUNT, p)] += 1
        self.live += len(adds) - len(broken) - len(rest)
        return adds, broken + rest

    def expected_report(self) -> Counter:
        """The (focus, component, path, value) rows of the final graph's
        report: each retracted guarded triple breaks sh:minCount on its
        subject, and each symbol of a file without its sha256 fails
        sh:node kg:FileShape on its definer."""
        out: Counter = Counter()
        for (s, comp, p), n in self.breaks.items():
            out[(s, comp, p, None)] += n
            if p == KG + "sha256":
                for sym in self.symbols[s]:
                    out[(sym, SH + "NodeConstraintComponent", f"^{KG}defines", s)] += 1
        return out
