"""Seeded FHIR R4 NDJSON generator, written with the standard ``json``
module only (no engine code), so the engine's encoder is checked against
documents it did not produce.

Every batch holds the same number of resources of each kind, so the work
per batch is constant and rates stay comparable across batches and seeds:

- ``patients`` Patient resources with partial birth dates, a
  ``deceased[x]`` choice, an optional ``active`` flag (for ``:missing``),
  a primitive ``_birthDate`` extension, index-aligned ``given``/``_given``
  arrays, nested extensions carrying decimals, and identifiers;
- ``observations`` Observation resources with a ``value[x]`` choice
  (Quantity or string), decimals whose lexical form matters, partial and
  zoned ``effectiveDateTime`` values and a contained Practitioner;
- one CodeSystem whose ``concept`` hierarchy is ``depth`` levels deep
  (so the closure needs several doubling rounds), and one ValueSet with an
  ``is-a`` filter on a concept two levels down.
"""

from __future__ import annotations

import json
import random
import re

MRN_SYSTEM = "urn:perfbench:mrn"
FOREIGN_SYSTEM = "urn:perfbench:foreign"
UCUM = "http://unitsofmeasure.org"
#: decimals whose lexical form a lossless store must keep
HAZARD_DECIMALS = ("1.50", "1.0e2", "-0.000120", "100", "0.10")
FAMILIES = (
    "Smith", "Smythe", "Jones", "Jonas", "Brown", "Browning", "Nguyen",
    "Garcia", "Garner", "Miller", "Mills", "Davis", "Wilson", "Moore",
    "Taylor", "Anderson", "Thomas", "Jackson", "White", "Harris",
)
GIVENS = (
    "Ann", "Anna", "Ben", "Bea", "Carl", "Cora", "Dan", "Dora", "Eli",
    "Eva", "Finn", "Gus", "Hana", "Ivan", "Jo", "Kai", "Lea", "Max",
)
GENDERS = ("male", "female", "other")
UNITS = ("mg", "g")


class Dec(str):
    """A JSON number kept as its exact lexical text (``1.50`` stays
    ``1.50``)."""


_MARK = "\x01"
_MARKED = re.compile(r'"\\u0001([^"\\]*)\\u0001"')


def _mark(value):
    if isinstance(value, Dec):
        return _MARK + str(value) + _MARK
    if isinstance(value, dict):
        return {k: _mark(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_mark(v) for v in value]
    return value


def dumps(doc: dict) -> str:
    """One NDJSON line; :class:`Dec` values become bare JSON numbers with
    their lexical text intact."""
    text = json.dumps(_mark(doc), separators=(",", ":"))
    return _MARKED.sub(r"\1", text)


def loads_lexical(line: str):
    """Parse JSON keeping every number as ``("num", text)``, so two
    documents compare equal only when their numbers are spelled alike."""
    return json.loads(
        line,
        parse_float=lambda t: ("num", t),
        parse_int=lambda t: ("num", t),
    )


def _partial_date(rng: random.Random, lo: int, hi: int) -> str:
    y = rng.randint(lo, hi)
    precision = rng.randrange(3)
    if precision == 0:
        return f"{y:04d}"
    m = rng.randint(1, 12)
    if precision == 1:
        return f"{y:04d}-{m:02d}"
    return f"{y:04d}-{m:02d}-{rng.randint(1, 28):02d}"


def _date_time(rng: random.Random) -> str:
    base = _partial_date(rng, 2019, 2023)
    if len(base) < 10 or rng.random() < 0.3:
        return base
    tz = rng.choice(("Z", "+02:00", "-05:00"))
    sec = f":{rng.randint(0, 59):02d}" if rng.random() < 0.5 else ""
    return f"{base}T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}{sec}{tz}"


def _decimal(rng: random.Random) -> Dec:
    if rng.random() < 0.3:
        return Dec(rng.choice(HAZARD_DECIMALS))
    return Dec(f"{rng.randint(1, 99999) / 100:.2f}")


def code_tree(depth: int, branching: int = 2, roots: int = 2):
    """Nested CodeSystem concepts ``K<path>``; returns (concepts, parent)
    where ``parent`` maps each code to its parent code (roots: None)."""
    parent: dict[str, str | None] = {}

    def node(code: str, level: int, up: str | None) -> dict:
        parent[code] = up
        out = {"code": code, "display": f"Concept {code}"}
        if level < depth:
            out["concept"] = [
                node(f"{code}-{b}", level + 1, code) for b in range(branching)
            ]
        return out

    return [node(f"K{r}", 1, None) for r in range(roots)], parent


def descendants(parent: dict[str, str | None], anchor: str) -> set[str]:
    """Codes under ``anchor`` in the is-a hierarchy, the anchor included
    (the ``is-a`` filter's membership)."""
    out = set()
    for code in parent:
        c: str | None = code
        while c is not None:
            if c == anchor:
                out.add(code)
                break
            c = parent[c]
    return out


def make_batch(
    seed: int,
    batch: int,
    patients: int,
    observations: int,
    depth: int = 6,
) -> dict:
    """One seeded mixed-resource batch: ``lines`` (NDJSON text lines),
    ``docs`` (id → parsed source document), and the terminology facts the
    checks need."""
    rng = random.Random(f"fhir:{seed}:{batch}")
    cs_url = f"urn:perfbench:cs:{batch}"
    vs_url = f"urn:perfbench:vs:{batch}"
    concepts, parent = code_tree(depth)
    anchor = "K0-1"
    codes = sorted(parent)
    docs: list[dict] = []
    pids = []
    for i in range(patients):
        pid = f"b{batch}p{i}"
        pids.append(pid)
        given = [rng.choice(GIVENS)]
        if i % 3 == 0:
            given.append(rng.choice(GIVENS))
        name = {"family": rng.choice(FAMILIES), "given": given}
        if i % 7 == 0 and len(given) == 2:
            name["_given"] = [
                None,
                {"extension": [{"url": "urn:perfbench:ext:initial",
                                "valueBoolean": True}]},
            ]
        doc = {
            "resourceType": "Patient",
            "id": pid,
            "identifier": [{"system": MRN_SYSTEM,
                            "value": f"MRN{batch:03d}{i:05d}"}],
            "name": [name],
            "gender": rng.choice(GENDERS),
            "birthDate": _partial_date(rng, 1940, 2005),
        }
        if i % 5 == 0:
            doc["active"] = True
        elif i % 5 == 1:
            doc["active"] = False
        if i % 4 == 0:
            doc["deceasedDateTime"] = _partial_date(rng, 2010, 2023)
        elif i % 4 == 1:
            doc["deceasedBoolean"] = False
        if i % 3 == 0 and len(doc["birthDate"]) == 10:
            doc["_birthDate"] = {"extension": [{
                "url": "http://hl7.org/fhir/StructureDefinition/patient-birthTime",
                "valueDateTime": doc["birthDate"] + "T08:30:00Z",
            }]}
        if i % 2 == 0:
            doc["extension"] = [{
                "url": "urn:perfbench:ext:score",
                "extension": [
                    {"url": "scale", "valueString": rng.choice(("A", "B"))},
                    {"url": "value", "valueDecimal": _decimal(rng)},
                ],
            }]
        docs.append(doc)
    for j in range(observations):
        if rng.random() < 0.1:
            system, code = FOREIGN_SYSTEM, f"F{rng.randrange(5)}"
        else:
            system, code = cs_url, rng.choice(codes)
        doc = {
            "resourceType": "Observation",
            "id": f"b{batch}o{j}",
            "status": "final",
            "code": {"coding": [{"system": system, "code": code}]},
            "subject": {"reference": f"Patient/{rng.choice(pids)}"},
            "effectiveDateTime": _date_time(rng),
        }
        if j % 4 == 3:
            doc["valueString"] = rng.choice(("positive", "negative", "trace"))
        else:
            unit = rng.choice(UNITS)
            doc["valueQuantity"] = {
                "value": _decimal(rng), "unit": unit,
                "system": UCUM, "code": unit,
            }
        if j % 6 == 0:
            doc["contained"] = [{
                "resourceType": "Practitioner", "id": "pr1",
                "name": [{"family": rng.choice(FAMILIES)}],
            }]
            doc["performer"] = [{"reference": "#pr1"}]
        docs.append(doc)
    docs.append({
        "resourceType": "CodeSystem", "id": f"cs{batch}", "url": cs_url,
        "status": "active", "content": "complete", "concept": concepts,
    })
    docs.append({
        "resourceType": "ValueSet", "id": f"vs{batch}", "url": vs_url,
        "status": "active",
        "compose": {"include": [{
            "system": cs_url,
            "filter": [{"property": "concept", "op": "is-a", "value": anchor}],
        }]},
    })
    lines = [dumps(d) for d in docs]
    members = descendants(parent, anchor)
    return {
        "lines": lines,
        "docs": {(d["resourceType"], d["id"]): d for d in docs},
        "vs_url": vs_url,
        "members": {(cs_url, c) for c in members},
        "obs_codes": [
            (d["id"], d["code"]["coding"][0]["system"],
             d["code"]["coding"][0]["code"])
            for d in docs if d["resourceType"] == "Observation"
        ],
    }
