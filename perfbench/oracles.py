"""Checks computed apart from the engine: plain-Python FHIR search,
ViewDefinition flattening, is-a membership, crawl truth and a NumPy
top-k. Each check raises :class:`CheckError` on a wrong output."""

from __future__ import annotations

import calendar
import re
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from gen_fhir import dumps, loads_lexical


class CheckError(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckError(what)


# -- lossless export ------------------------------------------------------------

def check_export(rtype: str, exported: list[str], docs: dict) -> None:
    """Every exported document equals its source, numbers compared by
    their lexical text."""
    want = {i for (t, i) in docs if t == rtype}
    got = set()
    for line in exported:
        doc = loads_lexical(line)
        got.add(doc.get("id"))
        src = docs.get((rtype, doc.get("id")))
        expect(src is not None, f"{rtype} export has unknown id {doc.get('id')!r}")
        expect(doc == loads_lexical(dumps(src)),
               f"{rtype}/{doc['id']} export differs from its source")
    expect(got == want, f"{rtype} export ids differ: {len(got)} vs {len(want)}")


# -- validate-code ----------------------------------------------------------------

def check_validate(rows: list[tuple], obs_codes: list[tuple], members: set) -> None:
    """rows: (id, system, code, in_valueset)."""
    want = {(i, s, c): (s, c) in members for i, s, c in obs_codes}
    got = {(i, s, c): v for i, s, c, v in rows}
    expect(len(rows) == len(want), f"validate-code returned {len(rows)} rows, want {len(want)}")
    bad = [k for k in want if got.get(k) != want[k]]
    expect(not bad, f"validate-code wrong for {len(bad)} codes, e.g. {bad[:2]}")


# -- FHIR dates ---------------------------------------------------------------------

_TIME = re.compile(r"^(\d{2}):(\d{2})(?::(\d{2})(?:\.(\d+))?)?(Z|[+-]\d{2}:\d{2})$")


def date_bounds(s: str) -> tuple[datetime, datetime]:
    """[earliest, latest] instant (naive UTC, millisecond resolution) a
    possibly partial FHIR date/dateTime covers."""
    ms = timedelta(milliseconds=1)
    if "T" in s:
        day, t = s.split("T")
        m = _TIME.match(t)
        y, mo, d = (int(x) for x in day.split("-"))
        hh, mm = int(m.group(1)), int(m.group(2))
        if m.group(5) == "Z":
            off = timedelta(0)
        else:
            sign = 1 if m.group(5)[0] == "+" else -1
            off = sign * timedelta(hours=int(m.group(5)[1:3]), minutes=int(m.group(5)[4:6]))
        base = datetime(y, mo, d, hh, mm) - off
        if m.group(3) is None:
            return base, base + timedelta(minutes=1) - ms
        base += timedelta(seconds=int(m.group(3)))
        if m.group(4) is None:
            return base, base + timedelta(seconds=1) - ms
        frac = timedelta(milliseconds=int(m.group(4)[:3].ljust(3, "0")))
        return base + frac, base + frac
    parts = [int(x) for x in s.split("-")]
    if len(parts) == 1:
        return datetime(parts[0], 1, 1), datetime(parts[0] + 1, 1, 1) - ms
    if len(parts) == 2:
        last = calendar.monthrange(parts[0], parts[1])[1]
        return (datetime(parts[0], parts[1], 1),
                datetime(parts[0], parts[1], last) + timedelta(days=1) - ms)
    start = datetime(*parts)
    return start, start + timedelta(days=1) - ms


def date_matches(value: str | None, prefix: str, query: str) -> bool:
    """FHIR R4 search prefix semantics over ranges (search.html#prefix):
    ``eq`` the search range contains the target range; ``gt``/``lt`` the
    range above/below the search value overlaps the target; ``ge``/``le``
    add containment to ``gt``/``lt``."""
    if value is None:
        return False
    xs, xe = date_bounds(value)
    vs, ve = date_bounds(query)
    contained = xs >= vs and xe <= ve
    if prefix == "eq":
        return contained
    if prefix == "ne":
        return not contained
    if prefix == "gt":
        return xe > ve
    if prefix == "lt":
        return xs < vs
    if prefix == "ge":
        return xe > ve or contained
    if prefix == "le":
        return xs < vs or contained
    raise ValueError(prefix)


# -- FHIR search -------------------------------------------------------------------

UCUM_G = {"g": Decimal(1), "mg": Decimal("0.001")}


def _param_match(doc: dict, key: str, raw: str) -> bool:
    """One search parameter against one document (the forms the request
    mix uses)."""
    element, _, modifier = key.partition(":")
    if modifier == "missing":
        return (element not in doc) == (raw == "true")
    m = re.match(r"^(eq|ne|gt|lt|ge|le)", raw)
    prefix = m.group(1) if m else "eq"
    value = raw[len(prefix):] if m else raw
    if element in ("birthDate", "effectiveDateTime", "deceasedDateTime"):
        return date_matches(doc.get(element), prefix, value)
    if element == "valueQuantity":
        q = doc.get("valueQuantity")
        if q is None:
            return False
        num, _, unit = value.partition("|")
        have = Decimal(str(q["value"])) * UCUM_G[q["code"]]
        want = Decimal(num) * UCUM_G[unit]
        return {"gt": have > want, "lt": have < want, "ge": have >= want,
                "le": have <= want, "eq": have == want}[prefix]
    if element == "identifier":
        system, _, code = value.partition("|")
        return any(i.get("system") == system and i.get("value") == code
                   for i in doc.get("identifier", []))
    if element == "code":
        system, _, code = value.partition("|")
        return any(c.get("system") == system and c.get("code") == code
                   for c in doc.get("code", {}).get("coding", []))
    if element == "name":
        low = value.lower()
        for n in doc.get("name", []):
            parts = [n.get("family")] + list(n.get("given", []))
            if any(p is not None and p.lower().startswith(low) for p in parts):
                return True
        return False
    return doc.get(element) == value


def table_search(docs: list[dict], params: str) -> tuple[set, str | None, int | None]:
    """Expected ids of ``FhirTable.search(params)``, plus the ``_sort``
    element and ``_count`` when given."""
    sort, count, plain = None, None, []
    for clause in params.split("&"):
        key, _, raw = clause.partition("=")
        if key == "_sort":
            sort = raw
        elif key == "_count":
            count = int(raw)
        else:
            plain.append((key, raw))
    hits = {d["id"] for d in docs
            if all(any(_param_match(d, k, alt) for alt in r.split(",")) for k, r in plain)}
    return hits, sort, count


def check_table_search(docs: list[dict], params: str, rows: list[tuple]) -> None:
    """rows: (id, sort value) in result order."""
    hits, sort, count = table_search(docs, params)
    ids = [r[0] for r in rows]
    if count is None:
        expect(len(ids) == len(set(ids)) and set(ids) == hits,
               f"search {params!r}: {len(ids)} ids, want {len(hits)}")
        return
    by_id = {d["id"]: d for d in docs}
    expect(len(ids) == min(count, len(hits)) and set(ids) <= hits,
           f"search {params!r}: {len(ids)} ids not a subset of {len(hits)} hits")
    key = lambda i: date_bounds(by_id[i][sort])[0]  # noqa: E731
    got = [key(i) for i in ids]
    want = sorted(key(i) for i in hits)[:count]
    expect(got == sorted(got) and got == want,
           f"search {params!r}: not a prefix of the {sort} order")


def _ref_id(ref: str | None, rtype: str) -> str | None:
    if ref and ref.count("/") == 1 and ref.split("/")[0] == rtype:
        return ref.split("/")[1]
    return None


def store_search(store: dict, rtype: str, params: str) -> dict[str, set]:
    """Expected ids per resource type of ``FhirStore.search``. ``store``
    maps a resource type to its documents."""
    plain, out_extra = [], {}
    primary = {d["id"]: d for d in store[rtype]}
    keep = set(primary)
    includes, revincludes = [], []
    for clause in params.split("&"):
        key, _, raw = clause.partition("=")
        if key.startswith("_has:"):
            _, other, el, tail = key.split(":", 3)
            refd = {_ref_id(d.get(el, {}).get("reference"), rtype)
                    for d in store[other] if _param_match(d, tail, raw)}
            keep &= refd
        elif key == "_include":
            includes.append(raw.split(":"))
        elif key == "_revinclude":
            revincludes.append(raw.split(":"))
        elif ":" in key and "." in key:
            el, _, rest = key.partition(":")
            tgt, _, tail = rest.partition(".")
            targets = {d["id"] for d in store[tgt] if _param_match(d, tail, raw)}
            keep &= {i for i, d in primary.items()
                     if _ref_id(d.get(el, {}).get("reference"), tgt) in targets}
        else:
            plain.append(clause)
    if plain:
        keep &= table_search(store[rtype], "&".join(plain))[0]
    for _src, el, tgt in includes:
        out_extra[tgt] = {_ref_id(primary[i].get(el, {}).get("reference"), tgt)
                          for i in keep} - {None}
    for other, el in revincludes:
        out_extra[other] = {d["id"] for d in store[other]
                            if _ref_id(d.get(el, {}).get("reference"), rtype) in keep}
    return {rtype: keep, **out_extra}


def check_store_search(store: dict, rtype: str, params: str,
                       got: dict[str, list[str]]) -> None:
    want = store_search(store, rtype, params)
    expect(set(got) == set(want), f"store search {params!r}: types {sorted(got)} vs {sorted(want)}")
    for t, ids in got.items():
        expect(len(ids) == len(set(ids)) and set(ids) == want[t],
               f"store search {params!r}: {t} has {len(set(ids))} ids, want {len(want[t])}")


# -- ViewDefinitions ------------------------------------------------------------------

def flatten_patient_names(docs: list[dict]) -> list[tuple]:
    return [(d["id"], date_bounds(d["birthDate"])[0], n.get("family"),
             (n.get("given") or [None])[0])
            for d in docs for n in d.get("name", [])]


def flatten_observation_codes(docs: list[dict]) -> list[tuple]:
    out = []
    for d in docs:
        q = d.get("valueQuantity")
        eff = d.get("effectiveDateTime")
        for c in d["code"]["coding"]:
            out.append((d["id"], _ref_id(d["subject"]["reference"], "Patient"),
                        None if q is None else str(q["value"]),
                        None if eff is None else date_bounds(eff)[0],
                        c.get("system"), c.get("code")))
    return out


def check_view(name: str, rows: list[tuple], want: list[tuple]) -> None:
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    expect(sorted(rows, key=key) == sorted(want, key=key),
           f"view {name}: {len(rows)} rows differ from the {len(want)} flattened")


# -- crawl curation -------------------------------------------------------------------

#: share of planted near-duplicate pairs that must land in one cluster
MIN_PAIR_SHARE = 0.99


def check_curation(rows: list[tuple], crawl: dict) -> None:
    """rows: (doc_id, target_uri, text, component) for every exact-dedup
    survivor."""
    pages = crawl["pages"]
    good_bodies = {p["body"] for p in pages.values() if p["good"]}
    expect(len(rows) == len(good_bodies),
           f"{len(rows)} exact-dedup survivors, want {len(good_bodies)} distinct bodies")
    comp_groups: dict[int, set] = {}
    body_comp: dict[str, int] = {}
    for _doc, uri, text, comp in rows:
        page = pages.get(uri)
        expect(page is not None and page["good"], f"{uri} passed the quality gate")
        expect(page["body"] in text, f"{uri}: extracted text lacks the planted paragraph")
        comp_groups.setdefault(comp, set()).add(page["group"])
        body_comp[page["body"]] = comp
    mixed = [g for g in comp_groups.values() if len(g) > 1]
    expect(not mixed, f"near-dup clusters mix planted groups: {mixed[:2]}")
    pairs = crawl["near_pairs"]
    together = sum(a in body_comp and body_comp[a] == body_comp.get(b)
                   for a, b, _j in pairs)
    expect(together >= MIN_PAIR_SHARE * len(pairs),
           f"only {together} of {len(pairs)} planted near-dup pairs clustered")


# -- top-k ------------------------------------------------------------------------------

def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def topk(corpus: np.ndarray, queries: np.ndarray, q_ids, k: int) -> list[tuple]:
    """(q_id, vec_id, cosine, rank) in float64: sequential sums as the
    engine's ``aggregate`` takes them, cosine + 1e-9 rounded half-up to
    six places, ties broken by the lower corpus id."""
    na = np.sqrt(np.cumsum(corpus * corpus, axis=1)[:, -1])
    out = []
    for qid, q in zip(q_ids, queries):
        dots = np.cumsum(corpus * q, axis=1)[:, -1]
        nq = np.sqrt(np.cumsum(q * q)[-1])
        cos = [_round6(float(v) + 1e-9) for v in dots / (na * nq)]
        order = sorted(range(len(cos)), key=lambda i: (-cos[i], i))[:k]
        out += [(int(qid), i, cos[i], r + 1) for r, i in enumerate(order)]
    return out


def check_topk(rows: list[tuple], want: list[tuple]) -> None:
    expect(sorted(rows) == sorted(want),
           f"top-k differs from the NumPy reference on "
           f"{len(set(rows) ^ set(want))} rows")
