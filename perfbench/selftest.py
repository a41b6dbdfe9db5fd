#!/usr/bin/env python3
"""Self-test of the benchmark's checks; no Spark needed.

    python3 perfbench/selftest.py

Each check first gets a correct output built from the generators' own
truth and must pass it, then gets one deliberately corrupted copy (a
decimal re-spelled, a search hit dropped, a cluster merged, ...) and must
fail it. Exits 0 when every check passes the clean output and catches
every corruption.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen_crawl  # noqa: E402
import gen_fhir  # noqa: E402
import oracles  # noqa: E402


def cases():
    b = gen_fhir.make_batch(5, 0, 40, 120)
    docs = b["docs"]
    pats = [d for (t, _), d in docs.items() if t == "Patient"]
    obs = [d for (t, _), d in docs.items() if t == "Observation"]
    store = {"Patient": pats, "Observation": obs}

    # lossless export: a decimal re-spelled 1.50 -> 1.5
    lines = [gen_fhir.dumps(d) for d in obs]
    victim = next(i for i, line in enumerate(lines) if '"value":1.50' in line)
    bad = list(lines)
    bad[victim] = bad[victim].replace('"value":1.50', '"value":1.5')
    yield ("export", lambda x: oracles.check_export("Observation", x, docs), lines, bad)

    # validate-code: one membership flipped
    rows = [(i, s, c, (s, c) in b["members"]) for i, s, c in b["obs_codes"]]
    bad = [rows[0][:3] + (not rows[0][3],)] + rows[1:]
    yield ("validate-code",
           lambda x: oracles.check_validate(x, b["obs_codes"], b["members"]), rows, bad)

    # single-table search: a dropped hit
    params = "birthDate=gt1970-03"
    hits = sorted(oracles.table_search(pats, params)[0])
    yield ("table search", lambda x: oracles.check_table_search(pats, params, x),
           [(i,) for i in hits], [(i,) for i in hits[1:]])

    # _sort/_count: a result that is not a prefix of the sorted order
    params = "gender=female&_sort=birthDate&_count=5"
    hits = oracles.table_search(pats, params)[0]
    order = sorted(hits, key=lambda i: oracles.date_bounds(
        next(p for p in pats if p["id"] == i)["birthDate"])[0])
    good = [(i, None) for i in order[:5]]
    yield ("sorted search", lambda x: oracles.check_table_search(pats, params, x),
           good, [(i, None) for i in order[1:6]])

    # multi-table search: an _include target dropped
    params = "code=urn:perfbench:cs:0|K0&_include=Observation:subject:Patient"
    hits = {t: sorted(v) for t, v in oracles.store_search(store, "Observation", params).items()}
    bad = {**hits, "Patient": hits["Patient"][1:]}
    yield ("store search",
           lambda x: oracles.check_store_search(store, "Observation", params, x), hits, bad)

    # ViewDefinition rows: one family name changed
    want = oracles.flatten_observation_codes(obs)
    bad = [want[0][:4] + ("urn:other",) + want[0][5:]] + want[1:]
    yield ("view", lambda x: oracles.check_view("observation_codes", x, want), want, bad)

    crawl = gen_crawl.make_crawl(5, 3, 40, 4, 3, 3, 2, 3)
    first: dict[str, tuple] = {}
    for uri, p in crawl["pages"].items():
        if p["good"] and p["body"] not in first:
            first[p["body"]] = (uri, p["group"])
    groups = sorted({g for _u, g in first.values()})
    rows = [(n, uri, "Title text\n" + body, groups.index(g))
            for n, (body, (uri, g)) in enumerate(first.items())]
    check = lambda x: oracles.check_curation(x, crawl)  # noqa: E731
    # extracted text without its planted paragraph
    yield ("extracted text", check, rows, [rows[0][:2] + ("boilerplate",) + rows[0][3:]] + rows[1:])
    # a survivor too many (one page kept twice)
    yield ("exact dedup", check, rows, rows + [(999,) + rows[0][1:]])
    # two planted groups merged into one cluster
    a, b2 = rows[0], next(r for r in rows if r[3] != rows[0][3])
    merged = [r[:3] + (a[3],) if r[3] == b2[3] else r for r in rows]
    yield ("near-dup clusters", check, rows, merged)
    # a near-dup group split apart
    near = next(r for r in rows if crawl["pages"][r[1]]["group"].startswith("n"))
    split = [r[:3] + (10**6 + n,) if r[3] == near[3] else r for n, r in enumerate(rows)]
    yield ("near-dup recall", check, rows, split)

    emb = gen_crawl.make_embeddings(5, 300, 4, 8, 3)
    want = oracles.topk(emb["corpus"], emb["queries"], [10**6 + i for i in range(4)], 3)
    bad = [want[0][:1] + (want[0][1] + 1,) + want[0][2:]] + want[1:]
    yield ("top-k", lambda x: oracles.check_topk(x, want), want, bad)


def main() -> int:
    failures = 0
    for name, check, good, bad in cases():
        try:
            check(good)
        except oracles.CheckError as e:
            print(f"FAIL {name}: rejected a correct output ({e})")
            failures += 1
            continue
        try:
            check(bad)
        except oracles.CheckError as e:
            print(f"ok   {name}: corrupted output rejected ({e})")
        else:
            print(f"FAIL {name}: accepted a corrupted output")
            failures += 1
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    import layers

    listed = [m["name"] for m in bench["per_layer"]]
    if listed != list(layers.METRICS):
        print("FAIL BENCHMARK.json per_layer differs from layers.METRICS")
        failures += 1
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
