"""Output checks against the structure planted in the corpus.

``fixtures.generate`` and ``inputs.clique_rows`` encode each doc's block and
key in its url path, ``/<block>/<key>``:

* ``b<g>m<i>`` / ``f``-block ``b<g>mf``: exact-dup group ``g``;
* ``c<f>b`` base, ``c<f>m`` mutant, ``f``-block ``c<f>f`` html copy of the
  base, ``c<f>d`` decoy (below every threshold);
* ``d<p>x`` / ``d<p>y``: substring pair ``p``;
* ``e<7 digits>``: the exact boilerplate group; ``eq<i>``: quarantined;
* ``h<c>m<i>``: hot clique ``c``;
* ``a<i>``: unique prose.

Each check returns a list of failure strings; an empty list means pass.
"""

from __future__ import annotations

import re
from collections import defaultdict

_PATH = re.compile(r"/([a-h])/([^/]+)$")


def _key(url: str) -> tuple[str, str]:
    m = _PATH.search(url)
    return (m.group(1), m.group(2)) if m else ("?", url)


def planted_groups(urls) -> tuple[dict[str, list[str]], list[tuple[str, str]]]:
    """(groups that must share one cluster_id, (base, decoy) pairs that
    must not)."""
    groups: dict[str, list[str]] = defaultdict(list)
    decoys: dict[str, str] = {}
    bases: dict[str, str] = {}
    for u in urls:
        block, key = _key(u)
        if key.startswith("b") and "m" in key:
            groups["B:" + key.split("m")[0]].append(u)
        elif key.startswith("c"):
            fam, role = key[:-1], key[-1]
            if role in "bmf":
                groups["C:" + fam].append(u)
            if role == "b":
                bases[fam] = u
            elif role == "d":
                decoys[fam] = u
        elif key.startswith("d") and key[-1] in "xy":
            groups["D:" + key[:-1]].append(u)
        elif block == "e" and not key.startswith("eq"):
            groups["E"].append(u)
        elif block == "h":
            groups["H:" + key.split("m")[0]].append(u)
    groups = {g: us for g, us in groups.items() if len(us) >= 2}
    return groups, [(bases[f], d) for f, d in decoys.items() if f in bases]


def check_pipeline(input_urls, report, clusters) -> list[str]:
    """``report``: (url, cluster_id, is_duplicate) rows as a pandas frame;
    ``clusters``: (cluster_id, n_members) rows."""
    fails: list[str] = []
    clean = {u for u in input_urls if not _key(u)[1].startswith("eq")}
    got = set(report["url"])
    if len(report) != len(got) or got != clean:
        fails.append(f"report rows {len(report)} != clean docs {len(clean)}")
    cid = dict(zip(report["url"], report["cluster_id"]))
    groups, decoys = planted_groups(input_urls)
    for g, us in groups.items():
        ids = {cid.get(u) for u in us}
        if len(ids) != 1 or None in ids:
            fails.append(f"planted group {g} split over {len(ids)} clusters")
    for base, decoy in decoys:
        if cid.get(base) == cid.get(decoy):
            fails.append(f"decoy {decoy} joined its base")
    sizes = report.groupby("cluster_id").size()
    for u in clean:
        if _key(u)[0] == "a" and (cid.get(u) != u or sizes.get(u) != 1):
            fails.append(f"unique doc {u} clustered")
    sizes = sizes[sizes >= 2]
    got_sizes = dict(zip(clusters["cluster_id"], clusters["n_members"]))
    if got_sizes != {k: int(v) for k, v in sizes.items()}:
        fails.append("clusters n_members disagree with report")
    return fails[:20]
