"""The generators are deterministic and plant what the benchmark checks."""

import hashlib
import json
import os
import re

import gen_clinic
import gen_tables


def _digest(root) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_clinic_zone_same_seed_same_bytes(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen_clinic.generate(str(tmp_path / name), seed, n_counties=3, clinics=20)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_tables_same_seed_same_bytes(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        gen_tables.generate(str(tmp_path / name), 0.001, seed)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


# Schema plus every value of each seed-42 sf0.001 test table that
# TESTDATA.md describes, fingerprinted from those tables themselves.
REFERENCE_SF0001 = {
    "region": "3e33d9e68c3532b9",
    "nation": "f3a0c796b8c611bd",
    "customer": "df143db46694fac8",
    "supplier": "44acc7a06cdbb64f",
    "part": "f24a7234efe9fc4c",
    "orders": "acf283c6c39b07b4",
    "lineitem": "cf54396a4cf9b73c",
    "events": "f15e199de1d898dd",
    "documents": "f37a1eb16f7834f5",
    "embeddings": "6842d7a765410a6c",
}


def test_tables_reproduce_the_reference_test_tables(tables):
    import pyarrow.parquet as pq

    got = {}
    for name in REFERENCE_SF0001:
        t = pq.read_table(os.path.join(tables, f"{name}.parquet"))
        got[name] = hashlib.sha256((str(t.schema) + repr(t.to_pylist())).encode()).hexdigest()[:16]
    assert got == REFERENCE_SF0001


def _rows(doc):
    return doc if isinstance(doc, list) else doc.get("rows", doc.get("data"))


def test_clinic_zone_covers_the_fixture_cases(tmp_path):
    m = gen_clinic.generate(str(tmp_path), 5, n_counties=22, clinics=30)
    landing = tmp_path / "landing"
    assert len(os.listdir(landing)) == 44
    shapes, files = set(), {}
    for name in sorted(os.listdir(landing)):
        doc = json.loads((landing / name).read_text(encoding="utf-8"))
        shapes.add(type(doc).__name__ if isinstance(doc, list) else ("rows" if "rows" in doc else "data"))
        files[name] = _rows(doc)
    assert shapes == {"list", "rows", "data"}
    rows = [r for rs in files.values() for r in rs]
    orgs = [r["orgName"] for r in rows]
    assert any(o.startswith("<a href=") for o in orgs)                 # HTML anchor
    assert any(o.startswith("\\u003ca href=") for o in orgs)           # escaped anchor
    assert any("href='無'" in o for o in orgs)                         # href sentinel
    assert any("&amp;" in o and "<a" not in o for o in orgs)           # escaped entity
    assert any(r["editDate"] == "尚未更新" for r in rows)
    counts = [r[k] for r in rows for k in r if k.endswith("Count")]
    assert any(isinstance(c, int) for c in counts)
    assert any(isinstance(c, str) and c.isdigit() for c in counts)
    assert None in counts and "" in counts

    def key(r):
        return (r["countyName"], r["orgName"], r["address"])

    # cross-page duplicates within one file
    assert any(len({key(r) for r in rs}) < len(rs) for rs in files.values())
    # yes/no overlap with differing counts
    overlap = 0
    for name, rs in files.items():
        if name.endswith("_yes_raw.json"):
            no = {key(r): r for r in files[name.replace("_yes_", "_no_")]}
            overlap += sum(1 for r in rs if key(r) in no
                           and r["in4WeekTotleCount"] != no[key(r)]["in4WeekTotleCount"])
    assert overlap > 0

    # the delta: ~1%, matching no previous phone and carrying no anchor
    assert m.clean_rows == 660 and 0.01 * m.clean_rows <= m.delta_rows <= 0.02 * m.clean_rows
    prev = json.loads((tmp_path / "prev" / "clinics.json").read_text(encoding="utf-8"))["rows"]
    prev_phones = {re.sub(r"\D", "", p["phone"] or "") for p in prev if p["lat"] is not None}
    delta_raw = [r for r in rows if r["phone"] in m.delta_phones]
    assert {r["phone"] for r in delta_raw} == set(m.delta_phones)
    for r in delta_raw:
        assert re.sub(r"\D", "", r["phone"]) not in prev_phones
    new_rows = [r for r in delta_raw if r["phone"].startswith("09-9")]
    assert new_rows and all("<a" not in r["orgName"] + r["address"] for r in new_rows)
    assert any(p["lat"] is None for p in prev)                         # null-coordinate bucket
    assert any(p["phone"] == "" and p["org_url"] for p in prev)        # domain-only match
    cache = json.loads((tmp_path / "geocode-cache.json").read_text(encoding="utf-8"))
    assert len(cache) == m.cache_hits >= 1
    assert (m.v1_quarantined, m.v3_quarantined) == (2, 2)
