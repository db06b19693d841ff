"""Seeded generator for the clinic pipeline's daily landing zone.

One call writes everything a daily batch of ``counsel_data_pipeline_spark.
pipeline`` reads, plus the answers the batch must produce:

- ``landing/NN_<county>_{yes,no}_raw.json`` — upstream datagrid rows
  (FIXTURES.md §1.1) for each county and quota flag. Rows carry HTML
  anchors, escaped entities, the ``'無'`` href sentinel and the
  ``'尚未更新'`` date sentinel; count fields are numbers, numeric strings,
  ``null`` or ``''``; pages repeat rows (first one wins) and some clinics
  appear under both flags with different counts (max/OR merge). The files
  alternate between the wrapper, ``data``-keyed and bare-array shapes.
- ``prev/clinics.json`` — the previously published snapshot with carried
  lat/lng, including a phone bucket whose only row has null coordinates,
  domain-only matches and clinics that closed since.
- ``geocode-cache.json`` — a seeded cache covering about half of the delta.
- ``manifest.json`` — the planted answers: clean row count, delta size,
  cache hits, and the rows planted to fail each validation gate.

The delta (about 1% of rows) matches no previous phone and no previous
domain: delta rows have no anchors, because every address anchor's
Google-Maps ``map_url`` shares one domain and the diff's domain fallback
would otherwise carry them.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

COUNTIES = [
    "01_臺北市", "02_臺中市", "03_臺南市", "04_高雄市", "05_基隆市",
    "06_新竹市", "07_嘉義市", "08_新北市", "09_桃園市", "10_新竹縣",
    "11_宜蘭縣", "12_苗栗縣", "13_彰化縣", "14_南投縣", "15_雲林縣",
    "16_嘉義縣", "17_屏東縣", "18_澎湖縣", "19_花蓮縣", "20_臺東縣",
    "21_金門縣", "22_連江縣",
]
DISTRICTS = ["中正區", "東區", "信義鄉", "北斗鎮", "竹北市"]
ROADS = ["中山路", "民生東路", "復興街", "光明大道", "成功路二段"]
SURNAMES = "王李張劉陳楊黃趙吳周"
MAPS = "https://www.google.com/maps/search/?api=1&amp;query="
SHAPES = ("wrapper", "data", "array")


@dataclass
class Clinic:
    key: int
    county: str
    org: str
    address: str
    phone: str
    org_url: str | None      # clean org_url (None: no anchor or '無')
    map_url: str | None      # clean map_url (None: plain-text address)
    raw_org: str
    raw_address: str
    yes: bool                # has quota today
    also_no: bool = False    # listed under both flags
    role: str = "carried"    # carried | delta | null_geo | domain_only
    v1: str | None = None    # planted schema-gate failure
    v3: bool = False         # planted cross-county carried geocode


@dataclass
class Manifest:
    counties: list[str]
    clean_rows: int
    delta_rows: int
    cache_hits: int
    v1_quarantined: int
    v3_quarantined: int
    delta_phones: list[str] = field(default_factory=list)
    cache_lat: dict[str, float] = field(default_factory=dict)


def _count(rng: random.Random, value: int):
    """A count field the way the upstream grid serialises it."""
    form = rng.random()
    if form < 0.6:
        return value
    if form < 0.9:
        return str(value)
    return None if value == 0 else value


def _zero(rng: random.Random):
    return rng.choice([0, "0", None, ""])


def _raw_row(rng: random.Random, c: Clinic, yes: bool) -> dict:
    weeks = [rng.randint(0, 9) for _ in range(4)] if yes else [0, 0, 0, 0]
    if c.v1 == "negative_this_week" and yes:
        weeks[0] = -2
    total = sum(w for w in weeks if w > 0) or 1 if yes else 0
    counts = [_count(rng, w) if yes else _zero(rng) for w in weeks]
    return {
        "countyName": c.county,
        "orgName": c.raw_org,
        "phone": c.phone,
        "address": c.raw_address,
        "payDetail": rng.choice(["健保", "自費 NT$300", ""]),
        "thisWeekRange": "10/13-10/19",
        "thisWeekCount": counts[0],
        "nextWeekRange": "10/20-10/26",
        "nextWeekCount": counts[1],
        "next2WeekRange": "10/27-11/02",
        "next2WeekCount": counts[2],
        "next3WeekRange": "11/03-11/09",
        "next3WeekCount": counts[3],
        "in4WeekTotleCount": _count(rng, total) if yes else _zero(rng),
        "editDate": rng.choice(["2024/10/11", "2024/10/12", "尚未更新"]),
        "strTeleconsultation": rng.choice(["是", "否"]),
    }


def _clinic(rng: random.Random, key: int, county: str, plain: bool) -> Clinic:
    district = DISTRICTS[key % len(DISTRICTS)]
    address = f"{county}{district}{ROADS[key % len(ROADS)]}{key}號"
    org = f"{SURNAMES[key % len(SURNAMES)]}{'&' if key % 7 == 0 else ''}身心診所{key}"
    raw_org_text = org.replace("&", "&amp;")
    phone = f"0{2 + key % 7}-2{key:06d}"
    if plain:
        return Clinic(key, county, org, address, phone, None, None,
                      raw_org_text, address, yes=True)
    form = key % 4
    url = f"https://c{key}.clinic.example.tw/"
    if form == 0:
        raw_org, org_url = f"<a href='{url}' target='_blank'>{raw_org_text}</a>", url
    elif form == 1:
        raw_org = f"\\u003ca href='{url}' target='_blank'\\u003e{raw_org_text}\\u003c/a\\u003e"
        org_url = url
    elif form == 2:
        raw_org, org_url = f"<a href='無' target='_blank'>{raw_org_text}</a>", None
    else:
        raw_org, org_url = raw_org_text, None
    map_href = MAPS + address
    raw_address = f"<a href='{map_href}' target='_blank'>{address}</a>"
    return Clinic(key, county, org, address, phone, org_url, map_href.replace("&amp;", "&"),
                  raw_org, raw_address, yes=True)


def _geo(county: str, address: str, lat: float, lng: float) -> dict:
    return {
        "lat": lat, "lng": lng, "confidence": 9, "formatted": address,
        "components": {"county": county}, "source": "opencage", "approx": None,
    }


def _write(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, indent=2)


def _shape(rows: list[dict], county: str, shape: str):
    if shape == "wrapper":
        return {"county": county, "total": len(rows), "rows": rows}
    if shape == "data":
        return {"county": county, "data": rows}
    return rows


def generate(out_dir: str, seed: int, n_counties: int = 22, clinics: int = 30) -> Manifest:
    """Write the landing zone, previous snapshot and cache under ``out_dir``;
    the same arguments give the same bytes."""
    from counsel_data_pipeline_spark.ops.text import build_query_candidates

    rng = random.Random(seed)
    counties = COUNTIES[:n_counties]
    key = rng.randint(1, 400) * 1000
    per_county: dict[str, list[Clinic]] = {}
    for name in counties:
        county = name.split("_", 1)[1]
        per_county[name] = [_clinic(rng, key + i, county, plain=False) for i in range(clinics)]
        key += clinics
    everyone = [c for cs in per_county.values() for c in cs]
    n = len(everyone)

    # planted roles: ~1% brand-new delta rows, one null-coordinate bucket,
    # a few domain-only matches, and failures for each validation gate
    picks = rng.sample(range(n), n)
    n_delta = max(2, round(0.01 * n))
    for i in picks[:n_delta]:
        c = everyone[i]
        plain = _clinic(rng, c.key, c.county, plain=True)
        plain.key, plain.phone = c.key, f"09-9{c.key:06d}"
        plain.role = "delta"
        everyone[i] = plain
    roles = iter(picks[n_delta:])
    everyone[next(roles)].role = "null_geo"
    for _ in range(max(1, n // 100)):
        c = everyone[next(roles)]
        c.role, c.phone = "domain_only", ""
        url = f"https://d{c.key}.clinic.example.tw/"
        c.org_url, c.raw_org = url, f"<a href='{url}' target='_blank'>{c.org.replace('&', '&amp;')}</a>"
    v1 = [everyone[next(roles)] for _ in range(2)]
    v1[0].v1 = "negative_this_week"
    v1[1].v1, v1[1].raw_org, v1[1].org_url = "required_org_name", "", None
    for _ in range(2):
        everyone[next(roles)].v3 = True
    by_key = {c.key: c for c in everyone}
    for name in per_county:
        per_county[name] = [by_key[c.key] for c in per_county[name]]

    # quota flags: ~40% without quota; ~15% of the rest also listed without
    for c in everyone:
        c.yes = c.v1 == "negative_this_week" or rng.random() < 0.6
        c.also_no = c.yes and c.v1 is None and rng.random() < 0.15

    for idx, name in enumerate(counties):
        yes_rows, no_rows = [], []
        for c in per_county[name]:
            if c.yes:
                yes_rows.append(_raw_row(rng, c, True))
            if not c.yes or c.also_no:
                no_rows.append(_raw_row(rng, c, False))
        for rows, yes in ((yes_rows, True), (no_rows, False)):
            # cross-page duplicates: a later page repeats a clinic; first wins
            for r in rng.sample(rows, min(2, len(rows))):
                rows.append({**r, "thisWeekCount": 99 if yes else 0})
        _write(os.path.join(out_dir, "landing", f"{name}_yes_raw.json"),
               _shape(yes_rows, name.split("_", 1)[1], SHAPES[idx % 3]))
        _write(os.path.join(out_dir, "landing", f"{name}_no_raw.json"),
               _shape(no_rows, name.split("_", 1)[1], SHAPES[(idx + 1) % 3]))

    prev_rows = []
    other = counties[-1].split("_", 1)[1] if len(counties) > 1 else "連江縣"
    for c in everyone:
        if c.role == "delta":
            continue
        lat, lng = round(22 + rng.random() * 3, 6), round(120 + rng.random() * 2, 6)
        geo = _geo(c.county, c.address, lat, lng)
        if c.v3:
            wrong = other if other != c.county else "金門縣"
            geo.update(formatted=f"{wrong}某路1號", components={"county": wrong})
        if c.role == "null_geo":
            geo.update(lat=None, lng=None)
        prev_rows.append({
            "county": c.county, "org_name": c.org if c.v1 != "required_org_name" else None,
            "org_url": c.org_url, "phone": c.phone, "address": c.address,
            "map_url": c.map_url, "pay_detail": "健保", "this_week": 1, "next_week": 0,
            "next_2_week": 0, "next_3_week": 0, "in_4_weeks": 1,
            "edit_date": "2024/10/10", "teleconsultation": False, "has_quota": True,
            **geo, "usedQuery": c.address, "note": None,
        })
    for i in range(3):  # clinics that closed since the last publish
        prev_rows.append({**prev_rows[i], "org_name": f"歇業診所{i}",
                          "phone": f"08-8{seed % 1000:03d}{i:03d}", "org_url": None,
                          "map_url": None})
    _write(os.path.join(out_dir, "prev", "clinics.json"),
           {"county": "全台灣", "total": len(prev_rows), "rows": prev_rows})

    delta = [c for c in everyone if c.role in ("delta", "null_geo")]
    cache, cache_lat = {}, {}
    for c in delta[::2]:
        q = build_query_candidates(c.address, c.org)[0]
        lat = round(23.0 + (c.key % 997) / 1e4, 6)
        cache[q] = _geo(c.county, c.address, lat, 121.0)
        cache_lat[c.phone] = lat
    _write(os.path.join(out_dir, "geocode-cache.json"), cache)

    manifest = Manifest(
        counties=counties,
        clean_rows=n,
        delta_rows=len(delta),
        cache_hits=len(cache),
        v1_quarantined=len(v1),
        v3_quarantined=2,
        delta_phones=sorted(c.phone for c in delta),
        cache_lat=cache_lat,
    )
    _write(os.path.join(out_dir, "manifest.json"), manifest.__dict__)
    return manifest

