"""Golden validation of the TW-address normalizer library (ops/text.py)
against the reference's committed run artifacts:

  - street/admin fallback rows record the query that succeeded
    (``usedQuery``) → our candidate builders must generate it.
  - plain opencage rows cached their winning query in
    data/geocode-cache.json → our primary candidate list must intersect
    the cache keys.

Plus targeted unit cases for the individual F-functions.
"""

import json
import os

import pytest

from counsel_data_pipeline_spark.ops import text as T

# under the reference checkout
PUB = "public/clinics.json"
DEV = "src/public/clinics.json"
CACHE = "data/geocode-cache.json"


def _rows(reference, path):
    return json.load(open(os.path.join(reference, path)))["rows"]


def test_street_fallback_candidates_contain_used_query(reference):
    # A handful of rows carry a stale usedQuery recorded against an OLDER
    # address (carry-forward quirk, SURVEY §2.10 T6): the road in usedQuery
    # does not occur in the row's current address at all, so no candidate
    # generator could reproduce it. Hence a ≥95% threshold, like the cache
    # test below, rather than exact containment.
    missed = []
    checked = 0
    for r in _rows(reference, PUB) + _rows(reference, DEV):
        if r.get("approx") == "street" and r.get("usedQuery"):
            checked += 1
            cands = T.build_street_centroid_candidates(
                r.get("address") or "", r.get("org_name") or ""
            )
            if r["usedQuery"] not in cands:
                missed.append((r["org_name"], r["usedQuery"], cands[:3]))
    assert checked > 300
    hit = checked - len(missed)
    assert hit / checked >= 0.95, (
        f"{len(missed)}/{checked} street queries not generated: {missed[:5]}"
    )


def test_admin_fallback_candidates_contain_used_query(reference):
    for r in _rows(reference, PUB) + _rows(reference, DEV):
        if r.get("approx") == "admin" and r.get("usedQuery"):
            county, district = T.parse_region_parts(r.get("address") or "")
            tries = ([county + district] if county and district else []) + (
                [county] if county else []
            )
            assert r["usedQuery"] in tries, (r["org_name"], r["usedQuery"], tries)


def test_primary_candidates_hit_cache_keys(reference):
    cache_keys = set(json.load(open(os.path.join(reference, CACHE))).keys())
    checked = hit = 0
    for r in _rows(reference, PUB):
        if r.get("source") == "opencage" and not r.get("approx"):
            checked += 1
            cands = T.build_query_candidates(r.get("address") or "", r.get("org_name") or "")
            if set(cands) & cache_keys:
                hit += 1
    assert checked > 500
    # The cache was accumulated by exactly this candidate generator in the
    # reference — near-total intersection is the expected signature. A small
    # residue of cache entries (e.g. 劍潭路28、30號 un-split on 、;
    # 國光路二段337號 without the 大里→neighborhood-li strip) was written by
    # an OLDER revision of the builder and is unreachable from the current
    # reference code too, so the ceiling is ~94.7%, not 100%.
    assert hit / checked >= 0.94, f"only {hit}/{checked} rows reproduce a cached query"


@pytest.mark.parametrize(
    "s,expected",
    [
        ("十", 10), ("十五", 15), ("二十", 20), ("二十三", 23), ("九十九", 99),
        ("三", 3), ("兩", 2), ("〇", 0), ("", None), ("百", None),
    ],
)
def test_parse_zh(s, expected):
    assert T.parse_zh_1_99(s) == expected


def test_normalize_and_variants():
    assert T.normalize_tw_address("710 臺南市新營區 台灣") == "臺南市新營區"
    assert T.normalize_tw_address("10491台北市中山區") == "台北市中山區"
    assert T.tai_variants("台北市") == ["臺北市", "台北市"]
    assert T.section_arabic_variant("中山路一段") == "中山路1段"
    assert T.hyphen_number_variants("西園路35-1號") == [
        "西園路35-1號", "西園路35之1號", "西園路35號",
    ]


def test_trim_and_drop():
    assert T.trim_to_house_no("松德路309號5樓之2（近市場）") == "松德路309號"
    assert T.trim_to_house_no("和平東路一段77號4樓") == "和平東路一段77號"
    assert T.drop_house_no("光復路102號3樓") == "光復路"


def test_alley_degrade_order():
    # Expectations mirror the reference regexes exactly
    # (src/geocode.js:172-183): 弄\d+號→號 eats the house number, the 巷
    # pattern removes 巷+digits, the no-both branch strips both tokens.
    v = T.alley_degrade_variants("中山路5巷3弄7號")
    assert v == ["中山路5巷3弄7號", "中山路5巷3號", "中山路5弄7號", "中山路5號"]


def test_road_only_and_region():
    assert T.road_only_variant("信義路二段208號") == "信義路2段208號"
    assert T.road_only_variant("信義路二段5巷208號") == "信義路2段208號"
    assert T.road_only_variant("無路名") is None
    assert T.parse_region_parts("臺南市新營區中山路10號") == ("臺南市", "新營區")
    assert T.parse_region_parts("中山路10號") == ("", "")


def test_county_matches_tai_spellings():
    assert T.county_matches({}, "台北市中山區", "臺北市")
    assert T.county_matches({"city": "臺北市"}, "", "台北市")
    assert not T.county_matches({"city": "高雄市"}, "", "臺北市")
    assert T.county_matches({}, "", "")  # unknown → vacuous


# ---------------------------------------------------------------------------
# Property-based invariants of the candidate builders (no Spark needed)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_addr_bits = st.sampled_from(
    ["臺北市", "台中市", "新營區", "中山路", "文化街", "一段", "二段", "35-1號",
     "7號", "5巷", "3弄", "2樓", "（備註）", "關東里", "、", "100 ", "台灣"]
)
_addr = st.lists(_addr_bits, min_size=0, max_size=8).map("".join)
_org = st.sampled_from(["", "測試診所", "心理 諮商所"])


@settings(max_examples=200, deadline=None)
@given(_addr, _org)
def test_candidates_are_clamped_and_addresslike(addr, org):
    for q in T.build_query_candidates(addr, org):
        assert len(q.encode("utf-8")) < 2048
        from urllib.parse import quote
        assert len(quote(q)) <= 512 or len(q) <= 120  # F13 clamp
        assert T.looks_like_address(q)  # F8 filter applied to every output
        assert " " not in q and "台灣" not in q and "臺灣" not in q  # F1 applied


@settings(max_examples=200, deadline=None)
@given(_addr)
def test_tai_variants_involution_and_coverage(s):
    v = T.tai_variants(s)
    assert 1 <= len(v) <= 2
    assert all("臺" not in x or "台" not in x or True for x in v)
    # re-applying yields the same set (idempotent fan-out)
    assert set(T.tai_variants(v[0])) == set(v)


@settings(max_examples=200, deadline=None)
@given(_addr, _org)
def test_street_candidates_sorted_longest_first(addr, org):
    c = T.build_street_centroid_candidates(addr, org)
    assert [len(x) for x in c] == sorted((len(x) for x in c), reverse=True)
    assert len(set(c)) == len(c)  # deduped


@settings(max_examples=200, deadline=None)
@given(_addr)
def test_trim_drop_compose(s):
    trimmed = T.trim_to_house_no(s)
    assert "（" not in trimmed and "(" not in trimmed
    i = trimmed.find("號")
    assert i < 0 or i == len(trimmed) - 1  # nothing survives past the first 號
    assert "號" not in T.drop_house_no(trimmed) or "-" in T.drop_house_no(trimmed)


def test_oov_trigram_ratio_flags_gibberish(spark):
    """A doc made of rare trigrams must score a much higher OOV ratio than
    ordinary corpus text — exercised through the SAME frame function the
    registered plan uses."""
    from counsel_data_pipeline_spark.io.sources import load_table
    from counsel_data_pipeline_spark.ops.text_analysis import oov_trigram_ratio_frame

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(
        [(900001, "qxzqj wvkqx zzjqv pqqzx jxqqw vqzzk")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r["oov_ratio"]
        for r in oov_trigram_ratio_frame(docs.unionByName(planted), 100).collect()
    }
    corpus_avg = sum(v for k, v in rows.items() if k != 900001) / (len(rows) - 1)
    assert rows[900001] > corpus_avg + 0.3, (rows[900001], corpus_avg)


def test_bpe_pair_counts_planted(spark):
    """BPE iteration-one counts on a planted vocabulary: weighted by word
    frequency, overlapping pairs counted per position ('aaa' -> 'aa'
    twice per occurrence), 1-char words contribute nothing."""
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.ops.text_analysis import bpe_pair_counts

    words = spark.createDataFrame(
        # "low" x3, "lower" x1, "aaa" x2, "x" x5 (no pairs)
        [("low",)] * 3 + [("lower",)] + [("aaa",)] * 2 + [("x",)] * 5,
        "word string",
    )
    got = {
        r["pair"]: (r["n_occurrences"], r["n_words"])
        for r in bpe_pair_counts(words).collect()
    }
    assert got == {
        # lo: 3x in "low" + 1x in "lower"; two distinct words
        "lo": (4, 2),
        "ow": (4, 2),
        "we": (1, 1),
        "er": (1, 1),
        # aa twice PER OCCURRENCE of "aaa", 2 occurrences -> 4
        "aa": (4, 1),
    }
    # the arg-max under (n desc, pair asc) is the first BPE merge
    top = (
        bpe_pair_counts(words)
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .first()
    )
    assert top["pair"] == "aa"


def test_bpe_second_merge_planted(spark):
    """BPE iteration two on a planted vocabulary: the learned merge is
    the (count desc, pair asc) arg-max of iteration one; application is
    greedy left-to-right ('aaa' under 'aa' -> [aa, a], NOT [a, aa]); and
    pair identity survives the ('aa','a') vs ('a','aa') concatenation
    collision because left/right are separate columns."""
    from counsel_data_pipeline_spark.ops.text_analysis import (
        bpe_second_merge_pair_counts,
        bpe_vocab,
    )

    words = spark.createDataFrame(
        # iter1: "aa" 2x3+1x2=8, "ba" 2, "ab" 1 -> merge = "aa"
        [("aaa",)] * 3 + [("baa",)] * 2 + [("ab",)],
        "word string",
    )
    rows = bpe_second_merge_pair_counts(bpe_vocab(words)).collect()
    assert {r["merge_pair"] for r in rows} == {"aa"}
    got = {
        (r["left_sym"], r["right_sym"]): (r["n_occurrences"], r["n_words"])
        for r in rows
    }
    assert got == {
        # "aaa" -> [aa, a] x3 (greedy): the merged symbol on the LEFT
        ("aa", "a"): (3, 1),
        # "baa" -> [b, aa] x2: merged symbol on the RIGHT
        ("b", "aa"): (2, 1),
        # "ab" -> [a, b]: untouched by the merge
        ("a", "b"): (1, 1),
    }
