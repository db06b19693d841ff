"""Landing-zone collector (io/collector.py, SURVEY §2.1 S1/S2).

The §3.1 DAG must run END-TO-END from a transport: replayed upstream →
paginated collection → first-wins uniq → dated landing files → Spark
ingestion → clean/merge — with the result matching the reference's
committed per-county golden outputs, same assertion as the pre-staged
fixture test in test_pipeline.py.
"""

import json
import os

from counsel_data_pipeline_spark import pipeline as P
from counsel_data_pipeline_spark.io import collector as C
from counsel_data_pipeline_spark.io.sources import extract_rows
from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS

REF_OUT = "src/out"  # under the reference checkout
COUNTIES = ["01_臺北市", "05_基隆市", "07_嘉義市"]


def test_full_dag_from_collected_landing_files(spark, reference, tmp_path):
    ref_out = os.path.join(reference, REF_OUT)
    transport, specs = C.replay_from_reference_out(ref_out, COUNTIES)
    county_files = C.collect_landing(
        transport, specs, str(tmp_path / "landing"), date="2026-08-14",
        page_size=10,
    )
    # dated layout + reference wrapper shape
    assert [c for c, _, _ in county_files] == COUNTIES
    for key, yes_path, no_path in county_files:
        assert f"/2026-08-14/{key}_yes_raw.json" in yes_path.replace(os.sep, "/")
        payload = json.load(open(yes_path, encoding="utf-8"))
        assert set(payload) == {"total", "rows", "totalPages"}
        assert payload["total"] == len(payload["rows"])
    # pagination actually exercised: 臺北市 yes has 63 rows -> 7 pages
    tp_yes_pages = [p for v, y, p in transport.calls if v == "1" and y]
    assert max(tp_yes_pages) == 7

    res = P.crawl_clean_merge(spark, county_files)
    got = [
        {k: v for k, v in r.asDict(recursive=True).items() if k in CLEAN_COLUMNS}
        for r in res.taiwan.orderBy("taiwan_order").collect()
    ]
    exp = []
    for c in COUNTIES:
        exp.extend(
            extract_rows(
                json.load(open(os.path.join(ref_out, f"{c}_merged_clean.json")))
            )
        )
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        assert g == e, f"row {i} mismatch"


def test_collector_uniq_is_first_wins_on_anchor_text():
    a = {
        "countyName": "臺北市",
        "orgName": "<a href='http://x' target='_blank'>甲醫院</a>",
        "address": "<a href='http://m' target='_blank'>臺北市a路1號</a>",
        "thisWeekCount": 3,
    }
    b = {  # same (county, org text, addr text) despite different markup
        "countyName": "臺北市",
        "orgName": "甲醫院",
        "address": "臺北市a路1號",
        "thisWeekCount": 9,
    }
    c = {"countyName": "臺北市", "orgName": "乙醫院", "address": "臺北市b路2號"}
    uniq = C.uniq_raw_rows([a, b, c])
    assert uniq == [a, c]  # first wins, order kept


def test_http_transport_form_field_parity():
    """Exact POST parity with src/http_crawl.js:49-78: both county
    spellings, lowercase booleans, stringified paging, empty sort/order,
    token echoed as header AND form field, cookie forwarded."""
    posts = []

    def fake_get(url, headers):
        assert url.endswith("/Home/QueryServiceOrg")
        set_cookie = (
            "ASP.NET_SessionId=abc123; path=/; HttpOnly, "
            "__RequestVerificationToken=tok0; path=/; secure"
        )
        html = (
            '<input name="__RequestVerificationToken" type="hidden" '
            'value="TOKEN42" />'
        )
        return set_cookie, html

    def fake_post(url, data, headers):
        posts.append((url, dict(data), dict(headers)))
        return json.dumps({"total": 1, "rows": [{"countyName": "桃園市"}]})

    t = C.HttpTransport("https://example.test/mhs", get=fake_get, post=fake_post)
    got = t.fetch_page("1", True, 2, 10)
    assert got == {"total": 1, "rows": [{"countyName": "桃園市"}]}

    url, data, headers = posts[0]
    assert url.endswith("/Home/QueryServiceOrgJsonList")
    assert data == {
        "county": "1",
        "countyId": "1",
        "isYes": "true",
        "page": "2",
        "rows": "10",
        "sort": "",
        "order": "",
        "__RequestVerificationToken": "TOKEN42",
    }
    assert headers["RequestVerificationToken"] == "TOKEN42"
    assert (
        headers["Cookie"]
        == "ASP.NET_SessionId=abc123; __RequestVerificationToken=tok0"
    )
    assert headers["Referer"].endswith("/Home/QueryServiceOrg")

    # session reused across pages: one GET total
    t.fetch_page("1", False, 1, 10)
    assert posts[1][1]["isYes"] == "false"


def test_http_transport_token_js_fallback_and_array_body():
    def fake_get(url, headers):
        return "", "var RequestVerificationToken = 'JSTOK';"

    def fake_post(url, data, headers):
        assert data["__RequestVerificationToken"] == "JSTOK"
        return json.dumps([{"countyName": "x"}])  # bare-array body shape

    t = C.HttpTransport("https://example.test/mhs", get=fake_get, post=fake_post)
    got = t.fetch_page("3", True, 1, 10)
    assert got == {"total": 1, "rows": [{"countyName": "x"}]}


def test_collect_by_condition_runaway_guard():
    class Huge:
        def fetch_page(self, v, y, page, size):
            return {"total": 10**9, "rows": []}

    try:
        C.collect_by_condition(Huge(), "1", True, page_size=10, max_pages=50)
    except RuntimeError as e:
        assert "exceeds guard" in str(e)
    else:
        raise AssertionError("runaway pagination not guarded")


def test_human_pause_schedule_and_fallback():
    calls = []
    pause = C.human_pause(rand=lambda a, b: a, sleep=lambda s: calls.append(s))
    pause("short"); pause("medium"); pause("county"); pause("nonsense")
    assert calls == [0.12, 0.3, 2.0, 0.12]  # table minima; unknown->short


def test_probe_reachability_both_ways():
    ok = C.probe_reachability(lambda u, h: ("", "<html>"), "https://x/form")
    assert ok is True

    def down(u, h):
        raise OSError("connection refused")

    assert C.probe_reachability(down, "https://x/form") is False


def test_with_attempts_retries_whole_run_then_succeeds():
    attempts, naps = [], []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("challenge page")
        return "landed"

    out = C.with_attempts(flaky, max_attempts=3, backoff_s=7, sleep=naps.append)
    assert out == "landed" and len(attempts) == 3 and naps == [7, 7]

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="challenge"):
        C.with_attempts(
            lambda: (_ for _ in ()).throw(RuntimeError("challenge")),
            max_attempts=2, backoff_s=1, sleep=naps.append,
        )


def test_http_transport_total_coercion_and_fail_loud():
    """A stringified total coerces; a body with NO usable total and a
    FULL page fails loud instead of silently landing one page."""
    import pytest as _pytest

    def mk(body_json):
        return C.HttpTransport(
            "https://example.test/mhs",
            get=lambda u, h: ("", ""),
            post=lambda u, d, h: body_json,
        )

    got = mk(json.dumps({"total": "63", "rows": [{"a": 1}]})).fetch_page(
        "1", True, 1, 10
    )
    assert got["total"] == 63

    # bare array, short page: complete single-page result (reference
    # list.length fallback)
    got = mk(json.dumps([{"a": 1}, {"a": 2}])).fetch_page("1", True, 1, 10)
    assert got["total"] == 2

    # bare array, FULL page: cannot tell if more pages exist
    full = json.dumps([{"a": i} for i in range(10)])
    with _pytest.raises(RuntimeError, match="no usable 'total'"):
        mk(full).fetch_page("1", True, 1, 10)


def test_fetch_page_accepts_float_total():
    # ADVICE r8: the reference accepts any finite number for 'total'
    # (Number.isFinite); {"total": 63.0} must coerce, not fall to None
    # and trip the full-page RuntimeError.
    def fake_get(url, headers):
        return "ASP.NET_SessionId=s; path=/", ""

    def fake_post(url, data, headers):
        return json.dumps({"total": 63.0, "rows": [{"countyName": "x"}] * 10})

    t = C.HttpTransport("https://example.test/mhs", get=fake_get, post=fake_post)
    got = t.fetch_page("1", True, 1, 10)
    assert got["total"] == 63


def test_with_attempts_rejects_nonpositive():
    import pytest as _p
    with _p.raises(ValueError, match="max_attempts"):
        C.with_attempts(lambda: 1, max_attempts=0)


def test_browser_transport_matches_replay_goldens(reference, tmp_path):
    # S1 browser physical path: the recorded-session BrowserPage drives the
    # same collect_landing loop and must land byte-identical wrapper files
    # to the HTTP/replay path over the reference's committed raw goldens.
    replay, specs = C.replay_from_reference_out(os.path.join(reference, REF_OUT), COUNTIES)
    page = C.RecordedBrowserPage(fixtures=replay.fixtures, pager_style="pages")
    browser = C.PlaywrightTransport(page=page)

    got = C.collect_landing(
        browser, specs, str(tmp_path / "browser"), date="2026-08-14",
        page_size=10,
    )
    exp = C.collect_landing(
        replay, specs, str(tmp_path / "replay"), date="2026-08-14",
        page_size=10,
    )
    for (gk, gy, gn), (ek, ey, en) in zip(got, exp, strict=True):
        assert gk == ek
        assert json.load(open(gy)) == json.load(open(ey))
        assert json.load(open(gn)) == json.load(open(en))

    # UI pagination actually exercised: 臺北市 yes = 63 rows -> 6 next-clicks
    first_search = page.actions.index("search")
    assert page.actions[first_search - 3 :][:4] == [
        "open_form", "select:1", "check:yes", "search",
    ]
    assert page.actions[first_search : first_search + 8] == ["search"] + ["next"] * 6 + [
        "close_dialog"
    ]
    # dialog reset between conditions: every re-search closes the open grid
    # and reopens the form from home (ref src/index.js:319-323)
    for i, a in enumerate(page.actions):
        if a == "search" and i > first_search:
            assert "close_dialog" in page.actions[:i]
            assert page.actions[i - 3] == "open_form"


def test_browser_transport_rejects_out_of_order_pages():
    page = C.RecordedBrowserPage(fixtures={"1": {"yes": [{"countyName": "x"}] * 25}})
    t = C.PlaywrightTransport(page=page)
    t.fetch_page("1", True, 1, 10)
    t.fetch_page("1", True, 2, 10)
    import pytest as _p

    with _p.raises(RuntimeError, match="sequential"):
        t.fetch_page("1", True, 4, 10)


def test_browser_transport_records_pager_total():
    # '共 N 記錄' pager style: the exact row total flows through
    page = C.RecordedBrowserPage(
        fixtures={"1": {"yes": [{"countyName": "x"}] * 25, "no": []}},
        pager_style="records",
    )
    t = C.PlaywrightTransport(page=page)
    got = C.collect_by_condition(t, "1", True, page_size=10)
    assert got["totalPages"] == 3 and len(got["rows"]) == 1  # uniq collapses dupes
