"""Auth-profiling tests (826001201-04): location/UA/service scoring,
guards, learn gate, state updates."""

import pyspark.sql.functions as F
import pytest

from hogzilla_spark import datagen
from hogzilla_spark.config import DEFAULT
from hogzilla_spark.detectors.auth import auth_profile
from hogzilla_spark.functions.scalar import ua_family_sql

@pytest.fixture(scope="module")
def result(spark):
    alerts, updates = auth_profile(
        datagen.auth_df(spark),
        datagen.auth_histograms_df(spark),
        DEFAULT.auth,
        DEFAULT.hist,
    )
    return alerts.collect(), {r.hist_name: r for r in updates.collect()}

def test_alert_set(result):
    alerts, _ = result
    vars_seen = sorted(a.data["atypicalVars"] for a in alerts)
    # scenario 1 → "C"; scenario 4 → "U"; scenario 6 → "S"
    assert vars_seen == ["C", "S", "U"]

def test_location_guards(result):
    alerts, _ = result
    city_alerts = [a for a in alerts if "C" in a.data["atypicalVars"]]
    assert len(city_alerts) == 1
    assert city_alerts[0].data["atypicalCities"] == "Rio de Janeiro/Brazil"
    # near-known (scenario 2) and whitelisted-reverse (3) did NOT alert
    assert all("New York" not in a.data["atypicalCities"] for a in alerts)

def test_ua_and_service_events(result):
    alerts, _ = result
    ua = [a for a in alerts if a.data["atypicalVars"] == "U"][0]
    assert ua.data["atypicalUserAgents"] == "Other/curl"
    svc = [a for a in alerts if a.data["atypicalVars"] == "S"][0]
    assert svc.data["atypicalServices"] == "vpn2/rdp"

def test_unknown_user_learns_only(result):
    alerts, updates = result
    assert all(a.data["userName"] != "bob" for a in alerts)
    assert "HIST20-bob" in updates  # learned
    assert updates["HIST20-bob"].size == 1

def test_state_updates_shapes(result):
    _, updates = result
    # alice: 5 city-bearing records → HIST20 batch size 5 with shares
    h20 = updates["HIST20-alice"]
    assert h20.size == 5
    assert sum(h20.values.values()) == pytest.approx(1.0)
    # labels carried for coords ("city/country")
    assert h20.labels["-22.90,-43.20"] == "Rio_de_Janeiro/Brazil"
    assert "HIST21-alice" in updates and "HIST22-alice" in updates

def test_branch_excluded_cities_parity(spark):
    """HogAuth.scala:383-384/:401-402: the UA and service branches have
    their OWN excluded-city sets (empty by default — the default run
    above proves out-of-the-box parity); configuring them suppresses
    exactly that branch's alert from the listed city."""
    import dataclasses

    for field, gone, kept in (
        ("ua_excluded_cities", "U", {"C", "S"}),
        ("system_excluded_cities", "S", {"C", "U"}),
    ):
        cfg = dataclasses.replace(
            DEFAULT.auth, **{field: frozenset({"Sao Paulo"})}
        )
        alerts, _ = auth_profile(
            datagen.auth_df(spark),
            datagen.auth_histograms_df(spark),
            cfg,
            DEFAULT.hist,
        )
        vars_seen = {a.data["atypicalVars"] for a in alerts.collect()}
        assert vars_seen == kept, (field, vars_seen)
        assert gone not in vars_seen

def test_prepare_auth_count_hint_is_lazy(spark):
    """With ua_count_hint, prepare_auth runs NO eager job at
    plan-construction time (the streaming path's contract)."""
    from hogzilla_spark.detectors.auth import prepare_auth

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = prepare_auth(datagen.auth_df(spark), ua_count_hint=3)
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # plan built, nothing executed
    # and the hint-driven plan still computes the same families
    fams = {r.userAgent for r in df.select("userAgent").distinct().collect()}
    assert "Windows/Chrome" in fams and "Other/curl" in fams

def _plan_text_outside_cache(df):
    """simpleString of every optimized-plan node, not descending into
    an InMemoryRelation's cached plan."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        out.append(node.simpleString(10_000))
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return "\n".join(out)

def test_score_auth_reads_prepared_frame_once(spark):
    """The stream's shape: updates scored from a persisted prepare_auth
    frame re-run neither the UA CASE tree nor any rlike when the store
    merges them; both live only inside the cached relation."""
    from hogzilla_spark.detectors.auth import prepare_auth, score_auth
    from hogzilla_spark.state import store

    saved = datagen.auth_histograms_df(spark)
    lazy = prepare_auth(datagen.auth_df(spark), ua_count_hint=3)
    _, updates = score_auth(lazy, saved, DEFAULT.auth, DEFAULT.hist)
    # control: without the persist, the UA parse sits in the merge plan
    assert "RLIKE" in _plan_text_outside_cache(store.apply_updates(saved, updates)).upper()

    rec = prepare_auth(datagen.auth_df(spark), ua_count_hint=3).persist()
    try:
        _, updates = score_auth(rec, saved, DEFAULT.auth, DEFAULT.hist)
        text = _plan_text_outside_cache(store.apply_updates(saved, updates))
        assert "InMemoryRelation" in text
        assert "RLIKE" not in text.upper()
        assert "__ua_raw" not in text  # the UA CASE tree's input column
    finally:
        rec.unpersist()

def test_ua_family_expression(spark):
    df = spark.createDataFrame(
        [
            ("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36",),
            ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15) Safari/605.1",),
            ("curl/7.79.1",),
            ("",),
        ],
        "ua string",
    )
    got = [r.f for r in df.select(F.expr(ua_family_sql("ua")).alias("f")).collect()]
    assert got == ["Windows/Chrome", "Mac OS X/Safari", "Other/curl", ""]

# Realistic user-agent strings → expected "OS family/browser family"
# under the ordered uap-core-style rule tables.  Covers the token
# layering traps: Chrome UAs carry Safari, Android carries Linux, Edge
# carries Chrome, Samsung carries Chrome, iOS Chrome is CriOS, IE 11
# dropped the MSIE token, bots spoof browser tokens.
_UA_FIXTURE = [
    # desktop browsers
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36", "Windows/Chrome"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/45.0.2454.85 Safari/537.36", "Windows/Chrome"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15", "Mac OS X/Safari"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36", "Mac OS X/Chrome"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0", "Linux/Firefox"),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:128.0) Gecko/20100101 Firefox/128.0", "Ubuntu/Firefox"),
    ("Mozilla/5.0 (X11; Fedora; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/117.0.0.0 Safari/537.36", "Fedora/Chrome"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91", "Windows/Edge"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/106.0.0.0 Safari/537.36 OPR/92.0.0.0", "Windows/Opera"),
    ("Opera/9.80 (Windows NT 6.1; WOW64) Presto/2.12.388 Version/12.18", "Windows/Opera"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 Safari/537.36 Vivaldi/5.7", "Windows/Vivaldi"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/115.0.0.0 Safari/537.36 YaBrowser/23.9.1 Yowser/2.5", "Linux/Yandex Browser"),
    ("Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36", "Chrome OS/Chrome"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chromium/80.0.3987.160 Chrome/80.0.3987.163 Safari/537.36", "Linux/Chromium"),
    # IE across eras
    ("Mozilla/5.0 (compatible; MSIE 10.0; Windows NT 6.1; Trident/6.0)", "Windows/IE"),
    ("Mozilla/5.0 (Windows NT 10.0; WOW64; Trident/7.0; rv:11.0) like Gecko", "Windows/IE"),
    ("Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1; SV1)", "Windows/IE"),
    # mobile
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36", "Android/Chrome Mobile"),
    ("Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36", "Android/Samsung Internet"),
    ("Mozilla/5.0 (Android 13; Mobile; rv:109.0) Gecko/119.0 Firefox/119.0", "Android/Firefox Mobile"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1", "iOS/Mobile Safari"),
    ("Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1", "iOS/Mobile Safari"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/120.0.6099.56 Mobile/15E148 Safari/604.1", "iOS/Chrome Mobile iOS"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/118.0 Mobile/15E148 Safari/605.1.15", "iOS/Firefox iOS"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) EdgiOS/118.2088.77 Version/16.0 Mobile/15E148 Safari/604.1", "iOS/Edge Mobile"),
    ("Mozilla/5.0 (Linux; Android 13; SM-A536B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.6045.163 Mobile Safari/537.36 EdgA/119.0.2151.78", "Android/Edge Mobile"),
    ("Mozilla/5.0 (Linux; U; Android 12; en-US; M2102J20SG) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/100.0.4896.127 UCBrowser/15.5.0 Mobile Safari/537.36", "Android/UC Browser"),
    ("Opera/9.80 (J2ME/MIDP; Opera Mini/9.80 (S60; SymbOS; Opera Mobi/23.348) U; en) Presto/2.5.25 Version/10.54", "Symbian OS/Opera Mini"),
    ("Mozilla/5.0 (Windows Phone 10.0; Android 6.0.1; Microsoft; Lumia 650) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/52.0.2743.116 Mobile Safari/537.36 Edge/15.15254", "Windows Phone/Edge"),
    ("Mozilla/5.0 (Linux; Android 11; KFONWI Build/RS8332.1115N) AppleWebKit/537.36 (KHTML, like Gecko) Silk/112.5.1 like Chrome/112.0.5615.213 Safari/537.36", "Android/Amazon Silk"),
    ("Mozilla/5.0 (Mobile; LYF/F300B/LYF-F300B-001-02-15-130718-i;Android; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5", "KaiOS/Firefox Mobile"),
    # tooling / bots
    ("curl/8.4.0", "Other/curl"),
    ("Wget/1.21.3 (linux-gnu)", "Linux/Wget"),
    ("python-requests/2.31.0", "Other/Python Requests"),
    ("Python-urllib/3.11", "Other/Python-urllib"),
    ("Go-http-client/2.0", "Other/Go-http-client"),
    ("okhttp/4.12.0", "Other/okhttp"),
    ("Apache-HttpClient/4.5.14 (Java/17.0.8)", "Other/Apache-HttpClient"),
    ("PostmanRuntime/7.35.0", "Other/PostmanRuntime"),
    ("Java/11.0.20", "Other/Java"),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", "Other/Googlebot"),
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm) Chrome/116.0.1938.76 Safari/537.36", "Other/bingbot"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/119.0.6045.105 Safari/537.36", "Linux/HeadlessChrome"),
    ("Slackbot-LinkExpanding 1.0 (+https://api.slack.com/robots)", "Other/Slackbot"),
    # legacy / niche
    ("Mozilla/5.0 (X11; FreeBSD amd64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/105.0.0.0 Safari/537.36", "FreeBSD/Chrome"),
    ("Mozilla/5.0 (X11; SunOS i86pc; rv:38.0) Gecko/20100101 Firefox/38.0", "Solaris/Firefox"),
    ("Mozilla/5.0 (PlayStation 5/SmartTV) AppleWebKit/605.1.15 (KHTML, like Gecko)", "PlayStation/Other"),
    ("Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet) AppleWebKit/606.4 (KHTML, like Gecko) NF/6.0.1.15.4 NintendoBrowser/5.1.0.20393", "Nintendo/Other"),
    ("Mozilla/5.0 (SMART-TV; Linux; Tizen 6.0) AppleWebKit/537.36 (KHTML, like Gecko) 76.0.3809.146/6.0 TV Safari/537.36", "Tizen/Safari"),
    ("Lynx/2.8.9rel.1 libwww-FM/2.14 SSL-MM/1.4.1 GNUTLS/3.6.13", "Other/Lynx"),
    # extinct families (the round-7 long-tail closure: gecko forks ride
    # Firefox/Gecko tokens, webkit shells ride AppleWebKit ones, Avant
    # rides MSIE — ordering is the assertion here)
    ("Mozilla/5.0 (Windows; U; Windows NT 5.1; en-US; rv:1.8.1.12) Gecko/20080219 Firefox/2.0.0.12 Flock/1.0.9", "Windows/Flock"),
    ("Mozilla/5.0 (Windows; U; WinNT4.0; en-US; rv:1.0.1) Gecko/20020823 Netscape/7.0", "Windows/Netscape"),
    ("Mozilla/5.0 (Macintosh; U; PPC Mac OS X Mach-O; en; rv:1.8.1.4) Gecko/20070509 Camino/1.5", "Mac OS X/Camino"),
    ("Mozilla/5.0 (Windows; U; Windows NT 5.1; en-US; rv:1.8.1.12) Gecko/20080219 K-Meleon/1.5.4", "Windows/K-Meleon"),
    ("Mozilla/5.0 (Android; Linux armv7l; rv:9.0) Gecko/20111216 Firefox/9.0 Fennec/9.0", "Android/Firefox Mobile"),
    ("Mozilla/5.0 (Macintosh; U; Intel Mac OS X; en-US) AppleWebKit/528.16 (KHTML, like Gecko, Safari/528.16) OmniWeb/v622.8.0.112941", "Mac OS X/OmniWeb"),
    ("Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1; Avant Browser)", "Windows/Avant"),
    ("Mozilla/4.0 (PDA; Windows CE/1.0.1) NetFront/3.0", "Windows/NetFront"),
    ("ELinks/0.12pre5 (textmode; Linux; 80x24-2)", "Linux/ELinks"),
    ("w3m/0.5.3+git20210102", "Other/w3m"),
    ("NCSA_Mosaic/2.0 (Windows 3.1)", "Windows/Mosaic"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:102.0) Gecko/20100101 Thunderbird/102.10.0", "Linux/Thunderbird"),
    ("Mozilla/5.0 (compatible; Konqueror/4.5; FreeBSD) KHTML/4.5.4 (like Gecko)", "FreeBSD/Konqueror"),
    # in-app webviews (Chrome + Safari tokens present, wrapper wins)
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Instagram 302.1.0.34.111", "iOS/Instagram"),
    ("Mozilla/5.0 (Linux; Android 13; SM-G991B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/119.0.6045.193 Mobile Safari/537.36 [FB_IAB/FB4A;FBAV/442.0.0.31.112;]", "Android/Facebook"),
    ("Mozilla/5.0 (Linux; Android 12; V2118 Build/SP1A.210812.003; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/98.0.4758.102 MQQBrowser/6.2 TBS/046317 Mobile Safari/537.36 MicroMessenger/8.0.42", "Android/WeChat"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Safari Line/13.17.0", "iOS/Line"),
    ("Mozilla/5.0 (Linux; Android 13; Pixel 7 Build/TQ3A.230901.001; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/117.0.0.0 Mobile Safari/537.36 musical_ly_2023305040", "Android/TikTok"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Snapchat/12.60.0.42", "iOS/Snapchat"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/288.0.577695730 Mobile/15E148 Safari/604.1", "iOS/Google"),
    ("Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/119.0.6045.163 Mobile DuckDuckGo/5 Safari/537.36", "Android/DuckDuckGo Mobile"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Slack/4.35.126 Chrome/114.0.5735.289 Electron/25.8.4 Safari/537.36", "Windows/Electron"),
    # chromium derivatives / gecko forks
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Whale/3.20.182.14 Safari/537.36", "Windows/Whale"),
    ("Mozilla/5.0 (Linux; Android 10; HarmonyOS; TET-AN00; HMSCore 6.12.0.302) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/114.0.5735.196 HuaweiBrowser/14.0.2.311 Mobile Safari/537.36", "HarmonyOS/Huawei Browser"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/107.0.0.0 Safari/537.36 Maxthon/7.1.6.1000", "Windows/Maxthon"),
    ("Mozilla/5.0 (Linux; Android 10; SM-G973F Build/QP1A.190711.020) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/77.0.3865.92 Mobile Safari/537.36 Puffin/9.7.1.51367AP", "Android/Puffin"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) coc_coc_browser/115.0.130 Chrome/109.0.5414.130 Safari/537.36", "Windows/Coc Coc"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Falkon/23.08.1 QtWebEngine/5.15.14 Chrome/87.0.4280.144 Safari/537.36", "Linux/Falkon"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:5.0) Gecko/20100101 Goanna/20230930 PaleMoon/32.4.1", "Linux/Pale Moon"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:102.0) Gecko/20100101 Firefox/102.0 Waterfox/102.10.0", "Linux/Waterfox"),
    # crawlers / preview fetchers / HTTP clients
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.4 Safari/605.1.15 (Applebot/0.1; +http://www.apple.com/go/applebot)", "Mac OS X/Applebot"),
    ("Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)", "Other/AhrefsBot"),
    ("Mozilla/5.0 (compatible; SemrushBot/7~bl; +http://www.semrush.com/bot.html)", "Other/SemrushBot"),
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; GPTBot/1.0; +https://openai.com/gptbot)", "Other/GPTBot"),
    ("CCBot/2.0 (https://commoncrawl.org/faq/)", "Other/CCBot"),
    ("Mozilla/5.0 (compatible;PetalBot;+https://webmaster.petalsearch.com/site/petalbot)", "Other/PetalBot"),
    ("Mozilla/5.0 (Linux; Android 5.0) AppleWebKit/537.36 (KHTML, like Gecko) Mobile Safari/537.36 (compatible; Bytespider; spider-feedback@bytedance.com)", "Android/Bytespider"),
    ("Mozilla/5.0 (compatible; archive.org_bot +http://archive.org/details/archive.org_bot)", "Other/archive.org_bot"),
    ("TelegramBot (like TwitterBot)", "Other/TelegramBot"),
    ("Twitterbot/1.0", "Other/Twitterbot"),
    ("LinkedInBot/1.0 (compatible; Mozilla/5.0; Apache-HttpClient +http://www.linkedin.com)", "Other/LinkedInBot"),
    ("Mozilla/5.0 (compatible; Discordbot/2.0; +https://discordapp.com)", "Other/Discordbot"),
    ("WhatsApp/2.23.20.0", "Other/WhatsApp"),
    ("Scrapy/2.11.0 (+https://scrapy.org)", "Other/Scrapy"),
    ("Python/3.11 aiohttp/3.8.6", "Other/aiohttp"),
    ("axios/1.6.0", "Other/axios"),
    ("node-fetch/1.0 (+https://github.com/bitinn/node-fetch)", "Other/node-fetch"),
    ("GuzzleHttp/7", "Other/Guzzle"),
    ("Dart/3.1 (dart:io)", "Other/Dart"),
    ("PHP/8.2.11", "Other/PHP"),
    # appliance / mobile OSes
    ("Mozilla/5.0 (Web0S; Linux/SmartTV) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/79.0.3945.79 Safari/537.36 WebAppManager", "webOS/Chrome"),
    ("Mozilla/5.0 (BB10; Touch) AppleWebKit/537.35+ (KHTML, like Gecko) Version/10.3.3.2205 Mobile Safari/537.35+", "BlackBerry OS/Mobile Safari"),
    ("Mozilla/5.0 (Apple TV; CPU OS 15_4 like Mac OS X) AppleWebKit/605.1.15", "tvOS/Other"),
    ("Roku4640X/DVP-7.70 (297.70E04154A)", "Roku/Other"),
    ("Mozilla/5.0 (Fuchsia) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36", "Fuchsia/Chrome"),
    ("Mozilla/5.0 (Haiku; U; Haiku x86_64; en-US; rv:102.0) Gecko/20100101 Firefox/102.0", "Haiku/Firefox"),
    # r11 residue: Chinese browser long tail (each rides Chrome tokens —
    # ordering is the assertion) + extinct-mobile OSes
    ("Mozilla/5.0 (Linux; Android 10; ELE-AL00 Build/HUAWEIELE-AL00) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/70.0.3538.80 Mobile Safari/537.36 SogouMobileBrowser/5.30.8", "Android/Sogou Explorer"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/63.0.3239.132 Safari/537.36 SE 2.X MetaSr 1.0", "Windows/Sogou Explorer"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 baiduboxapp/13.0.0.10", "iOS/Baidu App"),
    ("Mozilla/5.0 (Windows NT 10.0; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/86.0.4240.198 Safari/537.36 QIHU 360EE", "Windows/360 Browser"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/69.0.3497.100 Safari/537.36 2345Explorer/10.9.0.21486", "Windows/2345 Explorer"),
    ("Mozilla/5.0 (Linux; U; Android 12; zh-CN; M2012K11AC Build/SKQ1.211006.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.58 Quark/5.9.3.228 Mobile Safari/537.36", "Android/Quark"),
    ("Mozilla/5.0 (Linux; Android 13; PGJM10 Build/TP1A.220905.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/102.0.5005.187 Mobile Safari/537.36 HeyTapBrowser/45.10.7.1", "Android/HeyTap"),
    ("Mozilla/5.0 (Linux; Android 12; V2118 Build/SP1A.210812.003) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/98.0.4758.102 Mobile Safari/537.36 VivoBrowser/8.9.0.0", "Android/Vivo Browser"),
    ("Mozilla/5.0 (Linux; Android 9; Redmi Note 7 Build/PKQ1.180904.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/71.0.3578.141 Mobile Safari/537.36 XiaoMi/MiuiBrowser/12.5.2 Mint Browser/3.9.3", "Android/Mint Browser"),
    ("Mozilla/5.0 (SAMSUNG; SAMSUNG-GT-S8500/S8500XXJF4; U; Bada/1.0; fr-fr) AppleWebKit/533.1 (KHTML, like Gecko) Dolfin/2.0 Mobile WVGA SMM-MMS/1.2.0", "Bada/Other"),
    ("Mozilla/5.0 (MeeGo; NokiaN9) AppleWebKit/534.13 (KHTML, like Gecko) NokiaBrowser/8.5.0 Mobile Safari/534.13", "MeeGo/Safari"),
    ("Mozilla/5.0 (Linux; U; Sailfish 3.0; Mobile; rv:45.0) Gecko/45.0 Firefox/45.0 SailfishBrowser/1.0", "Sailfish/Firefox Mobile"),
    ("Mozilla/5.0 (compatible; Teleca Q7; Brew 3.1.5; U; en) 480X800 LGE VX11000", "Brew/Other"),
]

def test_ua_data_contract():
    """Every ua_data entry honors the uap-core shape the compiler
    assumes: regexes compile, and any entry whose family comes from a
    capture group (no replacement, or a `$1` substitution) actually has
    one."""
    import re

    from hogzilla_spark.functions.ua_data import OS_PARSERS, USER_AGENT_PARSERS

    for parsers, key in (
        (USER_AGENT_PARSERS, "family_replacement"),
        (OS_PARSERS, "os_replacement"),
    ):
        assert len(parsers) > 0
        for p in parsers:
            rx = re.compile(p["regex"])  # Java∩RE2-safe subset sanity
            if key not in p or "$1" in p.get(key, ""):
                assert rx.groups >= 1, p

def test_ua_family_realistic_fixture(spark):
    df = spark.createDataFrame([(ua,) for ua, _ in _UA_FIXTURE], "ua string")
    got = [r.f for r in df.select(F.expr(ua_family_sql("ua")).alias("f")).collect()]
    want = [exp for _, exp in _UA_FIXTURE]
    mism = [
        (ua, g, w) for (ua, w), g in zip(_UA_FIXTURE, got) if g != w
    ]
    assert not mism, mism

# Edge inputs for ua_family, with the retired Column-chain form's output
# frozen as the expected value (the realistic fixture above pins the
# rest): NULL/empty short-circuit, and regex-special characters that
# must survive SQL quoting.
_UA_EDGE_GOLDEN = [
    (None, ""),
    ("", ""),
    ("quote ' backslash \\ in UA", "Other/Other"),
    ("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36", "Windows/Chrome"),
    ("curl/7.79.1", "Other/curl"),
    ("random text", "Other/Other"),
]

def test_ua_family_edge_golden(spark):
    df = spark.createDataFrame([(ua,) for ua, _ in _UA_EDGE_GOLDEN], "ua string")
    got = [r.f for r in df.select(F.expr(ua_family_sql("ua")).alias("f")).collect()]
    assert got == [fam for _, fam in _UA_EDGE_GOLDEN]
