"""User-agent parser tables in uap-core's regexes.yaml data format.

The reference resolves UA families through uap-scala's
``Parser.default`` (HogAuth.scala:293-298), i.e. the public uap-core
``regexes.yaml`` dataset: an ORDERED list of entries, first match wins,
each entry ``{regex, family_replacement?}`` (browser) /
``{regex, os_replacement?}`` (OS).  uap-core semantics reproduced here:

  - entries are tried top-to-bottom; the first whose regex matches
    (unanchored search) decides the family;
  - a missing ``*_replacement`` means the family is the regex's FIRST
    capture group;
  - a ``$1`` inside the replacement substitutes the first capture group.

This module vendors a curated ruleset covering the reference's auth
traffic plus the high-volume families of the public dataset:
mainstream browsers and mobile variants, in-app webviews
(Instagram/Facebook/WeChat/Line/TikTok/Snapchat/Google), chromium
derivatives (Whale/Huawei/Maxthon/Puffin/Coc Coc/Falkon), gecko forks
(Pale Moon/Waterfox/Basilisk), search/SEO/archival crawlers,
social-preview fetchers, HTTP client libraries, and the appliance /
mobile OS families (HarmonyOS, tvOS, webOS, BlackBerry, Symbian,
Roku, Fuchsia, Haiku) — all in uap-core's layering order: families
whose UAs embed mainstream tokens come first (Edge before Chrome,
Chrome before Safari, Android before Linux, HarmonyOS before Android,
distros before the Linux catch-all).

Round 7 added the extinct long tail (gecko forks Flock/Netscape/
Camino/Galeon/K-Meleon/Iceape/Fennec/Phoenix/Firebird, webkit shells
OmniWeb/iCab/Shiira/Lunascape/Avant, feature-phone engines NetFront/
Obigo/Polaris/Blazer, text browsers ELinks/Links/w3m/Dillo/Amaya/
NetSurf/Mosaic), so every family CLASS in the public dataset now has
coverage.  Round 11 vendored regexes.yaml's declared residue: the
Chinese browser long tail (Sogou, Baidu App/Browser, 360, 2345, Quark,
HeyTap/Oppo/Vivo browsers, LieBao, Mint) and the extinct-mobile OSes
(Bada, MeeGo, Maemo, Sailfish, Brew).  Anything
still missing is a one-off UA string, and adding it is one dict in
the right layer (the compiler in functions/scalar.py consumes them
unchanged; regexes must stay in the Java∩RE2-safe subset — no
lookbehind).
"""

from __future__ import annotations

#: uap-core ``user_agent_parsers`` shape: regex + optional
#: family_replacement ("$1" substitutes capture group 1).
USER_AGENT_PARSERS: list[dict[str, str]] = [
    # --- bots / tooling (first: many spoof browser tokens) ------------
    {"regex": r"(Googlebot)"},
    {"regex": r"(bingbot)"},
    {"regex": r"(DuckDuckBot)"},
    {"regex": r"(Baiduspider)"},
    {"regex": r"(YandexBot)"},
    {"regex": r"(Slackbot)"},
    {"regex": r"facebookexternalhit", "family_replacement": "FacebookBot"},
    # search/SEO/archival crawlers (many carry Mozilla/AppleWebKit
    # spoof tokens, so the whole family sits before every browser)
    {"regex": r"(Applebot)"},
    {"regex": r"(AhrefsBot)"},
    {"regex": r"(SemrushBot)"},
    {"regex": r"(MJ12bot)"},
    {"regex": r"(DotBot)"},
    {"regex": r"(PetalBot)"},
    {"regex": r"(Bytespider)"},
    {"regex": r"(GPTBot)"},
    {"regex": r"(CCBot)"},
    {"regex": r"archive\.org_bot", "family_replacement": "archive.org_bot"},
    # social-preview fetchers (LinkedInBot carries an Apache-HttpClient
    # token, TelegramBot a TwitterBot one — order matters)
    {"regex": r"(TelegramBot)"},
    {"regex": r"(Twitterbot)"},
    {"regex": r"(LinkedInBot)"},
    {"regex": r"(Pinterestbot)"},
    {"regex": r"(Discordbot)"},
    {"regex": r"(WhatsApp)/"},
    {"regex": r"(HeadlessChrome)"},
    {"regex": r"(curl)/"},
    {"regex": r"(Wget)"},
    {"regex": r"python-requests", "family_replacement": "Python Requests"},
    {"regex": r"(Python-urllib)"},
    {"regex": r"(Go-http-client)"},
    {"regex": r"(okhttp)"},
    {"regex": r"(Scrapy)/"},
    {"regex": r"(aiohttp)/"},
    {"regex": r"(axios)/"},
    {"regex": r"node-fetch", "family_replacement": "node-fetch"},
    {"regex": r"(libwww-perl)"},
    {"regex": r"GuzzleHttp", "family_replacement": "Guzzle"},
    {"regex": r"(Faraday)"},
    {"regex": r"(Apache-HttpClient)"},
    {"regex": r"(PostmanRuntime)"},
    {"regex": r"(Insomnia)/"},
    {"regex": r"(Dart)/"},
    {"regex": r"\b(PHP)/"},
    {"regex": r"(Java)/"},
    # --- in-app webviews / wrapped engines (carry Chrome AND Safari
    # tokens, so the whole block precedes every mainstream browser) ----
    {"regex": r"(Instagram)"},
    {"regex": r"FBAV/|FB_IAB", "family_replacement": "Facebook"},
    {"regex": r"MicroMessenger", "family_replacement": "WeChat"},
    {"regex": r"\b(Line)/"},
    {"regex": r"musical_ly|BytedanceWebview", "family_replacement": "TikTok"},
    {"regex": r"(Snapchat)"},
    {"regex": r"GSA/", "family_replacement": "Google"},
    {"regex": r"DuckDuckGo/", "family_replacement": "DuckDuckGo Mobile"},
    {"regex": r"(Electron)/"},
    # --- chromium derivatives with their own token --------------------
    {"regex": r"(Whale)/"},
    {"regex": r"HuaweiBrowser/", "family_replacement": "Huawei Browser"},
    {"regex": r"(Maxthon)"},
    {"regex": r"(Puffin)"},
    {"regex": r"(Sleipnir)"},
    {"regex": r"coc_coc_browser", "family_replacement": "Coc Coc"},
    {"regex": r"(Falkon)/"},
    # regexes.yaml residue (r11): the Chinese mobile/desktop browser
    # long tail — every one carries Chrome (and usually Safari) tokens,
    # so the whole block must precede the mainstream rules; Sogou
    # desktop additionally rides an MSIE-era "SE 2.X MetaSr" token
    {
        "regex": r"SogouMobileBrowser|SE 2\.X MetaSr",
        "family_replacement": "Sogou Explorer",
    },
    {"regex": r"baiduboxapp", "family_replacement": "Baidu App"},
    {"regex": r"bdbrowser|BaiduBrowser", "family_replacement": "Baidu Browser"},
    {"regex": r"360SE|360EE|QihooBrowser", "family_replacement": "360 Browser"},
    {"regex": r"Mb2345Browser|2345Explorer", "family_replacement": "2345 Explorer"},
    {"regex": r"\b(Quark)/"},
    {"regex": r"HeyTapBrowser", "family_replacement": "HeyTap"},
    {"regex": r"OppoBrowser", "family_replacement": "Oppo Browser"},
    {"regex": r"VivoBrowser", "family_replacement": "Vivo Browser"},
    {"regex": r"LieBaoFast|LBBROWSER", "family_replacement": "LieBao"},
    {"regex": r"Mint Browser", "family_replacement": "Mint Browser"},
    # extinct webkit/trident-era shells (own token next to an Apple-
    # WebKit or MSIE one → before the mainstream rules)
    {"regex": r"OmniWeb/", "family_replacement": "OmniWeb"},
    {"regex": r"(iCab)"},
    {"regex": r"(Shiira)"},
    {"regex": r"(Lunascape)"},
    {"regex": r"Avant Browser", "family_replacement": "Avant"},
    # extinct embedded/feature-phone engines
    {"regex": r"(NetFront)"},
    {"regex": r"(Obigo)"},
    {"regex": r"(Polaris)/"},
    {"regex": r"(Blazer)/"},
    # --- gecko forks (carry a Firefox token → before Firefox) ---------
    {"regex": r"PaleMoon|Pale Moon", "family_replacement": "Pale Moon"},
    {"regex": r"(Waterfox)"},
    {"regex": r"(Basilisk)"},
    # extinct gecko family: Flock and Netscape 8 ride a Firefox token,
    # the rest ride bare Gecko
    {"regex": r"(Flock)/"},
    {"regex": r"Netscape6?/|Navigator/", "family_replacement": "Netscape"},
    {"regex": r"(Camino)/"},
    {"regex": r"(Galeon)/"},
    {"regex": r"(K-Meleon)/"},
    {"regex": r"(Iceape)/"},
    {"regex": r"Fennec/", "family_replacement": "Firefox Mobile"},
    {"regex": r"(Phoenix)/"},
    {"regex": r"Firebird/", "family_replacement": "Firebird"},
    # --- niche before mainstream (token layering) ---------------------
    {"regex": r"(Opera Mini)"},
    {"regex": r"Opera Mobi", "family_replacement": "Opera Mobile"},
    {"regex": r"OPR/", "family_replacement": "Opera"},
    {"regex": r"(Opera)"},
    {"regex": r"EdgiOS/", "family_replacement": "Edge Mobile"},
    {"regex": r"EdgA/", "family_replacement": "Edge Mobile"},
    {"regex": r"Edge?/", "family_replacement": "Edge"},
    {"regex": r"SamsungBrowser/", "family_replacement": "Samsung Internet"},
    {"regex": r"YaBrowser/", "family_replacement": "Yandex Browser"},
    {"regex": r"(UCBrowser|UCWEB)", "family_replacement": "UC Browser"},
    {"regex": r"(Vivaldi)/"},
    {"regex": r"QQBrowser", "family_replacement": "QQ Browser"},
    {"regex": r"(MiuiBrowser)/"},
    {"regex": r"CriOS/", "family_replacement": "Chrome Mobile iOS"},
    {"regex": r"FxiOS/", "family_replacement": "Firefox iOS"},
    {"regex": r"(Iceweasel)"},
    {"regex": r"(SeaMonkey)/"},
    {"regex": r"(Thunderbird)/"},
    {"regex": r"(Firefox)/.*Mobile", "family_replacement": "$1 Mobile"},
    {"regex": r"Mobile.*(Firefox)/", "family_replacement": "$1 Mobile"},
    {"regex": r"(Firefox)/"},
    {"regex": r"Silk/", "family_replacement": "Amazon Silk"},
    {"regex": r"(Chromium)/"},
    {"regex": r"(Chrome)/.*Mobile", "family_replacement": "$1 Mobile"},
    {"regex": r"(Chrome)/"},
    {"regex": r"(Konqueror)"},
    {"regex": r"(Epiphany)/"},
    # Safari ships the version in "Version/x.y ... Safari"; every
    # Chrome-family UA also carries "Safari", so these come last
    {
        "regex": r"(iPhone|iPad|iPod).*Mobile/\S+ Safari",
        "family_replacement": "Mobile Safari",
    },
    {"regex": r"Version/.*Mobile.*Safari", "family_replacement": "Mobile Safari"},
    {"regex": r"Version/.*(Safari)"},
    {"regex": r"(Safari)"},
    # --- IE: MSIE token up to 10, Trident/rv: from 11 -----------------
    {"regex": r"IEMobile", "family_replacement": "IE Mobile"},
    {"regex": r"MSIE", "family_replacement": "IE"},
    {"regex": r"Trident/.*rv[: ]?11", "family_replacement": "IE"},
    # text-mode and ancient standalone browsers (unique tokens, no
    # mainstream collisions; ELinks before Links)
    {"regex": r"(Lynx)"},
    {"regex": r"(ELinks)"},
    {"regex": r"Links ", "family_replacement": "Links"},
    {"regex": r"(w3m)/"},
    {"regex": r"(Dillo)/"},
    {"regex": r"(amaya)/", "family_replacement": "Amaya"},
    {"regex": r"(NetSurf)/"},
    {"regex": r"NCSA[ _]Mosaic/", "family_replacement": "Mosaic"},
]

#: uap-core ``os_parsers`` shape: regex + optional os_replacement.
OS_PARSERS: list[dict[str, str]] = [
    {"regex": r"(Windows Phone)"},
    {"regex": r"Windows (NT|XP|ME|98|95|CE)", "os_replacement": "Windows"},
    {"regex": r"(Windows)"},
    {"regex": r"CrOS", "os_replacement": "Chrome OS"},
    # KaiOS builds are Firefox-OS descendants and still say "Android";
    # HarmonyOS UAs carry BOTH "Android" and "Linux" tokens
    {"regex": r"KaiOS|KAIOS", "os_replacement": "KaiOS"},
    {"regex": r"(HarmonyOS)"},
    # Android carries a Linux token — match it first
    {"regex": r"(Android)"},
    # Apple TV says "like Mac OS X" without an iPhone/iPad token —
    # before the iOS and Mac rules
    {"regex": r"Apple TV|tvOS", "os_replacement": "tvOS"},
    {"regex": r"(iPhone|iPad|iPod).*like Mac OS X", "os_replacement": "iOS"},
    {"regex": r"(iPhone|iPad|iPod)", "os_replacement": "iOS"},
    {"regex": r"(Mac OS X)"},
    {"regex": r"Macintosh", "os_replacement": "Mac OS X"},
    {"regex": r"(Darwin)"},
    # appliance/console/mobile OSes carrying a Linux token — before the
    # catch-all
    {"regex": r"(Tizen)"},
    {"regex": r"webOS|Web0S|hpwOS", "os_replacement": "webOS"},
    {"regex": r"BlackBerry|BB10|PlayBook", "os_replacement": "BlackBerry OS"},
    {"regex": r"Symbian|SymbOS|Series60", "os_replacement": "Symbian OS"},
    {"regex": r"(PlayStation)"},
    {"regex": r"(Nintendo)"},
    {"regex": r"(Roku)"},
    {"regex": r"(Fuchsia)"},
    {"regex": r"(Haiku)"},
    {"regex": r"(AmigaOS)"},
    # extinct-mobile residue (r11): all but Brew can carry a Linux
    # token, so the block sits before the catch-all
    {"regex": r"(Bada)"},
    {"regex": r"(MeeGo)"},
    {"regex": r"Maemo", "os_replacement": "Maemo"},
    {"regex": r"Sailfish", "os_replacement": "Sailfish"},
    {"regex": r"BREW|Brew[ /]", "os_replacement": "Brew"},
    # distro tokens before the generic Linux catch-all, as uap-core does
    {"regex": r"(Ubuntu)"},
    {"regex": r"(Fedora)"},
    {"regex": r"(Debian)"},
    {"regex": r"(CentOS)"},
    {"regex": r"(Red Hat)"},
    {"regex": r"Linux|linux-gnu", "os_replacement": "Linux"},
    {"regex": r"(FreeBSD)"},
    {"regex": r"(OpenBSD)"},
    {"regex": r"(NetBSD)"},
    {"regex": r"SunOS", "os_replacement": "Solaris"},
]
