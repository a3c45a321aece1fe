"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy + PyArrow: the engine only ever sees the
parquet files these functions write.  The same seed gives byte-identical
files (no wall-clock values are baked in; the auth stream's
``generatedTime`` is stamped by the open-loop writer at send time).

Each workload plants known answers on entities disjoint from the
background traffic, modelled on ``hogzilla_spark/datagen.py``: one
true positive and one near miss per detector signature, so the output
checks can tell "did the work" from "did the work correctly".
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# auth stream
# --------------------------------------------------------------------------

#: (coords, city, region, country) homes the background users log in from;
#: all are > 300 km from FAR so the far login is atypical for every user
HOMES = [
    ("-23.55,-46.63", "Sao Paulo", "SP", "Brazil"),
    ("-22.90,-43.20", "Rio de Janeiro", "RJ", "Brazil"),
    ("-15.79,-47.88", "Brasilia", "DF", "Brazil"),
    ("-30.03,-51.23", "Porto Alegre", "RS", "Brazil"),
    ("-8.05,-34.88", "Recife", "PE", "Brazil"),
    ("38.72,-9.14", "Lisbon", "Lisboa", "Portugal"),
]
#: planted atypical login: > 300 km from every home, not an excluded city
FAR = ("35.68,139.69", "Tokyo", "Tokyo", "Japan")
#: near-miss offset: new coords but ~6 km from home, inside the 300 km
#: known-location radius, so it must NOT alert
NEAR_SHIFT = (0.05, 0.03)

UA_CHROME = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
)
UA_FAMILY = "Windows/Chrome"
SERVICE = ("vpn1", "ssh")
STATE_SIZE = 20  # mature: above the learn gate (HistogramConfig.gate_auth = 10)

HIST_SCHEMA = pa.schema(
    [
        ("hist_name", pa.string()),
        ("size", pa.int64()),
        ("values", pa.map_(pa.string(), pa.float64())),
        ("labels", pa.map_(pa.string(), pa.string())),
    ]
)

AUTH_SCHEMA = pa.schema(
    [
        ("generatedTime", pa.float64()),
        ("agent", pa.string()),
        ("service", pa.string()),
        ("clientReverse", pa.string()),
        ("clientIP", pa.string()),
        ("userName", pa.string()),
        ("authMethod", pa.string()),
        ("loginFailed", pa.int32()),
        ("userAgent", pa.string()),
        ("country", pa.string()),
        ("region", pa.string()),
        ("city", pa.string()),
        ("coords", pa.string()),
        ("asn", pa.string()),
    ]
)


def _loc_label(city: str, country: str) -> str:
    return f"{city.strip().replace(' ', '_')}/{country.strip().replace(' ', '_')}"


def _near(home: tuple[str, str, str, str]) -> tuple[str, str, str, str]:
    lat, lon = (float(x) for x in home[0].split(","))
    return (f"{lat + NEAR_SHIFT[0]:.2f},{lon + NEAR_SHIFT[1]:.2f}", home[1] + " Norte", home[2], home[3])


def write_auth_state(path: str, n_users: int, n_planted: int) -> None:
    """Matured HIST20/21/22 state for every background and planted user."""
    names, sizes, values, labels = [], [], [], []
    users = (
        [f"u{i}" for i in range(n_users)]
        + [f"atyp{k}" for k in range(n_planted)]
        + [f"near{k}" for k in range(n_planted)]
    )
    for i, user in enumerate(users):
        coords, city, _, country = HOMES[i % len(HOMES)]
        for fam, vals, lbls in (
            ("HIST20", [(coords, 1.0)], [(coords, _loc_label(city, country))]),
            ("HIST21", [(UA_FAMILY, 1.0)], []),
            ("HIST22", [("/".join(SERVICE), 1.0)], []),
        ):
            names.append(f"{fam}-{user}")
            sizes.append(STATE_SIZE)
            values.append(vals)
            labels.append(lbls)
    pq.write_table(pa.table([names, sizes, values, labels], schema=HIST_SCHEMA), path)


class AuthPlan:
    """The open-loop schedule's content: file k holds `per_file` login
    records, fixed by the seed.  Background users are Zipf-skewed and
    always log in from home with the saved UA/service (typical).  Every
    `plant_every`-th file also carries one planted atypical login (far
    city, must alert) and one planted near miss (new coords ~6 km from
    home, must not alert)."""

    def __init__(self, seed: int, n_users: int, n_files: int, per_file: int,
                 plant_every: int = 2):
        rng = np.random.default_rng(seed)
        self.n_users = n_users
        self.n_files = n_files
        self.per_file = per_file
        ranks = np.arange(1, n_users + 1, dtype=np.float64)
        p = ranks ** -1.1
        p /= p.sum()
        perm = rng.permutation(n_users)
        picks = perm[rng.choice(n_users, size=n_files * per_file, p=p)]
        self._users = picks.reshape(n_files, per_file)
        self._ips = rng.integers(1, 250, size=(n_files, per_file, 2))
        self.atypical: dict[int, str] = {}
        self.near_miss: dict[int, str] = {}
        k = 0
        for f in range(plant_every // 2, n_files, plant_every):
            self.atypical[f] = f"atyp{k}"
            self.near_miss[f] = f"near{k}"
            k += 1
        self.n_planted = k

    def rows(self, k: int) -> int:
        return self.per_file + (2 if k in self.atypical else 0)

    def table(self, k: int, generated_time: float) -> pa.Table:
        t = self._background(self._users[k], self._ips[k], generated_time)
        if k not in self.atypical:
            return t
        near = self.near_miss[k]
        home = HOMES[(self.n_users + self.n_planted + int(near[4:])) % len(HOMES)]
        planted = self._rows(
            [self.atypical[k], near], [FAR, _near(home)], ["10.3.0.1", "10.3.0.2"],
            generated_time,
        )
        return pa.concat_tables([t, planted])

    def _background(self, users, ips, generated_time: float) -> pa.Table:
        return self._rows(
            [f"u{u}" for u in users], [HOMES[u % len(HOMES)] for u in users],
            [f"10.2.{a}.{b}" for a, b in ips], generated_time,
        )

    @staticmethod
    def _rows(users: list[str], locs: list[tuple], ips: list[str], generated_time: float) -> pa.Table:
        n = len(users)
        cols = {
            "generatedTime": [generated_time] * n,
            "agent": [SERVICE[0]] * n,
            "service": [SERVICE[1]] * n,
            "clientReverse": ["host.corp.example"] * n,
            "clientIP": ips,
            "userName": users,
            "authMethod": ["password"] * n,
            "loginFailed": [0] * n,
            "userAgent": [UA_CHROME] * n,
            "country": [loc[3] for loc in locs],
            "region": [loc[2] for loc in locs],
            "city": [loc[1] for loc in locs],
            "coords": [loc[0] for loc in locs],
            "asn": ["AS100"] * n,
        }
        return pa.table(cols, schema=AUTH_SCHEMA)


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

STOPWORDS = (
    "the be to of and a in that have it for not on with he as you do at "
    "this but his by from they we say her she or an will my one all would "
    "there their what so up out if about who get which go me when make can "
    "like time no just him know take people into year your good some could "
    "them see other than then now look only come its over think also back "
    "after use two how our work first well way even new want because any "
    "these give day most us"
).split()

BOILERPLATE = [
    "Subscribe to our newsletter for the latest updates and offers",
    "All rights reserved. Reproduction without permission is prohibited",
    "Click here to accept cookies and continue browsing this site",
    "Share this article on your favourite social network today",
    "Posted in Uncategorized with no comments so far",
]

LANGS = ["en", "es", "de", "fr", "pt"]


def _vocab(rng: np.random.Generator, n_words: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "po",
            "an", "el", "or", "un", "is", "ba", "ge", "fu", "hy", "zo"]
    words = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), k)))
    return sorted(words)


class CorpusPlan:
    """A document table with planted answers, fixed by the seed.

    - background: 1-4 lines of Zipf-drawn words mixed with stopwords;
      ~1 in 5 documents carries one of a few boilerplate lines
    - exact duplicates: a later doc_id with the identical text of an
      earlier one (exact dedup must drop the later copy)
    - near duplicates: a later single-line doc whose text differs from an
      earlier one but whose word 3-shingle set is identical (Jaccard 1.0;
      near-dup clustering must drop the later copy)
    - unique keepers: distinctive single-line docs that must survive
      every stage
    """

    def __init__(self, seed: int, n_docs: int, n_planted: int):
        rng = np.random.default_rng(seed)
        vocab = _vocab(rng, 3000)
        ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
        p = ranks ** -1.05
        p /= p.sum()

        def sentence(n: int) -> str:
            words = []
            content = rng.choice(len(vocab), size=n, p=p)
            stops = rng.integers(0, len(STOPWORDS), size=n)
            is_stop = rng.random(n) < 0.35
            for c, s, st in zip(content, stops, is_stop):
                words.append(STOPWORDS[s] if st else vocab[c])
            return " ".join(words)

        texts: list[str] = []
        n_bg = n_docs - 4 * n_planted
        for _ in range(n_bg):
            lines = [sentence(int(rng.integers(12, 40))) for _ in range(int(rng.integers(1, 5)))]
            if rng.random() < 0.2:
                lines.insert(int(rng.integers(0, len(lines) + 1)),
                             BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
            texts.append("\n".join(lines))
        # planted blocks come after the background so every source has a
        # smaller doc_id than its copy
        self.exact_sources, self.exact_copies = [], []
        self.near_sources, self.near_copies = [], []
        self.keepers = []
        # the marker words keep planted docs far from the background
        # and from each other
        for k in range(n_planted):
            self.exact_sources.append(len(texts))
            texts.append(f"exactsrc{k} " + sentence(int(rng.integers(60, 90))))
        self._phrase = []
        for k in range(n_planted):
            self.near_sources.append(len(texts))
            phrase = f"rep{k}a rep{k}b rep{k}c"
            self._phrase.append(phrase)
            texts.append(f"nearsrc{k} " + sentence(int(rng.integers(60, 90))) + f" {phrase} {phrase}")
        for k in range(n_planted):
            self.exact_copies.append(len(texts))
            texts.append(texts[self.exact_sources[k]])
        for k in range(n_planted):
            # the source ends in a repeated phrase "a b c a b c"; one more
            # "a b c" changes the text (not an exact duplicate) but adds no
            # new word 3-shingle, so the pair is shingle-identical
            self.near_copies.append(len(texts))
            texts.append(texts[self.near_sources[k]] + " " + self._phrase[k])
        self.keepers = self.exact_sources + self.near_sources
        self.texts = texts
        self.langs = [LANGS[int(i)] for i in rng.integers(0, len(LANGS), len(texts))]

    def write(self, path: str) -> int:
        os.makedirs(path, exist_ok=True)
        n = len(self.texts)
        table = pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": self.texts,
                "lang": self.langs,
                "source": [f"src{i % 7}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(path, "documents.parquet"))
        return n
