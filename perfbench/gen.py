"""Seeded workload generator for the ER benchmark.

Every workload is a pure function of ``(params, seed)``. The program under
test sees only pages in ``PAGES_SCHEMA`` shape ``(url, warc_ts, html, text,
lang)``; the ground truth (url -> entity, and the labeled pairs derived from
it) stays on the benchmark side.

Labeled pairs are all true pairs (two pages of one entity) plus hard
negatives: pages of two different entities that share a host or a
*family*. A family is a group of entities on one site that share a page
template (for example the product pages of one shop), so its members share
many tokens but describe different things.

The generator draws its randomness from one ``numpy.random.Generator`` per
workload, seeded from ``--seed``, and never reads the clock.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from urllib.parse import urlsplit

import numpy as np

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_DIACRITIC = str.maketrans({"a": "á", "e": "é", "i": "í", "o": "ö",
                            "u": "ü", "c": "ç", "n": "ñ"})
_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_LANGS = ["en"] * 8 + ["de", "fr", "es", "it"]


def _vocabulary() -> tuple[list[str], list[str]]:
    """Fixed pseudo-word vocabularies (no seed: the same words for every
    workload): 150 two-syllable function words and 120k three-syllable
    content words, each ordered so that Zipf rank 1 is the most common."""
    syll = [c + v for c in _CONS for v in _VOWELS]
    n = len(syll)
    function = [syll[i % n] + syll[(7 * i + 3) % n] for i in range(150)]
    content = [syll[i % n] + syll[(i // n) % n] + syll[(i // n // n) % n]
               for i in range(120_000)]
    return function, content


FUNCTION_WORDS, VOCAB = _vocabulary()


class _Sampler:
    """Word draws: a ``function_frac`` share of Zipf(1)-ranked function
    words, the rest Zipf(``s``)-ranked content words (inverse CDF)."""

    def __init__(self, rng: np.random.Generator, s: float = 0.6,
                 function_frac: float = 0.15):
        w = 1.0 / np.arange(1, len(VOCAB) + 1) ** s
        self._cdf = np.cumsum(w) / w.sum()
        f = 1.0 / np.arange(1, len(FUNCTION_WORDS) + 1)
        self._fcdf = np.cumsum(f) / f.sum()
        self.function_frac = function_frac
        self.rng = rng

    def words(self, n: int) -> list[str]:
        u = self.rng.random(n)
        is_fn = self.rng.random(n) < self.function_frac
        ci = np.minimum(np.searchsorted(self._cdf, u, side="right"), len(VOCAB) - 1)
        fi = np.minimum(np.searchsorted(self._fcdf, u, side="right"),
                        len(FUNCTION_WORDS) - 1)
        return [FUNCTION_WORDS[f] if m else VOCAB[c]
                for m, c, f in zip(is_fn, ci, fi)]


@dataclass
class Corpus:
    """Pages plus ground truth. ``rows`` are PAGES_SCHEMA tuples."""

    rows: list[tuple] = field(default_factory=list)
    entity: dict[str, str] = field(default_factory=dict)   # url -> entity
    family: dict[str, str] = field(default_factory=dict)   # entity -> family

    def add(self, url: str, html: str, entity: str, family: str,
            lang: str | None) -> None:
        ts = EPOCH + timedelta(minutes=len(self.rows))
        self.rows.append((url, ts, html.encode("utf-8"), None, lang))
        self.entity[url] = entity
        self.family.setdefault(entity, family)

    def digest(self) -> str:
        h = hashlib.sha256()
        for url, ts, html, _text, lang in self.rows:
            h.update(f"{url}\t{ts.isoformat()}\t{lang}\t".encode())
            h.update(html)
        for url in sorted(self.entity):
            h.update(f"{url}={self.entity[url]}\n".encode())
        return h.hexdigest()


def labeled_pairs(entity: dict[str, str],
                  family: dict[str, str]) -> list[tuple[str, str, int]]:
    """All true pairs among ``entity``'s urls plus hard negatives.

    A hard negative is a pair of pages of two different entities that share
    a host (the hot host, where the mega-cluster sits beside other
    entities; a mirror host; a site that carries several entities) or a
    page template (two entities of one family). Such pages share site
    chrome or template tokens, so an engine that merges too much merges
    them first; the traced run reports how many of them the blocking layer
    actually pairs (``pairs.neg_candidate_frac``)."""
    by_entity: dict[str, list[str]] = {}
    for url in sorted(entity):
        by_entity.setdefault(entity[url], []).append(url)
    out = []
    for urls in by_entity.values():
        out += [(a, b, 1) for i, a in enumerate(urls) for b in urls[i + 1:]]
    groups: dict[str, list[str]] = {}
    for url in sorted(entity):
        groups.setdefault("h:" + urlsplit(url).hostname, []).append(url)
        groups.setdefault("f:" + family[entity[url]], []).append(url)
    negatives = set()
    for urls in groups.values():
        for i, a in enumerate(urls):
            for b in urls[i + 1:]:
                if entity[a] != entity[b]:
                    negatives.add((min(a, b), max(a, b)))
    return out + [(a, b, 0) for a, b in sorted(negatives)]


# -- page rendering -----------------------------------------------------------


def _site_chrome(host: str) -> tuple[str, str]:
    """Per-site nav and footer text: identical on every page of a host."""
    r = np.random.default_rng(int(hashlib.sha256(host.encode()).hexdigest()[:12], 16))
    nav = [VOCAB[i] for i in r.integers(50, 4000, 4)]
    foot = [VOCAB[i] for i in r.integers(50, 4000, 3)]
    return " | ".join(nav), " ".join(foot)


def _html(host: str, title: str, body: list[str]) -> str:
    nav, foot = _site_chrome(host)
    return (f"<html><head><title>{title}</title>"
            f"<script>var s='{host}';</script>"
            f"<style>.nav{{color:red}}</style></head><body>"
            f"<nav>{nav}</nav><h1>{title}</h1><p>{' '.join(body)}</p>"
            f"<footer>&copy; {foot}</footer></body></html>")


def _perturb(rng: np.random.Generator, sampler: _Sampler,
             toks: list[str], max_replace: float) -> list[str]:
    """Near-duplicate variant: token replacement, optional reorder,
    diacritics and a boilerplate tail."""
    toks = list(toks)
    n_rep = int(len(toks) * rng.uniform(0.0, max_replace))
    if n_rep:
        new = sampler.words(n_rep)
        for pos, w in zip(rng.choice(len(toks), n_rep, replace=False), new):
            toks[pos] = w
    if rng.random() < 0.3:
        rng.shuffle(toks)
    if rng.random() < 0.2:
        for pos in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
            toks[pos] = toks[pos].translate(_DIACRITIC)
    if rng.random() < 0.3:
        toks += ["share", "print", "subscribe"][: int(rng.integers(1, 4))]
    return toks


@dataclass(frozen=True)
class DupesParams:
    n_pages: int
    split_frac: float = 0.0      # entities split into two drifted halves
    zipf_a: float = 1.8          # cluster-size exponent
    max_cluster: int = 20
    mega_frac: float = 0.14      # boilerplate mega-cluster (a hot block key)
    hot_frac: float = 0.2        # pages on the hot host, mega-cluster included
    n_hosts: int = 300
    body_tokens: int = 50
    family_frac: float = 0.3     # entities that share a site template
    mirror_p: float = 0.3        # member published on another host
    max_replace: float = 0.15

    @property
    def mega_pages(self) -> int:
        return round(self.n_pages * self.mega_frac)


HOT_HOST = "portal.hot.example.com"


def _cluster_sizes(p: DupesParams) -> list[int]:
    """Cluster sizes of the truncated Zipf(``zipf_a``) shape, fixed by the
    parameters: expected cluster counts per size are allocated from the
    largest size down, carrying fractions, so the tail is kept; singletons
    absorb the last few pages. The seed only decides which entity gets
    which size, so every seed resolves the same shape."""
    sizes_ = np.arange(1, p.max_cluster + 1)
    w = sizes_ ** -p.zipf_a
    target = p.n_pages - p.mega_pages
    expect = w / w.sum() * target / (w @ sizes_ / w.sum())
    out, carry = [], 0.0
    for size, e in zip(sizes_[::-1], expect[::-1]):
        n = int(e + carry)
        carry = e + carry - n
        out += [int(size)] * n
    while sum(out) > target:
        out.pop(0)  # drop a largest cluster if the carries overshoot
    return out + [1] * (target - sum(out))


def dupes_corpus(p: DupesParams, seed: int, prefix: str = "c") -> tuple[Corpus, dict]:
    """Duplicate-heavy corpus: Zipf cluster sizes, one boilerplate
    mega-cluster on the hot host, which solo entities fill up to
    ``hot_frac`` of the pages, and short bodies. Returns the corpus and
    per-entity state the delta generator reuses (base tokens, host, split
    halves)."""
    rng = np.random.default_rng([seed, 1])
    sampler = _Sampler(rng)
    c = Corpus()
    state: dict[str, dict] = {}

    n_mega = p.mega_pages
    mega_body = ["sign", "in", "to", "continue", "your", "session", "has",
                 "expired", "please", "log", "in", "again"] + sampler.words(20)
    for i in range(n_mega):
        c.add(f"https://{HOT_HOST}/login?sid={prefix}{i:05d}",
              _html(HOT_HOST, "sign in", _perturb(rng, sampler, mega_body, 0.05)),
              "mega", "mega", "en")
    state["mega"] = {"base": mega_body, "host": HOT_HOST, "family": "mega",
                     "n": n_mega, "halves": None}

    sizes = _cluster_sizes(p)
    rng.shuffle(sizes)
    # exactly family_frac of the entities sit in 3-entity families (shared
    # host and page template); solo entities fill the hot host, in
    # shuffled order, while they fit within hot_frac of the pages
    fam_every = max(1, round(3 / p.family_frac)) if p.family_frac else 0
    hot_budget = round(p.n_pages * p.hot_frac) - n_mega
    # split_frac of the entities with 4+ pages are split into two drifted
    # halves, spread evenly over the eligible sizes so that every seed
    # splits the same sizes (which entities have them is seeded)
    eligible = sorted((size, e) for e, size in enumerate(sizes) if size >= 4)
    n_split = round(len(eligible) * p.split_frac)
    split = {eligible[int((j + 0.5) * len(eligible) / n_split)][1]
             for j in range(n_split)}
    fam_templates: dict[str, list[str]] = {}
    fam_host: dict[str, str] = {}
    for e, size in enumerate(sizes):
        ent = f"{prefix}e{e}"
        if fam_every and e % fam_every < 3:
            fam = f"{prefix}f{e // fam_every}"
            if fam not in fam_host:
                fam_host[fam] = f"site{int(rng.integers(p.n_hosts))}.example.com"
                fam_templates[fam] = sampler.words(int(p.body_tokens * 0.4))
        else:
            fam = f"{prefix}s{e}"
            if hot_budget >= size:
                fam_host[fam] = HOT_HOST
                hot_budget -= size
            else:
                fam_host[fam] = f"site{int(rng.integers(p.n_hosts))}.example.com"
        host = fam_host[fam]
        template = fam_templates.get(fam, [])
        own = sampler.words(p.body_tokens - len(template) - 1)
        base = template + own + [f"x{int(rng.integers(10_000, 99_999))}"]
        halves = None
        if e in split:
            # two drifted variants of one entity: each keeps ~70% of the
            # base tokens, and they overlap each other on ~40%
            n = len(base)
            pos = rng.permutation(n)
            a, b = list(base), list(base)
            for q, w in zip(pos[: int(0.3 * n)], sampler.words(int(0.3 * n))):
                a[q] = w
            for q, w in zip(pos[int(0.3 * n): int(0.6 * n)],
                            sampler.words(int(0.3 * n))):
                b[q] = w
            halves = (a, b)
        lang = _LANGS[int(rng.integers(len(_LANGS)))]
        title = " ".join(base[:4])
        for m in range(size):
            src = base if halves is None else halves[m % 2]
            toks = src if m < 2 else _perturb(rng, sampler, src, p.max_replace)
            h = host if (m == 0 or rng.random() >= p.mirror_p) else \
                f"mirror{int(rng.integers(40))}.example.org"
            c.add(f"https://{h}/{prefix}/{e}/{m}", _html(h, title, toks),
                  ent, fam, lang)
        state[ent] = {"base": base, "host": host, "family": fam, "n": size,
                      "halves": halves, "title": title, "lang": lang}
    return c, state


@dataclass(frozen=True)
class DeltaParams:
    corpus: DupesParams
    batch_pages: int
    n_batches: int
    dup_frac: float = 0.5        # near-duplicates of corpus entities
    bridge_frac: float = 0.1     # pages joining the two halves of an entity


def delta_workload(p: DeltaParams, seed: int) -> tuple[Corpus, list[Corpus]]:
    """A dupes-shaped corpus (some entities split into two drifted halves)
    and a chain of delta batches: near-duplicates of corpus entities,
    bridges (the undrifted base of a split entity, close to both halves),
    and brand-new single-page entities."""
    corpus, state = dupes_corpus(p.corpus, seed)
    rng = np.random.default_rng([seed, 3])
    sampler = _Sampler(rng)
    ents = sorted(k for k in state if k != "mega")
    split = [k for k in ents if state[k]["halves"] is not None]
    weights = np.array([state[k]["n"] for k in ents], dtype=float)
    weights /= weights.sum()
    batches = []
    new_e = 0
    for b in range(p.n_batches):
        d = Corpus()
        # exact composition per batch, in shuffled order
        n_bridge = round(p.batch_pages * p.bridge_frac) if split else 0
        n_dup = round(p.batch_pages * p.dup_frac)
        kinds = (["bridge"] * n_bridge + ["dup"] * n_dup
                 + ["new"] * (p.batch_pages - n_bridge - n_dup))
        rng.shuffle(kinds)
        for i, kind in enumerate(kinds):
            url_tail = f"d/{b}/{i}"
            if kind == "bridge":
                ent = split[int(rng.integers(len(split)))]
                s = state[ent]
                toks = _perturb(rng, sampler, s["base"], 0.05)
            elif kind == "dup":
                ent = ents[int(rng.choice(len(ents), p=weights))]
                s = state[ent]
                src = s["base"] if s["halves"] is None else s["halves"][i % 2]
                toks = _perturb(rng, sampler, src, p.corpus.max_replace)
            else:
                ent = f"n{b}_{new_e}"
                new_e += 1
                s = {"host": f"site{int(rng.integers(p.corpus.n_hosts))}.example.com",
                     "family": ent, "lang": "en"}
                toks = sampler.words(p.corpus.body_tokens)
                s["title"] = " ".join(toks[:4])
            host = s["host"]
            d.add(f"https://{host}/{url_tail}", _html(host, s["title"], toks),
                  ent, s["family"], s["lang"])
        # delta timestamps continue after the corpus
        d.rows = [(u, ts + timedelta(days=1 + b), h, t, lg)
                  for u, ts, h, t, lg in d.rows]
        batches.append(d)
    return corpus, batches
