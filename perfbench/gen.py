"""Seeded workload generators for the KG-construction benchmark.

Each generator writes a transcript lake in the ``input_hint`` schema
(conv_id, turn_idx, role, text, tool, ts) as several parquet files, so
the scan splits across Spark slots with the library's default session
settings, plus ``manifest.json`` with the input properties the run
checks against (turn counts per kind, expected prefilter keeps).

Only the seed varies the content.  Every count, share and length is
fixed by construction, and so is each turn's position, kind and length
(they come from ``LAYOUT_SEED``), so two seeds give inputs of the same
cost profile and the same sink layout.
"""

from __future__ import annotations

import collections
import json
import math
import os
import random
import statistics
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

_WORDS = (
    "the a of to and in that is for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there one all "
    "we their can has more when will would so no if out up what about into "
    "than them only other time new some could these two may first then do "
    "any like my now over such our man me even most made after also did "
    "many before must through back years where much your way well down "
    "should because each just those people how too little state good very "
    "make world still own see men work long get here between both life "
    "being under never day same another know while last might us great old "
    "year off come since against go came right used take three states "
    "himself few house use during without again place american around "
    "however home small found thought went say part once general high upon "
    "school every does got united left number course war until always away "
    "something fact though water less public put think almost hand enough "
    "far took head yet government system better set told nothing night end "
    "why called didn eyes find going look asked later knew point next "
    "program city business give group toward young days let room president "
    "side social given present several order national second possible rather"
).split()

# near-miss markup: the rlike prefilter keeps these turns, the engine
# finds no RDFa in them (some leave undefined-term warnings)
_NEAR_MISS = (
    '<span data-property="price">{K}</span>',
    '<div class="box" data-vocab="v{K}">note</div>',
    '<div data-about="x{K}" data-typeof="y">card</div>',
    '<a rel="nofollow" href="https://example.com/p{K}">link</a>',
    '<link rel="stylesheet" href="style{K}.css">',
)

# unrecoverable documents: each ends in an ``error`` diagnostic
_BROKEN = (
    # mismatched tag inside an SVG host (XML parse)
    '<svg xmlns="http://www.w3.org/2000/svg" about="#g{K}">'
    '<g property="name">broken</svg>',
    # XHTML host with an unclosed element
    '<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml">'
    '<body><p property="name">x{K}</body></html>',
    # nesting past the parser's depth guard
    '<div property="name">' * 420 + 'x{K}',
)


LAYOUT_SEED = 20260101


def quantile_lengths(n: int, median: float, sigma: float, lo: int,
                     hi: int) -> list[int]:
    """``n`` lengths at the mid-quantiles of a lognormal, clipped: the
    same multiset for every seed, so only their order is random."""
    nd = statistics.NormalDist()
    out = []
    for i in range(n):
        z = nd.inv_cdf((i + 0.5) / n)
        out.append(int(min(hi, max(lo, median * math.exp(sigma * z)))))
    return out


def exact_kinds(n: int, shares: dict[str, float], rng: random.Random,
                default: str) -> list[str]:
    """A shuffled list of ``n`` kind labels holding exactly
    ``round(share * n)`` of each kind; the rest get ``default``."""
    kinds: list[str] = []
    for kind, share in shares.items():
        kinds += [kind] * round(share * n)
    kinds += [default] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


class _Prose:
    """Seeded sentence pool; turns are drawn from it by length."""

    def __init__(self, rng: random.Random, n_sentences: int = 3000):
        self.rng = rng
        pool = []
        for _ in range(n_sentences):
            words = rng.choices(_WORDS, k=rng.randint(8, 22))
            s = " ".join(words)
            pool.append(s[0].upper() + s[1:] + ". ")
        self.pool = pool

    def text(self, length: int) -> str:
        parts, size = [], 0
        while size < length:
            s = self.rng.choice(self.pool)
            parts.append(s)
            size += len(s)
        return "".join(parts)


def _write_lake(rows: list[tuple], out_dir: str, n_files: int) -> list[str]:
    """Rows (already ordered by conversation) split into ``n_files``
    contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    per = math.ceil(len(rows) / n_files)
    paths = []
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        if not chunk:
            continue
        cols = list(zip(*chunk))
        table = pa.Table.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, SCHEMA.types)],
            schema=SCHEMA)
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths.append(path)
    return paths


def _turn_rows(texts: list[tuple[str, str]], turns_per_conv: list[int],
               rng: random.Random) -> list[tuple]:
    """(kind, text) pairs -> schema rows, assigned to conversations in
    order; ``turns_per_conv`` gives each conversation's length."""
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows, i = [], 0
    for c, n in enumerate(turns_per_conv):
        ts = t0 + timedelta(minutes=rng.randint(0, 500000))
        for t in range(n):
            kind, text = texts[i]
            i += 1
            carrier = kind != "prose"
            role = "tool" if carrier else ("user" if t % 2 == 0
                                           else "assistant")
            rows.append((f"conv-{c:06d}", t, role, text,
                         "browser" if carrier else None,
                         ts + timedelta(seconds=30 * t)))
    return rows


# -- chat_lake ---------------------------------------------------------------

# The transcript shape of FIXTURES.md section 1: ~30% of turns carry
# exactly one corpus fragment wrapped in prose, the rest are plain
# prose, and conv-000000 has 100x the turns.  The other figures are
# assumptions with no measured source: the prose lengths, and the
# near-miss and unrecoverable shares (small, but never zero, so
# error_share always has something to count).
CHAT_LAKE = {
    "conversations": 750,
    "turns_per_conv": 20,
    "skew_factor": 100,          # conv-000000 has 100x the turns
    "files": 8,
    "prose_median_chars": 900,   # assumed
    "prose_sigma": 0.8,          # assumed
    "shares": {"fragment": 0.30,      # FIXTURES.md
               "near_miss": 0.02,     # assumed
               "broken": 0.002},      # assumed
}


def _chat_texts(n: int, rng: random.Random, prose: _Prose) -> list:
    from pyrdfa3_spark.sources.fragments import N_TEMPLATES, render_fragment

    layout = random.Random(LAYOUT_SEED)
    kinds = exact_kinds(n, CHAT_LAKE["shares"], layout, "prose")
    lengths = quantile_lengths(n, CHAT_LAKE["prose_median_chars"],
                               CHAT_LAKE["prose_sigma"], 40, 20000)
    layout.shuffle(lengths)
    tpl = rng.randrange(N_TEMPLATES)
    texts = []
    seen = collections.Counter()
    for kind, length in zip(kinds, lengths):
        if kind == "prose":
            texts.append((kind, prose.text(length)))
            continue
        k = rng.randrange(1_000_000)
        # variants rotate, so every seed has the same number of each
        i = seen[kind]
        seen[kind] += 1
        if kind == "fragment":
            _, body = render_fragment(tpl + i, k)
        elif kind == "near_miss":
            body = _NEAR_MISS[i % len(_NEAR_MISS)].replace("{K}", str(k))
        else:
            body = _BROKEN[i % len(_BROKEN)].replace("{K}", str(k))
        texts.append((kind, prose.text(length // 4) + body + " "
                      + prose.text(length // 8)))
    return texts


def gen_chat_lake(seed: int, out: str) -> dict:
    rng = random.Random(seed)
    prose = _Prose(rng)
    cfg = CHAT_LAKE
    tpc = cfg["turns_per_conv"]
    per_conv = [tpc * cfg["skew_factor"]] + [tpc] * (cfg["conversations"] - 1)
    n = sum(per_conv)
    texts = _chat_texts(n, rng, prose)
    rows = _turn_rows(texts, per_conv, rng)
    _write_lake(rows, os.path.join(out, "lake"), cfg["files"])
    return _manifest("chat_lake", seed, texts, cfg)


# -- web_pages ---------------------------------------------------------------

# Page sizes and the shares of each parse path are assumptions (no
# measured source): pages of tens of KB, mostly not well-formed.
WEB_PAGES = {
    "turns": 240,
    "turns_per_conv": 4,
    "files": 8,
    "page_median_bytes": 22000,
    "page_sigma": 0.6,
    "shares": {"xml": 0.10, "fast": 0.25, "broken": 0.025},
}

_V = "http://schema.org/"
_PEOPLE = 400          # shared person IRIs: cross-page knows paths
_CIRCLE = 4            # knows edges stay inside circles of this size


def _person_iri(i: int) -> str:
    return f"http://people.example/p{i}"


class _Page:
    """One page of tens of KB: RDFa islands nested inside ordinary
    markup, with ``@vocab``/``@prefix``/``@lang`` changes at several
    depths, ``@inlist`` lists, ``@typeof`` chaining and ``<time>``.

    ``well_formed`` pages close every element and escape ``&`` (they
    parse as XML); the others use HTML5 omissions (unclosed ``<p>`` and
    ``<li>``, bare ``<br>``, unquoted attributes, raw ``&``)."""

    def __init__(self, rng: random.Random, prose: _Prose,
                 well_formed: bool):
        self.rng = rng
        self.prose = prose
        self.wf = well_formed

    def para(self, n: int) -> str:
        text = self.prose.text(n)
        if self.wf:
            return f"<p>{text}<b>note</b> and more.</p>"
        return (f"<p class=c{self.rng.randrange(9)}>{text} &amp; "
                "<b>note</b> & more")

    def menu(self) -> str:
        items = [f"Section {self.rng.randrange(100)}" for _ in range(6)]
        if self.wf:
            lis = "".join(f'<li><a href="/s/{i}">{t}</a></li>'
                          for i, t in enumerate(items))
            return f"<nav><ul>{lis}</ul></nav>"
        lis = "".join(f"<li><a href=/s/{i}>{t}</a>"
                      for i, t in enumerate(items))
        return f"<nav><ul>{lis}</ul></nav>"

    def person(self, idx: int, depth: int) -> str:
        rng = self.rng
        pid = rng.randrange(_PEOPLE)
        circle = pid - pid % _CIRCLE
        friend = circle + (pid + 1 + rng.randrange(_CIRCLE - 1)) % _CIRCLE
        name = f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()}"
        br = "<br/>" if self.wf else "<br>"
        inner = (
            f'<span property="name">{name}</span>{br}'
            f'<span property="name" lang="fr">{name}</span>'
            f'<a rel="knows" href="{_person_iri(friend)}">friend</a>'
        )
        if depth > 0:
            inner += (f'<div property="address" typeof="PostalAddress">'
                      f'<span property="postalCode">{rng.randrange(99999)}'
                      f'</span><span property="addressLocality" lang="de">'
                      f'{rng.choice(_WORDS).title()}</span></div>')
        return (f'<div property="author" typeof="Person" '
                f'resource="{_person_iri(pid)}">{inner}</div>')

    def article(self, idx: int) -> str:
        rng = self.rng
        day = rng.randrange(1, 28)
        kws = "".join(
            f'<li property="keywords" inlist="">{rng.choice(_WORDS)}</li>'
            for _ in range(3))
        foaf = (f'<div vocab="http://xmlns.com/foaf/0.1/" lang="es">'
                f'<span property="nick">{rng.choice(_WORDS)}</span>'
                f'<div prefix="dc: http://purl.org/dc/terms/">'
                f'<span property="dc:subject">{rng.choice(_WORDS)}</span>'
                f'</div></div>')
        return (
            f'<article typeof="Article" resource="#a{idx}">'
            f'<h2 property="headline">{self.prose.text(40).strip()}</h2>'
            f'<time property="datePublished" datetime="2024-03-{day:02d}">'
            f'March {day}</time>'
            f'{self.person(idx, idx % 2)}'
            f'<ol>{kws}</ol>{foaf}'
            f'<div lang="it"><span property="alternativeHeadline">'
            f'{rng.choice(_WORDS)}</span></div>'
            f'<div about="#venue{idx}"><span property="name">'
            f'{rng.choice(_WORDS).title()} Hall</span></div>'
            f'{self.para(300)}</article>'
        )

    def body(self, size: int) -> str:
        parts = [self.menu()]
        total, i = 0, 0
        while total < size:
            if i % 3 == 0:
                block = (f'<section vocab="{_V}" lang="en">'
                         f'{self.article(i)}{self.para(500)}</section>')
            else:
                block = self.para(700) + (self.menu() if i % 5 == 0 else "")
            parts.append(block)
            total += len(block)
            i += 1
        return "".join(parts)

    def html(self, size: int) -> str:
        head = ("<head><title>Page</title>"
                + ('<meta charset="utf-8"/>' if self.wf
                   else "<meta charset=utf-8>") + "</head>")
        return (f'<html lang="en">{head}<body>{self.body(size)}'
                f'</body></html>')


def _xml_page(rng: random.Random, prose: _Prose, size: int, svg: bool,
              broken: bool) -> str:
    if svg and not broken:
        shapes = []
        while sum(len(s) for s in shapes) < size:
            i = len(shapes)
            shapes.append(
                f'<g about="#shape{i}" typeof="ImageObject" vocab="{_V}">'
                f'<rect x="{i}" y="{i}" width="10" height="10"/>'
                f'<text property="name" xml:lang="en">{prose.text(200)}'
                f'</text><desc property="description">{prose.text(300)}'
                f'</desc></g>')
        return ('<svg xmlns="http://www.w3.org/2000/svg" version="1.1">'
                + "".join(shapes) + "</svg>")
    page = _Page(rng, prose, well_formed=True)
    doc = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en">'
           f'<head><title>Doc</title></head><body>{page.body(size)}'
           '</body></html>')
    if broken:
        cut = doc.rfind("</section>", 0, len(doc) // 2)
        doc = doc[:max(cut, 200)] + "</body></html>"
    return doc


def _web_texts(n: int, rng: random.Random, prose: _Prose) -> list:
    cfg = WEB_PAGES
    layout = random.Random(LAYOUT_SEED)
    kinds = exact_kinds(n, cfg["shares"], layout, "tolerant")
    sizes = quantile_lengths(n, cfg["page_median_bytes"], cfg["page_sigma"],
                             3000, 200000)
    layout.shuffle(sizes)
    texts = []
    for i, (kind, size) in enumerate(zip(kinds, sizes)):
        if kind in ("xml", "broken"):
            doc = _xml_page(rng, prose, size, svg=i % 2 == 0,
                            broken=kind == "broken")
        else:
            doc = _Page(rng, prose, well_formed=kind == "fast").html(size)
        texts.append((kind, "The browser tool returned this page. " + doc
                      + " End of page."))
    return texts


def gen_web_pages(seed: int, out: str) -> dict:
    rng = random.Random(seed)
    prose = _Prose(rng)
    cfg = WEB_PAGES
    n = cfg["turns"]
    texts = _web_texts(n, rng, prose)
    tpc = cfg["turns_per_conv"]
    rows = _turn_rows(texts, [tpc] * (n // tpc), rng)
    _write_lake(rows, os.path.join(out, "lake"), cfg["files"])
    return _manifest("web_pages", seed, texts, cfg)


def _manifest(workload: str, seed: int, texts: list, cfg: dict) -> dict:
    counts: dict[str, int] = {}
    for kind, _ in texts:
        counts[kind] = counts.get(kind, 0) + 1
    sizes = sorted(len(t) for _, t in texts)
    q = statistics.quantiles(sizes, n=100)
    return {
        "workload": workload,
        "seed": seed,
        "config": cfg,
        "turns": len(texts),
        "kinds": counts,
        # every non-prose turn carries markup the prefilter keeps
        "expected_kept": len(texts) - counts.get("prose", 0),
        "text_bytes": {"total": sum(sizes), "p50": q[49], "p90": q[89],
                       "p99": q[98], "max": sizes[-1]},
    }


GENERATORS = {"chat_lake": gen_chat_lake, "web_pages": gen_web_pages}


def generate(workload: str, seed: int, out: str) -> dict:
    manifest = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest
